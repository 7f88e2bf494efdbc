"""Per-context memo dicts that die with their context.

The driver-side memos (parquet scan roots and split counts in
sources/tables.py, corpus-independent Column trees in
plans/exprmemo.py) hold py4j references that are only valid for the
SparkSession or SparkContext that built them. Keying a module-level
dict on a raw ``id()`` of that object is not enough: once the object is
collected, CPython may hand the same id to a new session, which would
then be served the dead one's entries. ``context_memo`` keys on the id
too, but registers a ``weakref.finalize`` that drops the owner's dicts
when it is collected, which always happens before its id can be reused.
``memoize`` is the get/build/store step every memo site takes on top.
"""

from __future__ import annotations

import weakref

_MEMOS: dict[int, dict[str, dict]] = {}


def context_memo(owner, name: str) -> dict:
    """The ``name`` memo dict of one live SparkSession or SparkContext
    (any weak-referenceable object), created empty on first use."""
    key = id(owner)
    memos = _MEMOS.get(key)
    if memos is None:
        memos = _MEMOS.setdefault(key, {})
        weakref.finalize(owner, _MEMOS.pop, key, None)
    return memos.setdefault(name, {})


def memoize(owner, name: str, key, build):
    """``build()``'s result, built once per ``key`` in ``owner``'s
    ``name`` memo and served from it afterwards. Callers racing on a
    missing key (``session.overlap`` legs) may each build, but all of
    them get the first result stored."""
    memo = context_memo(owner, name)
    got = memo.get(key)
    if got is None:
        got = memo.setdefault(key, build())
    return got
