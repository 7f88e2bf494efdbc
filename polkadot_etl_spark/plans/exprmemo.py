"""Corpus-independent Column-tree memo (r14; factored out of
plans/garparsers.py so the snapshot extractors can share it).

Building a large registry/snapshot frame costs thousands of py4j round
trips — and most of that construction rebuilds the SAME name-based
expression trees on every invocation (the selects are pure functions of
the builder class + knobs, not of the data). Column objects are
immutable unresolved trees: reusing one across plans yields a
byte-identical plan (name resolution happens at analysis, per plan). So
each corpus-independent tree is built ONCE per (SparkContext, site) and
reused — plan machinery, not result caching: every invocation still
assembles, analyzes and executes its own plan from the parquet inputs.

Held in the live SparkContext's ``context_memo`` (polkadot_etl_spark/
memo.py), so a restarted JVM can never be served stale py4j references,
even when the new context recycles the old one's id(). Cached trees must
be built from NAME-based references only (F.col/string names, F.lit
constants) — never from a concrete DataFrame's resolved attributes.
"""

from __future__ import annotations

from pyspark import SparkContext

from polkadot_etl_spark.memo import memoize


def expr_cache(key, build):
    return memoize(SparkContext._active_spark_context, "expr", key, build)
