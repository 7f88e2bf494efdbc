"""operators/minhash.py: the capped bucket pair-explode at its cap
boundary, signatures equal to a pure-Python md5 computation for both
band shapes in use, and a source guard that the MinHash-LSH pieces live
only in that module."""

from __future__ import annotations

import ast
import hashlib
import itertools
import pathlib
import re

import pytest

from polkadot_etl_spark.operators.minhash import (
    BUCKET_CAP,
    SHINGLE,
    bucket_pairs,
    signatures,
)
from polkadot_etl_spark.sources.tables import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "polkadot_etl_spark"
MINHASH = PACKAGE / "operators" / "minhash.py"


def test_bucket_pairs_at_the_cap_boundary(spark):
    full = [(0, "full", d) for d in range(BUCKET_CAP)]
    over = [(0, "over", 1000 + d) for d in range(BUCKET_CAP + 1)]
    single = [(1, "single", 5000)]
    rows = local_frame(
        spark, full + over + single, "band int, minhash string, doc_id bigint"
    )
    got = sorted(tuple(r) for r in bucket_pairs(rows).collect())
    assert got == list(itertools.combinations(range(BUCKET_CAP), 2))


def _reference_keys(text: str, bands: int, rows: int) -> set[tuple[int, str]]:
    lt = text.lower()
    sh = {lt[i : i + SHINGLE] for i in range(max(len(lt) - SHINGLE + 1, 1))}

    def digest(s: str) -> str:
        d = hashlib.md5(s.encode()).hexdigest()
        if bands * rows > 4:
            d += hashlib.md5(("b:" + s).encode()).hexdigest()
        return d

    ds = [digest(s) for s in sh]
    mins = [min(d[8 * i : 8 * i + 8] for d in ds) for i in range(bands * rows)]
    return {(b, "".join(mins[b * rows : (b + 1) * rows])) for b in range(bands)}


@pytest.mark.parametrize("bands,rows", [(4, 1), (4, 2)])
def test_signatures_match_python_md5(spark, bands, rows):
    texts = {1: "The quick brown fox jumps", 2: "Hi", 3: "aaaaaaaa bbbb aaaaa"}
    docs = local_frame(spark, list(texts.items()), "doc_id bigint, text string")
    got: dict[int, set] = {}
    for r in signatures(docs, bands=bands, rows=rows).collect():
        got.setdefault(r.doc_id, set()).add((r.band, r.minhash))
    assert got == {d: _reference_keys(t, bands, rows) for d, t in texts.items()}


def test_signatures_reject_more_minhashes_than_two_digests(spark):
    docs = local_frame(spark, [(1, "x")], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        signatures(docs, bands=3, rows=3)


def _function_lines(tree: ast.AST, name: str) -> range:
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == name:
            return range(node.lineno, node.end_lineno + 1)
    return range(0)


# the bucket pair-explode and the md5-slice minima, in SQL or Column form
_PAIR_EXPLODE = re.compile(r"flatten\(transform\(ids")
_SLICE_MIN = re.compile(r"array_min\(\s*(?:F\.)?transform\(")


def test_minhash_pieces_live_only_in_the_operator():
    """Static guard: the pair-explode and the md5-slice array_min build
    appear in the package only in operators/minhash.py — the one named
    exception is streaming/neardedup.signed_documents' let-bound
    expression; ``N_BANDS`` is assigned once; and every name the
    operator defines is imported from it, not re-exported through
    another module."""
    body = ast.parse(MINHASH.read_text()).body
    defined = {n.name for n in body if isinstance(n, ast.FunctionDef)} | {
        t.id for n in body if isinstance(n, ast.Assign) for t in n.targets
    }
    assert {"N_BANDS", "BUCKET_CAP", "shingles", "signatures"} <= defined
    bad, n_bands = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(PACKAGE))
        src = path.read_text()
        tree = ast.parse(src, rel)
        allowed = (
            _function_lines(tree, "signed_documents")
            if rel == "streaming/neardedup.py"
            else range(0)
        )
        for rx in (_PAIR_EXPLODE, _SLICE_MIN):
            for m in rx.finditer(src):
                line = src.count("\n", 0, m.start()) + 1
                if rel != "operators/minhash.py" and line not in allowed:
                    bad.append(f"{rel}:{line}")
        for node in ast.walk(tree):
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                n_bands += [
                    rel for t in targets if isinstance(t, ast.Name) and t.id == "N_BANDS"
                ]
            if (
                isinstance(node, ast.ImportFrom)
                and node.module != "polkadot_etl_spark.operators.minhash"
                and {a.name for a in node.names} & defined
            ):
                bad.append(f"{rel}:{node.lineno} imports from {node.module}")
    assert not bad, f"MinHash-LSH pieces outside operators/minhash.py: {bad}"
    assert n_bands == ["operators/minhash.py"]
