"""Builders' scratch directories are scoped to the build: each one is a
``tempfile.TemporaryDirectory`` that is gone when the builder returns,
with anything read back from it pinned first."""

from __future__ import annotations

import ast
import pathlib
import tempfile

import pytest

from polkadot_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "polkadot_etl_spark"


@pytest.mark.parametrize("name", ["merge_upsert_state", "dune_csv_roundtrip"])
def test_write_side_queries_leave_no_scratch_dir(spark, name, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    df = QUERIES[name].build(spark, SF_DIR)
    # executes after the builder's directory is gone: only a pinned
    # read-back can still produce rows here
    df.write.format("noop").mode("overwrite").save()
    assert df.count() > 0
    assert list(tmp_path.iterdir()) == []


def test_mkdtemp_appears_only_for_the_derby_seed():
    """Static guard: ``mkdtemp(`` appears in the package only in
    sources/jdbc.py, whose Derby seed lives for the whole process.
    Every builder takes its scratch directory from
    ``tempfile.TemporaryDirectory`` instead."""
    bad, seen = [], 0
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name != "mkdtemp":
                continue
            seen += 1
            if path.relative_to(PACKAGE).as_posix() != "sources/jdbc.py":
                bad.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert seen, "scanner found no mkdtemp call at all"
    assert not bad, f"mkdtemp outside sources/jdbc.py: {bad}"
