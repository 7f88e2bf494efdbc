"""Expected query answers from the DuckDB oracle, computed once per input.

An answer depends only on the input files and the oracle SQL, so it is
cached under a key made of both and reused by every later run. The
computation runs in its own process (``python3 perfbench/oracle.py``) so
DuckDB's memory never counts toward a benchmark run's peak RSS.

    python3 perfbench/oracle.py DATA_DIR CACHE_DIR QUERY [QUERY ...]
"""

from __future__ import annotations

import hashlib
import os
import pickle
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def input_digest(data_dir: Path, tables) -> str:
    """sha256 over every input table's name and bytes."""
    h = hashlib.sha256()
    for t in sorted(tables):
        h.update(t.encode())
        h.update((data_dir / f"{t}.parquet").read_bytes())
    return h.hexdigest()


def answer_path(cache_dir: Path, digest: str, sql: str) -> Path:
    return cache_dir / (hashlib.sha256(f"{digest}\n{sql}".encode()).hexdigest() + ".pkl")


def load_answer(path: Path):
    """The cached oracle frame; the cache holds only files prepare() wrote."""
    with open(path, "rb") as fh:
        return pickle.load(fh)


def answer_paths(names, data_dir: Path, cache_dir: Path) -> dict[str, Path]:
    """Where each named query's cached answer lives."""
    from polkadot_etl_spark.queries import QUERIES
    from polkadot_etl_spark.sources.tables import TABLES

    digest = input_digest(data_dir, TABLES)
    return {n: answer_path(cache_dir, digest, QUERIES[n].oracle) for n in names}


def prepare(names, data_dir: Path, cache_dir: Path) -> None:
    """Compute and cache every named query's answer that is not cached yet."""
    from polkadot_etl_spark.queries import QUERIES
    from polkadot_etl_spark.sources.tables import TABLES

    paths = answer_paths(names, data_dir, cache_dir)
    missing = [n for n, p in paths.items() if not p.exists()]
    if missing:
        import duckdb

        cache_dir.mkdir(parents=True, exist_ok=True)
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / t}.parquet'")
            for n in missing:
                frame = con.execute(QUERIES[n].oracle).df()
                tmp = paths[n].with_suffix(f".{os.getpid()}.tmp")
                with open(tmp, "wb") as fh:
                    pickle.dump(frame, fh)
                os.replace(tmp, paths[n])
        finally:
            con.close()


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    prepare(sys.argv[3:], Path(sys.argv[1]), Path(sys.argv[2]))
