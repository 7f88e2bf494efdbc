"""Workload membership, the membership guard and the seeded pass order.

Each workload is a fixed list of registry queries. The guard fails a run
loudly when a listed query is missing from the registry, is excluded from
benchmarking, or is listed in two workloads, so no change can speed a
workload up by removing its work.
"""

from __future__ import annotations

import random
from collections.abc import Mapping

WORKLOADS: dict[str, dict] = {
    # One query per family of the daily dump (name prefix dump_, xcm,
    # evm, balances_, snapshots_, gar_): the family's lower-median query by
    # warm latency in a traced pass of all 38 pipelines batch queries at
    # sf0.01. The six keep that pass's layer shares (see README).
    "etl_day": {
        "why": "the daily dump job: one blocks, xcm, evm, balances, snapshots and gar batch query each, heavy on driver Column building",
        "queries": (
            "dump_day_blocklog",
            "xcm_asset_registry",
            "evm_txn_fees",
            "balances_day_lifecycle",
            "snapshots_dappstaking_v3",
            "gar_longtail_registry",
        ),
    },
    # One query for each layer the write side and the corpus code add:
    # a stateful streaming replay, an upsert and a CSV export (the two
    # queries that leave mkdtemp residue), graph connected components and
    # pandas-UDF multimodal features. Picked by hand among the cheaper
    # queries of each kind, so that a run fits the time budget.
    "ingest_corpus": {
        "why": "write-side replay and iterative corpus operators: eager jobs, streaming micro-batches, sink writes and pandas UDFs",
        "queries": (
            "streaming_corpus_replay",
            "merge_upsert_state",
            "dune_csv_roundtrip",
            "dedup_clusters",
            "multimodal_image_features",
        ),
    },
}


class MembershipError(RuntimeError):
    """A workload's fixed membership no longer matches the registry."""


def check_membership(queries: Mapping, workloads: Mapping = WORKLOADS) -> None:
    """Raise MembershipError naming every listed query that is missing
    from ``queries``, has ``bench=False``, or sits in two workloads."""
    problems: list[str] = []
    owner: dict[str, str] = {}
    for wl, spec in workloads.items():
        for name in spec["queries"]:
            if name in owner:
                problems.append(f"{name}: listed in both {owner[name]} and {wl}")
                continue
            owner[name] = wl
            if name not in queries:
                problems.append(f"{name} ({wl}): missing from the query registry")
            elif not queries[name].bench:
                problems.append(f"{name} ({wl}): registered with bench=False")
    if problems:
        raise MembershipError("workload membership broken:\n  " + "\n  ".join(problems))


def pass_order(names, seed: int) -> list[str]:
    """The workload's queries in the order one pass runs them. The seed
    only shuffles the order; the same seed always gives the same order."""
    order = list(names)
    random.Random(seed).shuffle(order)
    return order
