"""Streaming NEAR-duplicate detection — the fuzzy sibling of
streaming/corpus.py's exact-dedup ingest: each arriving document's
MinHash signature probes per-(band, bucket) rosters held as streaming
state, so a near-duplicate of ANY earlier document (same batch or any
prior batch) is flagged online, without a corpus self-join ever
existing.

Mechanism (the batch r=1 family's shapes made streaming-legal):
- the 4x32-bit MinHash signature is computed ROW-LOCAL per document
  (array_min folds over the distinct shingle set), the same minima as
  operators/minhash.signatures — a stream cannot shuffle an aggregation
  ahead of the stateful operator, and the row-local form needs none;
- the doc fans out to its 4 band rows (stateless explode — legal), and
  ``applyInPandasWithState`` keyed on (band, bkey) holds a CAPPED
  roster of (doc_id, signature) per bucket — the BUCKET_CAP discipline:
  a hot bucket stops admitting (boilerplate structure, the quadratic
  guard), with the drop observable in the emitted rows;
- a new arrival compares against roster entries in arrival order and
  reports the FIRST with >= ``min_agree`` of 4 signature slices equal
  (the banded estimate of Jaccard agreement — 2/4 tracks the planner's
  t* ~ 0.25-0.5 zone); per-document consolidation (any band matched)
  happens in the caller's foreachBatch, where the doc's band rows are
  guaranteed co-batched.

Scale notes: state is O(min(bucket size, cap)) signatures per distinct
band key — the same bound the batch pair explosion relies on; the only
stream shuffle is the (band, bkey) grouping, identical to the batch
bucket key. An optional TTL expires cold buckets.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from polkadot_etl_spark.operators.minhash import BUCKET_CAP, N_BANDS, shingles

MIN_AGREE = 2  # >= 2 of 4 slices equal -> near-dup verdict

BAND_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("matched_id", T.LongType(), True),
        T.StructField("n_agree", T.IntegerType(), False),
        T.StructField("admitted", T.BooleanType(), False),
    ]
)

_ROSTER_STATE_SCHEMA = T.StructType([T.StructField("roster", T.StringType(), True)])


def signed_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, band, bkey, sig): one row per band with its bucket key.
    The signature is the r=1 family's (4 disjoint 8-hex slices of
    md5-per-shingle minima) computed row-local — streaming-legal. It is
    not operators/minhash.signatures because the roster matcher needs the
    whole signature on every band row, where signatures emits only the
    band's own minhash. The whole chain lives inside ONE let-bound
    Generate: CollapseProject would re-inline a staged mins column into
    the explode's projection and re-evaluate the digest chain per band
    element (the r7 native-codec lesson), so the mins array binds inside
    the exploded expression instead."""
    staged = docs.select(
        "doc_id", F.array_distinct(shingles("lt")).alias("__sh")
    )
    mins = "array(" + ", ".join(
        f"array_min(transform(hh, h -> substring(h, {1 + 8 * b}, 8)))"
        for b in range(N_BANDS)
    ) + ")"
    bands = (
        f"explode(element_at(transform(array(transform(__sh, s -> md5(s))),"
        f" hh -> element_at(transform(array({mins}), ms ->"
        f" transform(sequence(0, {N_BANDS - 1}), b -> struct("
        " b as band, element_at(ms, b + 1) as bkey,"
        " array_join(ms, '') as sig))), 1)), 1))"
    )
    return staged.select("doc_id", F.expr(bands).alias("r")).select(
        "doc_id",
        F.col("r.band").cast("int").alias("band"),
        F.col("r.bkey").alias("bkey"),
        F.col("r.sig").alias("sig"),
    )


def make_band_matcher(cap: int = BUCKET_CAP, min_agree: int = MIN_AGREE,
                      state_ttl_ms: int | None = None):
    """Per-(band, bkey) roster matcher for applyInPandasWithState."""

    def matcher(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        roster: list[list] = (
            json.loads(state.get[0]) if state.exists else []
        )
        band = int(key[0])
        # concat before sorting — per-chunk sorting would admit a later
        # chunk's lower doc_id AFTER a higher one (same hazard as the
        # corpus dedup's canonical pin)
        chunks = list(pdfs)
        for pdf in ([pd.concat(chunks).sort_values("doc_id")] if chunks else []):
            out = []
            for row in pdf.itertuples(index=False):
                sig = row.sig
                matched, agree = None, 0
                for rid, rsig in roster:
                    n = sum(
                        sig[8 * b : 8 * b + 8] == rsig[8 * b : 8 * b + 8]
                        for b in range(N_BANDS)
                    )
                    if n >= min_agree:
                        matched, agree = int(rid), n
                        break
                admitted = len(roster) < cap
                if admitted:
                    roster.append([int(row.doc_id), sig])
                out.append(
                    {
                        "doc_id": int(row.doc_id),
                        "band": band,
                        "matched_id": matched,
                        "n_agree": int(agree),
                        "admitted": admitted,
                    }
                )
            yield pd.DataFrame(out)
        state.update((json.dumps(roster),))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)

    return matcher


def near_dedup_stream(
    docs: DataFrame,
    cap: int = BUCKET_CAP,
    min_agree: int = MIN_AGREE,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """documents stream (doc_id, text, ...) -> one row per (doc, band)
    with the roster verdict. Consolidate per doc in foreachBatch (a
    doc's band rows are co-batched): near_dup = any matched_id."""
    lowered = docs.select("doc_id", F.lower("text").alias("lt"))
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        signed_documents(lowered)
        .groupBy("band", "bkey")
        .applyInPandasWithState(
            make_band_matcher(cap, min_agree, state_ttl_ms),
            BAND_OUT_SCHEMA,
            _ROSTER_STATE_SCHEMA,
            "append",
            timeout,
        )
    )


def consolidate_verdicts(
    band_rows: DataFrame, min_agree: int = MIN_AGREE
) -> DataFrame:
    """Per-doc verdict from the band rows (run inside foreachBatch):
    the matched partner with the HIGHEST agreement, ties to the lowest
    partner id; dropped_bands counts hot buckets that refused
    admission (cap accounting, never silent).

    ``min_agree`` must match the matcher's: a hardcoded module default
    here with a caller-tuned matcher (e.g. min_agree=1) would report
    matches upstream that consolidation then silently discards."""
    w = F.struct(
        F.coalesce(F.col("n_agree"), F.lit(0)).alias("a"),
        (-F.coalesce(F.col("matched_id"), F.lit(2**62))).alias("nid"),
    )
    return band_rows.groupBy("doc_id").agg(
        F.max(w).alias("__best"),
        F.sum(F.when(~F.col("admitted"), 1).otherwise(0)).cast("long").alias(
            "dropped_bands"
        ),
    ).select(
        "doc_id",
        F.expr("CASE WHEN __best.a >= " + str(int(min_agree)) + " THEN -__best.nid END")
        .cast("long")
        .alias("near_dup_of"),
        F.col("__best.a").cast("int").alias("n_agree"),
        "dropped_bands",
    )
