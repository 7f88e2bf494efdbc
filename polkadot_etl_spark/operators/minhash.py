"""MinHash-LSH over k-char shingles — the near-dup pipeline's one home:
the shingle Column, banded signatures, the capped bucket pair-explode and
the exact shingle-set Jaccard verify.

Cross-engine determinism: every hash is md5 over an explicit string, and
a minhash is the min of fixed-width hex *strings* (lexicographic order ==
numeric order), so a DuckDB oracle reproduces signatures byte for byte.

The band shape (bands b, rows r) is the caller's choice, modelled by
operators/lsh_planner: the registry's release path runs (4, 1), the
recall-leaning t* = 0.25 paired with the exact verify; the planned
``dedup_minhash_banded_r2`` runs (4, 2), t* = 0.5.

Scale shape: shingling and signatures are map-side projections over the
fanned-out documents; the only shuffles are the (band, minhash) bucket
groupBy (whose cap bounds the quadratic pair term) and the pair-keyed
verify.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_BANDS = 4  # (b=4, r=1) under operators/lsh_planner's S-curve model:
# t* = 0.25, recall-leaning (collision prob ~0.94 at Jaccard 0.5) —
# deliberately paired with the exact-Jaccard verify stage + bucket caps;
# plan_bands(0.25, 4) recommends exactly this shape (pinned in
# tests/test_lsh_planner.py)
SHINGLE = 5
BUCKET_CAP = 64  # LSH buckets larger than this are skipped (stopword-like)


def shingles(text_col: str = "lt", k: int = SHINGLE) -> Column:
    """Array of k-char shingles of ``text_col`` — computed map-side.

    ``text_col`` must be an ALREADY-LOWERCASED staged column (callers
    select ``F.lower("text").alias("lt")`` first): an expression subtree
    inside a ``transform`` lambda re-evaluates once per element, so
    ``lower(text)`` in here would cost O(len^2) per document (measured
    2.1x on the minhash pipeline at sf0.1 — the same lambda-subtree rule
    as the Generate pitfall in README "measured pitfalls")."""
    return F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)),"
        f" i -> substring({text_col}, i, {k}))"
    )


def _lowered(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.lower("text").alias("lt"))


def _digest(s: Column, n: int) -> Column:
    """``n`` md5 digests of shingle ``s``, concatenated: md5(s), then the
    salted md5('b:' || s). Each digest holds four 8-hex-char slices."""
    d = F.md5(s)
    return d if n == 1 else F.concat(d, F.md5(F.concat(F.lit("b:"), s)))


def signatures(docs: DataFrame, bands: int = N_BANDS, rows: int = 1) -> DataFrame:
    """(doc_id, band, minhash) from documents (doc_id, text): one row per
    doc and band. The band's ``minhash`` is its key: the bare minhash when
    ``rows == 1``, else its ``rows`` minhashes concatenated.

    ``bands * rows`` minhashes are disjoint 32-bit (8-hex-char) slices of
    the shingle's digests — one md5 covers 4 slices, two cover 8 — each
    minimised over the doc's distinct shingle set (min over a multiset ==
    min over its set; ~40% fewer md5s on this corpus). The minima are
    taken INSIDE the array world (one md5 per distinct shingle, then
    array_min per slice) rather than explode → groupBy(doc_id) min: the
    array form is a pure map-side projection, with no Generate, Exchange
    or sort, and identical minima. One ``stack`` fans each doc out to its
    band rows."""
    n = bands * rows
    if not 1 <= n <= 8:
        raise ValueError(f"bands * rows = {n}: two md5 digests give 1..8 minhashes")
    hs = _lowered(docs).select(
        "doc_id",
        F.transform(
            F.array_distinct(shingles()), lambda s: _digest(s, (n + 3) // 4)
        ).alias("ha"),
    )
    mins = hs.select(
        "doc_id",
        *[
            F.array_min(
                F.transform("ha", lambda h: F.substring(h, 1 + 8 * i, 8))
            ).alias(f"m{i}")
            for i in range(n)
        ],
    )
    keys = [
        ", ".join(f"m{b * rows + j}" for j in range(rows)) for b in range(bands)
    ]
    if rows > 1:
        keys = [f"concat({k})" for k in keys]
    stack_args = ", ".join(f"{b}, {k}" for b, k in enumerate(keys))
    return mins.selectExpr("doc_id", f"stack({bands}, {stack_args}) as (band, minhash)")


def bucket_pairs(
    rows: DataFrame, keys: tuple[str, ...] = ("band", "minhash"), cap: int = BUCKET_CAP
) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b: one row per bucket the two docs
    share, where a bucket is the ``doc_id``s of ``rows`` with one value of
    ``keys``. Buckets of more than ``cap`` docs are skipped: mega-buckets
    are stopword-like noise and would otherwise produce quadratic pairs.

    Plan shape: instead of self-joining the bucket rows (which builds the
    whole upstream pipeline twice), each bucket's doc list is collected in
    the groupBy shuffle and its pairs explode map-side, so the pair
    blowup never crosses a shuffle boundary."""
    buckets = (
        rows.groupBy(*keys)
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= cap))
    )
    return buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) ->"
                " transform(slice(ids, i + 2, size(ids) - i - 1),"
                " b -> struct(a as doc_a, b as doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")


def jaccard_verify(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_shared_bands, n_inter, jaccard) for the distinct
    candidate ``pairs`` (one row per shared bucket, as from
    ``bucket_pairs``): the exact, unrounded Jaccard of the two docs'
    distinct shingle sets, computed only for candidates (never
    all-pairs). ``docs`` is the (doc_id, text) frame the pairs came from.
    ``n_shared_bands`` counts the buckets a pair shares; a caller that
    drops it plans a plain distinct (the optimizer prunes the count).

    Each doc's set moves as one array and the intersection is a map-side
    array_intersect: no shingle-grain shuffle. The sets are never sorted
    — array_intersect/size have set semantics and the arrays never reach
    the output."""
    # Pin the pair frame's partition count: the pairs are narrow longs,
    # so AQE's byte-sized coalescing would collapse the post-aggregation
    # stage to ONE task — but that stage is where every candidate pays
    # its array_intersect against the broadcast sets (~1.4 ms/pair,
    # measured serial without the pin). A keyed repartition
    # (REPARTITION_BY_NUM is never coalesced) spreads the verify across
    # the session's cores; the groupBy reuses its hash partitioning, so
    # no extra exchange.
    cand = (
        pairs.repartition(
            pairs.sparkSession.sparkContext.defaultParallelism, "doc_a", "doc_b"
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    sets_ = _lowered(docs).select("doc_id", F.array_distinct(shingles()).alias("sh_set"))
    sa = sets_.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a"))
    sb = sets_.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b"))
    n_inter = F.size(F.array_intersect("set_a", "set_b"))
    jac = n_inter.cast("double") / (F.size("set_a") + F.size("set_b") - n_inter)
    return cand.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", "n_shared_bands", n_inter.alias("n_inter"), jac.alias("jaccard")
    )
