"""Iterative k-means (Lloyd's algorithm) over embedding columns.

Completes the vector-quantization family: ``ivf_centroid_update``
(queries/llmdata.py) is ONE assign+update step and ``semdedup_prune``
uses literal seeds; real corpus clustering (SemDeDup's k≈√N cells, IVF
coarse-quantizer training) needs the loop driven to convergence.

Spark shape per round — the same discipline as the one-step version,
with TWO assignment forms selected by k:

- small k (≤ ``K_LITERAL_MAX``): ASSIGN is zero-shuffle — the k×dim
  centroids live on the driver (bounded state, exactly the
  reference-scale of an in-process model) and inline as literal score
  expressions, so the nearest-centroid argmax is pure generated column
  code. Scores build as ONE SQL string: composing k×dim terms through
  the Column API costs thousands of py4j round-trips (measured
  ~4 s/round at k=8, dim=64 — see ivf_centroid_update's note).
- large k: the literal form does NOT scale in k — a k×dim-term
  expression tree blows up planning/codegen at the k≈√N / IVF-coarse
  regime (k in 10³–10⁵) long before data size matters (semdedup_prune
  measured a driver codegen OOM at k=45 already with a naive Column
  chain; even the single-SQL-string form planups superlinearly).
  Above the threshold the centroids become a k-row BROADCAST dim
  instead: one BroadcastNestedLoopJoin fans each vector out to k
  (vec, centroid) pairs — the sanctioned small-side broadcast cross,
  never a CartesianProduct — a fold-left HOF computes the dot product,
  and a groupBy(id) max(struct(score, -cid)) argmax reproduces
  score DESC, cid ASC in one id-keyed shuffle. Expression size is O(1)
  in k; the per-round cost is one broadcast of k×dim doubles plus that
  one exchange. This is `semdedup_prune`'s assignment shape
  (queries/corpus_ext.py _assigned_vectors), promoted into the
  operator.
- UPDATE is the one unavoidable shuffle: posexplode to (cid, dim) with
  map-side partial sums — k × dim × n_partitions rows cross the wire
  regardless of corpus size. Component means are exact decimal sums
  divided once (engine-stable).
- EMPTY CLUSTERS: a cluster that loses every member keeps its PREVIOUS
  centroid (no silent reset to the origin, which could capture
  unrelated vectors or stall convergence). This mirrors the common
  "carry-forward" policy; callers that prefer reseeding can re-init
  from the returned centroids.
- CONVERGENCE compares consecutive centroid matrices on the driver;
  with exact-decimal means, identical memberships reproduce identical
  doubles, so a stable partition terminates with shift == 0.0 — no
  epsilon needed for the common case.

Nearest-centroid uses the squared-L2 decomposition
argmin ||x-c||² = argmax (x·c − ||c||²/2): only the dot product touches
the row, the −||c||²/2 constant folds per centroid. Ties break to
the LOWEST cid (total order, reproducible) in both forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polkadot_etl_spark.sources.tables import local_frame

# Above this k the literal-inline SQL form is replaced by the
# broadcast-centroid join form (O(1) expression size in k). 64×64 ≈ 4k
# literal terms is comfortably inside codegen limits; beyond that the
# plan/codegen cost grows superlinearly while the broadcast form stays
# flat.
K_LITERAL_MAX = 64


def _score_array_sql(vec_col: str, centroids: list[list[float]]) -> str:
    """array(named_struct(score, x·c_j − ||c_j||²/2, negcid, -j) ...) as
    ONE SQL string — literals via CAST('repr' AS DOUBLE) (strtod,
    correctly rounded), flat left-associated term chains."""
    structs = []
    for j, c in enumerate(centroids):
        dot = " + ".join(
            f"CAST({vec_col}[{i}] AS DOUBLE) * CAST('{float(v)!r}' AS DOUBLE)"
            for i, v in enumerate(c)
        )
        half_norm = sum(float(v) * float(v) for v in c) / 2.0
        structs.append(
            f"named_struct('score', ({dot}) - CAST('{half_norm!r}' AS DOUBLE),"
            f" 'negcid', {-j})"
        )
    return "array(" + ", ".join(structs) + ")"


def assign_nearest_literal(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """df + a ``cid`` column: index of the nearest centroid (squared-L2,
    lowest-cid tie-break). Zero shuffle; k×dim literal expression — the
    small-k fast path. The assignment is its OWN projection — fused
    into a downstream Generate, the k×dim score expression would
    re-evaluate once per exploded element (measured 4.4 s vs 0.8 s at
    sf0.1, see ivf_centroid_update)."""
    scores = F.expr(_score_array_sql(vec_col, centroids))
    return df.select("*", (-F.array_max(scores)["negcid"]).cast("int").alias("cid"))


def assign_nearest_broadcast(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """df + ``cid`` via a broadcast-centroid crossJoin: O(1) expression
    size in k, so it plans in constant time at k=10³–10⁵ where the
    literal form blows up. One BroadcastNestedLoopJoin (k-row small
    side, explicitly broadcast) + fold-left HOF dot + one id-keyed
    argmax shuffle + one join back to df on ``id_col``. Same squared-L2
    score and lowest-cid tie-break as the literal form (cross-validated
    in tests/test_corpus_ext.py test_kmeans_assignment_forms_agree).

    CONTRACT: ``id_col`` must be a unique, non-null row key (it is the
    join-back key) — a NULL id would silently drop its row here while
    the literal form keeps it, and duplicate ids would fan out. The
    same contract a vector primary key already satisfies."""
    spark = df.sparkSession
    cents = local_frame(
        spark,
        [(j, [float(v) for v in c]) for j, c in enumerate(centroids)],
        "cent_cid INT, cent_vec ARRAY<DOUBLE>",
    )
    dot = F.expr(
        f"aggregate(zip_with({vec_col}, cent_vec, (x, y) -> cast(x as double) * y),"
        " 0D, (acc, v) -> acc + v)"
    )
    half_norm = F.expr("aggregate(cent_vec, 0D, (acc, v) -> acc + v * v) / 2")
    scored = (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .select(
            id_col,
            F.struct(
                (dot - half_norm).alias("score"), (-F.col("cent_cid")).alias("negcid")
            ).alias("sc"),
        )
    )
    assign = scored.groupBy(id_col).agg(
        (-F.max("sc")["negcid"]).cast("int").alias("cid")
    )
    return df.join(assign, id_col)


def assign_nearest(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Form-selecting assignment: literal-inline zero-shuffle expression
    for k ≤ K_LITERAL_MAX, broadcast-centroid join above it. Both forms
    produce identical (id, cid) results; only the physical plan
    differs. ``id_col`` must be a unique non-null key (see
    assign_nearest_broadcast's contract — the literal form ignores it,
    the broadcast form joins on it)."""
    if len(centroids) <= K_LITERAL_MAX:
        return assign_nearest_literal(df, centroids, vec_col)
    return assign_nearest_broadcast(df, centroids, vec_col, id_col)


def _update_centroids(
    assigned: DataFrame, vec_col: str, prev: list[list[float]]
) -> list[list[float]]:
    """Exact-decimal component means per (cid, dim). A cluster with NO
    members this round carries its previous centroid forward (empty
    clusters never relocate to the origin)."""
    rows = (
        assigned.select("cid", F.posexplode(vec_col).alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(
            (
                F.sum(F.col("val").cast("double").cast("decimal(38,10)")).cast("string").cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .collect()
    )
    out = [list(c) for c in prev]
    for r in rows:
        out[r.cid][r.pos] = r.m
    return out


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    max_iter: int = 10,
    tol: float = 0.0,
    init: list[list[float]] | None = None,
) -> tuple[DataFrame, list[list[float]], int]:
    """Lloyd's loop to convergence. Init = the k lowest-id vectors
    (deterministic, like the one-step IVF seeds), or an explicit seed
    matrix via ``init`` — e.g. kmeans_parallel_init's k-means|| seeds,
    which avoid the naive init's empty/duplicate-cluster pathologies on
    skewed id layouts. Returns (assignments DataFrame with the final
    ``cid`` column, centroids, iterations run).

    Empty-cluster policy: carry-forward — a cluster that loses all
    members keeps its previous centroid for the next round (see
    _update_centroids); it may re-acquire members later or simply stop
    moving, which the shift test treats as converged for that cluster.

    Each round costs one corpus scan + one (cid, dim)-keyed shuffle
    (plus, above K_LITERAL_MAX, the broadcast-assign's id-keyed argmax
    exchange); the k×dim centroid state rides the driver — at 100 TB
    that is the same bounded-model shape as broadcasting any trained
    quantizer."""
    if init is not None:
        if len(init) != k:
            raise ValueError(f"init has {len(init)} seeds, need k={k}")
        centroids = [[float(v) for v in c] for c in init]
    else:
        seed_rows = sorted(
            df.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(k).collect(),
            key=lambda r: r[0],
        )
        if len(seed_rows) < k:
            raise ValueError(f"need at least k={k} vectors, got {len(seed_rows)}")
        centroids = [[float(v) for v in r[1]] for r in seed_rows]
    it = 0
    for it in range(1, max_iter + 1):
        assigned = assign_nearest(df, centroids, vec_col, id_col)
        new_centroids = _update_centroids(assigned, vec_col, centroids)
        shift = max(
            abs(a - b) for ca, cb in zip(new_centroids, centroids) for a, b in zip(ca, cb)
        )
        centroids = new_centroids
        if shift <= tol:
            break
    return assign_nearest(df, centroids, vec_col, id_col), centroids, it


def _sq_dist_to_nearest(df: DataFrame, centroids: list[list[float]],
                        vec_col: str, id_col: str) -> DataFrame:
    """df + ``d2`` = squared L2 distance to the nearest current centroid
    (broadcast-centroid form, O(1) expression size in |centroids|)."""
    spark = df.sparkSession
    cents = local_frame(
        spark,
        [(j, [float(v) for v in c]) for j, c in enumerate(centroids)],
        "cent_cid INT, cent_vec ARRAY<DOUBLE>",
    )
    d2 = F.expr(
        f"aggregate(zip_with({vec_col}, cent_vec, (x, y) ->"
        " (cast(x as double) - y) * (cast(x as double) - y)),"
        " 0D, (acc, v) -> acc + v)"
    )
    scored = (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .groupBy(id_col)
        .agg(F.min(d2).alias("d2"))
    )
    return df.join(scored, id_col)


def kmeans_parallel_init(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    rounds: int = 3,
    oversample: float = 2.0,
) -> list[list[float]]:
    """Scalable k-means|| initialization (Bahmani et al., VLDB 2012):
    instead of k sequential k-means++ draws (k passes over the data),
    run ``rounds`` passes that each sample ~``oversample * k`` points
    with probability proportional to d²(x, C), then prune the
    oversampled candidate set back to k.

    Determinism contract: the per-point coin flip is the repo's standard
    md5-threshold draw — md5(round || id) as a uniform in [0, 1) —
    so the same inputs produce the same seeds at ANY partitioning
    (a rand()-based draw would not be reproducible). The final prune is
    the paper's WEIGHTED reclustering (Bahmani et al. §3.3, step 7-8):
    one extra distributed pass assigns every input point to its nearest
    candidate, the per-candidate assignment counts become weights, and
    the ≤ rounds·oversample·k weighted candidates are reclustered to k
    on the driver (bounded state, like the centroid matrix itself) —
    deterministic greedy weighted k-means++ init followed by weighted
    Lloyd to convergence. An unweighted farthest-first traversal here
    would be outlier-seeking: a candidate pool holding one dense
    cluster plus a few moderately-far strays would spend seeds on the
    strays (weight ~1 each) before covering the mass — pinned by
    test_kmeans_parallel_init_weighted_prune_ignores_strays.

    Per round: ONE broadcast-centroid distance pass (persisted — the
    cost total and the candidate filter both read it) + one bounded
    collect of new candidates — no shuffle grows with k, no k passes.
    The weighting pass adds ONE more corpus scan (broadcast-candidate
    assignment + a |candidates|-row count collect) at the very end.
    """
    seed_row = df.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(1).collect()
    if not seed_row:
        raise ValueError("empty input")
    cands: list[list[float]] = [[float(v) for v in seed_row[0][1]]]
    for r in range(1, rounds + 1):
        scored = _sq_dist_to_nearest(df, cands, vec_col, id_col).persist()
        # cost = sum d2; P(pick x) = min(1, oversample*k*d2/cost);
        # md5 draw: first 12 hex chars of md5("<round>|<id>") / 16^12
        draw = (
            F.conv(
                F.substring(F.md5(F.concat_ws("|", F.lit(str(r)), F.col(id_col))), 1, 12),
                16,
                10,
            ).cast("double")
            / F.lit(float(16**12))
        )
        total = scored.agg(F.sum("d2").alias("c")).collect()[0]["c"]
        if not total or total <= 0.0:
            scored.unpersist()
            break  # every point coincides with a candidate
        p = F.least(F.lit(1.0), F.lit(oversample * k) * F.col("d2") / F.lit(float(total)))
        new = (
            scored.where(draw < p)
            .orderBy(F.col(id_col).asc())
            .select(id_col, vec_col)
            .limit(int(oversample * k) * 4)  # bounded driver state
            .collect()
        )
        scored.unpersist()
        cands.extend([float(v) for v in row[1]] for row in new)
    # Weighting pass (paper step 7): w_i = |{x : nearest candidate = i}|.
    # One broadcast-candidate assignment scan + a bounded |cands|-row
    # collect. Candidates that win no point (dominated duplicates) get 0.
    if len(cands) < k:
        raise ValueError(
            f"k-means|| produced {len(cands)} distinct candidates < k={k}"
        )
    counts = {
        r.cid: r.n
        for r in assign_nearest(df, cands, vec_col, id_col)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    weights = [float(counts.get(i, 0)) for i in range(len(cands))]
    return _weighted_recluster(cands, weights, k)


def _weighted_recluster(
    cands: list[list[float]], weights: list[float], k: int, max_iter: int = 25
) -> list[list[float]]:
    """Driver-side weighted reclustering of the k-means|| candidate set
    (Bahmani et al. step 8): deterministic greedy weighted k-means++
    init — first seed = heaviest candidate, then argmax w_i · d²(c_i,
    chosen), ties to the earlier candidate — followed by weighted Lloyd
    to convergence. Zero-weight candidates never attract seeds on their
    own but still snap to their nearest seed (weight 0 contributes
    nothing to the mean). O(|cands|² + |cands|·k·iter) floats; |cands|
    is ≤ rounds·oversample·k·4 + 1 by construction."""

    def d2(a: list[float], b: list[float]) -> float:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    # greedy weighted k-means++ init
    first = max(range(len(cands)), key=lambda i: (weights[i], -i))
    seeds = [list(cands[first])]
    while len(seeds) < k:
        best, best_s = None, 0.0
        for i, c in enumerate(cands):
            s = weights[i] * min(d2(c, ch) for ch in seeds)
            if s > best_s + 1e-15:
                best, best_s = i, s
        if best is None:
            # all remaining weighted scores are 0 (zero-weight or
            # coincident candidates): fall back to pure spread so k
            # distinct seeds still come out when they exist
            best, best_d = None, 0.0
            for i, c in enumerate(cands):
                d = min(d2(c, ch) for ch in seeds)
                if d > best_d + 1e-15:
                    best, best_d = i, d
            if best is None:
                raise ValueError(
                    f"k-means|| candidates collapse to {len(seeds)} "
                    f"distinct points < k={k}"
                )
        seeds.append(list(cands[best]))
    # weighted Lloyd on the candidate set; empty clusters carry forward
    for _ in range(max_iter):
        sums = [[0.0] * len(s) for s in seeds]
        mass = [0.0] * k
        for i, c in enumerate(cands):
            j = min(range(k), key=lambda j: (d2(c, seeds[j]), j))
            mass[j] += weights[i]
            for p, v in enumerate(c):
                sums[j][p] += weights[i] * v
        new_seeds = [
            [v / mass[j] for v in sums[j]] if mass[j] > 0 else list(seeds[j])
            for j in range(k)
        ]
        if new_seeds == seeds:
            break
        seeds = new_seeds
    return seeds
