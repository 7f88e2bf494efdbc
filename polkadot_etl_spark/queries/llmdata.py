"""Training-data pipeline operators over documents/embeddings — the
beyond-reference surface (BASELINE.json north star): deduplication
(exact, MinHash-LSH, SimHash, n-gram Jaccard), similarity search
(brute-force + LSH-bucketed ANN), and text analysis (lang-id, quality,
token counting, fingerprinting).

Cross-engine determinism: all hashing is md5 over explicit strings (both
engines agree byte-for-byte); min-hash signatures are min-of-md5-hex
*strings* (lexicographic, no integer conversion); dot products fold lists
left-to-right in both engines (bit-identical doubles) and are rounded
before ranking.

Scale design (100 TB): every operator here is a shuffle-bounded
DataFrame plan — shingling and MinHash signatures are map-side array
projections (their only exchange is the scan's fan-out repartition), LSH
candidate generation groups (band, minhash) buckets with an explicit
bucket-size cap (mega-buckets are stopword-like noise and would otherwise
produce quadratic pairs; the pieces live in operators/minhash.py), and
ANN's scale path joins on sign-buckets instead of cross-joining.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from polkadot_etl_spark.operators.minhash import (
    BUCKET_CAP,
    N_BANDS,
    SHINGLE,
    bucket_pairs,
    jaccard_verify,
    shingles,
    signatures,
)
from polkadot_etl_spark.queries.registry import QUERIES, query
from polkadot_etl_spark.sources.tables import fan_out_scan, load_table

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS canonical_id,
       COUNT(*)    OVER (PARTITION BY md5(lower(trim(text)))) AS group_size
FROM documents
""",
    doc="Exact dedup via normalized-content hash groupBy: every doc mapped "
    "to the min doc_id of its content group. At scale: one shuffle on the "
    "16-byte digest, never on the raw text.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.lower(F.trim(F.col("text"))))
    w = Window.partitionBy(key)
    return d.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    )


_DUCK_SHINGLES = (
    f"list_transform(range(1, greatest(len(lower(text)) - {SHINGLE - 1}, 1) + 1),"
    f" i -> substr(lower(text), i, {SHINGLE}))"
)


_DUCK_SIG = f"""
sh AS (
  SELECT doc_id, UNNEST({_DUCK_SHINGLES}) AS shingle FROM documents
),
hs AS (
  SELECT doc_id, md5(shingle) AS h FROM sh
),
mins AS (
  SELECT doc_id,
         {", ".join(f"MIN(substr(h, {1 + 8 * b}, 8)) AS m{b}" for b in range(N_BANDS))}
  FROM hs GROUP BY doc_id
),
sig AS (
  SELECT doc_id, band,
         CASE {" ".join(f"WHEN band = {b} THEN m{b}" for b in range(N_BANDS))} END AS minhash
  FROM mins CROSS JOIN (SELECT UNNEST(range(0, {N_BANDS})) AS band) bands
)
"""

# _DUCK_SIG + LSH candidates over capped buckets + exact shingle-set
# Jaccard verify: jedges(doc_a, doc_b, n_inter, jaccard) holds the
# verified (>= 0.5) pairs. The oracle of every query that composes
# dedup_ngram_jaccard's plan reads it, so all of them follow N_BANDS,
# BUCKET_CAP and SHINGLE.
_DUCK_JACCARD_EDGES = f"""{_DUCK_SIG},
sized AS (
  SELECT doc_id, band, minhash,
         COUNT(*) OVER (PARTITION BY band, minhash) AS bucket_size
  FROM sig
),
capped AS (SELECT * FROM sized WHERE bucket_size <= {BUCKET_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN dsh x ON x.doc_id = c.doc_a
  JOIN dsh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY c.doc_a, c.doc_b
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
jedges AS (
  SELECT i.doc_a, i.doc_b, i.n_inter,
         CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.5
)
"""


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread across cores before the heavy per-doc shingle
    work (a compact parquet file is one split; same rule at 100 TB via
    maxPartitionBytes)."""
    return load_table(spark, sf_dir, "documents").transform(
        fan_out_scan(sf_dir, "documents", "doc_id")
    )


@query(
    "dedup_minhash_signatures",
    oracle=f"""
WITH {_DUCK_SIG}
SELECT doc_id, band, minhash FROM sig
""",
    doc="MinHash signature computation: per-doc per-band min of an "
    "8-hex-char slice of md5 over the doc's distinct 5-char shingles "
    "(one md5 per shingle, one unsalted slice per band). Shingling and "
    "the minima are map-side array projections; the only exchange is "
    "the scan's fan-out repartition.",
    tags=("dedup",),
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = signatures(_documents(spark, sf_dir))
    return sig.select("doc_id", F.col("band").cast("bigint").alias("band"), "minhash")


@query(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
WITH {_DUCK_SIG},
sized AS (
  SELECT doc_id, band, minhash,
         COUNT(*) OVER (PARTITION BY band, minhash) AS bucket_size
  FROM sig
),
capped AS (SELECT * FROM sized WHERE bucket_size <= {BUCKET_CAP})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
FROM capped a JOIN capped b
  ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
""",
    doc="MinHash-LSH candidate pairs: docs sharing any band bucket. "
    "Bucket-size cap bounds the quadratic blowup of degenerate buckets "
    "(at 100 TB the cap is what keeps this shuffle-bounded).",
    tags=("dedup", "headline"),
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        bucket_pairs(signatures(_documents(spark, sf_dir)))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


@query(
    "lsh_dropped_buckets",
    oracle=f"""
WITH {_DUCK_SIG},
bucket AS (
  SELECT band, minhash, COUNT(*) AS bucket_size FROM sig GROUP BY band, minhash
)
SELECT band,
       COUNT(*) AS n_buckets,
       COUNT(CASE WHEN bucket_size > {BUCKET_CAP} THEN 1 END) AS n_buckets_dropped,
       CAST(COALESCE(SUM(CASE WHEN bucket_size > {BUCKET_CAP} THEN bucket_size END), 0)
            AS BIGINT) AS n_docs_dropped,
       CAST(MAX(bucket_size) AS BIGINT) AS max_bucket_size
FROM bucket GROUP BY band
""",
    doc="Companion coverage metric for the LSH candidate stage — the 'no "
    "silent caps' rule: every band reports how many buckets (and doc "
    "entries) the BUCKET_CAP skip-rule dropped, plus the observed max "
    "bucket size so the cap can be tuned instead of trusted. Shares the "
    "signature build with dedup_minhash_lsh_pairs; one extra tiny "
    "two-level agg, no new shuffle shape.",
    tags=("dedup", "metric"),
)
def lsh_dropped_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = dedup_minhash_signatures(spark, sf_dir)
    b = sig.groupBy("band", "minhash").agg(F.count(F.lit(1)).alias("bucket_size"))
    dropped = F.col("bucket_size") > BUCKET_CAP
    return b.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.count(F.when(dropped, 1)).alias("n_buckets_dropped"),
        F.coalesce(F.sum(F.when(dropped, F.col("bucket_size"))), F.lit(0)).alias(
            "n_docs_dropped"
        ),
        F.max("bucket_size").alias("max_bucket_size"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_DUCK_JACCARD_EDGES}
SELECT doc_a, doc_b, n_inter, ROUND(jaccard, 6) AS jaccard FROM jedges
""",
    doc="n-gram Jaccard verification of LSH candidates: exact shingle-set "
    "Jaccard computed ONLY for candidate pairs (never all-pairs), "
    "keeping near-dups at >= 0.5. The LSH stage bounds the verify cost.",
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents(spark, sf_dir)
    return (
        jaccard_verify(bucket_pairs(signatures(docs)), docs)
        .where(F.col("jaccard") >= 0.5)  # the UNROUNDED value, like the oracle
        .select("doc_a", "doc_b", "n_inter", F.round("jaccard", 6).alias("jaccard"))
    )


MINHASH_R2_HASHES = 8  # 8-hex-char (32-bit) slices of TWO md5s per shingle
MINHASH_R2_BANDS = 4   # plan_bands(0.5, 8) == (4, 2): t* = (1/4)^(1/2) = 0.5
MINHASH_R2_T = 0.5


@query(
    "dedup_minhash_banded_r2",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, UNNEST({_DUCK_SHINGLES}) AS shingle FROM documents
),
hs AS (SELECT doc_id, md5(shingle) || md5('b:' || shingle) AS h FROM sh),
mins AS (
  SELECT doc_id,
         {", ".join(f"MIN(substr(h, {1 + 8 * i}, 8)) AS s{i}" for i in range(MINHASH_R2_HASHES))}
  FROM hs GROUP BY doc_id
),
sig AS (
  SELECT doc_id, band,
         CASE {" ".join(f"WHEN band = {k} THEN s{2 * k} || s{2 * k + 1}" for k in range(MINHASH_R2_BANDS))}
         END AS bkey
  FROM mins CROSS JOIN (SELECT UNNEST(range(0, {MINHASH_R2_BANDS})) AS band) b
),
sized AS (
  SELECT doc_id, band, bkey,
         COUNT(*) OVER (PARTITION BY band, bkey) AS bucket_size
  FROM sig
),
capped AS (SELECT * FROM sized WHERE bucket_size <= {BUCKET_CAP}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
inter AS (
  SELECT c.doc_a, c.doc_b, c.n_shared_bands, COUNT(*) AS n_inter
  FROM cand c
  JOIN dsh x ON x.doc_id = c.doc_a
  JOIN dsh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2, 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id)
SELECT i.doc_a, i.doc_b, CAST(i.n_shared_bands AS BIGINT) AS n_shared_bands,
       CAST(i.n_inter AS BIGINT) AS n_inter,
       ROUND(CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter), 6)
         AS jaccard,
       CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter)
         >= {MINHASH_R2_T} AS kept
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
""",
    doc="PLANNED banded MinHash — the operators/lsh_planner recommendation "
    f"executed: for a Jaccard-{MINHASH_R2_T} target with an 8-hash "
    "budget, plan_bands returns (b=4, r=2), whose S-curve threshold is "
    "exactly 0.5 — the PRECISION-leaning configuration, vs the "
    "registry's (b=4, r=1) recall-leaning t*=0.25 family. Mechanism: 8 "
    "minhashes as disjoint 8-hex-char (32-bit) slices of TWO md5 "
    "digests per shingle, band key = concatenation of 2 minhashes, "
    "capped buckets, exact shingle-set Jaccard verify on every "
    "candidate with the verdict column kept — candidates are EMITTED "
    "with their verify outcome rather than filtered, so the "
    "configuration's precision is a measured per-pair fact in the hash "
    "gate. MEASURED on the fixture: both configurations find the SAME "
    "25 true >=0.5 pairs, but r=2 proposes 2,894 verify candidates "
    "where r=1 proposes 14,206 — identical recall at 4.9x less verify "
    "work, which is exactly what the S-curve promises a higher t* buys "
    "(this stopword-soup corpus shares shingle minima heavily, so "
    "absolute precision stays low for BOTH — the ratio is the claim). "
    "A first cut sliced minhashes as 16-BIT values and min-of-~150 "
    "draws from a 65k space concentrated near zero, colliding "
    "unrelated docs (5,162 candidates) — 32-bit slices (two digests "
    "per shingle) restore the uniform-permutation assumption the curve "
    "needs. Scale shape identical to the audited minhash family: two "
    "digest passes, bucket-capped pair explosion inside the groupBy "
    "shuffle, array-intersect verify moves one set per doc.",
    tags=("dedup",),
)
def dedup_minhash_banded_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents(spark, sf_dir)
    sig = signatures(
        docs, bands=MINHASH_R2_BANDS, rows=MINHASH_R2_HASHES // MINHASH_R2_BANDS
    )
    return jaccard_verify(bucket_pairs(sig), docs).select(
        "doc_a",
        "doc_b",
        F.col("n_shared_bands").cast("bigint").alias("n_shared_bands"),
        F.col("n_inter").cast("bigint").alias("n_inter"),
        F.round("jaccard", 6).alias("jaccard"),
        (F.col("jaccard") >= MINHASH_R2_T).alias("kept"),
    )


@query(
    "simhash_fingerprints",
    oracle="""
WITH toks AS (
  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents
),
h AS (SELECT doc_id, substr(md5(tok), 1, 16) AS hx FROM toks),
bits AS (
  SELECT doc_id, UNNEST(range(0, 64)) AS p, hx FROM h
),
contrib AS (
  SELECT doc_id, p,
         SUM(CASE WHEN ((strpos('0123456789abcdef', substr(hx, 1 + (p // 4), 1)) - 1)
                        >> (3 - (p % 4))) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM bits GROUP BY doc_id, p
)
SELECT doc_id, STRING_AGG(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS simhash
FROM contrib GROUP BY doc_id
""",
    doc="SimHash document fingerprint: 64-bit signature from md5 token "
    "hashes, majority vote per bit. Output as 64-char bitstring so both "
    "engines compare exactly. Near-dup distance = Hamming on the string.",
    tags=("dedup",),
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").transform(fan_out_scan(sf_dir, "documents", "doc_id"))
    toks = d.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0))).alias(
            "tok"
        ),
    )
    h = toks.select("doc_id", F.substring(F.md5("tok"), 1, 16).alias("hx"))
    bits = h.select("doc_id", "hx", F.explode(F.expr("sequence(0, 63)")).alias("p"))
    bit = F.expr(
        "shiftright(instr('0123456789abcdef', substring(hx, 1 + (p div 4), 1)) - 1,"
        " 3 - (p % 4)) & 1"
    )
    contrib = bits.groupBy("doc_id", "p").agg(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias("s"))
    b = contrib.withColumn("b", F.when(F.col("s") > 0, F.lit("1")).otherwise(F.lit("0")))
    return b.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("p", "b"))), lambda s: s["b"]), ""
        ).alias("simhash")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_quality",
    oracle="""
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens,
       length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS n_alnum_chars,
       len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
       len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in|is)\\b')) AS n_stopwords,
       ROUND(CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE)
             / NULLIF(len(regexp_extract_all(text, '[A-Za-z0-9]+')), 0), 6) AS avg_token_len,
       ROUND(CAST(len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in|is)\\b')) AS DOUBLE)
             / NULLIF(len(regexp_extract_all(text, '[A-Za-z0-9]+')), 0), 6) AS stopword_ratio
FROM documents
""",
    doc="Text quality metrics: token count, alnum char count, punctuation "
    "count, stopword ratio, avg token length — all JVM-side regex "
    "(whole-stage codegen), zero Python.",
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.regexp_count(F.col("text"), F.lit("[A-Za-z0-9]+"))
    n_alnum = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z0-9]", ""))
    n_punct = F.regexp_count(F.col("text"), F.lit("[.,;:!?]"))
    n_stop = F.regexp_count(F.lower(F.col("text")), F.lit(r"\b(the|a|and|of|to|in|is)\b"))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_alnum.alias("n_alnum_chars"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stopwords"),
        F.round(n_alnum.cast("double") / F.nullif(n_tokens, F.lit(0)), 6).alias("avg_token_len"),
        F.round(n_stop.cast("double") / F.nullif(n_tokens, F.lit(0)), 6).alias("stopword_ratio"),
    )


@query(
    "token_counts",
    oracle="""
SELECT doc_id,
       len(regexp_extract_all(text, '\\S+')) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')) AS n_bpe_tokens,
       ROUND(CAST(length(text) AS DOUBLE)
             / NULLIF(len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')), 0), 6)
         AS chars_per_token
FROM documents
""",
    doc="Token counting: whitespace tokens + a BPE-ish pre-tokenizer regex "
    "(GPT-2-style split classes, no lookahead so RE2 and Java regex "
    "agree), chars-per-token ratio.",
    tags=("text",),
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_count(F.lower(F.col("text")), F.lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"))
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.round(F.length("text").cast("double") / F.nullif(bpe, F.lit(0)), 6).alias(
            "chars_per_token"
        ),
    )


@query(
    "lang_id_heuristic",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(lower(text), '\\b(the|a|of|and|is)\\b')) AS en_hits,
         len(regexp_extract_all(lower(text), '\\b(el|la|de|y|es)\\b')) AS es_hits,
         len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b')) AS de_hits,
         len(regexp_extract_all(lower(text), '\\b(le|la|les|et|est)\\b')) AS fr_hits
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
            WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
            WHEN de_hits >= fr_hits THEN 'de'
            ELSE 'fr' END AS predicted_lang,
       (CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
            WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
            WHEN de_hits >= fr_hits THEN 'de'
            ELSE 'fr' END) = lang AS is_match
FROM scored
""",
    doc="Language-ID heuristic: per-language stopword-hit scoring with a "
    "deterministic argmax tie-break, compared against the labeled lang.",
    tags=("text",),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    en = F.regexp_count(low, F.lit(r"\b(the|a|of|and|is)\b"))
    es = F.regexp_count(low, F.lit(r"\b(el|la|de|y|es)\b"))
    de = F.regexp_count(low, F.lit(r"\b(der|die|das|und|ist)\b"))
    fr = F.regexp_count(low, F.lit(r"\b(le|la|les|et|est)\b"))
    predicted = (
        F.when((en >= es) & (en >= de) & (en >= fr), "en")
        .when((es >= de) & (es >= fr), "es")
        .when(de >= fr, "de")
        .otherwise("fr")
    )
    return d.select(
        "doc_id",
        "lang",
        predicted.alias("predicted_lang"),
        (predicted == F.col("lang")).alias("is_match"),
    )


@query(
    "doc_fingerprint",
    oracle=f"""
WITH sh AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, greatest(len(lower(text)) - 7, 1) + 1),
                               i -> substr(lower(text), i, 8))) AS shingle
  FROM documents
)
SELECT doc_id, MIN(md5(shingle)) AS fingerprint, COUNT(DISTINCT shingle) AS n_shingles
FROM sh GROUP BY doc_id
""",
    doc="Document fingerprint: min-hash over 8-char shingles (a 1-band "
    "MinHash == winnowing-style content fingerprint) + distinct shingle "
    "cardinality.",
    tags=("text", "dedup"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "documents")
        .transform(fan_out_scan(sf_dir, "documents", "doc_id"))
        .select("doc_id", F.lower("text").alias("lt"))
        .select("doc_id", F.explode(shingles(k=8)).alias("shingle"))
    )
    return d.groupBy("doc_id").agg(
        F.min(F.md5("shingle")).alias("fingerprint"),
        F.countDistinct("shingle").alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# Similarity search (embeddings)
# ---------------------------------------------------------------------------

_DOT = (
    "list_sum(list_transform(range(1, len(q_emb) + 1), i -> q_emb[i]::DOUBLE * c_emb[i]::DOUBLE))"
)
_QN = "list_sum(list_transform(range(1, len(q_emb) + 1), i -> q_emb[i]::DOUBLE * q_emb[i]::DOUBLE))"
_CN = "list_sum(list_transform(range(1, len(c_emb) + 1), i -> c_emb[i]::DOUBLE * c_emb[i]::DOUBLE))"


def _sq_norm(col: str):
    """Squared L2 norm of an ARRAY<FLOAT/DOUBLE> column — the exact fold
    the cosine formulas use. r13: staged per SIDE before candidate
    joins so each pair row folds only the dot product (1 HOF fold/pair
    instead of 3); same aggregate over the same array → bit-identical."""
    return F.expr(
        f"aggregate({col}, 0D, (acc, v) -> acc + cast(v as double)"
        " * cast(v as double))"
    )


@query(
    "ann_cosine_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
sims AS (
  SELECT q_id, c_id, ROUND({_DOT} / SQRT(({_QN}) * ({_CN})), 6) AS cosine
  FROM q, c WHERE c_id <> q_id
),
ranked AS (
  SELECT q_id, c_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rn
  FROM sims
)
SELECT q_id, c_id, cosine, rn FROM ranked WHERE rn <= 5
""",
    doc="Brute-force cosine top-k ANN baseline: broadcast the query set, "
    "fold dot products JVM-side (zip_with+aggregate — no Python), rank "
    "per query. The exact-recall baseline the LSH path is judged against.",
    tags=("similarity", "headline"),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    # r13 (guide §1.2): squared norms staged per SIDE before the join —
    # the per-pair projection folds only the dot (1 HOF fold/pair, was
    # 3); same aggregate over the same array, so values are bit-identical
    q = q.withColumn("q_n", _sq_norm("q_emb"))
    c = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        _sq_norm("embedding").alias("c_n"),
    )
    j = c.crossJoin(F.broadcast(q)).where(F.col("c_id") != F.col("q_id"))
    dot = F.expr(
        "aggregate(zip_with(q_emb, c_emb, (x, y) -> cast(x as double) * cast(y as double)),"
        " 0D, (acc, v) -> acc + v)"
    )
    sims = j.select(
        "q_id",
        "c_id",
        F.round(dot / F.sqrt(F.col("q_n") * F.col("c_n")), 6).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return sims.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)


_DUCK_BUCKET = (
    "array_to_string(list_transform(embedding[1:8], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')"
)


@query(
    "ann_lsh_bucketed",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding, {_DUCK_BUCKET} AS bucket FROM embeddings
),
q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM b WHERE vec_id < 8),
c AS (SELECT vec_id AS c_id, embedding AS c_emb, bucket FROM b),
sims AS (
  SELECT q.q_id, c.c_id, ROUND({_DOT} / SQRT(({_QN}) * ({_CN})), 6) AS cosine
  FROM q JOIN c ON q.bucket = c.bucket AND c.c_id <> q.q_id
),
ranked AS (
  SELECT q_id, c_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rn
  FROM sims
)
SELECT q_id, c_id, cosine, rn FROM ranked WHERE rn <= 3
""",
    doc="LSH-bucketed ANN — the 100 TB scale path: sign-bucket on the "
    "first 8 dims (hyperplane LSH with axis-aligned planes) turns the "
    "cross join into an equi-join on bucket; candidates shrink ~2^8.",
    tags=("similarity",),
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    bucket = F.array_join(
        F.transform(F.slice("embedding", 1, 8), lambda x: F.when(x >= 0, "1").otherwise("0")), ""
    )
    b = e.withColumn("bucket", bucket)
    q = b.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        "bucket",
        _sq_norm("embedding").alias("q_n"),
    )
    c = b.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        F.col("bucket").alias("bucket_c"),
        _sq_norm("embedding").alias("c_n"),
    )
    j = c.join(F.broadcast(q), (F.col("bucket") == F.col("bucket_c")) & (F.col("c_id") != F.col("q_id")))
    dot = F.expr(
        "aggregate(zip_with(q_emb, c_emb, (x, y) -> cast(x as double) * cast(y as double)),"
        " 0D, (acc, v) -> acc + v)"
    )
    sims = j.select(
        "q_id",
        "c_id",
        F.round(dot / F.sqrt(F.col("q_n") * F.col("c_n")), 6).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return sims.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)


@query(
    "embedding_bucket_stats",
    oracle=f"""
SELECT {_DUCK_BUCKET} AS bucket,
       COUNT(*) AS n_vectors,
       CAST(CAST(SUM(CAST(SQRT(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
                AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_norm
FROM embeddings
GROUP BY 1
""",
    doc="IVF-style coarse partition statistics: vectors per sign-bucket + "
    "summed L2 norms — the bucket histogram that sizes the ANN scale "
    "path (skew here → re-salt the planes).",
    tags=("similarity",),
)
def embedding_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    bucket = F.array_join(
        F.transform(F.slice("embedding", 1, 8), lambda x: F.when(x >= 0, "1").otherwise("0")), ""
    )
    norm = F.sqrt(
        F.expr("aggregate(embedding, 0D, (acc, v) -> acc + cast(v as double) * cast(v as double))")
    )
    return e.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(norm.cast("decimal(38,10)")).cast("double").alias("sum_norm"),
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding, {_DUCK_BUCKET} AS bucket FROM embeddings
),
q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM b),
c AS (SELECT vec_id AS c_id, embedding AS c_emb, bucket FROM b),
sims AS (
  SELECT q.q_id AS vec_a, c.c_id AS vec_b,
         ROUND({_DOT} / SQRT(({_QN}) * ({_CN})), 6) AS cosine
  FROM q JOIN c ON q.bucket = c.bucket AND q.q_id < c.c_id
)
SELECT vec_a, vec_b, cosine FROM sims WHERE cosine >= 0.3
""",
    doc="Embedding-cosine near-duplicate pairs — the semantic-dedup "
    "stage of a training-data pipeline: same sign-bucket (hyperplane "
    "LSH) candidates only, exact cosine verify, keep pairs above the threshold (0.3 here — "
    "the synthetic vectors carry no true dups, so the gate selects the "
    "top tail; production would use ~0.95). "
    "All-pairs never materializes: the bucket equi-join bounds the "
    "quadratic term exactly like the MinHash band join does for text.",
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    bucket = F.array_join(
        F.transform(F.slice("embedding", 1, 8), lambda x: F.when(x >= 0, "1").otherwise("0")), ""
    )
    b = e.withColumn("bucket", bucket)
    a = b.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("q_emb"),
        "bucket",
        _sq_norm("embedding").alias("q_n"),
    )
    c = b.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("c_emb"),
        F.col("bucket").alias("bucket_c"),
        _sq_norm("embedding").alias("c_n"),
    )
    j = a.join(c, (F.col("bucket") == F.col("bucket_c")) & (F.col("vec_a") < F.col("vec_b")))
    dot = F.expr(
        "aggregate(zip_with(q_emb, c_emb, (x, y) -> cast(x as double) * cast(y as double)),"
        " 0D, (acc, v) -> acc + v)"
    )
    sims = j.select(
        "vec_a",
        "vec_b",
        F.round(dot / F.sqrt(F.col("q_n") * F.col("c_n")), 6).alias("cosine"),
    )
    return sims.where(F.col("cosine") >= 0.3)


@query(
    "multimodal_image_features",
    oracle="""
WITH d AS (
  SELECT doc_id, substr(text, 1, 256) AS t FROM documents WHERE doc_id < 200
),
b AS (
  SELECT doc_id, unicode(c) AS v
  FROM (SELECT doc_id, unnest(string_split(t, '')) AS c FROM d)
  WHERE c <> ''
),
s AS (
  SELECT doc_id, SUM(v) AS s1, SUM(v * v) AS s2,
         SUM(CASE WHEN v < 16 THEN 1 ELSE 0 END) AS lo, COUNT(*) AS nch
  FROM b GROUP BY doc_id
)
SELECT d.doc_id AS media_id, 16 AS width, 16 AS height,
       CAST(256 AS BIGINT) AS n_pixels,
       CAST(COALESCE(s1, 0) AS DOUBLE) / 256 AS pixel_mean,
       sqrt((CAST(COALESCE(s2, 0) AS DOUBLE)
             - CAST(COALESCE(s1, 0) AS DOUBLE) * COALESCE(s1, 0) / 256) / 256)
         AS pixel_std,
       TRUE AS valid,
       CAST(64 AS BIGINT) AS resized_bytes,
       16 AS n_feature_bins,
       1.0 AS feature_sum,
       CAST(256 - COALESCE(nch, 0) + COALESCE(lo, 0) AS DOUBLE) / 256 AS bin0
FROM d LEFT JOIN s USING (doc_id)
""",
    doc="Multimodal column pipeline end-to-end with a REAL codec: "
    "documents' text bytes become 16x16 grayscale rasters, get encoded "
    "as real zlib-backed PNGs (multimodal/codecs.py — pure numpy+stdlib, "
    "runs on any executor), then the Arrow-batched mapInPandas stages "
    "run on the ENCODED bytes: PNG decode + validate (decode_image), "
    "nearest-neighbor resize to 8x8 through the decoder, and byte-"
    "histogram features over the raster. Pixel stats use exact integer "
    "moments (mean = S1/n, var = (S2 - S1^2/n)/n, IEEE sqrt) so the "
    "oracle — which recomputes the moments from the document characters "
    "in SQL (text is ASCII: unicode(c) = the UTF-8 byte) — matches "
    "bit-for-bit, turning the multimodal surface from a rows-only check "
    "into a full hash row. JPEG remains the declared boundary (needs "
    "PIL).",
    tags=("multimodal",),
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.multimodal.codecs import encode_png
    from polkadot_etl_spark.multimodal.media import (
        MEDIA_SCHEMA,
        byte_histogram_features,
        decode_image,
        resize_images,
    )

    W = H = 16
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    # deterministic raster: text bytes truncated / zero-padded to W*H
    content = F.substring(
        F.concat(F.encode(F.col("text"), "utf-8"), F.lit(bytes(W * H))), 1, W * H
    )
    raster = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        content.alias("content"),
        F.named_struct(
            F.lit("width"), F.lit(W).cast("int"),
            F.lit("height"), F.lit(H).cast("int"),
            F.lit("channels"), F.lit(1).cast("int"),
            F.lit("sample_rate"), F.lit(None).cast("int"),
            F.lit("n_frames"), F.lit(1).cast("int"),
            F.lit("fps"), F.lit(None).cast("double"),
        ).alias("meta"),
    )

    def _encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = [
                encode_png(np.frombuffer(c, dtype=np.uint8).reshape(H, W))
                for c in pdf.content
            ]
            yield pdf

    png = raster.mapInPandas(_encode, MEDIA_SCHEMA)
    stats = decode_image(png, codec="png")
    resized = resize_images(png, 8, 8, codec="png").select(
        "media_id", F.length("content").alias("resized_bytes")
    )
    feats = byte_histogram_features(raster).select(
        "media_id",
        F.size("features").alias("n_feature_bins"),
        F.aggregate(
            "features", F.lit(0.0), lambda a, x: a + x.cast("double")
        ).alias("feature_sum"),
        F.element_at("features", 1).cast("double").alias("bin0"),
    )
    return (
        stats.join(resized, "media_id")
        .join(feats, "media_id")
        .select(
            "media_id", "width", "height", "n_pixels", "pixel_mean", "pixel_std",
            "valid", "resized_bytes", "n_feature_bins", "feature_sum", "bin0",
        )
    )


@query(
    "multimodal_audio_features",
    oracle="""
WITH d AS (
  SELECT doc_id, 1 + doc_id % 2 AS ch, CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS rate
  FROM documents WHERE doc_id < 200
),
s AS (
  SELECT d.doc_id, d.ch, d.rate, k.k,
         ((d.doc_id * 7919 + k.k * 104729) % 65536) - 32768 AS v
  FROM d JOIN (SELECT unnest(range(512)) AS k) k ON k.k < 256 * d.ch
),
w AS (
  SELECT doc_id, ch, rate, k, v,
         LAG(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv
  FROM s
),
agg AS (
  SELECT doc_id, ch, rate,
         COUNT(*) AS n, SUM(v) AS s1, SUM(CAST(v AS BIGINT) * v) AS s2,
         MAX(ABS(v)) AS peak,
         SUM(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
                  THEN 1 ELSE 0 END) AS zc
  FROM w GROUP BY 1, 2, 3
)
SELECT doc_id AS media_id, rate AS sample_rate,
       CAST(ch AS INTEGER) AS n_channels,
       CAST(n AS BIGINT) AS n_samples,
       CAST(256 AS DOUBLE) / rate AS duration_sec,
       CAST(s1 AS DOUBLE) / n AS amp_mean,
       sqrt(CAST(s2 AS DOUBLE) / n) AS rms,
       CAST(peak AS INTEGER) AS peak,
       CAST(zc AS BIGINT) AS zero_crossings,
       TRUE AS valid
FROM agg
""",
    doc="Multimodal AUDIO pipeline end-to-end with a REAL container codec: "
    "deterministic 16-bit PCM signals (sample k = ((id*7919 + k*104729) "
    "mod 65536) - 32768, 256 frames, 1-2 channels, 8/16/24 kHz) are "
    "encoded as real RIFF/WAV bytes (multimodal/codecs.py encode_wav) "
    "and then parsed BACK by the pure-stdlib WAV decoder inside the "
    "Arrow-batched decode_audio stage — chunk walk, fmt validation, "
    "channel de-interleave — which also cross-checks the parsed sample "
    "rate against the meta struct. Features are exact integer moments "
    "(amp_mean = S1/n, rms = IEEE sqrt(S2/n), peak = max|x|, "
    "zero-crossings over the interleaved stream), so the oracle — which "
    "recomputes every feature from the generator formula in SQL — "
    "matches bit-for-bit: the whole encode→RIFF-parse→featurize path is "
    "hash-verified. Compressed audio (mp3/aac) stays the declared "
    "ffmpeg boundary.",
    tags=("multimodal",),
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.multimodal.codecs import encode_wav
    from polkadot_etl_spark.multimodal.media import MEDIA_SCHEMA, decode_audio

    N_FRAMES = 256
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    seed = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        # placeholder; the real RIFF bytes are built in the Arrow stage below
        F.lit(b"").alias("content"),
        F.named_struct(
            F.lit("width"), F.lit(None).cast("int"),
            F.lit("height"), F.lit(None).cast("int"),
            F.lit("channels"), (F.lit(1) + F.col("doc_id") % 2).cast("int"),
            F.lit("sample_rate"),
            (F.lit(8000) * (F.lit(1) + F.col("doc_id") % 3)).cast("int"),
            F.lit("n_frames"), F.lit(N_FRAMES).cast("int"),
            F.lit("fps"), F.lit(None).cast("double"),
        ).alias("meta"),
    )

    def _synth(batches):
        import numpy as np

        for pdf in batches:
            pdf = pdf.copy()
            out = []
            for mid, meta in zip(pdf.media_id, pdf.meta):
                ch, rate = int(meta["channels"]), int(meta["sample_rate"])
                k = np.arange(N_FRAMES * ch, dtype=np.int64)
                v = ((mid * 7919 + k * 104729) % 65536) - 32768
                out.append(encode_wav(v.reshape(N_FRAMES, ch), rate))
            pdf["content"] = out
            yield pdf

    wav = seed.mapInPandas(_synth, MEDIA_SCHEMA)
    return decode_audio(wav, codec="wav")


@query(
    "ss58_codec_roundtrip",
    # blake2-based ss58 checksums aren't expressible in DuckDB SQL, but the
    # output IS fully deterministic (custkeys 0..100 exist at every SF, so
    # the derived pubkey set — and therefore every count and address-length
    # bound — is scale-factor-invariant).  Pin the three expected rows as a
    # literal VALUES oracle so the driver gets a full hash row instead of a
    # no_oracle slot; the per-address equality invariant stays pinned in
    # tests/test_queries_oracle.py.
    oracle="""
SELECT * FROM (VALUES
  (CAST(0  AS INTEGER), CAST(101 AS BIGINT), CAST(101 AS BIGINT),
   CAST(47 AS INTEGER), CAST(48 AS INTEGER)),
  (CAST(2  AS INTEGER), CAST(101 AS BIGINT), CAST(101 AS BIGINT),
   CAST(47 AS INTEGER), CAST(47 AS INTEGER)),
  (CAST(42 AS INTEGER), CAST(101 AS BIGINT), CAST(101 AS BIGINT),
   CAST(48 AS INTEGER), CAST(48 AS INTEGER))
) AS t(prefix, n_total, n_roundtrip_ok, min_addr_len, max_addr_len)
""",
    doc="Arrow-batched ss58 codec on the driver-facing surface: "
    "deterministic 32-byte pubkeys derived from customer keys (md5x2), "
    "encoded to ss58 for three network prefixes and decoded back — "
    "returns per-prefix totals and round-trip-ok counts. The custkey "
    "filter (<=100) selects the same key set at every scale factor, so "
    "the literal VALUES oracle is exact at any SF. All Python is "
    "pandas-UDF map-side work; the aggregation is native.",
    tags=("functions",),
)
def ss58_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.functions.udfs import u_get_address, u_get_pubkey

    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 100)
    pk = F.concat(
        F.lit("0x"), F.md5(F.col("c_custkey").cast("string")),
        F.md5(F.concat(F.lit("salt"), F.col("c_custkey").cast("string"))),
    )
    base = c.select(F.col("c_custkey"), pk.alias("pubkey"))
    out = None
    for prefix in (0, 2, 42):
        enc = base.withColumn("prefix", F.lit(prefix)).withColumn(
            "ss58", u_get_address(prefix)(F.col("pubkey"))
        )
        out = enc if out is None else out.unionByName(enc)
    roundtrip = out.withColumn("back", u_get_pubkey(F.col("ss58")))
    return roundtrip.groupBy("prefix").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("back") == F.col("pubkey"), 1)).alias("n_roundtrip_ok"),
        F.min(F.length("ss58")).alias("min_addr_len"),
        F.max(F.length("ss58")).alias("max_addr_len"),
    )


@query(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE
b AS (
  SELECT vec_id, embedding, {_DUCK_BUCKET} AS bucket FROM embeddings
),
q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM b),
c AS (SELECT vec_id AS c_id, embedding AS c_emb, bucket FROM b),
sims AS (
  SELECT q.q_id AS vec_a, c.c_id AS vec_b
  FROM q JOIN c ON q.bucket = c.bucket AND q.q_id < c.c_id
  WHERE ROUND({_DOT} / SQRT(({_QN}) * ({_CN})), 6) >= 0.3
),
edges AS (
  SELECT vec_a AS a, vec_b AS bb FROM sims
  UNION ALL SELECT vec_b, vec_a FROM sims
),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT reach.node, edges.bb FROM reach JOIN edges ON reach.r = edges.a
),
cc AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
SELECT node AS vec_id, component AS cluster_id,
       node = component AS is_canonical,
       COUNT(*) OVER (PARTITION BY component) AS cluster_size
FROM cc
""",
    doc="Near-duplicate CLUSTERING — the stage after pair emission that "
    "an actual dedup run needs: candidate pairs (the same sign-bucket + "
    "cosine-verify edges as dedup_embedding_cosine) grouped into "
    "components via operators/graph.py connected_components (iterative "
    "min-label propagation, one reused-key shuffle per round, lineage "
    "cut per round), then one canonical keeper per cluster "
    "(is_canonical = min id). The oracle recomputes components "
    "independently with a recursive transitive-closure CTE. Beyond the "
    "reference (which stops at pairs); the keep-list join that drops "
    "non-canonical docs is a trivial left-anti against this output.",
    tags=("dedup", "similarity", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from polkadot_etl_spark.operators.graph import connected_components

    pairs = QUERIES["dedup_embedding_cosine"].build(spark, sf_dir).select("vec_a", "vec_b")
    cc = connected_components(pairs, src="vec_a", dst="vec_b")
    w = Window.partitionBy("component")
    return cc.select(
        F.col("node").alias("vec_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


def _split_col() -> F.Column:
    """Per-doc split assignment (md5 hex-prefix range on doc_id) — the
    one rule behind train_val_split, split_leakage_audit and
    corpus_release_funnel's final stage; factored so every consumer runs
    the identical REAL expression."""
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return F.when(h2 < "cc", "train").when(h2 < "e6", "val").otherwise("test")


@query(
    "train_val_split",
    oracle="""
WITH assigned AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM assigned GROUP BY split
""",
    doc="Deterministic train/val/test split assignment — a training-data "
    "pipeline's first partitioning decision. Hash-range on md5(doc_id): "
    "content-independent, engine-independent (md5 hex is identical in "
    "Spark and DuckDB, unlike xxhash/murmur), stable under re-runs and "
    "resharding — exactly why production splits hash the DOCUMENT KEY "
    "rather than using rand() with a seed (seeded rand is partition-"
    "order-dependent on a cluster). ~80/10/10 via hex-prefix "
    "thresholds (0xcc/0xe6). Beyond the reference; pure map-side + one "
    "tiny aggregate.",
    tags=("sampling",),
)
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    split = _split_col()
    return (
        d.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@query(
    "benchmark_contamination",
    oracle=f"""
WITH bench AS (
  SELECT DISTINCT shingle FROM (
    SELECT unnest({_DUCK_SHINGLES}) AS shingle FROM documents WHERE doc_id < 20
  )
),
train_sh AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_SHINGLES})) AS shingle
  FROM documents WHERE doc_id >= 20
)
SELECT t.doc_id, COUNT(*) AS n_shared
FROM train_sh t JOIN bench b ON t.shingle = b.shingle
GROUP BY t.doc_id
HAVING COUNT(*) >= 3
""",
    doc="Benchmark decontamination — flag training documents sharing "
    "k-char shingles with an evaluation set (docs < 20 stand in for the "
    "benchmark). The benchmark shingle set is tiny relative to the "
    "corpus (eval sets are MBs, corpora are TBs), so it BROADCASTS and "
    "the contamination scan is one map-side semi-join over the "
    "training shingles — no corpus-side shuffle at 100 TB. Threshold "
    "n_shared >= 3 suppresses single-shingle noise. Beyond the "
    "reference.",
    tags=("dedup", "filter"),
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").transform(fan_out_scan(sf_dir, "documents", "doc_id"))
    bench = (
        d.where(F.col("doc_id") < 20)
        .select(F.lower("text").alias("lt"))
        .select(F.explode(shingles()).alias("shingle"))
        .distinct()
    )
    train = (
        d.where(F.col("doc_id") >= 20)
        .select("doc_id", F.lower("text").alias("lt"))
        .select("doc_id", F.explode(F.array_distinct(shingles())).alias("shingle"))
    )
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 3)
    )


# ---------------------------------------------------------------------------
# Repetition filters / passage dedup / PII (Gopher-style corpus hygiene)
# ---------------------------------------------------------------------------


@query(
    "gopher_repetition",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
u AS (SELECT doc_id, unnest(words) AS word FROM w),
c AS (SELECT doc_id, word, COUNT(*) AS cnt FROM u GROUP BY doc_id, word),
t AS (SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS top_word_count FROM c GROUP BY doc_id),
m AS (SELECT doc_id, len(words) AS n_words,
             len(list_distinct(words)) AS n_distinct_words FROM w)
SELECT m.doc_id, m.n_words, m.n_distinct_words, t.top_word_count,
       ROUND(CAST(t.top_word_count AS DOUBLE) / m.n_words, 6) AS top_word_frac,
       ROUND(1.0 - CAST(m.n_distinct_words AS DOUBLE) / m.n_words, 6)
         AS repeated_word_frac,
       ((CAST(t.top_word_count AS DOUBLE) / m.n_words) <= 0.2 AND m.n_words >= 10)
         AS keep
FROM m JOIN t ON m.doc_id = t.doc_id
""",
    doc="Gopher-style repetition filters (Rae et al. 2021 §A1.1: drop "
    "documents dominated by repeated tokens): per-doc word count, "
    "distinct-word count, most-frequent-word count, and the derived "
    "fractions + keep flag. The Spark side computes the top-word count "
    "WITHOUT any shuffle: array_sort the word array and run-length it "
    "with a higher-order aggregate (struct state prev/run/best) — one "
    "map-side pass per document, vs the oracle's explode + two "
    "group-bys. At 100 TB that is the difference between a free "
    "column and a corpus-wide word shuffle.",
    tags=("text", "filter"),
)
def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return gopher_signals(d).select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        "top_word_count",
        "top_word_frac",
        "repeated_word_frac",
        "keep",
    )


def gopher_signals(d: DataFrame, text_col: str = "text") -> DataFrame:
    """``d`` + the Gopher repetition signals and keep flag — ROW-LOCAL
    column math (the shuffle-free sorted-run fold), so the SAME gate
    applies to a batch frame and a readStream frame unmodified
    (streaming/corpus.py runs it inside the ingest micro-batches).
    Input columns pass through."""
    words = F.split(F.col(text_col), " ")
    state0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(st, wd):
        run = F.when(wd.eqNullSafe(st["prev"]), st["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            wd.alias("prev"), run.alias("run"), F.greatest(st["best"], run).alias("best")
        )

    top = F.aggregate(F.array_sort(words), state0, step, lambda st: st["best"])
    base = d.select(
        "*",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        top.cast("bigint").alias("top_word_count"),
    )
    twf = F.col("top_word_count").cast("double") / F.col("n_words")
    return base.select(
        "*",
        F.round(twf, 6).alias("top_word_frac"),
        F.round(
            F.lit(1.0) - F.col("n_distinct_words").cast("double") / F.col("n_words"), 6
        ).alias("repeated_word_frac"),
        ((twf <= 0.2) & (F.col("n_words") >= 10)).alias("keep"),
    )


def _word_grams(words, n: int = 5):
    """Array of word n-grams (space-joined) over an already-split word
    array — the passage unit shared by passage_dedup_ngrams and
    corpus_release_funnel's decontamination gate. Docs shorter than n
    words yield an empty array."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


@query(
    "passage_dedup_ngrams",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
s AS (SELECT doc_id, array_to_string(words[i:i+4], ' ') AS gram
      FROM w, LATERAL (SELECT unnest(generate_series(1, len(words) - 4)) AS i)),
f AS (SELECT md5(gram) AS gram_hash,
             COUNT(DISTINCT doc_id) AS n_docs,
             COUNT(*) AS n_occurrences
      FROM s GROUP BY md5(gram))
SELECT gram_hash, n_docs, n_occurrences FROM f WHERE n_docs >= 2
""",
    doc="Passage-level exact dedup — word 5-grams appearing in more than "
    "one document (the 'remove repeated passages across the corpus' op "
    "of large-scale dataset curation; cf. Lee et al. 2022 "
    "deduplicating-training-data, the exact-substring pass). Gram "
    "explosion is map-side over the word array; the only shuffle is the "
    "groupBy on the 16-byte md5 of the gram — raw gram text never "
    "crosses the wire. Fan-out op, so input splits are repartitioned by "
    "output volume like the MinHash shingle stage.",
    tags=("dedup", "text"),
)
def passage_dedup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").transform(fan_out_scan(sf_dir, "documents", "doc_id"))
    words = F.split(F.col("text"), " ")
    grams = _word_grams(words)
    return (
        d.select("doc_id", F.explode(grams).alias("gram"))
        .select("doc_id", F.md5("gram").alias("gram_hash"))
        .groupBy("gram_hash")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )


_PII_EMAIL = r"[a-z0-9]+@[a-z]+\.[a-z]+"
_PII_IP = r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+"


@query(
    "pii_scrub",
    oracle=f"""
WITH p AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN ' contact admin' || CAST(doc_id // 5 AS VARCHAR) || '@example.com now'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                      || CAST(doc_id % 100 AS VARCHAR)
                 ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(text, '{_PII_IP}')) AS n_ips,
       regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                      '{_PII_IP}', '<IP>', 'g') AS clean_text
FROM p
""",
    doc="PII detection + redaction over the corpus: e-mail and IPv4 "
    "counts per document and the scrubbed text (training-data hygiene "
    "pass). PII is synthesized deterministically onto the PII-free "
    "test corpus (docs %5 get an e-mail, %7 an IP) so the scrub has "
    "ground truth. Both patterns are RE2-and-Java-compatible (no "
    "lookarounds) and run as JVM regexp_count/regexp_replace inside "
    "whole-stage codegen — zero Python, no shuffle at all.",
    tags=("text", "filter"),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    pii_text = F.concat(
        F.col("text"),
        F.when(
            k % 5 == 0,
            F.concat(
                F.lit(" contact admin"),
                F.expr("CAST(doc_id DIV 5 AS STRING)"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            k % 7 == 0,
            F.concat(
                F.lit(" from 10."),
                (k % 256).cast("string"),
                F.lit(".0."),
                (k % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    staged = d.select("doc_id", pii_text.alias("t"))
    return staged.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(_PII_IP)).alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"), _PII_IP, "<IP>"
        ).alias("clean_text"),
    )


@query(
    "ivf_centroid_update",
    oracle="""
WITH seeds AS (SELECT vec_id AS cid, embedding AS semb FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, s.cid,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
                  i -> e.embedding[i]::DOUBLE * s.semb[i]::DOUBLE)) AS score
  FROM embeddings e CROSS JOIN seeds s
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
    FROM scored) WHERE rn = 1
),
ex AS (
  SELECT a.cid, generate_subscripts(e.embedding, 1) AS pos, unnest(e.embedding) AS val
  FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id
)
SELECT cid, pos, COUNT(*) AS n_members,
       CAST(CAST(SUM(CAST(CAST(CAST(val AS DOUBLE) AS VARCHAR) AS DECIMAL(38,10)))
                 AS VARCHAR) AS DOUBLE)
         / COUNT(*) AS centroid
FROM ex GROUP BY cid, pos
""",
    doc="One Lloyd's iteration of IVF coarse-quantizer training: assign "
    "every vector to its nearest seed centroid (max dot product, first 8 "
    "vectors as seeds) and recompute each centroid as the element-wise "
    "mean of its members. The assignment is ZERO-shuffle: the k seed "
    "vectors are collected once and inlined as literal arrays, so the "
    "k dot products + argmax are pure column expressions (array_max "
    "over (score, -cid) structs reproduces the oracle's score DESC, "
    "cid ASC tie-break). The update is the one unavoidable shuffle — "
    "posexplode to (cid, dim) with map-side partial sums, so only "
    "k x dim x n_partitions rows cross the wire at 100 TB. Sums are "
    "exact decimals; mean = decimal sum / count, one IEEE division in "
    "both engines. The oracle's element cast routes DOUBLE->VARCHAR->"
    "DECIMAL: DuckDB's direct DOUBLE->DECIMAL multiplies by 10^scale in "
    "binary before rounding and can land one decimal ulp off Spark's "
    "exact BigDecimal conversion (same trick as fmt.d_decsum, one level "
    "down).",
    tags=("similarity", "agg"),
)
def ivf_centroid_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    seeds = sorted(
        e.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )

    def dot_sql(seed_vals):
        # flat left-associated term chain, not zip_with/aggregate HOFs
        # (those interpret per element and allocate an intermediate
        # array per row x seed) — and built as ONE SQL string, because
        # composing 8 x 64 terms through the Column API costs thousands
        # of py4j round-trips (~4s of driver time per build) while
        # parsing one expr string is milliseconds.  Literals go through
        # CAST('repr' AS DOUBLE) (strtod, correctly rounded; a bare
        # decimal literal would parse as DECIMAL); the (((t0+t1)+t2)...)
        # association matches the oracle's list_sum left fold
        # bit-for-bit.  embedding[i] is 0-based in SQL.
        return " + ".join(
            f"CAST(embedding[{i}] AS DOUBLE) * CAST('{float(v)!r}' AS DOUBLE)"
            for i, v in enumerate(seed_vals)
        )

    scores = F.expr(
        "array("
        + ", ".join(
            f"named_struct('score', {dot_sql(r['embedding'])},"
            f" 'negcid', {-int(r['vec_id'])})"
            for r in seeds
        )
        + ")"
    )
    # the assignment MUST be its own projection: fused into the
    # posexplode select, Generate re-evaluates the k x dim score
    # expression once per exploded ELEMENT (64x) instead of once per
    # row — measured 4.4s vs 0.8s at sf0.1
    assigned = e.select(
        (-F.array_max(scores)["negcid"]).alias("cid"), "embedding"
    ).select("cid", F.posexplode("embedding").alias("pos0", "val"))
    return (
        assigned.groupBy("cid", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (
                F.sum(F.col("val").cast("double").cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("centroid"),
        )
    )


@query(
    "stratified_sample",
    oracle="""
SELECT doc_id, lang
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      CASE WHEN lang = 'en' THEN '1a' ELSE '80' END
""",
    doc="Per-language stratified sampling — rebalance a corpus dominated "
    "by one language by hash-thresholding each stratum at its own rate "
    "(en ~10%, others ~50%). Same md5-on-the-key discipline as "
    "train_val_split: deterministic, reshard-stable, partition-order-"
    "independent (seeded rand() is not, on a cluster). Pure map-side "
    "filter — zero shuffle, and the predicate prunes before anything "
    "else runs.",
    tags=("sampling", "filter"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    rate = F.when(F.col("lang") == "en", "1a").otherwise("80")
    return d.where(h2 < rate).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Image near-dup via perceptual difference hash (dHash)
# ---------------------------------------------------------------------------


def _dhash_oracle_sql() -> str:
    """Generated oracle: recomputes the 64-bit dHash from the raster
    formula (16x16 raster = text bytes zero-padded, nearest-neighbor
    resample to 9x8 exactly as multimodal.resize_images indexes it),
    emitting the same 16-hex-char string the Arrow stage produces.

    ASCII assumption: the Spark side rasterizes UTF-8 *bytes*
    (encode(text,'utf-8')) while this SQL reads *code points*
    (unicode(substr(...))); they agree only on ASCII text.  The
    synthetic documents corpus is ASCII by construction (asserted by
    tests/test_queries_oracle.py::test_documents_corpus_is_ascii), so
    the equivalence is pinned, not assumed silently."""
    # resize_images index math: src_row = r*16//8, src_col = c*16//9
    xs = [c * 16 // 9 for c in range(9)]

    def pix(r: int, c: int) -> str:
        i = (r * 16 // 8) * 16 + xs[c]
        return f"(CASE WHEN {i} < len(t) THEN unicode(substr(t, {i} + 1, 1)) ELSE 0 END)"

    bits = [
        f"(CASE WHEN {pix(r, c)} > {pix(r, c + 1)} THEN 1 ELSE 0 END)"
        for r in range(8)
        for c in range(8)
    ]
    nibbles = [
        f"substr('0123456789abcdef', 8*{bits[k]} + 4*{bits[k+1]} + 2*{bits[k+2]} + {bits[k+3]} + 1, 1)"
        for k in range(0, 64, 4)
    ]
    return f"""
WITH d AS (
  SELECT doc_id, substr(text, 1, 256) AS t FROM documents WHERE doc_id < 200
),
h AS (
  SELECT doc_id AS media_id, {" || ".join(nibbles)} AS dhash FROM d
)
SELECT media_id, dhash,
       MIN(media_id) OVER (PARTITION BY dhash) AS canonical_id,
       COUNT(*) OVER (PARTITION BY dhash) AS group_size
FROM h
"""


@query(
    "image_dhash_dedup",
    oracle=_dhash_oracle_sql(),
    doc="Image NEAR-DUP detection via perceptual difference hash — the "
    "standard multimodal dedup primitive (dHash: resample to 9x8, one "
    "bit per adjacent-pixel gradient, 64 bits total; images differing "
    "by re-encode/minor noise collide): document rasters encode as "
    "REAL zlib PNGs, decode + nearest-neighbor-resample through the "
    "REAL multimodal pipeline (codecs.decode_png -> "
    "resize_images(9, 8)), the 72-byte raster hashes to 16 hex chars "
    "in the Arrow stage, and exact-dHash grouping assigns canonical "
    "ids exactly like dedup_exact (one shuffle on the 8-byte hash, "
    "never pixels). The oracle regenerates every gradient bit from "
    "the raster index formula in SQL, so the whole "
    "encode->decode->resample->hash path is hash-verified. At scale, "
    "Hamming-near matches bucket by hash bands exactly like MinHash-"
    "LSH (dedup_minhash_lsh_pairs is the template).",
    tags=("multimodal", "dedup"),
)
def image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.multimodal.codecs import encode_png
    from polkadot_etl_spark.multimodal.media import MEDIA_SCHEMA, resize_images

    W = H = 16
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    content = F.substring(
        F.concat(F.encode(F.col("text"), "utf-8"), F.lit(bytes(W * H))), 1, W * H
    )
    raster = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        content.alias("content"),
        F.named_struct(
            F.lit("width"), F.lit(W).cast("int"),
            F.lit("height"), F.lit(H).cast("int"),
            F.lit("channels"), F.lit(1).cast("int"),
            F.lit("sample_rate"), F.lit(None).cast("int"),
            F.lit("n_frames"), F.lit(1).cast("int"),
            F.lit("fps"), F.lit(None).cast("double"),
        ).alias("meta"),
    )

    def _encode(batches):
        import numpy as np

        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = [
                encode_png(np.frombuffer(c, dtype=np.uint8).reshape(H, W))
                for c in pdf.content
            ]
            yield pdf

    png = raster.mapInPandas(_encode, MEDIA_SCHEMA)
    resized = resize_images(png, 9, 8, codec="png")

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("dhash", T.StringType()),
        ]
    )

    def _dhash(batches):
        import numpy as np

        hexd = "0123456789abcdef"
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf.media_id, pdf.content):
                a = np.frombuffer(content, dtype=np.uint8).reshape(8, 9)
                bits = (a[:, :8] > a[:, 1:]).reshape(-1)
                hx = "".join(
                    hexd[8 * bits[k] + 4 * bits[k + 1] + 2 * bits[k + 2] + bits[k + 3]]
                    for k in range(0, 64, 4)
                )
                rows.append({"media_id": mid, "dhash": hx})
            yield pd.DataFrame(rows)

    h = resized.mapInPandas(_dhash, out_schema)
    w = Window.partitionBy("dhash")
    return h.select(
        "media_id",
        "dhash",
        F.min("media_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    )


# ---------------------------------------------------------------------------
# Video scene-cut detection over sampled frames
# ---------------------------------------------------------------------------

_VID_W = _VID_H = 8  # frame raster
_VID_FRAMES = 8


def _video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, frame_index, content): the synthesized 8-frame clips
    (frames after the per-doc cut point are the photometric inverse)
    through the REAL multimodal.sample_frames fan-out — shared by
    video_scene_cuts (consecutive-frame diffs) and video_keyframe_sample
    (keyframe extraction at the detected cuts)."""
    from polkadot_etl_spark.multimodal.media import MEDIA_SCHEMA, sample_frames

    W, H, NF = _VID_W, _VID_H, _VID_FRAMES
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    seed = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.substring(
            F.concat(F.encode(F.col("text"), "utf-8"), F.lit(bytes(W * H))), 1, W * H
        ).alias("content"),  # base frame raster; full clip built in Arrow below
        F.named_struct(
            F.lit("width"), F.lit(W).cast("int"),
            F.lit("height"), F.lit(H).cast("int"),
            F.lit("channels"), F.lit(1).cast("int"),
            F.lit("sample_rate"), F.lit(None).cast("int"),
            F.lit("n_frames"), F.lit(NF).cast("int"),
            F.lit("fps"), F.lit(8.0).cast("double"),
        ).alias("meta"),
    )

    def _synth(batches):
        import numpy as np

        for pdf in batches:
            pdf = pdf.copy()
            out = []
            for mid, content in zip(pdf.media_id, pdf.content):
                base = np.frombuffer(content, dtype=np.uint8)
                cut = 3 + mid % 3
                frames = [base if f < cut else (255 - base) for f in range(NF)]
                out.append(np.concatenate(frames).tobytes())
            pdf["content"] = out
            yield pdf

    clips = seed.mapInPandas(_synth, MEDIA_SCHEMA)
    return sample_frames(clips, every_n=1)



@query(
    "video_scene_cuts",
    oracle=f"""
WITH d AS (
  SELECT doc_id, substr(text, 1, {_VID_W * _VID_H}) AS t,
         3 + doc_id % 3 AS cut_at
  FROM documents WHERE doc_id < 100
),
mad AS (
  SELECT doc_id, cut_at,
         (SELECT SUM(ABS(2 * (CASE WHEN k.k < len(d.t)
                                   THEN unicode(substr(d.t, k.k + 1, 1))
                                   ELSE 0 END) - 255))
          FROM (SELECT unnest(range({_VID_W * _VID_H})) AS k) k) AS cut_mad
  FROM d
),
f AS (
  SELECT doc_id, cut_at, cut_mad, unnest(range({_VID_FRAMES - 1})) AS frame_index
  FROM mad
)
SELECT doc_id AS media_id, CAST(frame_index AS INTEGER) AS frame_index,
       CAST(CASE WHEN frame_index + 1 = cut_at THEN cut_mad ELSE 0 END
            AS BIGINT) AS mad_sum,
       CAST({_VID_W * _VID_H} AS INTEGER) AS n_pixels,
       (CASE WHEN frame_index + 1 = cut_at THEN cut_mad ELSE 0 END)
         > 32 * {_VID_W * _VID_H} AS is_cut
FROM f
""",
    doc="Video scene-cut detection — the frame-level segmentation step a "
    "video training pipeline runs before captioning/sampling: synthetic "
    "8-frame raw-raster clips (frames after a per-doc cut point are the "
    "photometric inverse — a hard cut) pass through the REAL "
    "multimodal.sample_frames fan-out (every_n=1), consecutive frames "
    "pair up by (media_id, frame_index) equi-join, and the Arrow diff "
    "stage computes the exact integer sum of absolute pixel "
    "differences; is_cut is the integer comparison mad_sum > 32*n. The "
    "oracle recomputes the cut-boundary MAD from the raster formula "
    "(sum |2b-255| over the doc's bytes), hash-verifying the "
    "synthesize->sample->pair->diff path end to end. Scale shape: "
    "frame fan-out is the repartition-before-explode rule, the pair "
    "join is one (media_id, frame) shuffle, pixels never aggregate "
    "globally. Codec demux (mp4/h264) stays the declared ffmpeg "
    "boundary, as in sample_frames.",
    tags=("multimodal",),
)
def video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = _video_frames(spark, sf_dir)
    a = frames.select(
        "media_id",
        F.col("frame_index").alias("fa"),
        F.col("content").alias("ca"),
    )
    b = frames.select(
        F.col("media_id").alias("media_id_b"),
        F.col("frame_index").alias("fb"),
        F.col("content").alias("cb"),
    )
    pairs = a.join(
        b, (F.col("media_id") == F.col("media_id_b")) & (F.col("fa") + 1 == F.col("fb"))
    ).select("media_id", "fa", "ca", "cb")

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_index", T.IntegerType()),
            T.StructField("mad_sum", T.LongType()),
            T.StructField("n_pixels", T.IntegerType()),
        ]
    )

    def _diff(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, fa, ca, cb in zip(pdf.media_id, pdf.fa, pdf.ca, pdf.cb):
                x = np.frombuffer(ca, dtype=np.uint8).astype(np.int64)
                y = np.frombuffer(cb, dtype=np.uint8).astype(np.int64)
                rows.append(
                    {
                        "media_id": mid,
                        "frame_index": int(fa),
                        "mad_sum": int(np.abs(x - y).sum()),
                        "n_pixels": int(x.size),
                    }
                )
            yield pd.DataFrame(rows)

    diffs = pairs.mapInPandas(_diff, out_schema)
    return diffs.select(
        "media_id",
        "frame_index",
        "mad_sum",
        "n_pixels",
        (F.col("mad_sum") > 32 * F.col("n_pixels")).alias("is_cut"),
    )


@query(
    "video_keyframe_sample",
    oracle=f"""
WITH d AS (
  SELECT doc_id, substr(text, 1, {_VID_W * _VID_H}) AS t,
         3 + doc_id % 3 AS cut_at
  FROM documents WHERE doc_id < 100
),
st AS (
  SELECT doc_id, cut_at,
         (SELECT SUM(CASE WHEN k.k < len(d.t)
                          THEN unicode(substr(d.t, k.k + 1, 1)) ELSE 0 END)
          FROM (SELECT unnest(range({_VID_W * _VID_H})) AS k) k) AS base_sum,
         (SELECT SUM(ABS(2 * (CASE WHEN k.k < len(d.t)
                                   THEN unicode(substr(d.t, k.k + 1, 1))
                                   ELSE 0 END) - 255))
          FROM (SELECT unnest(range({_VID_W * _VID_H})) AS k) k) AS cut_mad
  FROM d
),
kf AS (
  SELECT doc_id, 0 AS frame_index, FALSE AS at_cut, base_sum AS pixel_sum
  FROM st
  UNION ALL
  SELECT doc_id, cut_at, TRUE, 255 * {_VID_W * _VID_H} - base_sum
  FROM st WHERE cut_mad > 32 * {_VID_W * _VID_H}
)
SELECT doc_id AS media_id, CAST(frame_index AS INTEGER) AS frame_index,
       at_cut, CAST(pixel_sum AS BIGINT) AS pixel_sum,
       CAST({_VID_W * _VID_H} AS INTEGER) AS n_pixels
FROM kf
""",
    doc="Video KEYFRAME extraction — the sampling step after scene "
    "segmentation (caption/embed one representative frame per scene, "
    "not every frame): keyframes are frame 0 plus the first frame of "
    "every scene video_scene_cuts detects (the REAL composed plan — "
    "cut rows at frame_index f mark a new scene at f+1), joined back "
    "to the SHARED _video_frames fan-out, with each keyframe's exact "
    "integer brightness (pixel-byte sum) computed in the Arrow stage — "
    "the cheap photometric stat a sampling pipeline logs per kept "
    "frame. The oracle recomputes the cut decision AND both frame "
    "brightnesses from the raster formula (inverse frame = 255*n - "
    "base), so detection + selection + extraction hash-verify end to "
    "end. Scale shape: the keyframe roster is a (media_id, frame) "
    "equi-join against the frame fan-out (frames-per-scene bounded), "
    "pixels never aggregate globally, and the frame synthesis runs "
    "ONCE per plan leg through the shared helper.",
    tags=("multimodal", "pipeline"),
)
def video_keyframe_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = _video_frames(spark, sf_dir)
    cuts = video_scene_cuts(spark, sf_dir)
    starts = cuts.where(F.col("is_cut")).select(
        "media_id",
        (F.col("frame_index") + 1).cast("int").alias("frame_index"),
        F.lit(True).alias("at_cut"),
    )
    zero = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 100)
        .select(
            F.col("doc_id").alias("media_id"),
            F.lit(0).cast("int").alias("frame_index"),
            F.lit(False).alias("at_cut"),
        )
    )
    keyframes = zero.unionByName(starts)
    j = frames.select("media_id", "frame_index", "content").join(
        keyframes, ["media_id", "frame_index"]
    )

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_index", T.IntegerType()),
            T.StructField("at_cut", T.BooleanType()),
            T.StructField("pixel_sum", T.LongType()),
            T.StructField("n_pixels", T.IntegerType()),
        ]
    )

    def _brightness(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, fi, ac, content in zip(
                pdf.media_id, pdf.frame_index, pdf.at_cut, pdf.content
            ):
                x = np.frombuffer(content, dtype=np.uint8).astype(np.int64)
                rows.append(
                    {
                        "media_id": mid,
                        "frame_index": int(fi),
                        "at_cut": bool(ac),
                        "pixel_sum": int(x.sum()),
                        "n_pixels": int(x.size),
                    }
                )
            yield pd.DataFrame(rows)

    return j.mapInPandas(_brightness, out_schema)


# ---------------------------------------------------------------------------
# Audio near-dup via energy-contour hash (through the 8-bit WAV path)
# ---------------------------------------------------------------------------

_AUD_N = 256  # samples per clip
_AUD_SEG = 16  # contour segments


def _audio_hash_oracle_sql() -> str:
    """Generated oracle: recomputes the 16-bit energy-contour hash from
    the clip formula (8-bit PCM = text bytes, decoder re-centers to
    b-128) — per-segment integer energies, one gradient bit per adjacent
    segment pair, zero-padded to 4 hex chars.

    Same ASCII assumption as _dhash_oracle_sql: Spark reads UTF-8 bytes,
    this SQL reads code points; equality holds because the documents
    corpus is ASCII (pinned by
    tests/test_queries_oracle.py::test_documents_corpus_is_ascii)."""
    seg_len = _AUD_N // _AUD_SEG

    def energy(s: int) -> str:
        terms = []
        for i in range(s * seg_len, (s + 1) * seg_len):
            v = f"(CASE WHEN {i} < len(t) THEN unicode(substr(t, {i} + 1, 1)) ELSE 0 END - 128)"
            terms.append(f"{v} * {v}")
        return "(" + " + ".join(terms) + ")"

    bits = [
        f"(CASE WHEN {energy(s)} > {energy(s + 1)} THEN 1 ELSE 0 END)"
        for s in range(_AUD_SEG - 1)
    ] + ["0"]
    nibbles = [
        f"substr('0123456789abcdef', 8*{bits[k]} + 4*{bits[k+1]} + 2*{bits[k+2]} + {bits[k+3]} + 1, 1)"
        for k in range(0, 16, 4)
    ]
    return f"""
WITH d AS (
  SELECT doc_id, substr(text, 1, {_AUD_N}) AS t FROM documents WHERE doc_id < 200
),
h AS (
  SELECT doc_id AS media_id, {" || ".join(nibbles)} AS ehash FROM d
)
SELECT media_id, ehash,
       MIN(media_id) OVER (PARTITION BY ehash) AS canonical_id,
       COUNT(*) OVER (PARTITION BY ehash) AS group_size
FROM h
"""


@query(
    "audio_energy_hash_dedup",
    oracle=_audio_hash_oracle_sql(),
    doc="Audio NEAR-DUP detection via an energy-contour hash — the "
    "time-domain cousin of a chromaprint (clips that differ by "
    "re-encode or level-preserving noise keep their energy shape): "
    "8-bit PCM clips derived from document bytes encode as REAL "
    "RIFF/WAV files (exercising the u8 storage + signed re-center path "
    "of codecs.encode_wav/decode_wav, complementing the 16-bit "
    "multimodal_audio_features), the Arrow stage parses them back and "
    "hashes the 16-segment integer energy contour into one gradient "
    "bit per adjacent segment (16 hex-packed bits), and exact-hash "
    "grouping assigns canonical ids exactly like dedup_exact — one "
    "shuffle on 4 hex chars per clip, never samples. The oracle "
    "regenerates every energy term from the clip formula, so the "
    "encode->RIFF-parse->contour->hash path is hash-verified.",
    tags=("multimodal", "dedup"),
)
def audio_energy_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.multimodal.codecs import decode_wav, encode_wav
    from polkadot_etl_spark.multimodal.media import MEDIA_SCHEMA

    N, S = _AUD_N, _AUD_SEG
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    seed = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.substring(
            F.concat(F.encode(F.col("text"), "utf-8"), F.lit(bytes(N))), 1, N
        ).alias("content"),  # raw bytes; the Arrow stage wraps them as 8-bit WAV
        F.named_struct(
            F.lit("width"), F.lit(None).cast("int"),
            F.lit("height"), F.lit(None).cast("int"),
            F.lit("channels"), F.lit(1).cast("int"),
            F.lit("sample_rate"), F.lit(8000).cast("int"),
            F.lit("n_frames"), F.lit(N).cast("int"),
            F.lit("fps"), F.lit(None).cast("double"),
        ).alias("meta"),
    )

    def _synth(batches):
        import numpy as np

        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = [
                # bytes are unsigned PCM; encode_wav(bits=8) stores x+128,
                # so pass the signed view (b-128) for a byte-exact round trip
                encode_wav(
                    np.frombuffer(c, dtype=np.uint8).astype(np.int16) - 128,
                    8000,
                    bits=8,
                )
                for c in pdf.content
            ]
            yield pdf

    wav = seed.mapInPandas(_synth, MEDIA_SCHEMA)

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("ehash", T.StringType()),
        ]
    )

    def _contour(batches):
        import numpy as np

        hexd = "0123456789abcdef"
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf.media_id, pdf.content):
                x, _rate = decode_wav(bytes(content))
                v = x.reshape(-1).astype(np.int64)
                e = (v * v).reshape(S, N // S).sum(axis=1)
                bits = list((e[:-1] > e[1:]).astype(int)) + [0]
                hx = "".join(
                    hexd[8 * bits[k] + 4 * bits[k + 1] + 2 * bits[k + 2] + bits[k + 3]]
                    for k in range(0, 16, 4)
                )
                rows.append({"media_id": mid, "ehash": hx})
            yield pd.DataFrame(rows)

    h = wav.mapInPandas(_contour, out_schema)
    w = Window.partitionBy("ehash")
    return h.select(
        "media_id",
        "ehash",
        F.min("media_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    )


# ---------------------------------------------------------------------------
# Audio silence trim (Whisper-style prep) through the real WAV round trip
# ---------------------------------------------------------------------------

_TRIM_T = 2  # |signed sample| <= T counts as silence; corpus chars are
# [a-z ] -> signed b-128 in [-96, -6], so only the synthesized 128-pads
# are silent (the signal is deterministic, never dead fixture weight)
_TRIM_MAXLEAD = 24
_TRIM_TRAILSTEP = 6


@query(
    "audio_silence_trim",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         doc_id % {_TRIM_MAXLEAD} AS lead_n,
         (doc_id % 5) * {_TRIM_TRAILSTEP} AS trail_n,
         substr(text || repeat('a', {_AUD_N}), 1,
                {_AUD_N} - (doc_id % {_TRIM_MAXLEAD})
                         - (doc_id % 5) * {_TRIM_TRAILSTEP}) AS body
  FROM documents WHERE doc_id < 200
),
s AS (
  SELECT doc_id, lead_n, trail_n, body,
         list_transform(range(1, len(body) + 1),
                        i -> unicode(substr(body, i, 1)) - 128) AS bv
  FROM d
)
SELECT doc_id AS media_id,
       CAST({_AUD_N} AS BIGINT) AS n_samples,
       CAST(lead_n AS BIGINT) AS lead_silence,
       CAST(trail_n AS BIGINT) AS trail_silence,
       CAST(len(body) AS BIGINT) AS kept_len,
       CAST(list_sum(list_transform(bv, v -> v * v)) AS BIGINT) AS kept_energy
FROM s
""",
    doc="Audio SILENCE TRIM — the Whisper-style preprocessing step that "
    "strips leading/trailing silence before feature extraction: 8-bit "
    "PCM clips (deterministic 128-valued silence pads of doc_id-derived "
    "lengths around the text-derived body) encode as REAL RIFF/WAV "
    "files and the Arrow stage decodes them back (the same u8 storage + "
    "signed re-center path audio_energy_hash_dedup exercises), then "
    f"MEASURES the maximal |sample| <= {_TRIM_T} runs at each end and "
    "the kept range's exact integer energy. The corpus alphabet "
    "([a-z ]) maps to signed values in [-96, -6], so silence can only "
    "be the synthesized pads — the measured trim lengths equal the "
    "synthesis parameters and the oracle recomputes both from the clip "
    "formula, hash-verifying the encode->RIFF-parse->scan path end to "
    "end. Scale shape: one compact Arrow wave (fork-floor rule), "
    "everything per-clip, zero shuffle beyond the scan.",
    tags=("multimodal",),
)
def audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.multimodal.codecs import decode_wav, encode_wav
    from polkadot_etl_spark.multimodal.media import MEDIA_SCHEMA

    N = _AUD_N
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    body_len = (
        F.lit(N)
        - (F.col("doc_id") % _TRIM_MAXLEAD)
        - (F.col("doc_id") % 5) * _TRIM_TRAILSTEP
    ).cast("int")
    body = F.substring(
        F.concat(
            F.encode(F.col("text"), "utf-8"),
            F.encode(F.expr(f"repeat('a', {N})"), "utf-8"),
        ),
        1,
        N,  # upper bound; exact body slice applied in the Arrow stage
    )
    seed = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        body.alias("content"),
        F.named_struct(
            F.lit("width"), F.lit(None).cast("int"),
            F.lit("height"), F.lit(None).cast("int"),
            F.lit("channels"), F.lit(1).cast("int"),
            F.lit("sample_rate"), F.lit(8000).cast("int"),
            F.lit("n_frames"), body_len.alias("n_frames"),
            F.lit("fps"), F.lit(None).cast("double"),
        ).alias("meta"),
    )

    def _synth(batches):
        import numpy as np

        for pdf in batches:
            pdf = pdf.copy()
            out = []
            for mid, content, meta in zip(pdf.media_id, pdf.content, pdf.meta):
                blen = int(meta["n_frames"])
                lead = int(mid) % _TRIM_MAXLEAD
                trail = (int(mid) % 5) * _TRIM_TRAILSTEP
                clip = bytes([128] * lead) + bytes(content[:blen]) + bytes(
                    [128] * trail
                )
                assert len(clip) == N, (mid, len(clip))
                out.append(
                    encode_wav(
                        np.frombuffer(clip, dtype=np.uint8).astype(np.int16) - 128,
                        8000,
                        bits=8,
                    )
                )
            pdf["content"] = out
            yield pdf

    wav = seed.mapInPandas(_synth, MEDIA_SCHEMA)

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("lead_silence", T.LongType()),
            T.StructField("trail_silence", T.LongType()),
            T.StructField("kept_len", T.LongType()),
            T.StructField("kept_energy", T.LongType()),
        ]
    )

    def _trim(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf.media_id, pdf.content):
                x, _rate = decode_wav(bytes(content))
                v = x.reshape(-1).astype(np.int64)
                loud = np.abs(v) > _TRIM_T
                if loud.any():
                    first = int(np.argmax(loud))
                    last = int(len(v) - 1 - np.argmax(loud[::-1]))
                    kept = v[first : last + 1]
                else:
                    # all-silent clip (impossible for this corpus — the
                    # body alphabet is loud by construction): the whole
                    # clip is ONE leading-silence run, trail 0, kept 0
                    first, last, kept = len(v), len(v) - 1, v[:0]
                rows.append(
                    {
                        "media_id": mid,
                        "n_samples": int(len(v)),
                        "lead_silence": int(first),
                        "trail_silence": int(len(v) - 1 - last),
                        "kept_len": int(kept.size),
                        "kept_energy": int((kept * kept).sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return wav.mapInPandas(_trim, out_schema)


IMG_LSH_BANDS = 4  # 4 bands x 16 bits (4 hex chars) over the 64-bit dHash
IMG_LSH_CAP = 16  # max members per band bucket (drops the fixture's two
# hot buckets — 64 and 31 members — with accounting; a hot band value is
# boilerplate structure, and C(64,2) pairs from one bucket is exactly the
# explosion the cap exists to stop)
IMG_LSH_HAM_T = 8  # near-dup verdict: <= 8 of 64 bits differ


def _hex32(col: str, start: int) -> str:
    return f"cast(conv(substring({col}, {start}, 8), 16, 10) as bigint)"


def _hex32_duck(col: str, start: int) -> str:
    return f"CAST(('0x' || substr({col}, {start}, 8)) AS BIGINT)"


@query(
    "image_dhash_hamming_lsh",
    oracle=f"""
WITH fp AS (
  SELECT media_id, dhash FROM ({QUERIES["image_dhash_dedup"].oracle})
),
bands AS (
  SELECT media_id, dhash, b AS band_id,
         substr(dhash, 1 + 4 * b, 4) AS bval
  FROM fp, UNNEST(range({IMG_LSH_BANDS})) AS t(b)
),
bsz AS (
  SELECT band_id, bval, COUNT(*) AS cnt FROM bands GROUP BY band_id, bval
),
kept AS (
  SELECT bands.* FROM bands JOIN bsz USING (band_id, bval)
  WHERE bsz.cnt <= {IMG_LSH_CAP}
),
cand AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b,
         a.dhash AS ha, b.dhash AS hb,
         COUNT(*) AS n_shared_bands
  FROM kept a JOIN kept b
    ON a.band_id = b.band_id AND a.bval = b.bval
   AND a.media_id < b.media_id
  GROUP BY a.media_id, b.media_id, a.dhash, b.dhash
),
pairs AS (
  SELECT 'pair' AS kind, id_a, id_b,
         CAST(n_shared_bands AS BIGINT) AS m,
         CAST(bit_count(xor({_hex32_duck('ha', 1)}, {_hex32_duck('hb', 1)}))
              + bit_count(xor({_hex32_duck('ha', 9)}, {_hex32_duck('hb', 9)}))
              AS BIGINT) AS n
  FROM cand
)
SELECT kind, id_a, id_b, m, n, (n <= {IMG_LSH_HAM_T}) AS is_near FROM pairs
UNION ALL
SELECT 'dropped_buckets', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(COALESCE(COUNT(*), 0) AS BIGINT),
       CAST(COALESCE(SUM(cnt), 0) AS BIGINT),
       CAST(NULL AS BOOLEAN)
FROM bsz WHERE cnt > {IMG_LSH_CAP}
""",
    doc="Image NEAR-dup pairs via Hamming-band LSH — the scale path "
    "image_dhash_dedup's own doc names: the 64-bit perceptual dHash "
    "(produced by COMPOSING the real PNG encode -> decode -> 9x8 "
    "resample -> gradient-hash plan, not a reimplementation) splits "
    f"into {IMG_LSH_BANDS} 16-bit bands; images sharing ANY band "
    "become candidates (banding catches near matches exact-hash "
    "grouping misses — one flipped gradient bit changes the full hash "
    "but leaves 3 of 4 bands intact), candidates verify by EXACT "
    "Hamming distance (two 32-bit conv/xor/bit_count lookups per "
    f"pair, never pixels), is_near = distance <= {IMG_LSH_HAM_T}. "
    f"Band buckets over {IMG_LSH_CAP} members drop with an accounting "
    "row (kind='dropped_buckets': m = buckets, n = members) — the "
    "fixture's two hot buckets (64 and 31 members) exercise the cap, "
    "and C(64,2) pairs from one boilerplate band is exactly the "
    "explosion it stops. 100 TB shape: fingerprints are one Arrow "
    "codec wave (checkpointed so the self-join's two sides share it), "
    "the candidate join is band-bucket-keyed and cap-bounded, and the "
    "verify moves 16 hex chars per side. The oracle composes the "
    "dhash oracle verbatim and rebuilds banding/cap/Hamming "
    "independently.",
    tags=("multimodal", "dedup", "join"),
)
def image_dhash_hamming_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE Arrow codec wave: the dhash plan is checkpointed because the
    # band self-join consumes it on both sides (the semdedup precedent)
    fp = (
        image_dhash_dedup(spark, sf_dir)
        .select("media_id", "dhash")
        .localCheckpoint(eager=True)
    )
    bands = fp.select(
        "media_id",
        "dhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {IMG_LSH_BANDS - 1}),"
                " b -> struct(b as band_id,"
                " substring(dhash, 1 + 4 * b, 4) as bval))"
            )
        ).alias("bb"),
    ).select("media_id", "dhash", F.col("bb.band_id").alias("band_id"), F.col("bb.bval").alias("bval"))
    bsz = bands.groupBy("band_id", "bval").agg(F.count(F.lit(1)).alias("cnt"))
    kept = bands.join(
        bsz.where(F.col("cnt") <= IMG_LSH_CAP), ["band_id", "bval"]
    ).select("media_id", "dhash", "band_id", "bval")
    a = kept.select(
        F.col("media_id").alias("id_a"), F.col("dhash").alias("ha"),
        "band_id", "bval",
    )
    b = kept.select(
        F.col("media_id").alias("id_b"), F.col("dhash").alias("hb"),
        F.col("band_id").alias("band_id_b"), F.col("bval").alias("bval_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("band_id") == F.col("band_id_b"))
            & (F.col("bval") == F.col("bval_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b", "ha", "hb")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    ham = F.expr(
        f"bit_count({_hex32('ha', 1)} ^ {_hex32('hb', 1)})"
        f" + bit_count({_hex32('ha', 9)} ^ {_hex32('hb', 9)})"
    ).cast("long")
    pairs = cand.select(
        F.lit("pair").alias("kind"),
        "id_a",
        "id_b",
        F.col("n_shared_bands").cast("long").alias("m"),
        ham.alias("n"),
    ).withColumn("is_near", F.col("n") <= IMG_LSH_HAM_T)
    audit = bsz.where(F.col("cnt") > IMG_LSH_CAP).agg(
        F.lit("dropped_buckets").alias("kind"),
        F.lit(None).cast("long").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("long").alias("m"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n"),
        F.lit(None).cast("boolean").alias("is_near"),
    )
    return pairs.unionByName(audit)
