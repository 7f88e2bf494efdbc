"""Composed-pipeline registry queries — end-to-end golden tests of the
multi-table plans in plans/ (dump_day now; further pipelines append here).

Pattern (same as call_tree_flatten): synthesize a deterministic bronze
layer from the TPC-H-ish driver tables, run the REAL pipeline, and have
the oracle enumerate the expected result independently in SQL — a golden
test of the pipeline composition, not of the synthetic generator.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from polkadot_etl_spark.queries.fmt import d_date, d_decsum, s_date, s_ts
from polkadot_etl_spark.queries.registry import query
from polkadot_etl_spark.sources.tables import fan_out_scan, load_table, local_frame

# Nested params for the utility:batch extrinsics — exercises the recursive
# call-tree flatten inside dump_day (root + 2 leaf children = 3 call rows).
_NESTED_PARAMS = (
    '{"calls": [{"section": "balances", "method": "transfer", "args": {"v": 1}},'
    ' {"section": "staking", "method": "bond", "args": {"v": 2}}]}'
)

_DAY0 = "1998-01-01"  # synthesis window: ~8% of orders, ~215 chain-days


def _pk(c: Column) -> Column:
    """64-hex-char pubkey from an integer key (digits are valid hex)."""
    return F.concat(F.lit("0x"), F.lpad(c.cast("string"), 64, "0"))


def _synth_bronze(spark: SparkSession, sf_dir: str):
    """Deterministic chain-day bronze from orders/lineitem:

    - block   := order   (number = o_orderkey, block_time = o_orderdate,
                 digest logs: 1 always + 1 more for 1-URGENT)
    - extrinsic := lineitem (id = "{okey}-{lineno}"); section by
      l_returnflag: A → utility:batch (nested params), R →
      balances:transfer, N → timestamp:set; signed = A|R with
      fee = l_extendedprice
    - events  := system:ExtrinsicSuccess where l_quantity >= 2, plus a
      balances:Transfer event for every R line (positional JSON data)
    """
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") >= F.lit(_DAY0))
    li = load_table(spark, sf_dir, "lineitem")

    urgent = F.col("o_orderpriority") == "1-URGENT"
    j1 = F.concat(
        F.lit('{"preRuntime":["0x61757261","0x'),
        F.lpad(F.hex(F.col("o_orderkey")), 16, "0"),
        F.lit('"]}'),
    )
    j2 = F.lit('{"seal":["0x61757261","0x00"]}')
    blocks_raw = o.select(
        F.col("o_orderkey").alias("number"),
        F.concat(F.lit("0xb"), F.col("o_orderkey").cast("string")).alias("hash"),
        F.lit(None).cast("string").alias("parent_hash"),
        F.lit(None).cast("string").alias("state_root"),
        F.lit(None).cast("string").alias("extrinsics_root"),
        F.col("o_orderdate").alias("block_time"),
        F.lit(None).cast("string").alias("author_ss58"),
        F.lit(None).cast("string").alias("author_pub_key"),
        F.lit(1).alias("spec_version"),
        F.lit(None).cast("long").alias("relay_block_number"),
        F.lit(None).cast("string").alias("relay_state_root"),
        F.when(urgent, F.array(j1, j2)).otherwise(F.array(j1)).alias("digest_logs"),
    )

    le = li.join(
        o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey")
    ).drop("o_orderkey")
    rf = F.col("l_returnflag")
    signed = rf.isin("A", "R")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data; the
    # success flag is baked into the id so that colliding ids always agree
    # on success-eligibility — the success semi-join inside dump_day then
    # grants calls to exactly the rows the oracle counts per-row.
    ok = (F.col("l_quantity") >= 2).cast("int")
    ext_id = F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"), ok)
    ext_hash = F.concat(
        F.lit("0xe"), F.col("l_orderkey").cast("string"), F.lit("x"),
        F.col("l_linenumber").cast("string"), F.lit("x"), ok.cast("string"),
    )
    extrinsics = le.select(
        ext_hash.alias("hash"),
        ext_id.alias("extrinsic_id"),
        F.col("o_orderdate").alias("block_time"),
        F.col("l_orderkey").alias("block_number"),
        F.concat(F.lit("0xb"), F.col("l_orderkey").cast("string")).alias("block_hash"),
        F.lit("{}").alias("lifetime"),
        F.when(rf == "A", F.lit("utility")).when(rf == "R", F.lit("balances")).otherwise(F.lit("timestamp")).alias("section"),
        F.when(rf == "A", F.lit("batch")).when(rf == "R", F.lit("transfer")).otherwise(F.lit("set")).alias("method"),
        F.when(rf == "A", F.lit(_NESTED_PARAMS)).otherwise(F.lit("{}")).alias("params"),
        F.when(signed, F.col("l_extendedprice")).alias("fee"),
        F.when(signed, F.col("l_extendedprice") * 6.5).alias("fee_usd"),
        F.lit(None).cast("long").alias("weight"),
        signed.alias("signed"),
        _pk(F.col("l_suppkey")).alias("signer_ss58"),
        _pk(F.col("l_suppkey")).alias("signer_pub_key"),
    )

    common = [
        ext_id.alias("extrinsic_id"),
        ext_hash.alias("extrinsic_hash"),
        F.col("o_orderdate").alias("block_time"),
        F.col("l_orderkey").alias("block_number"),
        F.concat(F.lit("0xb"), F.col("l_orderkey").cast("string")).alias("block_hash"),
        F.lit(None).cast("string").alias("data_decoded"),
    ]
    success = le.where(F.col("l_quantity") >= 2).select(
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"), F.lit("0")).alias("event_id"),
        F.lit("system").alias("section"),
        F.lit("ExtrinsicSuccess").alias("method"),
        F.lit("[]").alias("data"),
        *common,
    )
    raw_amt = F.floor(F.col("l_extendedprice") * 100).cast("bigint").cast("string")
    xfer_ev = le.where(rf == "R").select(
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"), F.lit("1")).alias("event_id"),
        F.lit("balances").alias("section"),
        F.lit("Transfer").alias("method"),
        F.concat(
            F.lit('["'), _pk(F.col("l_suppkey")), F.lit('","'), _pk(F.col("l_partkey")),
            F.lit('","'), raw_amt, F.lit('"]'),
        ).alias("data"),
        *common,
    )
    events = success.unionByName(xfer_ev)
    return blocks_raw, extrinsics, events


@query(
    "dump_day_blocklog",
    oracle=f"""
WITH o AS (
  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '{_DAY0}'
),
days AS (
  SELECT {d_date('o_orderdate')} AS log_dt,
         MIN(o_orderkey) AS start_bn,
         MAX(o_orderkey) AS end_bn,
         COUNT(*) AS num_blocks,
         COUNT(*) + COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
           AS num_logs
  FROM o GROUP BY 1
),
le AS (
  SELECT l.*, o.o_orderdate FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey
),
extd AS (
  SELECT {d_date('o_orderdate')} AS log_dt,
         COUNT(*) AS num_extrinsics,
         COUNT(CASE WHEN l_returnflag IN ('A','R') THEN 1 END)
           AS num_signed_extrinsics,
         COUNT(DISTINCT CASE WHEN l_returnflag IN ('A','R') THEN l_suppkey END)
           AS num_active_signers,
         {d_decsum("CASE WHEN l_returnflag IN ('A','R') THEN l_extendedprice END")}
           AS fees,
         COUNT(CASE WHEN l_quantity >= 2 THEN 1 END)
           + COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS num_events,
         CAST(SUM(CASE WHEN l_quantity >= 2
                       THEN CASE WHEN l_returnflag = 'A' THEN 3 ELSE 1 END
                       ELSE 0 END) AS BIGINT) AS num_calls,
         COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS num_transfers
  FROM le GROUP BY 1
)
SELECT d.log_dt, d.start_bn, d.end_bn, d.num_blocks,
       d.end_bn - d.start_bn + 1 - d.num_blocks AS num_missing,
       COALESCE(e.num_extrinsics, 0) AS num_extrinsics,
       COALESCE(e.num_signed_extrinsics, 0) AS num_signed_extrinsics,
       COALESCE(e.num_active_signers, 0) AS num_active_signers,
       e.fees,
       COALESCE(e.num_events, 0) AS num_events,
       COALESCE(e.num_calls, 0) AS num_calls,
       COALESCE(e.num_transfers, 0) AS num_transfers,
       d.num_logs,
       (d.end_bn - d.start_bn + 1 - d.num_blocks) = 0 AS loaded
FROM days d LEFT JOIN extd e ON d.log_dt = e.log_dt
""",
    doc="The integrated day-dump pipeline (dump_substrateetl, reference "
    "substrate/substrateetl.js:6171-6596): bronze blocks+extrinsics+events "
    "→ blocks/extrinsics/events/calls/transfers/logs silver + blocklog "
    "gold with gap audit, in one composed plan. The Spark side runs the "
    "REAL plans.dump.dump_day (digest→logs explode :6462-6473, validity "
    "gates :6480-6497, call-tree flatten, transfer extraction, per-day "
    "gold rollup :6573-6596); the oracle derives every blocklog column "
    "independently from orders/lineitem. Block numbers = sparse-per-day "
    "o_orderkey, so the gap audit (num_missing, loaded) is genuinely "
    "exercised.",
    tags=("pipeline", "agg", "join", "udtf"),
)
def dump_day_blocklog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.dump import dump_day

    blocks_raw, extrinsics, events = _synth_bronze(spark, sf_dir)
    # Lazy fan-out (share_bronze=False): measured at sf0.1, an eager
    # bronze checkpoint costs more than the per-branch re-scans here
    # (Catalyst prunes each branch to a narrow column set; the checkpoint
    # materializes full-width rows). The r4→r5 2.4× regression was the
    # calls branch — fixed at the source (memoized flatten + shuffle-hash
    # success semi-join in plans/decode.py), not by materialization.
    tables = dump_day(blocks_raw, extrinsics, events, relay_chain="polkadot", para_id=0)
    gold = tables["blocklog"]
    return gold.select(
        s_date("log_dt").alias("log_dt"),
        "start_bn",
        "end_bn",
        "num_blocks",
        "num_missing",
        "num_extrinsics",
        "num_signed_extrinsics",
        "num_active_signers",
        "fees",
        "num_events",
        "num_calls",
        "num_transfers",
        "num_logs",
        "loaded",
    )


@query(
    "rewards_rollup",
    oracle="""
WITH base AS (
  SELECT event_id, user_id, value, event_type,
         CAST(FLOOR(event_id / 20) AS BIGINT) AS ext_id
  FROM events
  WHERE event_type IN ('purchase', 'error', 'signup')
),
filled AS (
  SELECT *,
         LAST_VALUE(CASE WHEN event_type = 'signup'
                         THEN user_id * 10 + event_id % 5 END IGNORE NULLS)
           OVER (PARTITION BY ext_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS era
  FROM base
)
SELECT '0x' || lpad(CAST(user_id AS VARCHAR), 64, '0') AS account,
       COUNT(*) AS n_rewards,
       CAST(CAST(SUM(CAST(FLOOR(value * 1e6) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
         AS total_raw,
       CAST(COALESCE(MAX(era), -1) AS INTEGER) AS max_era,
       COUNT(era) AS n_with_era
FROM filled
WHERE event_type = 'purchase'
  -- the published feed keeps strictly-positive amounts (indexer.js:3953;
  -- reward_feed's amount > 0 gate): a value that floors to raw 0 is
  -- dropped. Only sf0.1 contains such a row — caught by the full-registry
  -- sf0.1 sweep, invisible at sf0.001/sf0.01.
  AND FLOOR(value * 1e6) > 0
GROUP BY 1
""",
    doc="Per-address staking-rewards rollup over the feedreward surface "
    "(reference query.js:4147 get_account_rewards; extraction "
    "chainparser.js:4086-4117 + indexer.js:3940-3999). The Spark side "
    "synthesizes staking(Rewarded/Slashed/PayoutStarted) events from the "
    "events table, runs the REAL plans.feeds.reward_feed — positional "
    "JSON parse, PayoutStarted era forward-fill within the extrinsic "
    "(window last(ignorenulls)), Slashed negation, the value>0 publish "
    "gate that drops slashes — then rolls up per account. The oracle "
    "recomputes the forward-fill with LAST_VALUE(... IGNORE NULLS) and "
    "the gate independently.",
    tags=("pipeline", "window", "agg"),
)
def rewards_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.feeds import reward_feed

    e = load_table(spark, sf_dir, "events")
    etype = F.col("event_type")
    raw_str = F.floor(F.col("value") * 1e6).cast("string")
    era_str = (F.col("user_id") * 10 + F.col("event_id") % 5).cast("string")
    acct = F.concat(F.lit("0x"), F.lpad(F.col("user_id").cast("string"), 64, "0"))
    synth = e.where(etype.isin("purchase", "error", "signup")).select(
        F.col("event_id"),
        F.floor(F.col("event_id") / 20).cast("bigint").cast("string").alias("extrinsic_id"),
        F.lit("staking").alias("section"),
        F.when(etype == "purchase", F.lit("Rewarded"))
        .when(etype == "error", F.lit("Slashed"))
        .otherwise(F.lit("PayoutStarted"))
        .alias("method"),
        F.when(
            etype == "signup", F.concat(F.lit('["'), era_str, F.lit('","0x00"]'))
        )
        .otherwise(F.concat(F.lit('["'), acct, F.lit('","'), raw_str, F.lit('"]')))
        .alias("data"),
        F.lit(None).cast("long").alias("block_number"),
        F.col("ts").alias("block_time"),
    )
    feed = reward_feed(synth, native_decimals=10, order_col="event_id")
    return feed.groupBy("account").agg(
        F.count(F.lit(1)).alias("n_rewards"),
        F.sum("raw_amount").cast("string").cast("double").alias("total_raw"),
        F.coalesce(F.max("era"), F.lit(-1)).cast("int").alias("max_era"),
        F.count("era").alias("n_with_era"),
    )


@query(
    "xcm_asset_registry",
    oracle="""
WITH o AS (SELECT n_nationkey AS k FROM nation),
r AS (SELECT DISTINCT s_nationkey AS k, 3000 + s_suppkey % 5 AS chain FROM supplier),
conf AS (
  SELECT o.k, 1 + COUNT(r.chain) AS confidence
  FROM o LEFT JOIN r ON r.k = o.k GROUP BY o.k
)
SELECT 'polkadot~[{"parachain":' || (2000 + k) || '},{"generalIndex":' || k || '}]'
         AS xcm_interior_key,
       'N' || k AS symbol,
       10 + k % 3 AS decimals,
       CAST(2000 + k AS INTEGER) AS para_id,
       'x2' AS interior_type,
       confidence
FROM conf
""",
    doc="The xcmgar global asset registry build (reference "
    "substrate/xcmgarlib3.js (relay, para, currency)→asset map; "
    "schema/xcmassets.json; propagation join xcmmanager.js:500-510): "
    "every nation is an asset registered by its home chain (Token "
    "currency) and re-registered as an xc-wrapper (ForeignAsset) by each "
    "remote chain that has a supplier there. The REAL "
    "plans.xcmgar.build_xcm_asset_registry canonicalizes: multilocation→"
    "interior-key via the Arrow-batched codec UDF, home-registration-"
    "first rank window, confidence = distinct registering chains. The "
    "oracle constructs the expected canonical rows directly.",
    tags=("pipeline", "join", "window"),
)
def xcm_asset_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.xcmgar import build_xcm_asset_registry

    k = F.col("k")
    ks = k.cast("string")
    ml = F.concat(
        F.lit('{"parents": 1, "interior": {"X2": [{"Parachain": '),
        (k + 2000).cast("string"),
        F.lit('}, {"GeneralIndex": '),
        ks,
        F.lit("}]}}"),
    )

    def common(df, para_id, currency, symbol, source):
        return df.select(
            F.lit("polkadot").alias("relay_chain"),
            para_id.alias("para_id"),
            currency.alias("currency_id"),
            symbol.alias("symbol"),
            F.concat(F.lit("Nation "), ks).alias("name"),
            (F.lit(10) + k % 3).alias("decimals"),
            ml.alias("multilocation"),
            F.lit(None).cast("string").alias("xc_contract_address"),
            F.lit(source).alias("source"),
        )

    origins = common(
        load_table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("k")),
        k + 2000,
        F.concat(F.lit('{"Token":"N'), ks, F.lit('"}')),
        F.concat(F.lit("N"), ks),
        "gar",
    )
    remotes = common(
        load_table(spark, sf_dir, "supplier")
        .select(
            F.col("s_nationkey").alias("k"),
            (F.lit(3000) + F.col("s_suppkey") % 5).alias("chain"),
        )
        .dropDuplicates(),
        F.col("chain"),
        F.concat(F.lit('{"ForeignAsset":"'), ks, F.lit('"}')),
        F.concat(F.lit("xcN"), ks),
        "onchain",
    )
    reg = build_xcm_asset_registry(origins.unionByName(remotes), codec="native")
    return reg.select(
        "xcm_interior_key",
        "symbol",
        "decimals",
        "para_id",
        "interior_type",
        "confidence",
    )


@query(
    "evm_decoded_transfers",
    oracle="""
SELECT event_id,
       CASE event_type WHEN 'purchase' THEN 'transfer'
                       WHEN 'click' THEN 'transferFrom'
                       WHEN 'view' THEN 'approve' END AS method,
       CASE WHEN event_type = 'click'
            THEN '0x' || lpad(CAST(user_id + 7 AS VARCHAR), 40, '0') END AS from_addr,
       '0x' || lpad(CAST(user_id AS VARCHAR), 40, '0') AS to_addr,
       CAST(FLOOR(value * 100) AS BIGINT) AS amount
FROM events
WHERE event_type IN ('purchase', 'click', 'view')
""",
    doc="F5 EVM ABI parameter decode (reference ethTool.js:237-330 "
    "selector lists, decodeTransactionInput): ERC-20 "
    "transfer/transferFrom/approve calldata synthesized per event "
    "(selector + padded address/uint256 words via hex encode), then "
    "decoded by the REAL functions.evm.decode_token_calldata — selector "
    "when-chain, word substring extraction, 4-limb uint256→DECIMAL "
    "reconstruction — entirely JVM-side (no Python). The oracle derives "
    "the expected decode directly from the source columns, so the query "
    "proves the encode→decode round trip bit-exactly.",
    tags=("scalar", "filter"),
)
def evm_decoded_transfers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.functions.evm import ERC20_SELECTORS, decode_token_calldata

    # generator fan-out (single-row-group test parquet; keyed on the
    # unique event_id — no round-robin pre-sort): the 4-limb
    # uint256->DECIMAL reconstruction is the same BigDecimal-heavy
    # per-row decode the trace query measured, and without the exchange
    # the whole synth+decode runs as ONE task
    e = load_table(spark, sf_dir, "events").transform(
        fan_out_scan(sf_dir, "events", "event_id")
    )
    amt = F.floor(F.col("value") * 100).cast("bigint")
    # address words use decimal digits (valid hex) so the oracle can build
    # the expected address without hex conversion; the amount word is a
    # true hex encode that the decoder must conv() back
    to_word = F.lpad(F.col("user_id").cast("string"), 64, "0")
    from_word = F.lpad((F.col("user_id") + 7).cast("string"), 64, "0")
    amt_word = F.lpad(F.lower(F.hex(amt)), 64, "0")
    etype = F.col("event_type")
    calldata = (
        F.when(etype == "purchase", F.concat(F.lit(ERC20_SELECTORS["transfer"]), to_word, amt_word))
        .when(etype == "click", F.concat(F.lit(ERC20_SELECTORS["transferFrom"]), from_word, to_word, amt_word))
        .when(etype == "view", F.concat(F.lit(ERC20_SELECTORS["approve"]), to_word, amt_word))
        .otherwise(F.lit("0x"))
    )
    d = decode_token_calldata(F.col("calldata")).alias("d")
    return (
        e.withColumn("calldata", calldata)
        .select("event_id", d)
        .where(F.col("d.method").isNotNull())
        .select(
            "event_id",
            F.col("d.method").alias("method"),
            F.col("d.from_addr").alias("from_addr"),
            F.col("d.to_addr").alias("to_addr"),
            F.col("d.amount_raw").cast("bigint").alias("amount"),
        )
    )


@query(
    "evm_transfer_logs",
    oracle="""
SELECT event_id,
       CASE event_type WHEN 'purchase' THEN 'erc20' WHEN 'click' THEN 'erc721'
                       WHEN 'view' THEN 'erc1155_single' ELSE 'erc1155_batch' END
         AS transfer_type,
       '0x' || lpad(CAST(user_id AS VARCHAR), 40, '0') AS from_address,
       '0x' || lpad(CAST(user_id + CASE WHEN event_type = 'view' THEN 2 ELSE 1 END AS VARCHAR), 40, '0')
         AS to_address,
       CASE event_type
            WHEN 'purchase' THEN CAST(CAST(FLOOR(value * 100) AS BIGINT) AS VARCHAR)
            WHEN 'click' THEN CAST(user_id * 3 AS VARCHAR)
            WHEN 'view' THEN CAST(CAST(FLOOR(value * 100) AS BIGINT) AS VARCHAR)
       END AS value,
       CASE WHEN event_type IN ('view', 'error')
            THEN '0x' || lpad('9', 40, '0') END AS operator,
       CASE event_type
            WHEN 'view' THEN '[' || user_id || ']'
            WHEN 'error' THEN '[' || user_id || ',' || (user_id + 1) || ']'
       END AS token_ids,
       CASE event_type
            WHEN 'view' THEN '[' || CAST(FLOOR(value * 100) AS BIGINT) || ']'
            WHEN 'error' THEN '[' || CAST(FLOOR(value * 100) AS BIGINT) || ','
                              || (CAST(FLOOR(value * 100) AS BIGINT) + 1) || ']'
       END AS token_values
FROM events
WHERE event_type IN ('purchase', 'click', 'view', 'error')
""",
    doc="The evmtransfers silver table (schema/substrateetl/"
    "evmtransfers.json; log walk per the reference's erc20/erc721/erc1155 "
    "ABI arms, ethTool.js:2030-2075): ERC-20 Transfer, ERC-721 Transfer "
    "(4-topic form), ERC-1155 TransferSingle AND TransferBatch logs are "
    "synthesized per event — the batch arm with a REAL ABI head-tail "
    "dynamic-array encoding (head offsets 0x40/0xa0, length-prefixed "
    "tails) — then decoded by the REAL plans.evm.evmtransfers_table. "
    "Batch ids/values decode natively via column-position substring over "
    "a sequence transform (functions/evm.py log_uint_array): no Python, "
    "no explode. signup events carry a non-transfer topic and must drop "
    "out. The oracle reconstructs every decoded field from the source "
    "columns.",
    tags=("pipeline", "scalar", "filter"),
)
def evm_transfer_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.functions.evm import (
        TRANSFER_BATCH_TOPIC,
        TRANSFER_SINGLE_TOPIC,
        TRANSFER_TOPIC,
    )
    from polkadot_etl_spark.plans.evm import evmtransfers_table

    e = load_table(spark, sf_dir, "events")
    amt = F.floor(F.col("value") * 100).cast("bigint")
    u = F.col("user_id")

    def pad32(c: Column) -> Column:
        return F.concat(F.lit("0x"), F.lpad(c.cast("string"), 64, "0"))

    def hexw(c: Column) -> Column:
        return F.lpad(F.lower(F.hex(c)), 64, "0")

    etype = F.col("event_type")
    op = pad32(F.lit(9))
    # TransferBatch data: [0x40 head, 0xa0 head][len 2, id0, id1][len 2, v0, v1]
    batch_data = F.concat(
        F.lit("0x"), hexw(F.lit(0x40)), hexw(F.lit(0xA0)),
        hexw(F.lit(2)), hexw(u), hexw(u + 1),
        hexw(F.lit(2)), hexw(amt), hexw(amt + 1),
    )
    topics = (
        F.when(etype == "purchase", F.array(F.lit(TRANSFER_TOPIC), pad32(u), pad32(u + 1)))
        # topic3 is the uint256 tokenId — a true hex word (the decoder
        # conv()s it back; the from/to address topics are read literally)
        .when(etype == "click", F.array(F.lit(TRANSFER_TOPIC), pad32(u), pad32(u + 1), F.concat(F.lit("0x"), hexw(u * 3))))
        .when(etype == "view", F.array(F.lit(TRANSFER_SINGLE_TOPIC), op, pad32(u), pad32(u + 2)))
        .when(etype == "error", F.array(F.lit(TRANSFER_BATCH_TOPIC), op, pad32(u), pad32(u + 1)))
        .otherwise(F.array(F.lit("0x" + "ab" * 32), pad32(u)))  # signup: not a transfer
    )
    data = (
        F.when(etype == "purchase", F.concat(F.lit("0x"), hexw(amt)))
        .when(etype == "view", F.concat(F.lit("0x"), hexw(u), hexw(amt)))
        .when(etype == "error", batch_data)
        .otherwise(F.lit("0x"))
    )
    logs = e.select(
        F.col("event_id"),
        F.concat(F.lit("0xc"), u.cast("string")).alias("address"),
        topics.alias("topics"),
        data.alias("data"),
        F.concat(F.lit("0xt"), F.col("event_id").cast("string")).alias("transaction_hash"),
        F.col("event_id").cast("int").alias("log_index"),
        F.col("ts").alias("block_time"),
        F.col("event_id").alias("block_number"),
        F.lit(None).cast("string").alias("block_hash"),
        # ABI decode is compute-heavy and the events parquet arrives as a
        # handful of splits; spread the decode across the executor cores
        # and materialize the synthesized topics/data arrays once (same
        # compact-input rule as wasm_contract_calls, measured there)
    ).repartition(spark.sparkContext.defaultParallelism, "event_id")
    t = evmtransfers_table(logs)
    return t.select(
        F.col("log_index").cast("bigint").alias("event_id"),
        "transfer_type",
        "from_address",
        "to_address",
        "value",
        "operator",
        "token_ids",
        "token_values",
    )


@query(
    "evm_txn_fees",
    oracle="""
WITH t AS (
  SELECT o_orderkey AS k, o_custkey, o_totalprice,
         o_orderpriority = '1-URGENT' AS is1559,
         21000 + o_orderkey % 400000 AS gas_used,
         1000000000 + o_orderkey % 1000 AS gas_price,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN 900000000 + o_orderkey % 1000 END AS egp,
         o_orderstatus = 'F' AS has_input
  FROM orders
)
SELECT '0xh' || k AS hash,
       '0x' || lpad(CAST(o_custkey AS VARCHAR), 40, '0') AS from_address,
       CAST(FLOOR(o_totalprice * 1e6) AS DOUBLE) AS value_wei,
       gas_price,
       gas_used AS receipt_gas_used,
       CAST(k % 2 AS INTEGER) AS receipt_status,
       CAST(gas_used AS DOUBLE) * CAST(gas_price AS DOUBLE) / 1e18 AS fee,
       CAST(gas_used AS DOUBLE) * (CASE WHEN is1559 THEN CAST(egp AS DOUBLE) ELSE 0.0 END) / 1e18
         AS burned_fee,
       ((CASE WHEN is1559 THEN 2e9 ELSE 0.0 END)
          - (CASE WHEN is1559 THEN CAST(egp AS DOUBLE) ELSE 0.0 END))
         * CAST(gas_used AS DOUBLE) / 1e18 AS txn_saving,
       CASE WHEN has_input THEN '0xa9059cbb' END AS method_id,
       CASE WHEN has_input THEN 'transfer(address,uint256)' END AS signature
FROM t
""",
    doc="The evmtxs silver table (schema/substrateetl/evmtxs.json; fee "
    "economics ethTool.js:819-918 decorateTxn): tx + receipt frames "
    "synthesized from orders — EIP-1559 fields only on urgent orders, "
    "legacy otherwise, ERC-20 transfer calldata on 'F' rows — run "
    "through the REAL plans.evm.evmtxs_table: tx × receipt hash join, "
    "fee = gasUsed·gasPrice, burnedFee = gasUsed·baseFee with the "
    "reference's pre-adjustment baseFee quirk, txnSaving = "
    "(maxFee − baseFee)·gasUsed, selector → method_id + resolved text "
    "signature. The oracle recomputes every fee column from the same "
    "integer inputs with identical IEEE double steps.",
    tags=("pipeline", "join", "scalar"),
)
def evm_txn_fees(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.evm import evmtxs_table

    # generator fan-out (single-row-group test parquet; keyed on the
    # unique o_orderkey — no round-robin pre-sort): without it the whole
    # tx+receipt synthesis and the fee math run as ONE task
    txns, receipts = _synth_evm_frames(
        load_table(spark, sf_dir, "orders").transform(
            fan_out_scan(sf_dir, "orders", "o_orderkey")
        )
    )
    t = evmtxs_table(txns, receipts)
    return t.select(
        "hash",
        "from_address",
        F.col("value").cast("double").alias("value_wei"),
        "gas_price",
        "receipt_gas_used",
        "receipt_status",
        "fee",
        "burned_fee",
        "txn_saving",
        "method_id",
        "signature",
    )


def _synth_evm_frames(o: DataFrame):
    """tx + receipt frames synthesized from orders — EIP-1559 fields on
    urgent orders, legacy otherwise, ERC-20 transfer calldata on 'F'
    rows.  Shared by evm_txn_fees and evmtxs_daily_gold so the
    synthetic chain is identical in both."""
    from polkadot_etl_spark.functions.evm import ERC20_SELECTORS

    k = F.col("o_orderkey")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    has_input = F.col("o_orderstatus") == "F"
    calldata = F.concat(
        F.lit(ERC20_SELECTORS["transfer"]),
        F.lpad(F.col("o_custkey").cast("string"), 64, "0"),
        F.lpad(F.lower(F.hex(k)), 64, "0"),
    )
    txns = o.select(
        F.concat(F.lit("0xh"), k.cast("string")).alias("hash"),
        F.lit(None).cast("string").alias("block_hash"),
        k.alias("block_number"),
        (k % 500).cast("int").alias("transaction_index"),
        F.concat(F.lit("0x"), F.lpad(F.col("o_custkey").cast("string"), 40, "0")).alias("from_addr"),
        F.concat(F.lit("0x"), F.lpad((F.col("o_custkey") + 1).cast("string"), 40, "0")).alias("to_addr"),
        F.lit(2004).alias("chain_id"),
        (k % 100).alias("nonce"),
        F.when(urgent, 2).otherwise(0).alias("tx_type"),
        F.floor(F.col("o_totalprice") * 1e6).cast("decimal(38,0)").alias("value"),
        (F.lit(21000) + k % 400000 + 10000).alias("gas"),
        (F.lit(1000000000) + k % 1000).alias("gas_price"),
        F.when(urgent, F.lit(2000000000)).alias("max_fee_per_gas"),
        F.when(urgent, F.lit(100000000)).alias("max_priority_fee_per_gas"),
        F.when(has_input, calldata).otherwise(F.lit("0x")).alias("input"),
        F.col("o_orderdate").alias("block_time"),
    )
    receipts = o.select(
        F.concat(F.lit("0xh"), k.cast("string")).alias("hash"),
        (k % 2).cast("int").alias("status"),
        (F.lit(21000) + k % 400000).alias("gas_used"),
        (F.lit(21000) + k % 400000).alias("cumulative_gas_used"),
        F.when(urgent, F.lit(900000000) + k % 1000).alias("effective_gas_price"),
        F.lit(None).cast("string").alias("contract_address"),
    )
    return txns, receipts


@query(
    "evmtxs_daily_gold",
    oracle=f"""
WITH t AS (
  SELECT o_orderkey AS k, o_orderdate,
         o_orderpriority = '1-URGENT' AS is1559,
         CAST(21000 + o_orderkey % 400000 AS BIGINT) AS gas_used,
         CAST(1000000000 + o_orderkey % 1000 AS BIGINT) AS gas_price,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN CAST(900000000 + o_orderkey % 1000 AS BIGINT) END AS egp,
         o_orderstatus = 'F' AS has_input
  FROM orders
)
SELECT {d_date('o_orderdate')} AS log_dt,
       COUNT(*) AS num_txs,
       COUNT(CASE WHEN k % 2 = 1 THEN 1 END) AS num_success,
       COUNT(CASE WHEN has_input THEN 1 END) AS num_token_calls,
       COUNT(CASE WHEN is1559 THEN 1 END) AS num_eip1559,
       CAST(CAST(SUM(CAST(gas_used AS DECIMAL(38,0)) * gas_price) AS VARCHAR)
            AS DOUBLE) / 1e18 AS fees,
       CAST(CAST(COALESCE(SUM(CASE WHEN is1559
                      THEN CAST(gas_used AS DECIMAL(38,0)) * egp END), 0)
                 AS VARCHAR) AS DOUBLE) / 1e18 AS burned_fees
FROM t GROUP BY 1
""",
    doc="The Frontier chain-day gold rollup — evmtxs aggregated per "
    "log_dt exactly like blocklog aggregates the substrate day "
    "(substrateetl.js evm branch of dump_substrateetl + the chain "
    "numTransactionsEVM/fees columns): tx count, success count "
    "(receipt_status), token-call count (method_id present), EIP-1559 "
    "share, and fee totals. Fee accounting is exact-integer wei — "
    "sum(gas_used x gas_price) as DECIMAL(38,0) with map-side partials "
    "— divided by 1e18 ONCE at the end, so no per-row double rounding "
    "accumulates and the decimal->double hand-off uses the VARCHAR "
    "route (fmt.d_decsum rationale). Built on the same "
    "plans.evm.evmtxs_table silver as evm_txn_fees.",
    tags=("pipeline", "agg"),
)
def evmtxs_daily_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.evm import evmtxs_table

    # generator fan-out (single-row-group test parquet; keyed on the
    # unique o_orderkey — no round-robin pre-sort): without it the whole
    # tx+receipt synthesis and the fee math run as ONE task
    txns, receipts = _synth_evm_frames(
        load_table(spark, sf_dir, "orders").transform(
            fan_out_scan(sf_dir, "orders", "o_orderkey")
        )
    )
    t = evmtxs_table(txns, receipts)
    wei = F.col("receipt_gas_used").cast("decimal(38,0)") * F.col("gas_price")
    burned = F.when(
        F.col("transaction_type") == 2,
        F.col("receipt_gas_used").cast("decimal(38,0)")
        * F.col("receipt_effective_gas_price"),
    )
    return (
        t.groupBy(s_date("block_timestamp").alias("log_dt"))
        .agg(
            F.count(F.lit(1)).alias("num_txs"),
            F.count(F.when(F.col("receipt_status") == 1, 1)).alias("num_success"),
            F.count(F.when(F.col("method_id").isNotNull(), 1)).alias("num_token_calls"),
            F.count(F.when(F.col("transaction_type") == 2, 1)).alias("num_eip1559"),
            (F.sum(wei).cast("double") / 1e18).alias("fees"),
            (F.coalesce(F.sum(burned), F.lit(0).cast("decimal(38,0)")).cast("double") / 1e18).alias(
                "burned_fees"
            ),
        )
    )


@query(
    "wasm_contract_calls",
    oracle="""
SELECT 'c' || l_orderkey || '-' || l_linenumber AS extrinsic_id,
       '0x' || lpad(CAST(l_suppkey AS VARCHAR), 64, '0') AS address_pub_key,
       CASE WHEN l_returnflag = 'A'
            THEN CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
            ELSE CAST(CAST(l_quantity AS BIGINT) * 2 AS VARCHAR) END AS gas_limit,
       CASE WHEN l_returnflag = 'R' THEN '500' ELSE '0' END
         AS storage_deposit_limit,
       CAST(CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS VARCHAR) AS value,
       '0x' || lpad(CAST(l_suppkey + 1000 AS VARCHAR), 64, '0') AS caller_pub_key,
       '0xc' || (l_suppkey % 4) AS code_hash,
       CASE WHEN l_suppkey % 4 < 2
            THEN '{"args": {"arg0": ' || l_partkey || ', "arg1": '
                 || CASE WHEN l_linenumber % 2 = 1 THEN 'true' ELSE 'false' END
                 || '}, "decoded": true, "label": "flip", "selector": "0xdeadbeef"}'
            ELSE '{"decoded": false, "label": null, "selector": "0xdeadbeef"}'
       END AS decoded_call
FROM lineitem
""",
    doc="The contractscall silver table (schema/substrateetl/contracts/"
    "contractscall.json; build substrateetl.js:2569-2640): contracts.call "
    "rows synthesized from lineitem — gas_limit hex on 'A' rows (the "
    "dechexToIntStr path), short storage_deposit_limit (→ 0) except 'R' "
    "rows, SCALE calldata 0xdeadbeef + LE-u32(partkey) + bool — run "
    "through the REAL plans.wasm.contractscall_table: params JSON "
    "extraction, exact u128 limb dechex, broadcast contracts-dim join "
    "for code_hash, and the ink! registry decode (functions/scale.py "
    "from-spec SCALE codec) via an Arrow-batched UDF; hashes 0xc2/0xc3 "
    "are unregistered so their rows prove the decoded=false arm. The "
    "oracle reconstructs every column including the canonical "
    "decoded_call JSON.",
    tags=("pipeline", "scalar", "join", "udf"),
)
def wasm_contract_calls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.wasm import (
        ContractRegistry,
        InkMessage,
        contractscall_table,
    )

    # generator fan-out: single-row-group test parquet would otherwise
    # run the whole SCALE-hex synthesis as one task (see
    # users_tags_attribution). Keyed on the (unique) line identity:
    # round-robin repartition pays a full local sort of the input
    # (sortBeforeRepartition, for deterministic retries) that hash
    # partitioning on a deterministic unique key avoids.
    li = load_table(spark, sf_dir, "lineitem").transform(
        fan_out_scan(sf_dir, "lineitem", F.col("l_orderkey"), F.col("l_linenumber"))
    )
    sup = load_table(spark, sf_dir, "supplier")
    u = F.col("l_suppkey")
    qty = F.col("l_quantity").cast("bigint")
    # little-endian u32 hex of l_partkey (SCALE wire form)
    be = F.lpad(F.lower(F.hex(F.col("l_partkey"))), 8, "0")
    le = F.concat(
        F.substring(be, 7, 2), F.substring(be, 5, 2),
        F.substring(be, 3, 2), F.substring(be, 1, 2),
    )
    arg_bool = F.when(F.col("l_linenumber") % 2 == 1, F.lit("01")).otherwise(F.lit("00"))
    calldata = F.concat(F.lit("0xdeadbeef"), le, arg_bool)
    gas = F.when(
        F.col("l_returnflag") == "A", F.concat(F.lit('"0x'), F.lpad(F.lower(F.hex(qty)), 4, "0"), F.lit('"'))
    ).otherwise(F.concat(F.lit('"'), (qty * 2).cast("string"), F.lit('"')))
    sdl = F.when(F.col("l_returnflag") == "R", F.lit('"0x01f4"')).otherwise(F.lit('"12"'))
    params = F.concat(
        F.lit('{"dest": {"id": "'), _pk(u), F.lit('"}, "gas_limit": '), gas,
        F.lit(', "storage_deposit_limit": '), sdl,
        F.lit(', "value": "'), F.floor(F.col("l_extendedprice") * 100).cast("bigint").cast("string"),
        F.lit('", "data": "'), calldata, F.lit('"}'),
    )
    calls = li.select(
        F.concat(F.lit("c"), F.col("l_orderkey").cast("string"), F.lit("-"), F.col("l_linenumber").cast("string")).alias("extrinsic_id"),
        F.lit(None).cast("string").alias("hash"),
        F.lit(None).cast("timestamp").alias("block_time"),
        F.col("l_orderkey").alias("block_number"),
        F.lit(None).cast("string").alias("block_hash"),
        F.lit("contracts").alias("section"),
        F.lit("call").alias("method"),
        params.alias("params"),
        _pk(u + 1000).alias("signer_pub_key"),
        # compute-heavy decode over a compact parquet input: 600k rows
        # arrive as 3 splits, so without this the JSON parse + dechex
        # pipeline runs on 3 of 32 cores; the exchange ALSO materializes
        # the params concat once, where the fused projection re-evaluated
        # it per JSON extraction (measured 26.7s -> ~4s at sf0.1).
        # Hash-keyed on the unique extrinsic_id: round-robin would sort
        # the whole synthesized payload locally first (see above).
    ).repartition(spark.sparkContext.defaultParallelism, F.col("extrinsic_id"))
    dim = sup.select(
        _pk(F.col("s_suppkey")).alias("address_pub_key"),
        F.concat(F.lit("0xc"), (F.col("s_suppkey") % 4).cast("string")).alias("code_hash"),
    )
    reg = ContractRegistry()
    flip = [InkMessage("flip", "0xdeadbeef", ("u32", "bool"))]
    reg.register("0xc0", flip)
    reg.register("0xc1", flip)
    t = contractscall_table(calls, dim, registry=reg)
    return t.select(
        "extrinsic_id",
        "address_pub_key",
        "gas_limit",
        "storage_deposit_limit",
        "value",
        "caller_pub_key",
        "code_hash",
        "decoded_call",
    )


@query(
    "identity_resolution",
    oracle="""
WITH base AS (SELECT c_custkey AS k, c_acctbal, c_mktsegment FROM customer),
regs AS (
  SELECT k, CASE WHEN k % 2 = 0 THEN 'polkadot' ELSE 'kusama' END AS relay,
         'name' || k AS name, c_acctbal > 500.0 AS verified
  FROM base
),
mains AS (
  SELECT '0x' || lpad(CAST(k AS VARCHAR), 64, '0') AS pubkey, relay,
         NULL AS parent, CAST(NULL AS BOOLEAN) AS is_sub,
         name AS fullname, name, verified
  FROM regs
),
subs AS (
  SELECT '0x' || lpad(CAST(r.k + 1000000 AS VARCHAR), 64, '0') AS pubkey, r.relay,
         '0x' || lpad(CAST(r.k AS VARCHAR), 64, '0') AS parent, true AS is_sub,
         r.name || '/sub' || r.k AS fullname, r.name, r.verified
  FROM regs r JOIN base b ON b.k = r.k
  WHERE b.c_mktsegment = 'BUILDING'
),
allr AS (SELECT * FROM mains UNION ALL SELECT * FROM subs)
SELECT pubkey,
       MAX(CASE WHEN relay = 'polkadot' THEN parent END) AS polkadot_parent,
       BOOL_OR(CASE WHEN relay = 'polkadot' THEN is_sub END) AS polkadot_is_subidentity,
       MAX(CASE WHEN relay = 'polkadot' THEN fullname END) AS polkadot_fullname,
       MAX(CASE WHEN relay = 'polkadot' THEN name END) AS polkadot_name,
       BOOL_OR(CASE WHEN relay = 'polkadot' THEN verified END) AS polkadot_judgement_verified,
       MAX(CASE WHEN relay = 'kusama' THEN parent END) AS kusama_parent,
       BOOL_OR(CASE WHEN relay = 'kusama' THEN is_sub END) AS kusama_is_subidentity,
       MAX(CASE WHEN relay = 'kusama' THEN fullname END) AS kusama_fullname,
       MAX(CASE WHEN relay = 'kusama' THEN name END) AS kusama_name,
       BOOL_OR(CASE WHEN relay = 'kusama' THEN verified END) AS kusama_judgement_verified
FROM allr GROUP BY pubkey
""",
    doc="The published identity table (schema/identity.json; "
    "identityManager.js:60-185): registrations + sub-identities "
    "synthesized from customer — relay by key parity, display name in "
    "the info JSON, judgements Reasonable (verified) vs LowQuality by "
    "balance, one sub-identity per BUILDING customer — run through the "
    "REAL plans.feeds.identity_table: per-relay registration parse "
    "(info JSON display, judgement-status EXISTS over the parsed "
    "array), sub-identity parent inheritance with the "
    "'{parent}/{subname}' fullname rule, polkadot×kusama full-outer "
    "unification on pubkey. The oracle rebuilds the wide table with a "
    "union + conditional pivot (each pubkey registers on exactly one "
    "relay here, so the pivot equals the full outer join). ss58 "
    "re-encodings excluded (base58 is not SQL-expressible; covered by "
    "pytest round-trip properties).",
    tags=("pipeline", "join", "scalar"),
)
def identity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.feeds import identity_table

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    relay = F.when(k % 2 == 0, "polkadot").otherwise("kusama")
    regs = c.select(
        _pk(k).alias("pubkey"),
        relay.alias("relay"),
        F.concat(F.lit('{"display": "name'), k.cast("string"), F.lit('"}')).alias("info"),
        F.when(
            F.col("c_acctbal") > 500.0, F.lit('[{"status": "Reasonable"}]')
        )
        .otherwise(F.lit('[{"status": "LowQuality"}]'))
        .alias("judgements"),
    )
    subs = c.where(F.col("c_mktsegment") == "BUILDING").select(
        _pk(k + 1000000).alias("pubkey"),
        relay.alias("relay"),
        _pk(k).alias("parent"),
        F.concat(F.lit("sub"), k.cast("string")).alias("subname"),
    )
    t = identity_table(regs, subs)
    return t.select(
        "pubkey",
        "polkadot_parent",
        "polkadot_is_subidentity",
        "polkadot_fullname",
        "polkadot_name",
        "polkadot_judgement_verified",
        "kusama_parent",
        "kusama_is_subidentity",
        "kusama_fullname",
        "kusama_name",
        "kusama_judgement_verified",
    )


@query(
    "dex_router_paths",
    oracle="""
WITH RECURSIVE e AS (
  SELECT DISTINCT p_partkey % 17 AS a, (p_partkey // 17) % 17 AS b
  FROM part
  WHERE p_partkey % 17 <> (p_partkey // 17) % 17 AND p_partkey < 80
),
edges AS (
  -- explicit DISTINCT over UNION ALL: a bare UNION here is NOT
  -- reliably deduplicated by DuckDB when the CTE is consumed inside a
  -- recursive member (observed: duplicate seed rows)
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e
  )
),
paths(dst, path, depth) AS (
  SELECT b, '0->' || b, 1 FROM edges WHERE a = 0
  UNION ALL
  SELECT ed.b, p.path || '->' || ed.b, p.depth + 1
  FROM paths p JOIN edges ed ON ed.a = p.dst
  WHERE p.depth < 3
    AND NOT contains('->' || p.path || '->', '->' || ed.b || '->')
)
SELECT path, dst AS terminal, depth FROM paths
""",
    doc="DEX router path enumeration — all simple swap routes from a "
    "source asset through the pool graph up to 3 hops (reference "
    "priceManager.js:410 getRouterAssetPaths / :166 getRouterPaths, "
    "which walks router pool edges to maxDepth collecting candidate "
    "swap routes). Pool edges synthesize from part keys (two "
    "independent residues; capped at p_partkey<80 so the graph is "
    "identical at every SF). Spark shape: a DEPTH-BOUNDED traversal is "
    "UNROLLED joins in one lazy plan — no driver loop, no checkpoint "
    "(vs the iterative connected_components, where depth is "
    "data-dependent); the edge dim broadcasts at every hop, and the "
    "no-revisit rule is the same '->'-delimited path-string predicate "
    "the oracle's recursive CTE uses, so both engines prune identical "
    "branches.",
    tags=("pipeline", "join"),
)
def dex_router_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    a = F.col("p_partkey") % 17
    b = F.expr("p_partkey DIV 17") % 17
    e = (
        p.where((F.col("p_partkey") < 80) & (a != b))
        .select(a.alias("a"), b.alias("b"))
        .distinct()
    )
    edges = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )
    ed = F.broadcast(edges.select(F.col("a").alias("ea"), F.col("b").alias("eb")))
    hops = [
        edges.where(F.col("a") == 0).select(
            F.col("b").alias("dst"),
            F.concat(F.lit("0->"), F.col("b").cast("string")).alias("path"),
            F.lit(1).alias("depth"),
        )
    ]
    for _ in range(2):
        hops.append(
            hops[-1]
            .join(ed, hops[-1]["dst"] == F.col("ea"))
            .where(
                ~F.expr(
                    "contains('->' || path || '->', '->' || CAST(eb AS STRING) || '->')"
                )
            )
            .select(
                F.col("eb").alias("dst"),
                F.expr("path || '->' || CAST(eb AS STRING)").alias("path"),
                (F.col("depth") + 1).alias("depth"),
            )
        )
    out = hops[0]
    for h in hops[1:]:
        out = out.unionByName(h)
    return out.select("path", F.col("dst").alias("terminal"), "depth")


@query(
    "xcm_trace_spans",
    oracle="""
WITH o AS (
  SELECT 'x' || o_orderkey AS extrinsic_id,
         'm' || (o_orderkey % 1000) AS msg_hash,
         o_orderkey % 10000 AS sent_at
  FROM orders
),
d AS (
  SELECT 'd' || l_orderkey AS event_id,
         'm' || (l_orderkey % 1000) AS msg_hash,
         (l_orderkey % 10000) + (l_suppkey % 6) - 1 AS received_at
  FROM lineitem WHERE l_linenumber = 1
),
m AS (
  SELECT extrinsic_id, msg_hash, event_id FROM (
    SELECT o.extrinsic_id, o.msg_hash, d.event_id,
           ROW_NUMBER() OVER (PARTITION BY o.extrinsic_id
                              ORDER BY d.received_at - o.sent_at, d.event_id) AS rn
    FROM o JOIN d ON d.msg_hash = o.msg_hash
                 AND d.received_at - o.sent_at BETWEEN 0 AND 4
  ) WHERE rn = 1
)
SELECT substr(md5('cn' || extrinsic_id), 1, 16) AS trace_id,
       substr(md5('cn' || extrinsic_id), 1, 16) AS span_id,
       CAST(NULL AS VARCHAR) AS parent_span_id,
       'origination' AS kind, extrinsic_id AS ref
FROM o
UNION ALL
SELECT substr(md5('cn' || extrinsic_id), 1, 16),
       substr(md5('cn' || extrinsic_id || '/' || msg_hash), 1, 16),
       substr(md5('cn' || extrinsic_id), 1, 16),
       'xcm', msg_hash
FROM o
UNION ALL
SELECT substr(md5('cn' || extrinsic_id), 1, 16),
       substr(md5('cn' || event_id), 1, 16),
       substr(md5('cn' || extrinsic_id || '/' || msg_hash), 1, 16),
       'dest', event_id
FROM m
""",
    doc="XCM trace-span assembly (reference substrate/xcmtracer.js:95 "
    "submitleg / :561 match): every origination extrinsic emits a root "
    "span and a child xcm-message span; when a destination event "
    "matches (same msg_hash, received 0..4 relay blocks after sent_at, "
    "first-match tie-break — xcmmanager.js:417-497 band semantics via "
    "operators/band.py) it emits a third span parented to the message "
    "span — the reference's extrinsic->xcm->dest leg chain, here as "
    "one DataFrame of (trace_id, span_id, parent_span_id) rows instead "
    "of per-row Zipkin POSTs. Span ids follow the reference's "
    "idhash('cn'+id) 16-hex-char scheme with md5 standing in for "
    "twox_128 (the oracle engine has no twox; the repo's real twox_128 "
    "is vector-tested in functions/scalars.py). Matched and "
    "unmatched-dest origins both appear, exactly like the tracer's "
    "'123' and '12' arms.",
    tags=("pipeline", "join"),
)
def xcm_trace_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.operators.band import band_join_best_match

    k = F.col("o_orderkey")
    # generator fan-out (single-row-group test parquet; see
    # users_tags_attribution); keyed on the session's parallelism like
    # every other fan-out site — a literal count under-parallelizes any
    # larger cluster (r13 VERDICT #5)
    o = load_table(spark, sf_dir, "orders").transform(
        fan_out_scan(sf_dir, "orders", "o_orderkey")
    ).select(
        F.concat(F.lit("x"), k.cast("string")).alias("extrinsic_id"),
        F.concat(F.lit("m"), (k % 1000).cast("string")).alias("msg_hash"),
        (k % 10000).alias("sent_at"),
    )
    lk = F.col("l_orderkey")
    d = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_linenumber") == 1)
        .select(
            F.concat(F.lit("d"), lk.cast("string")).alias("event_id"),
            F.concat(F.lit("m"), (lk % 1000).cast("string")).alias("msg_hash"),
            ((lk % 10000) + (F.col("l_suppkey") % 6) - 1).alias("received_at"),
        )
    )
    m = band_join_best_match(
        source=o,
        dest=d,
        keys=["msg_hash"],
        source_ts="sent_at",
        dest_ts="received_at",
        lower=0,
        upper=4,
        source_id="extrinsic_id",
        tie_break=["event_id"],
    )

    def _span(*parts):
        return F.substring(F.md5(F.concat(F.lit("cn"), *parts)), 1, 16)

    root = _span(F.col("extrinsic_id"))
    xcm_span = _span(F.col("extrinsic_id"), F.lit("/"), F.col("msg_hash"))
    s1 = o.select(
        root.alias("trace_id"),
        root.alias("span_id"),
        F.lit(None).cast("string").alias("parent_span_id"),
        F.lit("origination").alias("kind"),
        F.col("extrinsic_id").alias("ref"),
    )
    s2 = o.select(
        root.alias("trace_id"),
        xcm_span.alias("span_id"),
        root.alias("parent_span_id"),
        F.lit("xcm").alias("kind"),
        F.col("msg_hash").alias("ref"),
    )
    s3 = m.select(
        root.alias("trace_id"),
        _span(F.col("d_event_id")).alias("span_id"),
        xcm_span.alias("parent_span_id"),
        F.lit("dest").alias("kind"),
        F.col("d_event_id").alias("ref"),
    )
    return s1.unionByName(s2).unionByName(s3)


# Kusama weight model per instruction, transcribed from the reference's
# public table (substrate/xcmInstructions.js getInstructionSet; per-read/
# write costs and the fee coefficient from xcmtracer.js:46-55).
_XCM_WEIGHT_DIM = [
    ("withdrawAsset", 20385000, 1, 1),
    ("receiveTeleportedAsset", 19595000, 1, 1),
    ("transferAsset", 3275600, 2, 2),
    ("transferReserveAsset", 50645000, 8, 5),
    ("clearOrigin", 8268000, 0, 0),
    ("transact", 31693000, 1, 0),
    ("queryResponse", 24677000, 1, 0),
]
_W_READ = 25000000
_W_WRITE = 100000000
_KSM_FEE_COEF = 3.862092404422869e-14  # (1e12/(10*30000*86309000))/1e12


@query(
    "xcm_message_weights",
    oracle=f"""
WITH m AS (
  SELECT event_id AS msg_id,
         CASE event_type
              WHEN 'purchase' THEN '["withdrawAsset","clearOrigin","buyExecution","depositAsset"]'
              WHEN 'click' THEN '["reserveAssetDeposited","clearOrigin","buyExecution","depositAsset"]'
              WHEN 'view' THEN '["receiveTeleportedAsset","clearOrigin","buyExecution","depositAsset"]'
              WHEN 'error' THEN '["transferReserveAsset"]'
              ELSE '["transact","clearOrigin"]' END AS instr_json
  FROM events
),
i AS (
  SELECT msg_id, unnest(CAST(json_extract(instr_json, '$') AS VARCHAR[])) AS instruction
  FROM m
),
dim(instruction, ref_time, reads, writes) AS (
  VALUES {", ".join(f"('{n}', {rt}, {r}, {w})" for n, rt, r, w in _XCM_WEIGHT_DIM)}
),
j AS (
  SELECT i.msg_id,
         COALESCE(d.ref_time, 1000000)
           + COALESCE(d.reads, 0) * {_W_READ}
           + COALESCE(d.writes, 0) * {_W_WRITE} AS w
  FROM i LEFT JOIN dim d USING (instruction)
)
SELECT msg_id, COUNT(*) AS n_instructions,
       CAST(SUM(w) AS BIGINT) AS total_weight,
       CAST(SUM(w) AS BIGINT) * {_KSM_FEE_COEF!r} AS fee_ksm
FROM j GROUP BY msg_id
""",
    doc="Per-message XCM weight + fee estimation (reference "
    "xcmtracer.js:38-56 compute_instruction_weight over "
    "xcmInstructions.js getInstructionSet): each message's instruction "
    "list joins the per-instruction (refTime, reads, writes) model, "
    "weight = refTime + reads x 25e6 + writes x 1e8 with the tracer's "
    "1e6 default for unmodeled instructions, fee = total x the KSM "
    "weight-to-fee coefficient (precomputed in one literal so both "
    "engines do the identical int x double multiply). Spark shape: the "
    "instruction model is a BROADCAST dim against the exploded "
    "instruction stream; one groupBy(msg_id) shuffle with map-side "
    "partials.",
    tags=("pipeline", "join", "agg"),
)
def xcm_message_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 (guide §2.5): the instruction synthesis explode + dim join ran
    # in the one fixture scan task (event-log profile: ~1.25 s single
    # task); the keyed fan-out also pre-clusters the downstream
    # per-message aggregate (msg_id IS event_id), so the exchange is
    # reused, not added.
    e = load_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    instr_json = (
        F.when(F.col("event_type") == "purchase",
               '["withdrawAsset","clearOrigin","buyExecution","depositAsset"]')
        .when(F.col("event_type") == "click",
              '["reserveAssetDeposited","clearOrigin","buyExecution","depositAsset"]')
        .when(F.col("event_type") == "view",
              '["receiveTeleportedAsset","clearOrigin","buyExecution","depositAsset"]')
        .when(F.col("event_type") == "error", '["transferReserveAsset"]')
        .otherwise('["transact","clearOrigin"]')
    )
    i = e.select(
        F.col("event_id").alias("msg_id"),
        F.explode(F.from_json(instr_json, "array<string>")).alias("instruction"),
    )
    dim = F.broadcast(
        local_frame(
            spark,
            _XCM_WEIGHT_DIM, "instruction: string, ref_time: long, reads: int, writes: int"
        )
    )
    w = (
        F.coalesce(F.col("ref_time"), F.lit(1000000))
        + F.coalesce(F.col("reads"), F.lit(0)) * _W_READ
        + F.coalesce(F.col("writes"), F.lit(0)) * _W_WRITE
    )
    return (
        i.join(dim, "instruction", "left")
        .select("msg_id", w.alias("w"))
        .groupBy("msg_id")
        .agg(
            F.count(F.lit(1)).alias("n_instructions"),
            F.sum("w").alias("total_weight"),
            (F.sum("w") * F.lit(_KSM_FEE_COEF)).alias("fee_ksm"),
        )
    )


# ---------------------------------------------------------------------------
# OpenGov conviction-voting surface (dump_democracy) — the oracle CASE
# expressions interpolate the SAME maps the plan uses (TRACK_NAMES /
# CONVICTION_MULT) so the two engines cannot drift.
# ---------------------------------------------------------------------------

from polkadot_etl_spark.plans.governance import CONVICTION_MULT, TRACK_NAMES  # noqa: E402

_TRACK_IDS = list(TRACK_NAMES)  # classID chosen by k % 15 over the map keys
_SQL_CLASS_ID = (
    "CASE k % 15 "
    + " ".join(f"WHEN {i} THEN {cid}" for i, cid in enumerate(_TRACK_IDS))
    + " END"
)
_SQL_CLASS_NAME = (
    "CASE class_id "
    + " ".join(f"WHEN {cid} THEN '{name}'" for cid, name in TRACK_NAMES.items())
    + " ELSE NULL END"
)
_SQL_MULT = (
    "CASE conviction "
    + " ".join(f"WHEN '{c}' THEN {m}" for c, m in CONVICTION_MULT.items())
    + " ELSE 1.0 END"
)


@query(
    "democracy_voting",
    oracle=f"""
WITH c AS (SELECT c_custkey AS k FROM customer),
v1 AS (
  SELECT k, CAST(k % 97 AS INTEGER) AS poll_id,
         CASE WHEN k % 4 = 0 THEN 'Aye'
              WHEN k % 4 = 1 AND k % 11 = 0 THEN NULL
              WHEN k % 4 = 1 THEN 'Nay'
              WHEN k % 4 = 2 THEN 'Split'
              ELSE 'SplitAbstain' END AS vote,
         CASE WHEN k % 4 = 0 AND k % 5 = 0 THEN 'Locked7x'
              WHEN k % 4 = 0 THEN 'Locked' || CAST(1 + k % 6 AS VARCHAR) || 'x'
              ELSE 'None' END AS conviction,
         CASE WHEN k % 4 = 0 THEN CAST(k * 1000000 + 123 AS DOUBLE) / 1e10
              WHEN k % 4 = 2 THEN CAST(k * 10000 + 1 AS DOUBLE) / 1e10
              WHEN k % 4 = 3 THEN CAST(k * 100 + 3 AS DOUBLE) / 1e10
              ELSE 0.0 END AS aye,
         CASE WHEN k % 4 = 1 AND k % 11 = 0 THEN 0.0
              WHEN k % 4 = 1 THEN CAST(k * 100000 + 7 AS DOUBLE) / 1e10
              WHEN k % 4 = 2 THEN CAST(k * 1000 + 2 AS DOUBLE) / 1e10
              WHEN k % 4 = 3 THEN CAST(k * 10 + 4 AS DOUBLE) / 1e10
              ELSE 0.0 END AS nay,
         CASE WHEN k % 4 = 3 THEN CAST(k * 100000 + 5 AS DOUBLE) / 1e10
              ELSE 0.0 END AS abstain
  FROM c WHERE k % 7 <> 0),
v2 AS (
  SELECT k, CAST(100 + k % 41 AS INTEGER) AS poll_id, 'Aye' AS vote,
         'Locked2x' AS conviction,
         CAST(k * 999 + 11 AS DOUBLE) / 1e10 AS aye, 0.0 AS nay, 0.0 AS abstain
  FROM c WHERE k % 7 <> 0 AND k % 3 = 0),
votes AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
vdecor AS (
  SELECT '5' || lpad(CAST(k AS VARCHAR), 8, '0') AS account,
         CAST({_SQL_CLASS_ID} AS INTEGER) AS class_id,
         poll_id, vote, conviction, aye, nay, abstain
  FROM votes),
vrows AS (
  SELECT account, class_id, {_SQL_CLASS_NAME} AS class_name,
         'Casting' AS kind, poll_id, vote, conviction,
         aye, aye * ({_SQL_MULT}) AS ayec,
         nay, nay * ({_SQL_MULT}) AS nayc, abstain,
         CAST(NULL AS VARCHAR) AS target, CAST(NULL AS DOUBLE) AS balance
  FROM vdecor),
ddecor AS (
  SELECT '5' || lpad(CAST(k AS VARCHAR), 8, '0') AS account,
         CAST({_SQL_CLASS_ID} AS INTEGER) AS class_id,
         CASE WHEN k % 14 = 0 THEN 'None'
              ELSE 'Locked' || CAST(1 + k % 6 AS VARCHAR) || 'x' END AS conviction,
         '5' || lpad(CAST(k + 1 AS VARCHAR), 8, '0') AS target,
         CAST(k * 1000000007 AS DOUBLE) / 1e10 AS balance
  FROM c WHERE k % 7 = 0),
drows AS (
  SELECT account, class_id, {_SQL_CLASS_NAME} AS class_name,
         'Delegating' AS kind, CAST(NULL AS INTEGER) AS poll_id,
         CAST(NULL AS VARCHAR) AS vote, conviction,
         CAST(NULL AS DOUBLE) AS aye, CAST(NULL AS DOUBLE) AS ayec,
         CAST(NULL AS DOUBLE) AS nay, CAST(NULL AS DOUBLE) AS nayc,
         CAST(NULL AS DOUBLE) AS abstain, target, balance
  FROM ddecor)
SELECT * FROM vrows UNION ALL SELECT * FROM drows
""",
    doc="The dump_democracy conviction-voting surface (reference "
    "substrateetl.js:2141-2306): a synthesized convictionVoting.votingFor "
    "state scan (toHuman JSON: comma-grouped balances, "
    "Standard/Split/SplitAbstain casting variants, an unknown-variant "
    "'WEIRD' row, Delegating rows, an unmapped Locked7x conviction) runs "
    "through the REAL plans.governance.conviction_votes_table + "
    "delegations_table — one JVM-side from_json + explode + "
    "get_json_object pipeline, conviction multipliers (None→0.1, "
    "unmapped→1), 10^10 decimalization, classIDtoName decoration. The "
    "oracle enumerates the expected rows directly from customer keys, "
    "with the track/conviction CASEs interpolated from the same literal "
    "maps the plan uses.",
    tags=("pipeline", "scalar", "filter"),
)
def democracy_voting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.governance import (
        conviction_votes_table,
        delegations_table,
    )

    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    k = F.col("k")

    def acct(key: Column) -> Column:
        return F.concat(F.lit("5"), F.lpad(key.cast("string"), 8, "0"))

    class_id = None
    for i, cid in enumerate(_TRACK_IDS):
        cond = (k % 15) == i
        class_id = F.when(cond, cid) if class_id is None else class_id.when(cond, cid)

    def std_payload(vote: Column, conv: Column, bal: Column) -> Column:
        return F.concat(
            F.lit('{"Standard": {"vote": {"vote": "'),
            vote,
            F.lit('", "conviction": "'),
            conv,
            F.lit('"}, "balance": "'),
            bal,
            F.lit('"}}'),
        )

    conv1 = F.when(k % 5 == 0, F.lit("Locked7x")).otherwise(
        F.concat(F.lit("Locked"), (1 + k % 6).cast("string"), F.lit("x"))
    )
    v1_payload = (
        F.when(
            k % 4 == 0,
            std_payload(F.lit("Aye"), conv1, F.format_number(k * 1000000 + 123, 0)),
        )
        .when(
            (k % 4 == 1) & (k % 11 == 0),
            F.lit('{"Mystery": {"x": 1}}'),  # the :2273 "WEIRD" guard row
        )
        .when(
            k % 4 == 1,
            std_payload(F.lit("Nay"), F.lit("None"), F.format_number(k * 100000 + 7, 0)),
        )
        .when(
            k % 4 == 2,
            F.concat(
                F.lit('{"Split": {"aye": "'),
                (k * 10000 + 1).cast("string"),
                F.lit('", "nay": "'),
                (k * 1000 + 2).cast("string"),
                F.lit('"}}'),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('{"SplitAbstain": {"aye": "'),
                (k * 100 + 3).cast("string"),
                F.lit('", "nay": "'),
                (k * 10 + 4).cast("string"),
                F.lit('", "abstain": "'),
                (k * 100000 + 5).cast("string"),
                F.lit('"}}'),
            )
        )
    )
    v1 = F.concat(F.lit("["), (k % 97).cast("string"), F.lit(", "), v1_payload, F.lit("]"))
    v2 = F.concat(
        F.lit("["),
        (100 + k % 41).cast("string"),
        F.lit(", "),
        std_payload(F.lit("Aye"), F.lit("Locked2x"), (k * 999 + 11).cast("string")),
        F.lit("]"),
    )
    votes_arr = F.concat(
        F.lit("["),
        v1,
        F.when(k % 3 == 0, F.concat(F.lit(", "), v2)).otherwise(F.lit("")),
        F.lit("]"),
    )
    casting_json = F.concat(F.lit('{"Casting": {"votes": '), votes_arr, F.lit("}}"))
    conv_d = F.when(k % 14 == 0, F.lit("None")).otherwise(
        F.concat(F.lit("Locked"), (1 + k % 6).cast("string"), F.lit("x"))
    )
    deleg_json = F.concat(
        F.lit('{"Delegating": {"balance": "'),
        F.format_number(k * 1000000007, 0),
        F.lit('", "target": "'),
        acct(k + 1),
        F.lit('", "conviction": "'),
        conv_d,
        F.lit('"}}'),
    )
    state = c.select(
        acct(k).alias("account"),
        class_id.cast("int").alias("class_id"),
        F.when(k % 7 == 0, deleg_json).otherwise(casting_json).alias("voting"),
    )

    votes = conviction_votes_table(state)
    dels = delegations_table(state)
    nulls = F.lit(None)
    vrows = votes.select(
        "account",
        "class_id",
        "class_name",
        F.lit("Casting").alias("kind"),
        "poll_id",
        "vote",
        "conviction",
        "aye",
        "ayec",
        "nay",
        "nayc",
        "abstain",
        nulls.cast("string").alias("target"),
        nulls.cast("double").alias("balance"),
    )
    drows = dels.select(
        "account",
        "class_id",
        "class_name",
        F.lit("Delegating").alias("kind"),
        nulls.cast("int").alias("poll_id"),
        nulls.cast("string").alias("vote"),
        "conviction",
        nulls.cast("double").alias("aye"),
        nulls.cast("double").alias("ayec"),
        nulls.cast("double").alias("nay"),
        nulls.cast("double").alias("nayc"),
        nulls.cast("double").alias("abstain"),
        "target",
        "balance",
    )
    return vrows.unionByName(drows)


# ---------------------------------------------------------------------------
# The published wide xcmtransfers contract (schema/xcmtransfers.json).
# ---------------------------------------------------------------------------

# DuckDB-side helper fragments for the wide-row oracle (k = o_orderkey).
_XW = {
    "amount_sent": "(k % 100) * 1000 + 5000",
    "fee": "CASE WHEN k % 9 = 0 THEN (k % 100) * 1000 + 5000 ELSE (k % 7) * 100 END",
    "source_ts": "1600000000 + k * 7",
    "dest_ts": "1600000000 + k * 7 + k % 60",
    "price": "CAST(k % 50 AS DOUBLE) / 10",
}


@query(
    "xcmtransfers_wide",
    oracle=f"""
WITH o AS (SELECT o_orderkey AS k FROM orders),
base AS (
  SELECT k,
         2000 + k % 4 AS o_chain, 2010 + k % 3 AS d_chain,
         {_XW["amount_sent"]} AS amount_sent,
         {_XW["fee"]} AS fee,
         {_XW["source_ts"]} AS source_ts,
         {_XW["dest_ts"]} AS dest_ts,
         {_XW["price"]} AS price,
         'S' || CAST(k % 5 AS VARCHAR) AS symbol
  FROM o),
d AS (
  SELECT *,
         amount_sent - fee AS amount_recv,
         CASE WHEN k % 2 = 1 OR k % 9 <> 0 THEN 'success' ELSE 'unknown' END AS status,
         'chain' || CAST(o_chain AS VARCHAR) AS o_id,
         'Chain ' || CAST(o_chain AS VARCHAR) AS o_name,
         k % 4 AS o_para,
         'chain' || CAST(d_chain AS VARCHAR) AS d_id,
         'Chain ' || CAST(d_chain AS VARCHAR) AS d_name,
         10 + k % 3 AS d_para
  FROM base)
SELECT symbol,
       'polkadot~S' || CAST(k % 5 AS VARCHAR) AS xcm_interior_key,
       CAST(NULL AS BIGINT) AS xcm_interior_keys_unregistered,
       price AS price_usd,
       strftime(make_timestamp(source_ts * 1000000), '%Y-%m-%d %H:%M:%S.%f')
         AS origination_ts,
       o_name AS origination_chain_name,
       o_id AS origination_id,
       '0xt' || CAST(k AS VARCHAR) AS origination_extrinsic_hash,
       CAST(k AS VARCHAR) || '-0' AS origination_extrinsic_id,
       CAST(0 AS BIGINT) AS origination_transfer_index,
       CAST(0 AS BIGINT) AS origination_xcm_index,
       CASE WHEN k % 2 = 0 THEN '0xevm' || CAST(k AS VARCHAR) END
         AS origination_transaction_hash,
       '0x' || lpad(CAST(k AS VARCHAR), 8, '0') AS origination_msg_hash,
       CASE WHEN k % 5 = 0 THEN FALSE ELSE k % 3 = 0 END AS origination_is_msg_sent,
       CAST(k AS BIGINT) AS origination_block_number,
       CAST(o_para AS BIGINT) AS origination_para_id,
       'xcmPallet' AS origination_section,
       'limitedReserveTransferAssets' AS origination_method,
       '5S' || CAST(k AS VARCHAR) AS origination_sender_ss58,
       '0x' || lpad(CAST(k AS VARCHAR), 64, '0') AS origination_sender_pub_key,
       CAST(amount_sent AS DOUBLE) AS origination_amount_sent,
       CAST(amount_sent AS DOUBLE) / 1e10 * price AS origination_amount_sent_usd,
       CASE WHEN k % 13 = 0 THEN 0.0
            ELSE CAST(k % 13 AS DOUBLE) / 10000 END AS origination_tx_fee,
       CASE WHEN k % 13 = 0 THEN 0.0
            ELSE CAST(k % 13 AS DOUBLE) / 10000 * price END AS origination_tx_fee_usd,
       symbol AS origination_tx_fee_symbol,
       k % 2 = 0 AS origination_is_fee_item,
       CAST(k AS BIGINT) AS origination_sent_at,
       status AS destination_execution_status,
       d_name AS destination_chain_name,
       d_id AS destination_id,
       CAST(d_para AS BIGINT) AS destination_para_id,
       '5B' || CAST(k AS VARCHAR) AS destination_beneficiary_ss58,
       '0xb' || lpad(CAST(k AS VARCHAR), 63, '0') AS destination_beneficiary_pub_key,
       CAST(k + 1 AS VARCHAR) || '-2' AS destination_extrinsic_id,
       CAST(k AS VARCHAR) || '-e5' AS destination_event_id,
       CAST(k + 1000 AS BIGINT) AS destination_block_number,
       strftime(make_timestamp(dest_ts * 1000000), '%Y-%m-%d %H:%M:%S.%f')
         AS destination_ts,
       CAST(amount_recv AS DOUBLE) AS destination_amount_received,
       CAST(amount_recv AS DOUBLE) / 1e10 * price AS destination_amount_received_usd,
       CAST(fee AS DOUBLE) AS destination_teleport_fee,
       CAST(fee AS DOUBLE) / 1e10 * price AS destination_teleport_fee_usd,
       symbol AS destination_teleport_fee_symbol,
       '{{"origination":{{"id":"' || o_id || '","chainName":"' || o_name
         || '","paraID":' || CAST(o_para AS VARCHAR)
         || ',"extrinsicHash":"0xt' || CAST(k AS VARCHAR)
         || '","extrinsicID":"' || CAST(k AS VARCHAR)
         || '-0","sender":"5S' || CAST(k AS VARCHAR)
         || '","blockNumber":' || CAST(k AS VARCHAR)
         || ',"section":"xcmPallet","method":"limitedReserveTransferAssets"'
         || ',"amountSent":' || CAST(amount_sent AS VARCHAR)
         || ',"ts":' || CAST(source_ts AS VARCHAR)
         || '}},"destination":{{"id":"' || d_id || '","chainName":"' || d_name
         || '","paraID":' || CAST(d_para AS VARCHAR)
         || ',"beneficiary":"5B' || CAST(k AS VARCHAR)
         || '","blockNumber":' || CAST(k + 1000 AS VARCHAR)
         || ',"eventID":"' || CAST(k AS VARCHAR)
         || '-e5","amountReceived":' || CAST(amount_recv AS VARCHAR)
         || ',"teleportFee":' || CAST(fee AS VARCHAR)
         || ',"ts":' || CAST(dest_ts AS VARCHAR)
         || ',"executionStatus":"' || status || '"}}}}' AS xcm_info,
       strftime(make_timestamp((1700000000 + k) * 1000000), '%Y-%m-%d %H:%M:%S.%f')
         AS xcm_info_last_update_time
FROM d
""",
    doc="The PUBLISHED wide xcmtransfers table (schema/xcmtransfers.json; "
    "dump_xcm flatten substrateetl.js:5068-5165): per order, one "
    "synthesized transfer with exactly one exact-match destination "
    "candidate (amountReceived + teleportFees == amountSent → confidence "
    "1.0) runs through the REAL plans.xcm.match_transfers (de-skewed "
    "composite-key band join) then plans.xcm.xcmtransfers_wide — double "
    "broadcast chain-dim decoration, the destStatus/executionStatus/"
    "amountReceived success rule (incl. an 'unknown' branch where the "
    "full amount burned as fees), fee/flag coalesces, and the canonical "
    "xcm_info JSON blob (compared as a STRING against the oracle's "
    "hand-concatenated JSON — byte-exact). The projection iterates "
    "schemas.XCMTRANSFERS_WIDE so names/order/types match the contract "
    "by construction.",
    tags=("pipeline", "join", "scalar"),
)
def xcmtransfers_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.xcm import match_transfers
    from polkadot_etl_spark.plans.xcm import xcmtransfers_wide as wide

    o = load_table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    k = F.col("k")
    ks = k.cast("string")
    amount_sent = (k % 100) * 1000 + 5000
    fee = F.when(k % 9 == 0, amount_sent).otherwise((k % 7) * 100)
    source_ts = F.lit(1600000000) + k * 7
    dest_ts = source_ts + k % 60
    price = (k % 50).cast("double") / 10
    symbol = F.concat(F.lit("S"), (k % 5).cast("string"))

    # r14 (guide §2.3/§8, the address_topn transplant — VERDICT #6):
    # match/rank on NARROW keys only, synthesize the wide decoration
    # row AFTER the rank. The old shape shipped all 34 synthesized
    # columns (two 64+-char pubkeys, hashes, JSON decorations — ~600 B/
    # row) through match_transfers' rank Exchange; everything below is
    # a pure function of k, so only the columns the match itself reads
    # (window keys, join keys, band ts, scoring amount) plus k itself
    # need to cross the exchange (~70 B/row).
    transfers = o.select(
        k.alias("k"),
        F.concat(ks, F.lit("-0")).alias("extrinsicID"),
        F.lit(0).cast("long").alias("transferIndex"),
        F.lit(0).cast("long").alias("xcmIndex"),
        (F.lit(2010) + k % 3).alias("chainIDDest"),
        symbol.alias("symbol"),
        amount_sent.alias("amountSent"),
        source_ts.alias("sourceTS"),
        F.concat(F.lit("0x"), F.lpad(ks, 8, "0")).alias("msgHash"),
    )
    # post-rank decoration: every column the wide projection reads that
    # the match does not — identical expressions to the pre-r14 form,
    # applied to the survivors' carried k
    _DECOR = {
        "extrinsicHash": F.concat(F.lit("0xt"), ks),
        "chainID": F.lit(2000) + k % 4,
        "blockNumber": k,
        "sentAt": k,
        "destStatus": (k % 2).cast("int"),
        # xcmInfo-side decorations the indexer packs onto the transfer row
        "destExecutionStatus": F.when(k % 9 == 0, F.lit("error")).otherwise(
            F.lit("success")
        ),
        "priceUSD": price,
        "amountSentUSD": amount_sent.cast("double") / F.lit(1e10) * price,
        "amountReceivedUSD": (amount_sent - fee).cast("double")
        / F.lit(1e10)
        * price,
        "section": F.lit("xcmPallet"),
        "method": F.lit("limitedReserveTransferAssets"),
        "txFee": F.when(k % 13 == 0, F.lit(None).cast("double")).otherwise(
            (k % 13).cast("double") / 10000
        ),
        "txFeeUSD": F.when(k % 13 == 0, F.lit(None).cast("double")).otherwise(
            (k % 13).cast("double") / 10000 * price
        ),
        "teleportFeeUSD": fee.cast("double") / F.lit(1e10) * price,
        "senderSS58": F.concat(F.lit("5S"), ks),
        "senderPubKey": F.concat(F.lit("0x"), F.lpad(ks, 64, "0")),
        "beneficiarySS58": F.concat(F.lit("5B"), ks),
        "beneficiaryPubKey": F.concat(F.lit("0xb"), F.lpad(ks, 63, "0")),
        "transactionHash": F.when(k % 2 == 0, F.concat(F.lit("0xevm"), ks)),
        "isMsgSent": F.when(k % 5 == 0, F.lit(None).cast("boolean")).otherwise(
            k % 3 == 0
        ),
        "isFeeItem": k % 2 == 0,
        "destExtrinsicID": F.concat((k + 1).cast("string"), F.lit("-2")),
        "xcmInfoLastUpdateTS": F.lit(1700000000) + k,
        "xcmInteriorKey": F.concat(F.lit("polkadot~S"), (k % 5).cast("string")),
    }
    candidates = o.select(
        F.concat(F.lit("0x"), F.lpad(ks, 8, "0")).alias("msgHash"),
        (F.lit(2010) + k % 3).alias("chainIDDest"),
        k.alias("sentAt"),
        dest_ts.alias("destTS"),
        (k + 1000).alias("blockNumberDest"),
        (amount_sent - fee).alias("amountReceived"),
        fee.alias("xcmTeleportFees"),
        F.concat(ks, F.lit("-e5")).alias("eventID"),
    )
    chain_ids = [2000, 2001, 2002, 2003, 2010, 2011, 2012]
    chains = local_frame(
        spark,
        [(c, f"chain{c}", f"Chain {c}", c - 2000) for c in chain_ids],
        "chainID: long, id: string, chain_name: string, para_id: long",
    )
    matched = match_transfers(transfers, candidates).withColumns(_DECOR).drop("k")
    w = wide(matched, chains)
    return w.select(
        *[
            s_ts(c).alias(c)
            if c in ("origination_ts", "destination_ts", "xcm_info_last_update_time")
            else F.col(c)
            for c in w.columns
        ]
    )


@query(
    "evm_accounts_daily",
    oracle=f"""
WITH t AS (
  SELECT o_orderdate AS d, o_custkey AS c, COUNT(*) AS n,
  FROM orders GROUP BY 1, 2
),
active AS (
  SELECT '0x' || lpad(CAST(c AS VARCHAR), 40, '0') AS address,
         strftime(d, '%Y-%m-%d %H:%M:%S.%f') AS ts,
         CAST(n AS BIGINT) AS transaction_count, d, c
  FROM t
),
touched AS (
  SELECT DISTINCT d, c AS a FROM t
  UNION
  SELECT DISTINCT d, c + 1 AS a FROM t
),
passive AS (
  SELECT '0x' || lpad(CAST(a AS VARCHAR), 40, '0') AS address,
         strftime(d, '%Y-%m-%d %H:%M:%S.%f') AS ts
  FROM touched x
  WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.d = x.d AND t.c = x.a)
)
SELECT 'active' AS kind, address, ts, transaction_count,
       CAST(NULL AS VARCHAR) AS para_id, CAST(NULL AS VARCHAR) AS relay_chain
FROM active
UNION ALL
SELECT 'passive' AS kind, address, ts, CAST(NULL AS BIGINT) AS transaction_count,
       '2004' AS para_id, 'polkadot' AS relay_chain
FROM passive
""",
    doc="The Frontier daily account metrics (schema/accountsevmactive.json "
    "+ accountsevmpassive.json; the EVM twin of the DEFINITIONS.md:30-178 "
    "accountsactive/passive builds): the REAL plans.evm.evmtxs_table "
    "silver (same _synth_evm_frames chain as evm_txn_fees) feeds "
    "accounts_evm_active (one groupBy (day, sender) with map-side "
    "partials) and accounts_evm_passive (transfer-touched addresses "
    "anti-joined against same-day senders on the co-partitioned "
    "(day, address) key). Active rows carry per-day transaction_count; "
    "passive rows carry the para_id/relay_chain decoration. The oracle "
    "recomputes both sets from orders directly (senders = custkey, "
    "receivers = custkey+1, passive = receivers with no same-day send).",
    tags=("pipeline", "agg", "anti"),
)
def evm_accounts_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.evm import (
        accounts_evm_active,
        accounts_evm_passive,
        evmtxs_table,
    )

    # generator fan-out (single-row-group test parquet; keyed on the
    # unique o_orderkey — no round-robin pre-sort): without it the whole
    # tx+receipt synthesis and the fee math run as ONE task
    txns, receipts = _synth_evm_frames(
        load_table(spark, sf_dir, "orders").transform(
            fan_out_scan(sf_dir, "orders", "o_orderkey")
        )
    )
    t = evmtxs_table(txns, receipts)
    transfers = t.select("from_address", "to_address", "block_timestamp")
    active = accounts_evm_active(t)
    passive = accounts_evm_passive(transfers, t, para_id="2004", relay_chain="polkadot")
    nulls = F.lit(None)
    return (
        active.select(
            F.lit("active").alias("kind"),
            F.col("from_address").alias("address"),
            s_ts("ts").alias("ts"),
            F.col("transaction_count"),
            nulls.cast("string").alias("para_id"),
            nulls.cast("string").alias("relay_chain"),
        )
        .unionByName(
            passive.select(
                F.lit("passive").alias("kind"),
                "address",
                s_ts("ts").alias("ts"),
                nulls.cast("long").alias("transaction_count"),
                "para_id",
                "relay_chain",
            )
        )
    )


@query(
    "balances_day_lifecycle",
    oracle="""
WITH c AS (SELECT c_custkey AS k FROM customer),
pd AS (
  SELECT k, i FROM c, (VALUES (0), (1), (2), (3)) d(i)
  WHERE (i = 0 AND k % 2 = 0) OR (i = 1 AND k % 3 = 0)
     OR (i = 2 AND k % 16 = 1) OR i = 3
),
seq AS (
  SELECT k, i, lag(i) OVER (PARTITION BY k ORDER BY i) AS pi,
         lead(i) OVER (PARTITION BY k ORDER BY i) AS ni
  FROM pd
),
newc AS (
  SELECT i AS di, COUNT(*) AS n FROM seq
  WHERE pi IS NULL OR i - pi > 1 GROUP BY i
),
reapedc AS (
  SELECT i + 1 AS di, COUNT(*) AS n FROM seq
  WHERE ni IS NULL OR ni - i > 1 GROUP BY i + 1
),
addr AS (SELECT i AS di, COUNT(*) AS n FROM pd GROUP BY i),
days AS (
  SELECT DISTINCT di FROM (
    SELECT di FROM newc UNION ALL SELECT di FROM reapedc
    UNION ALL SELECT di FROM addr)
),
daily AS (
  SELECT d.di, addr.n AS num_addresses,
         COALESCE(newc.n, 0) AS nn, COALESCE(reapedc.n, 0) AS nr,
         lag(addr.n) OVER (ORDER BY d.di) AS prior
  FROM days d
  LEFT JOIN addr ON addr.di = d.di
  LEFT JOIN newc ON newc.di = d.di
  LEFT JOIN reapedc ON reapedc.di = d.di
)
SELECT strftime(DATE '2023-01-01' + di, '%Y-%m-%d') AS log_dt,
       num_addresses,
       CASE WHEN prior IS NULL OR nn > (1 + prior) * 0.5
            THEN NULL ELSE nn END AS num_new_accounts,
       CASE WHEN prior IS NULL OR nr > (1 + prior) * 0.5
            THEN NULL ELSE nr END AS num_reaped_accounts
FROM daily
""",
    doc="The balances-day lifecycle publish (reference updateNativeBalances "
    "snapshot walk substrateetl.js:2905-3050 -> accountsnew/accountsreaped "
    "per DEFINITIONS.md:205-238, rolled into update_blocklog's "
    "numAddresses/numNewAccounts/numReapedAccounts with the :9407-9415 "
    "NULLIFY guard): four synthesized daily snapshots with presence rules "
    "chosen so every branch fires -- first-day news on an unknown prior "
    "day (nullified), sane mid-range news (kept), a gap reappearance, a "
    "mass-return day and a mass-reap day (both nullified by the 50% "
    "rule), and a zero-reaped day (kept). Runs the REAL "
    "plans.metrics.balances_day_rollup: one lag/lead window for "
    "lifecycle, map-side-partial day counts, day-axis lag for the prior "
    "total, reference-exact rat = count/(1+prior) > 0.5 nullify.",
    tags=("pipeline", "window", "agg"),
)
def balances_day_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.metrics import balances_day_rollup

    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    k = F.col("k")
    rules = [k % 2 == 0, k % 3 == 0, k % 16 == 1, F.lit(True)]
    snaps = None
    for i, rule in enumerate(rules):
        day = c.where(rule).select(
            F.concat(F.lit("0x"), F.lpad(k.cast("string"), 64, "0")).alias(
                "address_pubkey"
            ),
            F.concat(F.lit("5A"), k.cast("string")).alias("address_ss58"),
            F.lit(f"2023-01-0{i + 1} 00:00:00").cast("timestamp").alias("ts"),
        )
        snaps = day if snaps is None else snaps.unionByName(day)
    out = balances_day_rollup(snaps)
    return out.select(
        s_date("log_dt").alias("log_dt"),
        "num_addresses",
        "num_new_accounts",
        "num_reaped_accounts",
    )


@query(
    "xcm_messages_published",
    oracle="""
WITH e AS (
  -- FLOOR before the cast: Spark's unix_timestamp truncates sub-second
  -- parts while a bare CAST(DOUBLE AS BIGINT) in DuckDB rounds
  SELECT event_id AS k, CAST(FLOOR(epoch(ts)) AS BIGINT) AS bts,
         CASE event_type WHEN 'purchase' THEN 'xcmp' WHEN 'click' THEN 'ump'
                         ELSE 'dmp' END AS msg_type
  FROM events WHERE event_id % 4 = 0
)
SELECT '0x' || lpad(CAST(k AS VARCHAR), 8, '0') AS msg_hash,
       strftime(make_timestamp(bts * 1000000),
                '%Y-%m-%d %H:%M:%S.%f') AS origination_ts,
       CAST(k % 4 AS BIGINT) AS origination_para_id,
       CAST(10 + k % 3 AS BIGINT) AS destination_para_id,
       'chain' || CAST(2000 + k % 4 AS VARCHAR) AS origination_id,
       'chain' || CAST(2010 + k % 3 AS VARCHAR) AS destination_id,
       CAST(k AS BIGINT) AS relayed_at,
       CAST(k + 2 AS BIGINT) AS included_at,
       '{"v3": [{"clearOrigin": null}]}' AS msg,
       '0x' || lpad(CAST(k AS VARCHAR), 12, '0') AS msg_hex,
       msg_type,
       CASE WHEN k % 5 = 0 THEN NULL ELSE 'V' || CAST(2 + k % 2 AS VARCHAR) END
         AS version,
       CASE WHEN k % 7 = 0
            THEN '["polkadot~here"]' END AS xcm_interior_keys,
       CAST(NULL AS VARCHAR) AS xcm_interior_keys_unregistered
FROM e
""",
    doc="The PUBLISHED per-day xcm messages table (schema/xcm.json; the "
    "second flatten of dump_xcm, substrateetl.js:5176-5214): synthesized "
    "xcm MySQL rows (schemas.XCMMESSAGES naming) run through the REAL "
    "plans.xcm.xcm_messages_wide — double broadcast chain-dim decoration "
    "for origination/destination para_id + id, interior-key JSON "
    "passthrough, contract projection iterating schemas.XCM_WIDE. The "
    "oracle enumerates expected rows from events directly, including "
    "NULL version and NULL interior-key branches.",
    tags=("pipeline", "join"),
)
def xcm_messages_published(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.xcm import xcm_messages_wide

    e = load_table(spark, sf_dir, "events").where(F.col("event_id") % 4 == 0)
    k = F.col("event_id")
    ks = k.cast("string")
    messages = e.select(
        F.concat(F.lit("0x"), F.lpad(ks, 8, "0")).alias("msgHash"),
        (F.lit(2000) + k % 4).alias("chainID"),
        (F.lit(2010) + k % 3).alias("chainIDDest"),
        k.alias("relayedAt"),
        (k + 2).alias("includedAt"),
        F.when(F.col("event_type") == "purchase", "xcmp")
        .when(F.col("event_type") == "click", "ump")
        .otherwise("dmp")
        .alias("msgType"),
        F.unix_timestamp("ts").alias("blockTS"),
        F.lit('{"v3": [{"clearOrigin": null}]}').alias("msgStr"),
        F.concat(F.lit("0x"), F.lpad(ks, 12, "0")).alias("msgHex"),
        F.when(k % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("V"), (2 + k % 2).cast("string")))
        .alias("version"),
        F.when(k % 7 == 0, F.lit('["polkadot~here"]')).alias("xcmInteriorKeys"),
        F.lit(None).cast("string").alias("xcmInteriorKeysUnregistered"),
    )
    chain_ids = [2000, 2001, 2002, 2003, 2010, 2011, 2012]
    chains = local_frame(
        spark,
        [(c, f"chain{c}", c - 2000) for c in chain_ids],
        "chainID: long, id: string, para_id: long",
    )
    w = xcm_messages_wide(messages, chains)
    return w.select(
        *[
            s_ts(c).alias(c) if c == "origination_ts" else F.col(c)
            for c in w.columns
        ]
    )


@query(
    "snapshots_pricefeed",
    oracle="""
WITH e AS (
  SELECT event_id AS k, ts, epoch(ts) AS ets,
         'TKN' || CAST(event_id % 7 AS VARCHAR) AS sym
  FROM events WHERE event_type = 'purchase'
),
canon AS (
  SELECT k, sym, ets, CAST(FLOOR(ets / 3600) * 3600 AS BIGINT) AS hts,
         ROW_NUMBER() OVER (PARTITION BY sym, CAST(FLOOR(ets / 3600) * 3600 AS BIGINT)
                            ORDER BY k) AS rn
  FROM e
)
SELECT 'polkadot' AS relay_chain, '0' AS para_id, 'polkadot' AS id,
       'Polkadot' AS chain_name,
       strftime(make_timestamp(hts * 1000000), '%Y-%m-%d %H:%M:%S.%f') AS ts,
       CAST(k % 1000000 AS BIGINT) AS block_number,
       '0xb' || CAST(k AS VARCHAR) AS block_hash,
       CAST(NULL AS VARCHAR) AS address_ss58,
       CAST(NULL AS VARCHAR) AS address_pubkey,
       'pricefeed' AS section, 'price' AS storage,
       'coingecko' AS track, sym AS track_val,
       '{"asset":"' || sym || '"}' AS kv,
       '{"decimals":10,"price_raw":' || CAST(k % 100000 AS VARCHAR) || '}' AS pv,
       'coingecko' AS source
FROM canon WHERE rn = 1
""",
    doc="The generic hourly state-snapshot publish (schema/snapshots.json; "
    "priceManager.js:1007-1060 coingecko feed rows): synthesized price "
    "observations normalize through the REAL plans.snapshots."
    "snapshot_rows — canonical-hour bucketing (floor(ts/3600)*3600, "
    "integer epoch math in codegen), the reference's first-observation-"
    "per-(symbol, hour) `hit` dedup as one rank window, kv/pv packed as "
    "canonical JSON via to_json (integral fields, engine-stable), chain "
    "identity decoration, and the contract projection iterating "
    "schemas.SNAPSHOTS. The oracle recomputes the dedup and blobs "
    "directly from events.",
    tags=("pipeline", "window", "scalar"),
)
def snapshots_pricefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.snapshots import snapshot_rows

    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    k = F.col("event_id")
    sym = F.concat(F.lit("TKN"), (k % 7).cast("string"))
    snaps = snapshot_rows(
        e,
        section="pricefeed",
        storage="price",
        source="coingecko",
        chain={
            "relay_chain": "polkadot",
            "para_id": 0,
            "id": "polkadot",
            "chain_name": "Polkadot",
        },
        block_number=k % 1000000,
        block_hash=F.concat(F.lit("0xb"), k.cast("string")),
        ts=F.col("ts"),
        track=F.lit("coingecko"),
        track_val=sym,
        kv=F.struct(sym.alias("asset")),
        pv=F.struct(
            F.lit(10).alias("decimals"), (k % 100000).alias("price_raw")
        ),
        dedup_first_per_hour=True,
        order_col="event_id",
    )
    return snaps.select(
        *[
            s_ts(c).alias(c) if c == "ts" else F.col(c)
            for c in snaps.columns
        ]
    )


# ---------------------------------------------------------------------------
# The cluster-trace reference table: F4 storage-trace decode driven through
# the driver gate (previously pytest-only).
# ---------------------------------------------------------------------------

# twox_128("System") ++ twox_128("Account") — deterministic storage-key
# prefix, computed once by the same hasher the plan's dim uses.
_SYS_ACCT_PREFIX = "26aa394eea5630e07c48ae0c9558cef7b99d880ec681799c0cf30e8886371da9"


@query(
    "cluster_trace_reference",
    oracle=f"""
WITH o AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 = 1),
d AS (
  SELECT k, k % 7 AS nonce, k % 3 AS consumers, 1 AS providers,
         k % 2 AS sufficients, k % 250 AS free_b, (k * 7) % 250 AS reserved_b
  FROM o
)
SELECT CAST(k AS VARCHAR) || '-0' AS extrinsic_id,
       '0x' || lpad(CAST(k AS VARCHAR), 64, '0') AS address_pubkey,
       'System' AS section, 'Account' AS storage,
       CAST(k AS BIGINT) AS block_number,
       '0xe' || CAST(k AS VARCHAR) AS extrinsic_hash,
       CASE WHEN k % 2 = 0 THEN 'balances' ELSE 'staking' END AS ext_section,
       CASE WHEN k % 2 = 0 THEN 'transfer' ELSE 'bond' END AS ext_method,
       CAST(nonce AS BIGINT) AS nonce,
       CAST(consumers AS BIGINT) AS consumers,
       CAST(providers AS BIGINT) AS providers,
       CAST(sufficients AS BIGINT) AS sufficients,
       CAST(free_b AS BIGINT) AS free,
       CAST(reserved_b AS BIGINT) AS reserved,
       CAST(0 AS BIGINT) AS frozen,
       CAST(free_b AS VARCHAR) AS free_raw,
       CAST(reserved_b AS VARCHAR) AS reserved_raw,
       '0' AS frozen_raw
FROM d
""",
    doc="The cluster-trace reference table (substrateetl.js:7447 CREATE "
    "TABLE target_clustertracereference0: System.Account traces LEFT "
    "JOIN extrinsics on extrinsic_id with the AccountInfo fields "
    "extracted): synthesized raw (k, v) trace rows — REAL twox_128 "
    "System.Account key prefixes, SCALE-encoded LE AccountInfo values "
    "built hex-byte by hex-byte — decode through the REAL "
    "plans.traces.parse_traces (broadcast storage-key dim, native LE→BE "
    "conv decode, full-range *_raw string duals) and join the extrinsic "
    "decoration exactly like the reference's derived table. The oracle "
    "recomputes every decoded field from the order keys directly, so "
    "the whole hex encode→prefix-match→SCALE-decode path is "
    "hash-verified.",
    tags=("pipeline", "scalar", "join"),
)
def cluster_trace_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.traces import parse_traces, storage_keys_dim

    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 3 == 1)
    k = F.col("o_orderkey")
    ks = k.cast("string")

    def hex2(c: Column) -> Column:
        return F.lpad(F.lower(F.hex(c)), 2, "0")

    def u32le(c: Column) -> Column:
        return F.concat(hex2(c), F.lit("000000"))

    def u128le(c: Column) -> Column:
        return F.concat(hex2(c), F.lit("0" * 30))

    pubkey_hex = F.lpad(ks, 64, "0")
    key = F.concat(F.lit("0x" + _SYS_ACCT_PREFIX), F.lit("cd" * 16), pubkey_hex)
    val = F.concat(
        F.lit("0x"),
        u32le(k % 7),  # nonce
        u32le(k % 3),  # consumers
        u32le(F.lit(1)),  # providers
        u32le(k % 2),  # sufficients
        u128le(k % 250),  # free
        u128le((k * 7) % 250),  # reserved
        u128le(F.lit(0)),  # frozen
    )
    traces = o.select(
        F.concat(ks, F.lit("-0")).alias("trace_id"),
        F.concat(ks, F.lit("-0")).alias("extrinsic_id"),
        k.alias("block_number"),
        key.alias("k"),
        val.alias("v"),
        # the six u128 limb decodes are BigDecimal-heavy (~70us/row/col)
        # and a compact orders parquet arrives as 1-2 splits — spread the
        # decode across the executor cores (measured 24s -> ~1.5s at
        # sf0.1); the exchange also materializes the synthesized k/v hex
        # once instead of per decoded column
    ).repartition(spark.sparkContext.defaultParallelism, "block_number")
    dim = storage_keys_dim(
        spark,
        [("System", "Account", "AccountInfo"), ("Balances", "TotalIssuance", "u128")],
    )
    decoded = parse_traces(traces, dim)
    extrinsics = o.select(
        F.concat(ks, F.lit("-0")).alias("__xid"),
        F.concat(F.lit("0xe"), ks).alias("extrinsic_hash"),
        F.when(k % 2 == 0, "balances").otherwise("staking").alias("ext_section"),
        F.when(k % 2 == 0, "transfer").otherwise("bond").alias("ext_method"),
    )
    j = decoded.join(
        extrinsics, decoded.extrinsic_id == extrinsics.__xid, "left"
    )
    return j.select(
        "extrinsic_id",
        "address_pubkey",
        "section",
        "storage",
        "block_number",
        "extrinsic_hash",
        "ext_section",
        "ext_method",
        F.col("nonce").cast("long").alias("nonce"),
        F.col("consumers").cast("long").alias("consumers"),
        F.col("providers").cast("long").alias("providers"),
        F.col("sufficients").cast("long").alias("sufficients"),
        F.col("free").cast("long").alias("free"),
        F.col("reserved").cast("long").alias("reserved"),
        F.col("frozen").cast("long").alias("frozen"),
        "free_raw",
        "reserved_raw",
        "frozen_raw",
    )


@query(
    "snapshots_staking_era",
    oracle="""
WITH s AS (
  SELECT s_nationkey AS era, 'v' || CAST(s_suppkey AS VARCHAR) AS validator,
         s_suppkey % 1000 + 1 AS point
  FROM supplier
),
agg AS (
  SELECT era, CAST(SUM(point) AS BIGINT) AS total,
         '[' || string_agg('{"point":' || CAST(point AS VARCHAR)
                           || ',"validator":"' || validator || '"}', ','
                           ORDER BY point, validator) || ']' AS weights
  FROM s GROUP BY era
)
SELECT 'polkadot' AS relay_chain, '0' AS para_id, 'polkadot' AS id,
       'Polkadot' AS chain_name,
       strftime(make_timestamp(CAST(FLOOR((1700000000 + era * 3600) / 3600) * 3600
                                    AS BIGINT) * 1000000),
                '%Y-%m-%d %H:%M:%S.%f') AS ts,
       CAST(1000 + era * 100 AS BIGINT) AS block_number,
       '0xera' || CAST(era AS VARCHAR) AS block_hash,
       CAST(NULL AS VARCHAR) AS address_ss58,
       CAST(NULL AS VARCHAR) AS address_pubkey,
       'Staking' AS section, 'ErasRewardPoints' AS storage,
       'era' AS track, CAST(era AS VARCHAR) AS track_val,
       CAST(NULL AS VARCHAR) AS kv,
       '{"total":' || CAST(total AS VARCHAR) || ',"weights":' || weights || '}' AS pv,
       'onchain' AS source
FROM agg
""",
    doc="The staking-era snapshot producer (substrateetl.js:7790-7818: "
    "one ErasRewardPoints snapshot row per era with the per-validator "
    "point weights packed into pv): per-era totals + a sorted "
    "array<struct> of validator points aggregated from supplier rows, "
    "normalized through the REAL plans.snapshots.snapshot_rows — the pv "
    "blob is to_json of the NESTED struct (array of structs renders "
    "natively, no string re-escaping), compared byte-exact against the "
    "oracle's string_agg-built JSON. One groupBy(era) shuffle with "
    "map-side partials; the snapshot projection is a pure map.",
    tags=("pipeline", "agg", "scalar"),
)
def snapshots_staking_era(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.snapshots import snapshot_rows

    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("era"),
        F.concat(F.lit("v"), F.col("s_suppkey").cast("string")).alias("validator"),
        (F.col("s_suppkey") % 1000 + 1).alias("point"),
    )
    agg = s.groupBy("era").agg(
        F.sum("point").alias("total"),
        F.sort_array(
            F.collect_list(F.struct(F.col("point"), F.col("validator")))
        ).alias("weights"),
    )
    snaps = snapshot_rows(
        agg,
        section="Staking",
        storage="ErasRewardPoints",
        source="onchain",
        chain={
            "relay_chain": "polkadot",
            "para_id": 0,
            "id": "polkadot",
            "chain_name": "Polkadot",
        },
        block_number=F.lit(1000) + F.col("era") * 100,
        block_hash=F.concat(F.lit("0xera"), F.col("era").cast("string")),
        ts=F.timestamp_seconds(F.lit(1700000000) + F.col("era") * 3600),
        track=F.lit("era"),
        track_val=F.col("era").cast("string"),
        pv=F.struct(F.col("total"), F.col("weights")),
    )
    return snaps.select(
        *[s_ts(c).alias(c) if c == "ts" else F.col(c) for c in snaps.columns]
    )


@query(
    "users_tags_attribution",
    oracle="""
WITH t AS (
  SELECT '0x' || lpad(CAST(l_suppkey AS VARCHAR), 64, '0') AS from_pub_key,
         '0x' || lpad(CAST(o_custkey AS VARCHAR), 64, '0') AS to_pub_key,
         l_extendedprice AS amount,
         CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
           AS extrinsic_id,
         o_orderdate AS ts
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
lab AS (
  SELECT '0x' || lpad(CAST(s_suppkey AS VARCHAR), 64, '0') AS address_pubkey,
         'EX' || CAST(s_suppkey % 12 AS VARCHAR) AS address_label,
         CASE WHEN s_suppkey % 9 = 0 THEN 'Scams' ELSE 'Exchange' END
           AS account_type
  FROM supplier WHERE s_suppkey % 4 <> 1
),
pairs AS (
  SELECT from_pub_key, to_pub_key,
         SUM(CAST(amount AS DECIMAL(38,10))) AS amount,
         COUNT(*) AS transfer_cnt,
         MIN(extrinsic_id) AS extrinsic_id,
         MIN(ts) AS ts
  FROM t GROUP BY 1, 2
),
outgoing AS (
  SELECT p.to_pub_key AS user_pubkey,
         COALESCE(l.address_label, 'other') AS known_label,
         p.from_pub_key, p.extrinsic_id, p.transfer_cnt, p.amount, p.ts
  FROM pairs p
  LEFT JOIN (SELECT * FROM lab WHERE account_type <> 'Scams') l
    ON l.address_pubkey = p.from_pub_key
),
rolled AS (
  SELECT user_pubkey,
         array_to_string(list_sort(list(DISTINCT known_label)), ',') AS known_labels,
         SUM(amount) AS amount,
         CAST(SUM(transfer_cnt) AS BIGINT) AS transfer_cnt,
         MIN(lpad(CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) AS VARCHAR), 20, '0')
             || '_' || extrinsic_id || '_' || from_pub_key || '_' || known_label)
           AS attribution
  FROM outgoing GROUP BY user_pubkey
)
SELECT user_pubkey, known_labels,
       CAST(CAST(amount AS VARCHAR) AS DOUBLE) AS amount,
       transfer_cnt,
       CAST(CAST(string_split(attribution, '_')[1] AS BIGINT) AS VARCHAR)
         AS first_transfer_ts,
       string_split(attribution, '_')[2] AS first_transfer_extrinsic_id,
       string_split(attribution, '_')[3] AS first_transfer_sender_pub_key,
       string_split(attribution, '_')[4] AS first_transfer
FROM rolled
""",
    doc="The full_users attribution table — dump_users_tags "
    "(substrateetl.js:603-637, knownpubs/exchanges branches; dim "
    "contract schema/knownpubs.json): transfer pair rollup, sender "
    "label decoration ('other' when unlabeled, Scam senders excluded "
    "from the dim BEFORE the left join — the reference's post-join "
    "WHERE collapses its own LEFT JOIN), min-concat first-funder "
    "attribution with zero-padded timestamps, per-user label-set / "
    "amount / count rollup, attribution split back into the four "
    "first_transfer_* fields. Two shuffles total (pair key, user key); "
    "the label dim broadcasts; amounts are exact decimal sums. Bronze "
    "synthesized from lineitem x orders (sender = supplier pubkey, "
    "receiver = customer pubkey); real pipeline: "
    "plans/feeds.py users_tags_table.",
    tags=("join", "agg", "pipeline"),
)
def users_tags_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.feeds import users_tags_table

    # generator fan-out (like passage_dedup_ngrams): the test parquet is
    # single-row-group, so without this the whole synth (pubkey concat +
    # broadcast probe over 600k rows at sf0.1) runs as ONE task —
    # measured 2.4x (4.7s -> 2.0s). Real day partitions split naturally.
    # Keyed on the session's parallelism (r13 VERDICT #5: the literal 32
    # under-parallelized larger clusters).
    li = load_table(spark, sf_dir, "lineitem").transform(
        fan_out_scan(sf_dir, "lineitem", "l_orderkey", "l_linenumber")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    transfers = li.join(o, li.l_orderkey == o.o_orderkey).select(
        _pk(F.col("l_suppkey")).alias("from_pub_key"),
        _pk(F.col("o_custkey")).alias("to_pub_key"),
        F.col("l_extendedprice").alias("amount"),
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")).alias("extrinsic_id"),
        F.col("o_orderdate").alias("ts"),
    )
    labels = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") % 4 != 1)
        .select(
            _pk(F.col("s_suppkey")).alias("address_pubkey"),
            F.concat(F.lit("EX"), (F.col("s_suppkey") % 12).cast("string")).alias(
                "address_label"
            ),
            F.when(F.col("s_suppkey") % 9 == 0, "Scams")
            .otherwise("Exchange")
            .alias("account_type"),
        )
    )
    return users_tags_table(transfers, labels)


# ---------------------------------------------------------------------------
# Published-table audit: the reference's audit_substrateetl cross-check
# ---------------------------------------------------------------------------

_AUDIT_DAY = 256  # blocks per audit window (stands in for a UTC day)
_AUDIT_SAMPLE_CAP = 30  # reference: full list below 30 missing, 5+5 sample above


@query(
    "audit_row_counts",
    oracle=f"""
WITH src AS (
  SELECT event_id AS bn, CAST(event_id // {_AUDIT_DAY} AS BIGINT) AS day_id
  FROM events WHERE event_id % 997 <> 0
),
d AS (
  SELECT day_id, MIN(bn) AS bn0, MAX(bn) AS bn1, COUNT(*) AS nrecs,
         list(bn ORDER BY bn) FILTER (WHERE bn % 97 <> 0) AS b_arr,
         list(bn ORDER BY bn)
           FILTER (WHERE bn % 101 <> 0
                   AND NOT (day_id = 1 AND bn % {_AUDIT_DAY} < 64)) AS x_arr,
         list(bn ORDER BY bn) FILTER (WHERE bn % 89 <> 0) AS e_arr
  FROM src GROUP BY day_id
),
m AS (
  SELECT day_id, bn0, bn1, nrecs, bn1 - bn0 + 1 AS expected_cnt,
         list_filter(generate_series(bn0, bn1),
                     x -> NOT list_contains(b_arr, x)) AS b_miss,
         list_filter(generate_series(bn0, bn1),
                     x -> NOT list_contains(x_arr, x)) AS x_miss,
         list_filter(generate_series(bn0, bn1),
                     x -> NOT list_contains(e_arr, x)) AS e_miss
  FROM d
)
SELECT day_id, bn0, bn1, expected_cnt, nrecs,
       expected_cnt = nrecs AS source_ok,
       CASE WHEN expected_cnt = nrecs THEN CAST(len(b_miss) AS INTEGER) END AS blocks_nmissing,
       CASE WHEN expected_cnt = nrecs THEN CAST(len(x_miss) AS INTEGER) END AS extrinsics_nmissing,
       CASE WHEN expected_cnt = nrecs THEN CAST(len(e_miss) AS INTEGER) END AS events_nmissing,
       CASE WHEN expected_cnt = nrecs THEN
         CASE WHEN len(b_miss) >= {_AUDIT_SAMPLE_CAP}
              THEN array_to_string(list_slice(b_miss, 1, 5)
                     || list_slice(b_miss, len(b_miss) - 4, len(b_miss)), ',')
              ELSE COALESCE(array_to_string(b_miss, ','), '') END
       END AS blocks_missing_sample,
       CASE WHEN expected_cnt = nrecs THEN
         CASE WHEN len(x_miss) >= {_AUDIT_SAMPLE_CAP}
              THEN array_to_string(list_slice(x_miss, 1, 5)
                     || list_slice(x_miss, len(x_miss) - 4, len(x_miss)), ',')
              ELSE COALESCE(array_to_string(x_miss, ','), '') END
       END AS extrinsics_missing_sample,
       CASE WHEN expected_cnt = nrecs THEN
         CASE WHEN len(e_miss) >= {_AUDIT_SAMPLE_CAP}
              THEN array_to_string(list_slice(e_miss, 1, 5)
                     || list_slice(e_miss, len(e_miss) - 4, len(e_miss)), ',')
              ELSE COALESCE(array_to_string(e_miss, ','), '') END
       END AS events_missing_sample,
       CASE WHEN expected_cnt <> nrecs THEN 'SourceCountMismatch'
            WHEN len(b_miss) + len(x_miss) + len(e_miss) > 0 THEN 'Failed'
            ELSE 'Success' END AS audited
FROM m
""",
    doc="The reference's production audit as a declarative plan "
    "(audit_substrateetl, substrateetl.js:3206-3300): per day-window, "
    "compare the source block range (bn1-bn0+1) against the actual "
    "record count; when they agree, enumerate the expected range and "
    "diff it against each published table (blocks/extrinsics/events), "
    "reporting per-table missing counts and the reference's exact "
    "missing-block sample rule (full list under 30, first-5 + last-5 "
    "sample at >= 30; the source-mismatch branch skips table audits, "
    "surfaced here as an explicit 'SourceCountMismatch' status where "
    "the reference records the error text in auditResult). Scale shape: "
    "ONE shuffle total — a single groupBy(day) builds the present-block "
    "arrays for all three tables via conditional collect_lists, and the "
    "range-diff (sequence + array_except) is map-side array math on "
    "day-bounded groups, exactly the per-day enumeration the reference "
    "does driver-side with JS objects. Synthetic holes: source drops "
    "bn %% 997 (mismatch branch), tables drop mod-97/101/89 multiples, "
    "plus one dense 64-block gap (sample-cap branch).",
    tags=("pipeline", "agg", "audit"),
)
def audit_row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(F.col("event_id").alias("bn"))
    src = e.where(F.col("bn") % 997 != 0)
    bn, day = F.col("bn"), (F.col("bn") / _AUDIT_DAY).cast("long")
    blocks_ok = bn % 97 != 0
    extr_ok = (bn % 101 != 0) & ~((day == 1) & (bn % _AUDIT_DAY < 64))
    events_ok = bn % 89 != 0
    g = (
        src.withColumn("day_id", day)
        .groupBy("day_id")
        .agg(
            F.min("bn").alias("bn0"),
            F.max("bn").alias("bn1"),
            F.count(F.lit(1)).alias("nrecs"),
            F.sort_array(F.collect_list(F.when(blocks_ok, bn))).alias("b_arr"),
            F.sort_array(F.collect_list(F.when(extr_ok, bn))).alias("x_arr"),
            F.sort_array(F.collect_list(F.when(events_ok, bn))).alias("e_arr"),
        )
    )
    expected = F.sequence(F.col("bn0"), F.col("bn1"))
    expected_cnt = F.col("bn1") - F.col("bn0") + 1
    source_ok = expected_cnt == F.col("nrecs")

    def miss(arr: str) -> Column:
        return F.array_except(expected, F.col(arr))

    def sample(m: Column) -> Column:
        n = F.size(m)
        capped = F.concat(F.slice(m, 1, 5), F.slice(m, n - 4, 5))
        return F.when(
            source_ok,
            F.array_join(F.when(n >= _AUDIT_SAMPLE_CAP, capped).otherwise(m), ","),
        )

    b_miss, x_miss, e_miss = miss("b_arr"), miss("x_arr"), miss("e_arr")
    return g.select(
        "day_id",
        "bn0",
        "bn1",
        expected_cnt.alias("expected_cnt"),
        "nrecs",
        source_ok.alias("source_ok"),
        F.when(source_ok, F.size(b_miss)).alias("blocks_nmissing"),
        F.when(source_ok, F.size(x_miss)).alias("extrinsics_nmissing"),
        F.when(source_ok, F.size(e_miss)).alias("events_nmissing"),
        sample(b_miss).alias("blocks_missing_sample"),
        sample(x_miss).alias("extrinsics_missing_sample"),
        sample(e_miss).alias("events_missing_sample"),
        F.when(~source_ok, F.lit("SourceCountMismatch"))
        .when(F.size(b_miss) + F.size(x_miss) + F.size(e_miss) > 0, "Failed")
        .otherwise("Success")
        .alias("audited"),
    )


# ---------------------------------------------------------------------------
# addressTopN: the reference's precomputed per-metric rank tables
# ---------------------------------------------------------------------------

# The 15-metric enum from the reference's addressTopN table
# (polkaholic.sql:89-104), in enum order.  Both the Spark unpivot and the
# oracle's UNION-ALL unpivot are generated from THIS list, so the two
# sides cannot drift.
_TOPN_METRICS = [
    "balanceUSD",
    "numChains",
    "numAssets",
    "numTransfersIn",
    "avgTransferInUSD",
    "sumTransferInUSD",
    "numTransfersOut",
    "avgTransferOutUSD",
    "sumTransferOutUSD",
    "numExtrinsics",
    "numExtrinsicsDefi",
    "numCrowdloans",
    "numSubAccounts",
    "numRewards",
    "rewardsUSD",
]
_TOPN_N = 25


@query(
    "address_topn_metrics",
    oracle=f"""
WITH oa AS (
  SELECT o_custkey AS k, COUNT(*) AS n_out,
         {d_decsum('o_totalprice')} AS sum_out,
         COUNT(*) FILTER (WHERE o_orderpriority LIKE '1%') AS n_crowd,
         COUNT(DISTINCT o_orderpriority) AS n_chains
  FROM orders GROUP BY 1
),
la AS (
  SELECT o.o_custkey AS k, COUNT(*) AS n_in,
         {d_decsum('l_extendedprice')} AS sum_in,
         COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_defi,
         COUNT(*) FILTER (WHERE l_returnflag = 'R') AS n_rewards,
         {d_decsum("CASE WHEN l_returnflag = 'R' THEN l_extendedprice * l_discount END")}
           AS rewards_usd,
         COUNT(DISTINCT l_partkey) AS n_assets
  FROM lineitem JOIN orders o ON l_orderkey = o.o_orderkey GROUP BY 1
),
s AS (
  SELECT '0x' || lpad(CAST(c_custkey AS VARCHAR), 64, '0') AS address,
         c_acctbal AS "balanceUSD",
         CAST(COALESCE(n_chains, 0) AS DOUBLE) AS "numChains",
         CAST(COALESCE(n_assets, 0) AS DOUBLE) AS "numAssets",
         CAST(COALESCE(n_in, 0) AS DOUBLE) AS "numTransfersIn",
         CASE WHEN n_in > 0 THEN sum_in / n_in END AS "avgTransferInUSD",
         COALESCE(sum_in, 0) AS "sumTransferInUSD",
         CAST(COALESCE(n_out, 0) AS DOUBLE) AS "numTransfersOut",
         CASE WHEN n_out > 0 THEN sum_out / n_out END AS "avgTransferOutUSD",
         COALESCE(sum_out, 0) AS "sumTransferOutUSD",
         CAST(COALESCE(n_out, 0) + COALESCE(n_in, 0) AS DOUBLE) AS "numExtrinsics",
         CAST(COALESCE(n_defi, 0) AS DOUBLE) AS "numExtrinsicsDefi",
         CAST(COALESCE(n_crowd, 0) AS DOUBLE) AS "numCrowdloans",
         CAST(c_custkey % 4 AS DOUBLE) AS "numSubAccounts",
         CAST(COALESCE(n_rewards, 0) AS DOUBLE) AS "numRewards",
         COALESCE(rewards_usd, 0) AS "rewardsUSD"
  FROM customer LEFT JOIN oa ON c_custkey = oa.k LEFT JOIN la ON c_custkey = la.k
),
u AS (
  {" UNION ALL ".join(f'''SELECT address, "balanceUSD" AS balance_usd, '{m}' AS "topN", "{m}" AS val FROM s''' for m in _TOPN_METRICS)}
)
SELECT "topN", N, address, val, balance_usd AS "balanceUSD"
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY "topN" ORDER BY val DESC, address)
                 AS INTEGER) AS N
  FROM u WHERE val IS NOT NULL
) WHERE N <= {_TOPN_N}
""",
    doc="The addressTopN precomputed rank tables (SURVEY A11/T3; "
    "polkaholic.sql:89-104 enum of 15 lifetime metrics, read path "
    "query.js:4349-4427): one wide per-address lifetime-stats pass "
    "(A13 shape — orders and lineitem each aggregate ONCE on the "
    "address key), the 15 metrics unpivot via stack() into "
    "(topN, val) rows, and each metric's top-25 is a rank window that "
    "Catalyst's rank-limit pushdown (SPARK-37099) executes two-phase: "
    "a PARTIAL WindowGroupLimit keeps each input partition's local "
    "top-25 per metric BEFORE the exchange, so despite only 15 metric "
    "groups no task ever holds a metric's full address set (the plan "
    "test pins the WindowGroupLimit pair; a hand-rolled salted "
    "two-phase stage was measured to add one extra Exchange for the "
    "same bound). All value columns are engine-exact "
    "(decimal sums emitted as double, single IEEE division for "
    "averages, val DESC + address tie-break total order).",
    tags=("agg", "window", "topn"),
)
def address_topn_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.operators.topn import top_n_per_group

    def decsum(c: Column) -> Column:
        return F.sum(c.cast("decimal(38,10)")).cast("double")

    o = load_table(spark, sf_dir, "orders")
    # r13 (guide §2.5): the lineitem-side join + 6-metric partial agg is
    # the query's heavy stage and ran in one effective scan task
    # (event-log profile: ntasks=1, ~1.8 s); fan the needed columns out
    # on the join key before it.
    li = load_table(spark, sf_dir, "lineitem").transform(
        fan_out_scan(sf_dir, "lineitem", "l_orderkey")
    )
    c = load_table(spark, sf_dir, "customer")
    oa = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_out"),
        decsum(F.col("o_totalprice")).alias("sum_out"),
        F.count(F.when(F.col("o_orderpriority").like("1%"), 1)).alias("n_crowd"),
        F.countDistinct("o_orderpriority").alias("n_chains"),
    )
    la = (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_in"),
            decsum(F.col("l_extendedprice")).alias("sum_in"),
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_defi"),
            F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_rewards"),
            decsum(
                F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice") * F.col("l_discount"))
            ).alias("rewards_usd"),
            F.countDistinct("l_partkey").alias("n_assets"),
        )
    )
    z = F.lit(0).cast("long")

    def cnt(name: str) -> Column:
        return F.coalesce(F.col(name), z).cast("double")

    # rank on the NARROW custkey and synthesize the address string only
    # for the <= 15*25 surviving rows (r13, guide §2.3): address =
    # '0x' || lpad(custkey, 64, '0') is fixed-width zero-padded, so its
    # lexicographic order IS the numeric custkey order — the tie-break
    # is unchanged while the WindowGroupLimit sort compares longs
    # instead of 66-char strings and the unpivot carries ~3x fewer
    # bytes per row
    stats = (
        c.join(oa, c.c_custkey == oa.k, "left")
        .join(la, c.c_custkey == la.k, "left")
        .select(
            F.col("c_custkey").alias("ck"),
            F.col("c_acctbal").alias("balanceUSD"),
            cnt("n_chains").alias("numChains"),
            cnt("n_assets").alias("numAssets"),
            cnt("n_in").alias("numTransfersIn"),
            F.when(F.col("n_in") > 0, F.col("sum_in") / F.col("n_in")).alias("avgTransferInUSD"),
            F.coalesce("sum_in", F.lit(0.0)).alias("sumTransferInUSD"),
            cnt("n_out").alias("numTransfersOut"),
            F.when(F.col("n_out") > 0, F.col("sum_out") / F.col("n_out")).alias("avgTransferOutUSD"),
            F.coalesce("sum_out", F.lit(0.0)).alias("sumTransferOutUSD"),
            (F.coalesce(F.col("n_out"), z) + F.coalesce(F.col("n_in"), z))
            .cast("double")
            .alias("numExtrinsics"),
            cnt("n_defi").alias("numExtrinsicsDefi"),
            cnt("n_crowd").alias("numCrowdloans"),
            (F.col("c_custkey") % 4).cast("double").alias("numSubAccounts"),
            cnt("n_rewards").alias("numRewards"),
            F.coalesce("rewards_usd", F.lit(0.0)).alias("rewardsUSD"),
        )
    )
    stack_expr = "stack({}, {}) as (topN, val)".format(
        len(_TOPN_METRICS), ", ".join(f"'{m}', `{m}`" for m in _TOPN_METRICS)
    )
    unpivoted = stats.select(
        "ck", F.col("balanceUSD").alias("balance_usd"), F.expr(stack_expr)
    ).where(F.col("val").isNotNull())
    ranked = top_n_per_group(
        unpivoted,
        ["topN"],
        [F.col("val").desc(), F.col("ck").asc()],
        _TOPN_N,
        rank_col="N",
    )
    return ranked.select(
        "topN",
        "N",
        _pk(F.col("ck")).alias("address"),
        "val",
        F.col("balance_usd").alias("balanceUSD"),
    )


# ---------------------------------------------------------------------------
# Skew mitigation through the driver gate (operators/skew.py)
# ---------------------------------------------------------------------------


@query(
    "skewed_hotkey_rollup",
    oracle=f"""
WITH f AS (
  SELECT CASE WHEN event_id % 5 < 2 THEN 'hot-wallet'
              ELSE 'u' || CAST(user_id % 97 AS VARCHAR) END AS address,
         value
  FROM events
)
SELECT address, COUNT(*) AS n_events,
       {d_decsum('COALESCE(value, 0)')} AS total_value
FROM f GROUP BY address
""",
    doc="Salted two-level aggregation driven through the driver gate "
    "(operators/skew.py salted_agg — the explicit form of the hot-key "
    "mitigation AQE can't do for aggregations): 40% of the event "
    "stream is routed to ONE hot address (the reference's exchange "
    "hot-wallet shape that addressTopN exists for), and the rollup "
    "first aggregates on (address, salt) — splitting the hot key over "
    "16 reducers — then combines per address. The salt never reaches "
    "the result: counts sum, and the per-salt DECIMAL partials combine "
    "into the same exact total the oracle's single GROUP BY computes, "
    "so the hash row proves result-determinism of the salted plan.",
    tags=("agg", "skew"),
)
def skewed_hotkey_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.operators.skew import salted_agg

    e = load_table(spark, sf_dir, "events")
    addr = F.when(F.col("event_id") % 5 < 2, F.lit("hot-wallet")).otherwise(
        F.concat(F.lit("u"), (F.col("user_id") % 97).cast("string"))
    )
    f = e.select(addr.alias("address"), "value")
    out = salted_agg(
        f,
        ["address"],
        {
            "n_events": (F.count(F.lit(1)), F.sum("n_events")),
            "total_value": (
                F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(38,10)")),
                F.sum("total_value"),
            ),
        },
    )
    return out.select(
        "address",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Dynamic per-pallet typed views through the driver gate (plans/pallets.py)
# ---------------------------------------------------------------------------


@query(
    "pallet_typed_views",
    oracle="""
SELECT event_id,
       '0x' || lpad(CAST(user_id AS VARCHAR), 64, '0') AS src,
       '0x' || lpad(CAST(user_id % 83 AS VARCHAR), 64, '0') AS dst,
       '1' || repeat('0', 12) || lpad(CAST(event_id AS VARCHAR), 18, '0')
         AS amount_raw,
       CAST('1' || repeat('0', 12) || lpad(CAST(event_id AS VARCHAR), 18, '0')
            AS DOUBLE) AS amount
FROM events WHERE event_type = 'purchase'
""",
    doc="The dynamic per-pallet schema registry driven through the "
    "driver gate (SURVEY §4 custom work #4; reference setup_pallet "
    "substrateetl.js:5651-5726 + generateDuneViews :5728): a "
    "runtime-metadata-shaped dict builds the REAL "
    "plans.pallets.PalletRegistry, mixed-kind synthetic events "
    "(balances:Transfer carrying 31-digit u128 amounts past 2^64, "
    "plus staking:Rewarded noise rows) flow through typed_events — "
    "the (section, method) filter pushes to the scan, from_json "
    "promotes the payload to the mapped StructType, and the u128 "
    "field gets the dual exact-string column ({name}_raw, the "
    "balances free_raw rule). The oracle recomputes every typed "
    "column from the generator directly; amount emits as double (the "
    "same correctly-rounded conversion both engines make from the "
    "exact decimal), amount_raw stays the exact 31-digit string.",
    tags=("pipeline", "scalar"),
)
def pallet_typed_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.pallets import PalletRegistry

    e = load_table(spark, sf_dir, "events")
    pk_src = F.lpad(F.col("user_id").cast("string"), 64, "0")
    pk_dst = F.lpad((F.col("user_id") % 83).cast("string"), 64, "0")
    raw = F.concat(
        F.lit("1" + "0" * 12), F.lpad(F.col("event_id").cast("string"), 18, "0")
    )
    transfer = e.where(F.col("event_type") == "purchase").select(
        "event_id",
        F.lit("balances").alias("section"),
        F.lit("Transfer").alias("method"),
        F.concat(
            F.lit('{"src":"0x'), pk_src,
            F.lit('","dst":"0x'), pk_dst,
            F.lit('","amount":'), raw, F.lit("}"),
        ).alias("data_decoded"),
    )
    noise = e.where(F.col("event_type") == "click").select(
        "event_id",
        F.lit("staking").alias("section"),
        F.lit("Rewarded").alias("method"),
        F.concat(
            F.lit('{"stash":"0x'), pk_src, F.lit('","amount":'), raw, F.lit("}")
        ).alias("data_decoded"),
    )
    reg = PalletRegistry.from_metadata(
        {
            "pallets": [
                {
                    "name": "balances",
                    "events": [
                        {
                            "name": "Transfer",
                            "fields": [
                                {"name": "src", "type": "AccountId32"},
                                {"name": "dst", "type": "AccountId32"},
                                {"name": "amount", "type": "Balance"},
                            ],
                        }
                    ],
                },
                {
                    "name": "staking",
                    "events": [
                        {
                            "name": "Rewarded",
                            "fields": [
                                {"name": "stash", "type": "AccountId32"},
                                {"name": "amount", "type": "Balance"},
                            ],
                        }
                    ],
                },
            ]
        }
    )
    typed = reg.typed_events(
        transfer.unionByName(noise), "balances", "Transfer"
    )
    return typed.select(
        "event_id",
        "src",
        "dst",
        "amount_raw",
        F.col("amount").cast("double").alias("amount"),
    )


# ---------------------------------------------------------------------------
# Keyed MERGE through the driver gate (operators/merge.py, J10/X6)
# ---------------------------------------------------------------------------


@query(
    "merge_upsert_state",
    oracle="""
WITH base AS (
  SELECT event_id AS k, ts, value FROM events WHERE event_id < 600
),
upd AS (
  SELECT event_id AS k, ts, value * 2 AS value
  FROM events WHERE event_id >= 512 AND event_id < 1024
),
merged AS (
  SELECT b.k, b.ts, b.value FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.k = b.k)
  UNION ALL
  SELECT k, ts, value FROM upd
)
SELECT strftime(ts, '%Y-%m-%d') AS log_dt,
       COUNT(*) AS n_rows,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
         AS sum_value,
       CAST(MIN(k) AS BIGINT) AS min_k, CAST(MAX(k) AS BIGINT) AS max_k
FROM merged GROUP BY 1
""",
    doc="The keyed MERGE (J10/X6 — the reference's INSERT .. ON "
    "DUPLICATE KEY UPDATE on every MySQL write, substrateetl.js:6575, "
    "upsertSQL xcmmanager.js:484-490) driven through the driver gate "
    "with REAL writes: a base state materializes as day-partitioned "
    "parquet in a fresh temp dir, an overlapping update batch (keys "
    "512-599 replaced, 600-1023 inserted) MERGEs via operators/merge."
    "upsert_day_partitioned — partition-scoped rewrite, anti-join "
    "replace, dynamic overwrite — the merged table is REPLAYED with "
    "the same batch (the X6 idempotence claim, now hash-checked, not "
    "just asserted in pytest), and the read-back state rolls up per "
    "day. The oracle recomputes the final state relationally; any "
    "lost partition, duplicated key, or non-idempotent replay changes "
    "the hash.",
    tags=("pipeline", "merge"),
)
def merge_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.operators.merge import upsert_day_partitioned

    e = load_table(spark, sf_dir, "events")
    base = e.where(F.col("event_id") < 600).select(
        F.col("event_id").alias("k"), "ts", "value"
    )
    upd = e.where((F.col("event_id") >= 512) & (F.col("event_id") < 1024)).select(
        F.col("event_id").alias("k"), "ts", (F.col("value") * 2).alias("value")
    )
    with tempfile.TemporaryDirectory(
        prefix="merge_state_", ignore_cleanup_errors=True
    ) as work:
        # child of the fresh temp dir: must NOT exist yet so the first
        # upsert takes the bootstrap-write path
        path = work + "/state"
        upsert_day_partitioned(spark, path, base, keys=["k"], time_col="ts")
        upsert_day_partitioned(spark, path, upd, keys=["k"], time_col="ts")
        # replay the same batch: X6 idempotence is part of the hashed result
        upsert_day_partitioned(spark, path, upd, keys=["k"], time_col="ts")
        # freeze before work is deleted
        state = spark.read.parquet(path).localCheckpoint(eager=True)
    return state.groupBy(
        F.col("log_dt").cast("string").alias("log_dt")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(38,10)")).cast("double").alias("sum_value"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Dune CSV export round-trip through the driver gate (S6)
# ---------------------------------------------------------------------------


@query(
    "dune_csv_roundtrip",
    oracle="""
SELECT event_id,
       '{"type":"' || event_type || '","msg":"a,b "q' ||
         CAST(event_id % 7 AS VARCHAR) || '" end"}' AS payload,
       value,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
FROM events WHERE event_id < 2000
""",
    doc="The Dune CSV export (S6, dump_dune_xcmtransfer fmt=csv, "
    "substrateetl.js:526-601) gated on a REAL write + read-back: rows "
    "whose payload column is JSON containing commas AND embedded "
    "double quotes — the exact shape of the reference's xcm_info/asset "
    "blobs — write to RFC-4180 CSV (escape = doubled quote, the "
    "dialect Dune ingests, NOT Spark's backslash default) and read "
    "back with the same dialect; the returned frame is the READ-BACK, "
    "so any quoting, escaping, or double-formatting loss breaks the "
    "hash against the oracle's direct relational definition. Doubles "
    "survive because Spark writes shortest-round-trip "
    "representations; timestamps export as formatted strings exactly "
    "like the reference's NDJSON/CSV serialization.",
    tags=("pipeline", "sink"),
)
def dune_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    payload = F.concat(
        F.lit('{"type":"'),
        F.col("event_type"),
        F.lit('","msg":"a,b "q'),
        (F.col("event_id") % 7).cast("string"),
        F.lit('" end"}'),
    )
    out = e.select(
        "event_id",
        payload.alias("payload"),
        "value",
        s_ts("ts").alias("ts_str"),
    )
    with tempfile.TemporaryDirectory(
        prefix="dune_csv_", ignore_cleanup_errors=True
    ) as work:
        path = work + "/export"
        (
            out.write.option("header", True)
            .option("escape", '"')  # RFC-4180 doubled quotes, not backslash
            .csv(path)
        )
        return (
            spark.read.schema(
                "event_id bigint, payload string, value double, ts_str string"
            )
            .option("header", True)
            .option("escape", '"')
            .csv(path)
            .localCheckpoint(eager=True)  # freeze before work is deleted
        )


# ---------------------------------------------------------------------------
# XCM global-asset-registry chain parsers (gar/chainParsers/)
# ---------------------------------------------------------------------------


def _statemint_gar_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic assets:metadata state entries for AssetHub, exercising
    every parse rule of processGarAssetPallet (common_chainparser.js:
    120-158): comma-formatted ids, hex-or-decimal decimals, missing-name
    fallback, missing-symbol drop — plus the real USDT (1984) row the
    manual registration (statemint.js:27-38) attaches to."""
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_partkey") >= 1) & (F.col("p_partkey") < 40)
    )
    k = F.col("p_partkey")
    ks = k.cast("string")
    dec_val = F.lit(6) + k % 7
    dec_json = F.when(
        k % 3 == 0, F.concat(F.lit('"0x'), F.lower(F.hex(dec_val)), F.lit('"'))
    ).otherwise(dec_val.cast("string"))
    sym_part = F.when(k % 7 == 0, F.lit("")).otherwise(
        F.concat(F.lit('"symbol":"ST'), ks, F.lit('",'))
    )
    name_part = F.when(k % 5 == 0, F.lit("")).otherwise(
        F.concat(F.lit('"name":"Part '), ks, F.lit('",'))
    )
    synth = part.select(
        F.concat(F.lit('["'), F.format_number(k * 100, 0), F.lit('"]')).alias("key_args"),
        F.concat(
            F.lit("{"), sym_part, name_part, F.lit('"decimals":'), dec_json, F.lit("}")
        ).alias("value"),
    )
    usdt = local_frame(
        spark,
        [('["1,984"]', '{"symbol":"USDT","name":"Tether USD","decimals":6}')],
        "key_args string, value string",
    )
    return synth.unionByName(usdt)


@query(
    "gar_chain_registry",
    oracle="""
WITH hy_rows AS (
  SELECT CASE WHEN k % 3 = 1
           THEN 'polkadot~[{"parachain":' || (2000 + k) || '}]'
           ELSE 'polkadot~[{"parachain":'
                || (CASE WHEN k % 3 = 0 THEN 2000 + k ELSE 3000 + k END)
                || '},{"generalIndex":' || k || '}]'
         END AS xcm_interior_key,
         'H' || k AS symbol,
         CAST(12 AS INTEGER) AS decimals,
         CAST(CASE WHEN k % 3 = 2 THEN 3000 + k ELSE 2000 + k END AS INTEGER)
           AS para_id,
         CASE WHEN k % 3 = 1 THEN 'x1' ELSE 'x2' END AS interior_type,
         'onchain' AS source,
         CAST(1 AS BIGINT) AS confidence,
         '{"Token":"' || k || '"}' AS xc_currency_id,
         CAST(NULL AS VARCHAR) AS xc_contract_address
  FROM (SELECT n_nationkey AS k FROM nation)
),
ph_rows AS (
  SELECT 'polkadot~[{"parachain":' || (2100 + k) || '},{"generalIndex":'
           || (100 + k) || '}]' AS xcm_interior_key,
         'PH' || k AS symbol,
         CAST(8 + k % 4 AS INTEGER) AS decimals,
         CAST(2100 + k AS INTEGER) AS para_id,
         'x2' AS interior_type,
         'onchain' AS source,
         CAST(1 AS BIGINT) AS confidence,
         '{"Token":"' || k || '"}' AS xc_currency_id,
         CAST(NULL AS VARCHAR) AS xc_contract_address
  FROM (SELECT s_suppkey AS k FROM supplier WHERE s_suppkey < 25)
),
usdt AS (
  SELECT 'polkadot~[{"parachain":1000},{"palletInstance":50},{"generalIndex":1984}]'
           AS xcm_interior_key,
         'USDT' AS symbol, CAST(6 AS INTEGER) AS decimals,
         CAST(1000 AS INTEGER) AS para_id, 'x3' AS interior_type,
         'manual' AS source, CAST(2 AS BIGINT) AS confidence,
         '{"Token":"1984"}' AS xc_currency_id,
         CAST(NULL AS VARCHAR) AS xc_contract_address
),
ac_rows AS (
  SELECT 'polkadot~[{"parachain":' || (4000 + k) || '},{"generalIndex":'
           || (900 + k) || '}]' AS xcm_interior_key,
         'A' || k AS symbol,
         CAST(12 AS INTEGER) AS decimals,
         CAST(4000 + k AS INTEGER) AS para_id,
         'x2' AS interior_type,
         'onchain' AS source,
         CAST(1 AS BIGINT) AS confidence,
         '{"ForeignAsset":' || k || '}' AS xc_currency_id,
         CAST(NULL AS VARCHAR) AS xc_contract_address
  FROM (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
        WHERE c_custkey < 20 AND c_custkey % 4 = 0)
),
ac_comma AS (
  SELECT 'polkadot~[{"parachain":5900},{"generalIndex":99}]',
         'AFA', CAST(12 AS INTEGER), CAST(5900 AS INTEGER), 'x2',
         'onchain', CAST(1 AS BIGINT), '{"ForeignAsset":1900}',
         CAST(NULL AS VARCHAR)
),
il_rows AS (
  SELECT 'polkadot~[{"parachain":' || (7000 + k) || '},{"generalIndex":'
           || (200 + k) || '}]' AS xcm_interior_key,
         'I' || k AS symbol,
         CAST(10 AS INTEGER) AS decimals,
         CAST(7000 + k AS INTEGER) AS para_id,
         'x2' AS interior_type,
         'onchain' AS source,
         CAST(1 AS BIGINT) AS confidence,
         '{"ForeignAsset":"' || k || '"}' AS xc_currency_id,
         CAST(NULL AS VARCHAR) AS xc_contract_address
  FROM (SELECT CAST(p_partkey AS BIGINT) AS k FROM part
        WHERE p_partkey >= 50 AND p_partkey < 70 AND p_partkey % 5 != 0)
),
mb_rows AS (
  SELECT 'polkadot~[{"parachain":' || (6000 + k) || '},{"generalIndex":'
           || (77 + k) || '}]' AS xcm_interior_key,
         'R' || k AS symbol,
         CAST(10 AS INTEGER) AS decimals,
         CAST(6000 + k AS INTEGER) AS para_id,
         'x2' AS interior_type,
         'onchain' AS source,
         CAST(1 AS BIGINT) AS confidence,
         '{"Token":"' || k || '"}' AS xc_currency_id,
         '0xffffffff' || lpad(lower(hex(k)), 32, '0') AS xc_contract_address
  FROM (SELECT CAST(r_regionkey AS BIGINT) AS k FROM region)
)
SELECT * FROM hy_rows
UNION ALL SELECT * FROM ph_rows
UNION ALL SELECT * FROM usdt
UNION ALL SELECT * FROM ac_rows
UNION ALL SELECT * FROM ac_comma
UNION ALL SELECT * FROM il_rows
UNION ALL SELECT * FROM mb_rows
""",
    doc="Per-chain registry-parser dispatch into the global asset "
    "registry (gar/chainParsers/statemint.js:1, hydra.js:1, phala.js:1, "
    "acala.js:1, moonbeam.js:1 "
    "over common_chainparser.js:120-158,211-256,268-380,576-760): five "
    "chain shapes of raw state entries — AssetHub's assets:metadata with the manual USDT "
    "registration (no on-chain xc registry), hydra's "
    "assetRegistry:assetMetadataMap + version-wrapped assetLocations "
    "(v1/xcm/direct shapes, xc-prefix symbol strip, unknown-asset skip), "
    "phala's {location, properties} registryInfoByIds, acala's ORML "
    "tokens-pallet CurrencyId-object keys with the ForeignAsset xc join "
    "(incl. a comma-formatted id), moonbeam's assetIdType registry with "
    "the XC-20 precompile contract address derived per asset id — "
    "parse through "
    "plans.garparsers (native JSON columns, broadcast known-asset gates) "
    "and canonicalize via the REAL build_xcm_asset_registry (Arrow "
    "interior-key codec, home-first rank window, confidence = distinct "
    "registering chains; the USDT key is registered by BOTH statemint "
    "and hydra, and the home/manual row must win with confidence 2). "
    "The oracle reconstructs every canonical row independently.",
    tags=("pipeline", "join", "window", "xcm"),
)
def gar_chain_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.garparsers import (
        HydraGarParser,
        PhalaGarParser,
        StatemintGarParser,
    )
    from polkadot_etl_spark.plans.xcmgar import build_xcm_asset_registry

    # --- statemint: local registry + manual USDT (no on-chain xc)
    st_regs = StatemintGarParser().registrations(
        spark, _statemint_gar_entries(spark, sf_dir)
    )

    # --- hydra: assetMetadataMap + version-wrapped assetLocations
    nat = load_table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("k"))
    k = F.col("k")
    ks = k.cast("string")
    key_args = F.concat(F.lit('["'), ks, F.lit('"]'))
    hy_gar = _hydra_gar_entries(spark, sf_dir).unionByName(
        local_frame(
            spark,
            [('["900"]', '{"symbol":"xcUSDT","decimals":6}')],
            "key_args string, value string",
        )
    )

    def _x2(para: Column, gi: Column) -> Column:
        return F.concat(
            F.lit('{"parents":1,"interior":{"X2":[{"Parachain":'),
            para.cast("string"),
            F.lit('},{"GeneralIndex":'),
            gi.cast("string"),
            F.lit("}]}}"),
        )

    hy_xc_val = (
        F.when(k % 3 == 0, F.concat(F.lit('{"v1":'), _x2(k + 2000, k), F.lit("}")))
        .when(
            k % 3 == 1,
            F.concat(
                F.lit('{"xcm":{"parents":1,"interior":{"X1":{"Parachain":'),
                (k + 2000).cast("string"),
                F.lit("}}}}"),
            ),
        )
        .otherwise(_x2(k + 3000, k))
    )
    hy_xc = nat.select(key_args.alias("key_args"), hy_xc_val.alias("value")).unionByName(
        local_frame(
            spark,
            [
                # hydra's wrapper registration of AssetHub USDT → the same
                # interior key as statemint's manual row (confidence 2)
                (
                    '["900"]',
                    '{"v1":{"parents":1,"interior":{"X3":[{"Parachain":1000},'
                    '{"PalletInstance":50},{"GeneralIndex":1984}]}}}',
                ),
                # id absent from the local registry → 'AssetInfo unknown
                # -- skip' (common_chainparser.js:672)
                (
                    '["999"]',
                    '{"v1":{"parents":1,"interior":{"X1":{"Parachain":9999}}}}',
                ),
            ],
            "key_args string, value string",
        )
    )
    hy_regs = HydraGarParser().registrations(spark, hy_gar, hy_xc)

    # --- phala: assets:metadata + {location, properties} registryInfoByIds
    sup = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_suppkey").alias("k"))
        .where(F.col("k") < 25)
    )
    ph_gar = sup.select(
        key_args.alias("key_args"),
        F.concat(
            F.lit('{"symbol":"PH'),
            ks,
            F.lit('","name":"Phala '),
            ks,
            F.lit('","decimals":'),
            (F.lit(8) + k % 4).cast("string"),
            F.lit("}"),
        ).alias("value"),
    )
    ph_xc = sup.select(
        key_args.alias("key_args"),
        F.concat(
            F.lit('{"location":'),
            _x2(k + 2100, k + 100),
            F.lit(',"properties":{"symbol":"PH'),
            ks,
            F.lit('"}}'),
        ).alias("value"),
    )
    ph_regs = PhalaGarParser().registrations(spark, ph_gar, ph_xc)

    # --- acala: ORML tokens-pallet registry keyed by CurrencyId OBJECTS
    # (ForeignAssetId / NativeAssetId-wrapped / Erc20 / StableAssetId) +
    # foreignAssetLocations xc registry joined on {"ForeignAsset": id}
    cu = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").cast("long").alias("k"))
        .where(F.col("k") < 20)
    )
    ck = F.col("k")
    cks = ck.cast("string")
    ac_key = (
        F.when(ck % 4 == 0, F.concat(F.lit('[{"ForeignAssetId":"'), cks, F.lit('"}]')))
        .when(
            ck % 4 == 1,
            F.concat(F.lit('[{"NativeAssetId":{"Token":"T'), cks, F.lit('"}}]')),
        )
        .when(
            ck % 4 == 2,
            F.concat(
                F.lit('[{"Erc20":"0x'),
                F.substring(F.md5(F.concat(F.lit("e"), cks)), 1, 40).alias("h"),
                F.lit('"}]'),
            ),
        )
        .otherwise(F.concat(F.lit('[{"StableAssetId":"'), cks, F.lit('"}]')))
    )
    ac_gar = cu.select(
        ac_key.alias("key_args"),
        F.concat(
            F.lit('{"name":"Acala '), cks, F.lit('","symbol":"A'), cks,
            F.lit('","decimals":12}'),
        ).alias("value"),
    ).unionByName(
        local_frame(
            spark,
            [('[{"ForeignAssetId":"1,900"}]',
              '{"name":"Acala FA","symbol":"AFA","decimals":12}')],
            "key_args string, value string",
        )
    )
    ac_xc = (
        cu.where(ck % 4 == 0)
        .select(
            F.concat(F.lit('["'), cks, F.lit('"]')).alias("key_args"),
            _x2(ck + 4000, ck + 900).alias("value"),
        )
        .unionByName(
            local_frame(
                spark,
                [('["1,900"]',
                  '{"parents":1,"interior":{"X2":[{"Parachain":5900},'
                  '{"GeneralIndex":99}]}}')],
                "key_args string, value string",
            )
        )
    )
    from polkadot_etl_spark.plans.garparsers import AcalaGarParser, MoonbeamGarParser

    ac_regs = AcalaGarParser().registrations(spark, ac_gar, ac_xc)

    # --- moonbeam: assets:metadata + assetManager:assetIdType, with the
    # XC-20 precompile contract address derived from every asset id
    reg_t = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("long").alias("k")
    )
    rk = F.col("k")
    rks = rk.cast("string")
    mb_sym = F.when(rk % 2 == 0, F.concat(F.lit("xcR"), rks)).otherwise(
        F.concat(F.lit("R"), rks)
    )
    mb_gar = reg_t.select(
        F.concat(F.lit('["'), rks, F.lit('"]')).alias("key_args"),
        F.concat(
            F.lit('{"symbol":"'), mb_sym,
            F.lit('","name":"Region '), rks, F.lit('","decimals":10}'),
        ).alias("value"),
    )
    mb_xc = reg_t.select(
        F.concat(F.lit('["'), rks, F.lit('"]')).alias("key_args"),
        _x2(rk + 6000, rk + 77).alias("value"),
    )
    mb_regs = MoonbeamGarParser().registrations(spark, mb_gar, mb_xc)

    # --- interlay: orml-asset-registry — the metadata value EMBEDS the
    # (version-wrapped) location, gar and xc are the SAME walk; numeric
    # ids pad to {"ForeignAsset": id} currencies. k%5 rows omit the
    # location (local-only assets: decorate but never register).
    il = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_partkey") >= 50) & (F.col("p_partkey") < 70))
        .select(F.col("p_partkey").cast("long").alias("k"))
    )
    ik = F.col("k")
    iks = ik.cast("string")
    loc_part = F.when(
        ik % 5 != 0,
        F.concat(
            F.lit(',"location":{"v3":'), _x2(ik + 7000, ik + 200), F.lit("}")
        ),
    ).otherwise(F.lit(""))
    il_entries = il.select(
        F.concat(F.lit('["'), iks, F.lit('"]')).alias("key_args"),
        F.concat(
            F.lit('{"symbol":"I'), iks, F.lit('","name":"IAsset '), iks,
            F.lit('","decimals":10'), loc_part, F.lit("}"),
        ).alias("value"),
    )
    from polkadot_etl_spark.plans.garparsers import InterlayGarParser

    il_regs = InterlayGarParser().registrations(spark, il_entries, il_entries)

    reg = build_xcm_asset_registry(
        st_regs.unionByName(hy_regs)
        .unionByName(ph_regs)
        .unionByName(ac_regs)
        .unionByName(mb_regs)
        .unionByName(il_regs),
        codec="native",
    )
    return reg.select(
        "xcm_interior_key",
        "symbol",
        "decimals",
        "para_id",
        "interior_type",
        "source",
        "confidence",
        "xc_currency_id",
        "xc_contract_address",
    )


@query(
    "assethub_asset_transfers",
    oracle="""
WITH reg AS (
  SELECT p_partkey * 100 AS aid,
         'ST' || p_partkey AS symbol,
         6 + p_partkey % 7 AS dec
  FROM part
  WHERE p_partkey >= 1 AND p_partkey < 40 AND p_partkey % 7 != 0
),
li AS (SELECT * FROM lineitem WHERE l_orderkey < 4000),
a AS (
  SELECT l_orderkey, l_linenumber,
         (l_partkey % 39 + 1) * 100 AS aid,
         CAST(FLOOR(l_extendedprice * 100) AS DECIMAL(38,0)) AS raw
  FROM li WHERE l_returnflag = 'R'
),
n AS (
  SELECT l_orderkey, l_linenumber,
         CAST(FLOOR(l_extendedprice * 100) AS DECIMAL(38,0)) AS raw
  FROM li WHERE l_returnflag = 'N'
)
SELECT l_orderkey || '-' || l_linenumber || '-0' AS event_id,
       'assets' AS section,
       'Transferred' AS method,
       CAST(a.aid AS VARCHAR) AS asset,
       COALESCE(r.symbol, CAST(a.aid AS VARCHAR)) AS symbol,
       CAST(r.dec AS INTEGER) AS decimals,
       CASE WHEN r.dec IS NOT NULL
            THEN CAST(raw AS DOUBLE) / POWER(10.0, r.dec) END AS amount,
       -- exact-integer contract compared as text: DuckDB DECIMAL(38,0)
       -- degrades to float64 in pandas, Spark's stays Decimal
       CAST(raw AS VARCHAR) AS raw_amount
FROM a LEFT JOIN reg r ON a.aid = r.aid
UNION ALL
SELECT l_orderkey || '-' || l_linenumber || '-0',
       'balances', 'Transfer', 'DOT', 'DOT', CAST(10 AS INTEGER),
       CAST(raw AS DOUBLE) / POWER(10.0, 10), CAST(raw AS VARCHAR)
FROM n
""",
    doc="AssetHub per-asset transfer denomination (plans/chains.py "
    "StatemintParser over gar/chainParsers/statemint.js:1 + the "
    "assets:Transferred positional layout of indexer.js:6334): "
    "assets-pallet events decimalize by the assets:metadata registry "
    "entry for their asset id (broadcast dim, comma-cleaned ids, "
    "hex-or-decimal decimals), native balances:Transfer rows stay "
    "DOT/10, and UNREGISTERED asset ids surface with the raw id as "
    "symbol and NULL decimals/amount — never silently "
    "native-denominated. The oracle rebuilds the registry join and both "
    "denominations independently.",
    tags=("pipeline", "join", "functions"),
)
def assethub_asset_transfers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.chains import StatemintParser
    from polkadot_etl_spark.plans.garparsers import StatemintGarParser

    registry = StatemintGarParser().parse_gar(_statemint_gar_entries(spark, sf_dir))

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 4000)
    rf = F.col("l_returnflag")
    raw_str = F.floor(F.col("l_extendedprice") * 100).cast("bigint").cast("string")
    aid_str = ((F.col("l_partkey") % 39 + 1) * 100).cast("string")
    eid = F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"), F.lit("0"))
    common = [
        eid.alias("event_id"),
        F.concat(eid, F.lit("x")).alias("extrinsic_id"),
        F.lit(None).cast("string").alias("extrinsic_hash"),
        F.lit(None).cast("timestamp").alias("block_time"),
        F.col("l_orderkey").alias("block_number"),
        F.lit(None).cast("string").alias("block_hash"),
    ]
    assets_ev = li.where(rf == "R").select(
        F.lit("assets").alias("section"),
        F.lit("Transferred").alias("method"),
        F.concat(
            F.lit('["'), aid_str, F.lit('","'), _pk(F.col("l_suppkey")),
            F.lit('","'), _pk(F.col("l_partkey")), F.lit('","'), raw_str, F.lit('"]'),
        ).alias("data"),
        *common,
    )
    native_ev = li.where(rf == "N").select(
        F.lit("balances").alias("section"),
        F.lit("Transfer").alias("method"),
        F.concat(
            F.lit('["'), _pk(F.col("l_suppkey")), F.lit('","'),
            _pk(F.col("l_partkey")), F.lit('","'), raw_str, F.lit('"]'),
        ).alias("data"),
        *common,
    )
    parser = StatemintParser()
    transfers = parser.transfers(assets_ev.unionByName(native_ev))
    decorated = parser.decorate_transfers(transfers, registry)
    return decorated.select(
        "event_id",
        "section",
        "method",
        "asset",
        "symbol",
        "decimals",
        "amount",
        F.col("raw_amount").cast("string").alias("raw_amount"),
    )


def _hydra_gar_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hydra assetRegistry:assetMetadataMap entries (no name field —
    every name falls back to the symbol; k%6 rows carry the xc wrapper
    prefix) — shared by the registry-parse and snapshot-track queries."""
    nat = load_table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("k"))
    k = F.col("k")
    ks = k.cast("string")
    hy_sym = F.when(k % 6 == 0, F.concat(F.lit("xcH"), ks)).otherwise(
        F.concat(F.lit("H"), ks)
    )
    return nat.select(
        F.concat(F.lit('["'), ks, F.lit('"]')).alias("key_args"),
        F.concat(F.lit('{"symbol":"'), hy_sym, F.lit('","decimals":12}')).alias("value"),
    )


@query(
    "snapshots_hydradx_omnipool",
    oracle="""
WITH nat AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
sup AS (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier WHERE s_suppkey < 25),
tick AS (
  SELECT k, CASE WHEN k % 6 = 0 THEN 'xcH' || k ELSE 'H' || k END AS ticker
  FROM nat
),
omniasset AS (
  SELECT 'omnipool' AS section, 'assets' AS storage, 'omniasset' AS track,
         CAST(k AS VARCHAR) AS track_val,
         '{"id":' || k || ',"ticker":"' || t.ticker || '"}' AS kv,
         '{"hubReserve":"' || (k * 1000000007 + 5)
           || '","shares":"' || (k * 500 + 1)
           || '","protocolShares":"' || (k * 7)
           || '","cap":"500000000000000000","tradable":"ok' || (k % 3) || '"}'
           AS pv
  FROM nat JOIN tick t USING (k)
),
liquidity AS (
  SELECT 'omnipool', 'positions', 'liquidity',
         CAST(k % 25 AS VARCHAR),
         '{"id":' || (9000 + k) || ',"ticker":"' || t.ticker || '"}',
         '{"assetId":' || (k % 25)
           || ',"amount":"' || (k * 1000000000000 + 11)
           || '","shares":"' || (k * 13 + 1)
           || '","price_1":"' || (k * 3 + 1)
           || '","price_2":"' || (k * 5 + 2) || '"}'
  FROM sup JOIN (SELECT k AS tk, ticker FROM tick) t ON t.tk = k % 25
),
asset AS (
  SELECT 'tokens', 'totalIssuance', 'asset',
         '{"token":' || k || '}',
         '{"token":' || k || '}',
         CAST(k * 11 + 3 AS VARCHAR)
  FROM nat
)
SELECT section, storage, track, track_val, kv, pv,
       TIMESTAMP '2023-06-01 12:00:00' AS ts,
       CAST(5000000 AS BIGINT) AS block_number
FROM (SELECT * FROM omniasset
      UNION ALL SELECT * FROM liquidity
      UNION ALL SELECT * FROM asset)
""",
    doc="HydraDX per-chain snapshot tracks (substrate/snapshot/"
    "hydradx.js over snapshotter.js): the omnipool AMM state — per-asset "
    "omnipool liquidity (track 'omniasset', hubReserve/shares/"
    "protocolShares/cap dechexToIntStr-normalized into the pv blob, "
    ":195-216), LP position NFTs (track 'liquidity', price array split "
    "into price_1/price_2, :218-240) and per-currency totalIssuance "
    "(track 'asset', :183-194) — through plans.snapshots."
    "HydradxSnapshotter: native JSON projections, ticker decoration via "
    "a broadcast join against the REAL HydraGarParser registry parse "
    "(the reference's in-process assetMap, :45-66), canonical-hour "
    "bucketing. Hex and decimal u128 inputs are mixed row-by-row; the "
    "oracle reconstructs every blob from the integer formulas.",
    tags=("pipeline", "snapshots", "functions"),
)
def snapshots_hydradx_omnipool(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.garparsers import HydraGarParser
    from polkadot_etl_spark.plans.snapshots import HydradxSnapshotter

    registry = HydraGarParser().parse_gar(_hydra_gar_entries(spark, sf_dir))
    block = {"number": 5000000, "hash": "0x5f", "ts": "2023-06-01 12:34:56"}

    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k")
    )
    k = F.col("k")
    ks = k.cast("string")

    def hexs(c: Column) -> Column:
        return F.concat(F.lit("0x"), F.lower(F.hex(c)))

    def dq(c: Column) -> Column:
        return F.concat(F.lit('"'), c, F.lit('"'))

    hub = k * 1000000007 + 5
    omni_assets = nat.select(
        F.concat(F.lit('["'), ks, F.lit('"]')).alias("key_args"),
        F.concat(
            F.lit('{"hubReserve":'),
            dq(F.when(k % 2 == 0, hexs(hub)).otherwise(hub.cast("string"))),
            F.lit(',"shares":'),
            dq((k * 500 + 1).cast("string")),
            F.lit(',"protocolShares":'),
            dq(F.when(k % 3 == 0, hexs(k * 7)).otherwise((k * 7).cast("string"))),
            F.lit(',"cap":"500000000000000000","tradable":'),
            dq(F.concat(F.lit("ok"), (k % 3).cast("string"))),
            F.lit("}"),
        ).alias("value"),
    )

    sup = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_suppkey").cast("long").alias("k"))
        .where(F.col("k") < 25)
    )
    amount = k * 1000000000000 + 11
    positions = sup.select(
        F.concat(F.lit('["'), (k + 9000).cast("string"), F.lit('"]')).alias("key_args"),
        F.concat(
            F.lit('{"assetId":'),
            (k % 25).cast("string"),
            F.lit(',"amount":'),
            dq(F.when(k % 2 == 0, hexs(amount)).otherwise(amount.cast("string"))),
            F.lit(',"shares":'),
            dq((k * 13 + 1).cast("string")),
            F.lit(',"price":['),
            dq(F.when(k % 3 == 0, hexs(k * 3 + 1)).otherwise((k * 3 + 1).cast("string"))),
            F.lit(","),
            dq((k * 5 + 2).cast("string")),
            F.lit("]}"),
        ).alias("value"),
    )

    issuance = nat.select(
        F.concat(F.lit('[{"token":'), ks, F.lit("}]")).alias("key_args"),
        F.when(k % 2 == 0, hexs(k * 11 + 3))
        .otherwise((k * 11 + 3).cast("string"))
        .alias("value"),
    )

    snap = HydradxSnapshotter()
    rows = (
        snap.omnipool_assets(omni_assets, registry, block)
        .unionByName(snap.omnipool_positions(positions, registry, block))
        .unionByName(snap.total_issuance(issuance, block))
    )
    return rows.select(
        "section", "storage", "track", "track_val", "kv", "pv", "ts", "block_number"
    )


# ---------------------------------------------------------------------------
# XCM remote execution (xcmtransact)
# ---------------------------------------------------------------------------

_XT_PARA = 888  # origination para id for the derivative codec


def _xt_fee_payers() -> list[tuple[int, str, str, str]]:
    """(j, fee_payer_h160, remote_to_h160, derivative20) for the 10
    synthetic fee payers — derivative20 computed ONCE here by the same
    public codec the Spark UDF runs, then interpolated into the oracle as
    a VALUES dim (the blake2 derivation isn't SQL-expressible; the
    oracle's job is to pin that Spark's per-row codec output matches this
    reference computation, exactly the xcm_message_weights dim pattern)."""
    import hashlib as _h

    from polkadot_etl_spark.plans.xcmtransact import multilocation_derivative

    def md5(s: str) -> str:
        return _h.md5(s.encode()).hexdigest()

    rows = []
    for j in range(10):
        fp = "0x" + (md5(f"f{j}") + md5(f"g{j}"))[:40]
        to = "0x" + (md5(f"t{j}") + md5(f"u{j}"))[:40]
        d20, _ = multilocation_derivative(_XT_PARA, fp)
        rows.append((j, fp, to, d20))
    return rows


_XT_DIM_SQL = ",\n  ".join(
    f"({j}, '{fp}', '{to}', '{d20}')" for j, fp, to, d20 in _xt_fee_payers()
)


@query(
    "xcm_remote_transact",
    oracle=f"""
WITH dim(j, fee_payer, remote_to, deriv20) AS (VALUES
  {_XT_DIM_SQL}
),
e AS (
  SELECT CAST(FLOOR(event_id / 5) AS BIGINT) AS x, event_id % 5 AS r
  FROM events WHERE event_id < 3000
),
g AS (
  SELECT x,
         MAX(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS has_msg,
         MAX(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS has_tx,
         MAX(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS has_ben,
         MAX(CASE WHEN r = 3 THEN 1 ELSE 0 END) AS has_fee,
         MAX(CASE WHEN r = 4 THEN 1 ELSE 0 END) AS has_ok
  FROM e GROUP BY x
),
s AS (
  SELECT g.*, x % 10 AS j,
         '0x' || md5('m' || x) AS msg_hash,
         '0x' || md5('b' || x) AS ben
  FROM g WHERE has_msg = 1
)
SELECT CAST(x AS VARCHAR) AS extrinsic_id,
       '0xe' || x AS extrinsic_hash,
       x AS orig_block_number,
       msg_hash,
       x % 3 != 0 AS delivered,
       CASE WHEN x % 3 = 0 THEN 'WeightLimitReached' END AS error,
       CAST(x % 100 AS VARCHAR) AS weight,
       'polkadot-2004' AS dest_id,
       CAST(2004 AS INTEGER) AS dest_para_id,
       x + 7000 AS dest_block_number,
       TIMESTAMP '2023-06-02 03:04:05' AS dest_block_time,
       CASE WHEN has_ben = 1 THEN ben END AS beneficiary,
       CASE WHEN has_ben = 1 AND x % 2 = 0 THEN '1984' END AS issued_asset_id,
       CASE WHEN has_ben = 1 AND x % 2 = 0 THEN CAST(x * 1000 + 1 AS VARCHAR) END
         AS issued_amount,
       CASE WHEN has_fee = 1 THEN CAST(x * 17 + 5 AS VARCHAR) END AS fee_paid,
       has_ok = 1 AS success,
       CASE WHEN has_tx = 1 THEN d.deriv20 END AS remote_from,
       CASE WHEN has_tx = 1 THEN d.remote_to END AS remote_to,
       CASE WHEN has_tx = 1 THEN '0xtx' || x END AS remote_tx_hash
FROM s LEFT JOIN dim d ON d.j = s.j
""",
    doc="XCM remote-execution tracing (substrate/xcmtransact.js): the "
    "origination fold (index_origination_extrinsic :889-984 — "
    "XcmpMessageSent msgHash linkage, TransactedSigned with the inner "
    "ethereumXcm:transact template, TransferredMultiAssets beneficiary "
    "via dest X2[1].AccountKey20, TransactionFeePaid, ExtrinsicSuccess), "
    "destination linkage by msgHash (xcmpQueue Success/Fail + weight/"
    "error) and by beneficiary (assets:Issued), and the remote EVM tx "
    "resolved by (derivative-from, transact-to) in the linked block "
    "(:1055-1143). The derivative account is the REAL blake2 'multiloc' "
    "SCALE derivation (calculateMultilocationDerivative :1211-1228, "
    "codec pinned to the reference's own inline vector); the oracle "
    "carries the 10 expected derivatives as an interpolated dim, so a "
    "codec regression hash-fails.",
    tags=("pipeline", "join", "xcm", "functions"),
)
def xcm_remote_transact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.xcmtransact import (
        link_remote_execution,
        origination_remote_exec,
    )

    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 3000)
    x = F.floor(F.col("event_id") / 5).cast("long")
    r = F.col("event_id") % 5
    xs = x.cast("string")
    js = (x % 10).cast("string")
    mh = F.concat(F.lit("0x"), F.md5(F.concat(F.lit("m"), xs)))
    ben = F.concat(F.lit("0x"), F.md5(F.concat(F.lit("b"), xs)))
    fp = F.concat(
        F.lit("0x"),
        F.substring(
            F.concat(F.md5(F.concat(F.lit("f"), js)), F.md5(F.concat(F.lit("g"), js))),
            1, 40,
        ),
    )
    to = F.concat(
        F.lit("0x"),
        F.substring(
            F.concat(F.md5(F.concat(F.lit("t"), js)), F.md5(F.concat(F.lit("u"), js))),
            1, 40,
        ),
    )
    base = ev.select(x.alias("x"), r.alias("r"), mh.alias("mh"), ben.alias("ben"),
                     fp.alias("fp"), to.alias("to"))

    sec = (
        F.when(F.col("r") == 0, F.lit("xcmpQueue"))
        .when(F.col("r") == 1, F.lit("xcmTransactor"))
        .when(F.col("r") == 2, F.lit("xTokens"))
        .when(F.col("r") == 3, F.lit("transactionPayment"))
        .otherwise(F.lit("system"))
    )
    meth = (
        F.when(F.col("r") == 0, F.lit("XcmpMessageSent"))
        .when(F.col("r") == 1, F.lit("TransactedSigned"))
        .when(F.col("r") == 2, F.lit("TransferredMultiAssets"))
        .when(F.col("r") == 3, F.lit("TransactionFeePaid"))
        .otherwise(F.lit("ExtrinsicSuccess"))
    )
    xcol, rcol = F.col("x"), F.col("r")
    data = (
        F.when(rcol == 0, F.concat(F.lit('{"messageHash":"'), F.col("mh"), F.lit('"}')))
        .when(
            rcol == 1,
            F.concat(
                F.lit('{"feePayer":"'), F.col("fp"),
                F.lit('","call":{"section":"ethereumXcm","method":"transact",'
                      '"args":{"xcm_transaction":{"V1":{"action":{"Call":"'),
                F.col("to"),
                F.lit('"},"input":"0xcde4efa9"}}}}}'),
            ),
        )
        .when(
            rcol == 2,
            F.concat(
                F.lit('{"dest":{"interior":{"X2":[{"Parachain":1000},'
                      '{"AccountKey20":{"key":"'),
                F.col("ben"),
                F.lit('"}}]}},"assets":"xcDOT"}'),
            ),
        )
        .when(
            rcol == 3,
            F.concat(F.lit('{"actualFee":"'), (xcol * 17 + 5).cast("string"), F.lit('"}')),
        )
        .otherwise(F.lit("{}"))
    )
    orig_events = base.select(
        sec.alias("section"),
        meth.alias("method"),
        data.alias("data"),
        F.col("x").cast("string").alias("extrinsic_id"),
        F.concat(F.lit("0xe"), F.col("x").cast("string")).alias("extrinsic_hash"),
        F.col("x").alias("block_number"),
        F.lit("2023-06-02 03:00:00").cast("timestamp").alias("block_time"),
    )
    orig = origination_remote_exec(orig_events, para_id=_XT_PARA)

    qdata = F.concat(
        F.lit('{"messageHash":"'), F.col("mh"),
        F.lit('","weight":"'), (xcol % 100).cast("string"), F.lit('"'),
        F.when(xcol % 3 == 0, F.lit(',"error":"WeightLimitReached"')).otherwise(F.lit("")),
        F.lit("}"),
    )
    q_ev = base.where(rcol == 0).select(
        F.lit("xcmpQueue").alias("section"),
        F.when(xcol % 3 == 0, F.lit("Fail")).otherwise(F.lit("Success")).alias("method"),
        qdata.alias("data"),
        (xcol + 7000).alias("block_number"),
        F.lit("2023-06-02 03:04:05").cast("timestamp").alias("block_time"),
    )
    iss_ev = base.where((rcol == 2) & (xcol % 2 == 0)).select(
        F.lit("assets").alias("section"),
        F.lit("Issued").alias("method"),
        F.concat(
            F.lit('{"assetId":"1984","owner":"'), F.col("ben"),
            F.lit('","totalSupply":"'), (xcol * 1000 + 1).cast("string"), F.lit('"}'),
        ).alias("data"),
        (xcol + 7000).alias("block_number"),
        F.lit("2023-06-02 03:04:05").cast("timestamp").alias("block_time"),
    )
    dest_events = q_ev.unionByName(iss_ev)

    # destination EVM block txs: the generator plants the matching tx at
    # the precomputed derivative 'from' — the REAL pipeline must re-derive
    # the same account through the blake2 codec for the join to land
    dim = local_frame(
        spark,
        [(j, d20, t) for j, _, t, d20 in _xt_fee_payers()],
        "j long, d20 string, tt string",
    )
    evm_txs = (
        base.where(rcol == 1)
        .join(F.broadcast(dim), (F.col("x") % 10) == F.col("j"))
        .select(
            F.col("d20").alias("from_address"),
            F.col("tt").alias("to_address"),
            (F.col("x") + 7000).alias("block_number"),
            F.concat(F.lit("0xtx"), F.col("x").cast("string")).alias("transaction_hash"),
        )
    )
    return link_remote_execution(
        orig, dest_events, evm_txs, dest_para_id=2004, dest_id="polkadot-2004"
    )


# ---------------------------------------------------------------------------
# EVM precompile / system-contract registry
# ---------------------------------------------------------------------------


def _precompile_oracle_sql() -> str:
    from polkadot_etl_spark.plans.precompiles import IERC20_SELECTORS

    sels = [IERC20_SELECTORS[n] for n in ("transfer", "approve", "balanceOf", "transferFrom")]
    sel_case = (
        "CASE user_id % 4 "
        + " ".join(
            f"WHEN {i} THEN '{name}'"
            for i, name in enumerate(("transfer", "approve", "balanceOf", "transferFrom"))
        )
        + " END"
    )
    sel_hex = (
        "CASE user_id % 4 "
        + " ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(sels))
        + " END"
    )
    mb = [
        ("0x0000000000000000000000000000000000000800", "staking"),
        ("0x0000000000000000000000000000000000000802", "native token"),
        ("0x0000000000000000000000000000000000000803", "democracy"),
        ("0x0000000000000000000000000000000000000804", "xtokens"),
        ("0x0000000000000000000000000000000000000808", "batch"),
    ]
    mb_addr = (
        "CASE user_id % 5 "
        + " ".join(f"WHEN {i} THEN '{a}'" for i, (a, _) in enumerate(mb))
        + " END"
    )
    mb_name = (
        "CASE user_id % 5 "
        + " ".join(f"WHEN {i} THEN '{n}'" for i, (_, n) in enumerate(mb))
        + " END"
    )
    return f"""
WITH e AS (
  SELECT event_id, user_id, event_type FROM events
  WHERE event_type IN ('purchase', 'click', 'view') AND event_id < 6000
)
SELECT event_id,
       '0xffffffff' || lpad(lower(hex(user_id % 50)), 32, '0') AS to_address,
       CAST(NULL AS VARCHAR) AS precompile_name,
       TRUE AS is_system_contract,
       CAST(user_id % 50 AS BIGINT) AS xc20_asset_id,
       {sel_case} AS ierc20_method,
       {sel_hex} AS selector
FROM e WHERE event_type = 'purchase'
UNION ALL
SELECT event_id, {mb_addr}, {mb_name}, TRUE, CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR), '0x12345678'
FROM e WHERE event_type = 'click'
UNION ALL
SELECT event_id, '0xdead' || lpad(CAST(user_id AS VARCHAR), 36, '0'),
       CAST(NULL AS VARCHAR), FALSE, CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR), '0x12345678'
FROM e WHERE event_type = 'view'
"""


@query(
    "evm_precompile_calls",
    oracle=_precompile_oracle_sql(),
    doc="EVM system-contract classification (substrate/precompiles/: the "
    "contractabi registry the reference loads once via updatePrecompiles "
    "so getAddressContract marks isSystemContract, README.md; moonbeam "
    "address table :5-14): transactions decorate against the broadcast "
    "precompile dim (staking/native-token/democracy/xtokens/batch hit "
    "rows), XC-20 addresses classify by the 0xFFFFFFFF++assetId rule "
    "with the embedded id extracted (chains/moonbeam.js:469,726), and "
    "XC-20 calldata names its IERC20 method from the 4-byte selector "
    "(IERC20.json applied programmatically, README.md:35-37) — keccak-"
    "derived selectors, interpolated into the oracle from the same "
    "constants. One BroadcastHashJoin + codegen, no Python, no shuffle.",
    tags=("pipeline", "evm", "join"),
)
def evm_precompile_calls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.precompiles import (
        IERC20_SELECTORS,
        decorate_system_contracts,
    )

    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click", "view") & (F.col("event_id") < 6000)
    )
    uid = F.col("user_id")
    et = F.col("event_type")
    xc20_addr = F.concat(
        F.lit("0xffffffff"), F.lpad(F.lower(F.hex(uid % 50)), 32, "0")
    )
    mb = [
        "0x0000000000000000000000000000000000000800",
        "0x0000000000000000000000000000000000000802",
        "0x0000000000000000000000000000000000000803",
        "0x0000000000000000000000000000000000000804",
        "0x0000000000000000000000000000000000000808",
    ]
    mb_addr = None
    for i, a in enumerate(mb):
        c = uid % 5 == i
        mb_addr = F.when(c, F.lit(a)) if mb_addr is None else mb_addr.when(c, F.lit(a))
    plain_addr = F.concat(F.lit("0xdead"), F.lpad(uid.cast("string"), 36, "0"))
    to_addr = (
        F.when(et == "purchase", xc20_addr)
        .when(et == "click", mb_addr)
        .otherwise(plain_addr)
    )
    sel_names = ("transfer", "approve", "balanceOf", "transferFrom")
    sel = None
    for i, n in enumerate(sel_names):
        c = uid % 4 == i
        s = F.lit(IERC20_SELECTORS[n])
        sel = F.when(c, s) if sel is None else sel.when(c, s)
    txs = e.select(
        "event_id",
        to_addr.alias("to_address"),
        F.when(et == "purchase", sel).otherwise(F.lit("0x12345678")).alias("input"),
    )
    out = decorate_system_contracts(txs, spark, chain_id=2004)
    return out.select(
        "event_id",
        "to_address",
        "precompile_name",
        "is_system_contract",
        "xc20_asset_id",
        "ierc20_method",
        F.lower(F.substring("input", 1, 10)).alias("selector"),
    )


# ---------------------------------------------------------------------------
# AssetHub stablecoin snapshot
# ---------------------------------------------------------------------------

_AH_MODL_NAMES = ("py/trsry", "py/cfund", "assethub")
_AH_MODL_PKS = tuple(
    "0x" + ("modl" + n).encode().hex().ljust(64, "0") for n in _AH_MODL_NAMES
)


def _ah_oracle_sql() -> str:
    modl_name = (
        "CASE CAST(FLOOR(ck / 10) AS BIGINT) % 3 "
        + " ".join(f"WHEN {i} THEN 'modl{n}'" for i, n in enumerate(_AH_MODL_NAMES))
        + " END"
    )
    modl_pk = (
        "CASE CAST(FLOOR(ck / 10) AS BIGINT) % 3 "
        + " ".join(f"WHEN {i} THEN '{p}'" for i, p in enumerate(_AH_MODL_PKS))
        + " END"
    )
    return f"""
WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ck FROM customer WHERE c_custkey < 200),
b AS (
  SELECT ck,
         CASE WHEN ck % 3 = 0 THEN 1337 ELSE 1984 END AS currency_id,
         CASE WHEN ck % 3 = 0 THEN 'USDC' ELSE 'USDT' END AS symbol,
         (ck * 937 + 1) * 100 AS raw,
         CASE WHEN ck % 10 = 0 THEN {modl_name}
              WHEN ck % 10 = 5 THEN 'para:' || (2000 + ck % 50)
         END AS name,
         CASE WHEN ck % 10 = 0 THEN {modl_pk}
              WHEN ck % 10 = 5 THEN '0x70617261'
                   || lpad(lower(hex((2000 + ck % 50) % 256)), 2, '0')
                   || lpad(lower(hex(CAST(FLOOR((2000 + ck % 50) / 256) AS BIGINT))), 2, '0')
                   || '0000' || repeat('0', 48)
              ELSE '0x' || md5('pk' || ck) || md5('pq' || ck)
         END AS address_pubkey
  FROM c
),
cls AS (
  SELECT *,
         (name IS NOT NULL
          OR currency_id = 1337
          OR CAST(raw AS DOUBLE) / 4000000000.0 > 0.0025) AS keep
  FROM b
)
SELECT CAST(currency_id AS BIGINT) AS currency_id, symbol, name, address_pubkey,
       CAST(raw AS DOUBLE) / 1000000.0 AS balance,
       CAST(raw AS VARCHAR) AS balance_raw,
       CAST(NULL AS BIGINT) AS holders
FROM cls WHERE keep
UNION ALL
SELECT CAST(currency_id AS BIGINT), symbol, 'holders', CAST(NULL AS VARCHAR),
       CAST(CAST(SUM(raw) AS VARCHAR) AS DOUBLE) / 1000000.0,
       CAST(SUM(raw) AS VARCHAR),
       COUNT(*)
FROM cls WHERE NOT keep GROUP BY currency_id, symbol
"""


@query(
    "snapshots_assethub_stablecoins",
    oracle=_ah_oracle_sql(),
    doc="AssetHub stablecoin distribution snapshot (substrate/snapshot/"
    "polkadot_assethub.js:34-138): assets.asset state (comma-cleaned "
    "supply/accounts fields, :50-53) broadcast onto the assets.account "
    "holder walk with the selective publish rule — INDIVIDUAL rows for "
    "system-named accounts (the REAL pubKeyHex2ASCII decode: "
    "para/sibl/modl prefixes, trailing-zero strip, ':<id>' little-endian "
    "tail — paraTool.js:378-411, implemented as a native higher-order "
    "fold), for small assets (asset-record holder count ≤ target) and "
    "for whales (balance share > 0.25%); everything else folds into one "
    "exact-raw-sum 'holders' residual per currency. USDC's asset record "
    "says 15 holders (small → all individual); USDT says 100k (only "
    "named + whales individual). The oracle rebuilds names from the "
    "plaintext it planted, so a decoder regression hash-fails.",
    tags=("pipeline", "snapshots", "agg", "functions"),
)
def snapshots_assethub_stablecoins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.snapshots import AssetHubSnapshotter

    cust = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 200)
    ck = F.col("c_custkey").cast("long")
    cid = F.when(ck % 3 == 0, F.lit(1337)).otherwise(F.lit(1984))
    raw = (ck * 937 + 1) * 100
    pid = F.lit(2000) + ck % 50
    modl_pk = F.element_at(
        F.array(*[F.lit(p) for p in _AH_MODL_PKS]),
        (F.floor(ck / 10).cast("long") % 3 + 1).cast("int"),
    )
    para_pk = F.concat(
        F.lit("0x70617261"),
        F.lpad(F.lower(F.hex(pid % 256)), 2, "0"),
        F.lpad(F.lower(F.hex(F.floor(pid / 256).cast("long"))), 2, "0"),
        F.lit("0000"),
        F.repeat(F.lit("0"), 48),
    )
    rand_pk = F.concat(
        F.lit("0x"),
        F.md5(F.concat(F.lit("pk"), ck.cast("string"))),
        F.md5(F.concat(F.lit("pq"), ck.cast("string"))),
    )
    pk = (
        F.when(ck % 10 == 0, modl_pk).when(ck % 10 == 5, para_pk).otherwise(rand_pk)
    )
    account_entries = cust.select(
        F.concat(
            F.lit('["'), cid.cast("string"), F.lit('","'), pk, F.lit('"]')
        ).alias("key_args"),
        F.concat(
            F.lit('{"balance":"'), F.format_number(raw, 0), F.lit('"}')
        ).alias("value"),
    )
    asset_entries = local_frame(
        spark,
        [
            (
                '["1984"]',
                '{"supply":"4,000,000,000","deposit":"10","minBalance":"1",'
                '"accounts":"100,000","sufficients":"5","approvals":"0"}',
            ),
            (
                '["1337"]',
                '{"supply":"1,000,000,000","deposit":"10","minBalance":"1",'
                '"accounts":"15","sufficients":"2","approvals":"0"}',
            ),
        ],
        "key_args string, value string",
    )
    snap = AssetHubSnapshotter()
    return snap.stablecoin_holders(
        asset_entries,
        account_entries,
        currency_list={1984: ("USDT", 6), 1337: ("USDC", 6)},
        target_max_holders=20,
    ).select(
        F.col("currency_id").cast("bigint").alias("currency_id"),
        "symbol",
        "name",
        "address_pubkey",
        "balance",
        "balance_raw",
        "holders",
    )


@query(
    "token_metadata_maintenance",
    oracle="""
WITH a0 AS (
  SELECT CAST(p_partkey AS BIGINT) AS a,
         '0xc' || lpad(CAST(p_partkey AS VARCHAR), 4, '0') AS asset,
         CASE WHEN p_partkey % 4 = 0 THEN 'ERC721' ELSE 'ERC20' END AS asset_type
  FROM part WHERE p_partkey < 60
),
obs AS (
  SELECT CAST(l_partkey % 60 AS BIGINT) AS a,
         CAST(50 + l_orderkey % 200 AS BIGINT) AS bn
  FROM lineitem WHERE l_orderkey < 2000
),
best AS (
  SELECT a, MAX(bn) AS bn FROM obs GROUP BY a
),
supply AS (
  SELECT 'supply' AS kind, a0.asset, CAST(NULL AS BIGINT) AS token_id,
         CAST(CASE
           WHEN b.bn IS NOT NULL AND b.bn > 100 AND b.bn % 7 = 0 THEN 0
           WHEN b.bn IS NOT NULL AND b.bn > 100 THEN a0.a * 1000 + b.bn
           ELSE a0.a * 1000 END AS VARCHAR) AS value_str,
         CAST(CASE WHEN b.bn IS NOT NULL AND b.bn > 100 THEN b.bn
                   ELSE 100 END AS BIGINT) AS last_update_bn
  FROM a0 LEFT JOIN best b ON a0.a = b.a
),
nft_cur AS (
  SELECT a, asset, CAST(a % 10 AS BIGINT) AS token_id,
         'ipfs://base/' || a AS uri, 'h' || a AS holder,
         CAST(50 AS BIGINT) AS bn
  FROM a0 WHERE asset_type = 'ERC721'
),
nft_obs AS (
  SELECT DISTINCT CAST(l_partkey % 60 AS BIGINT) AS a,
         CAST(l_linenumber % 10 AS BIGINT) AS token_id,
         CAST(40 + l_orderkey % 100 AS BIGINT) AS bn
  FROM lineitem WHERE l_orderkey < 2000 AND (l_partkey % 60) % 4 = 0
),
nft_all AS (
  SELECT a, token_id, uri, holder, bn FROM nft_cur
  UNION ALL
  SELECT o.a, o.token_id,
         'ipfs://new/' || o.a || '/' || o.token_id || '/' || o.bn,
         'h' || (o.a + o.token_id + o.bn), o.bn
  FROM nft_obs o JOIN (SELECT DISTINCT a FROM nft_cur) c ON c.a = o.a
),
nft_best AS (
  SELECT a, token_id, uri, holder, bn,
         ROW_NUMBER() OVER (PARTITION BY a, token_id ORDER BY bn DESC) AS rn
  FROM nft_all
),
nft AS (
  SELECT 'nft' AS kind,
         '0xc' || lpad(CAST(a AS VARCHAR), 4, '0') AS asset,
         token_id, uri || '|' || holder AS value_str, bn AS last_update_bn
  FROM nft_best WHERE rn = 1
)
SELECT * FROM supply UNION ALL SELECT * FROM nft
""",
    doc="Token-metadata maintenance crons (substrate/tools/"
    "updateERC20TokenSupply + tools/indexTokenURI over indexer.js:"
    "2779-2790,2936-2938 and ethTool.js:3198-3203): supply observations "
    "fold into the asset dim with strictly-newer-block gating and the "
    "validate_bigint junk guard (invalid supplies write 0 but still "
    "refresh the stamp); NFT (asset, tokenID) metadata rows merge with "
    "the lastUpdateBN-keyed replace — newest block wins, unseen tokens "
    "insert, stale observations lose to the current row. Both folds are "
    "one keyed window over the observation batch; the asset dim never "
    "re-shuffles. The oracle replays both merge rules independently.",
    tags=("pipeline", "merge", "window"),
)
def token_metadata_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.token_metadata import (
        refresh_token_supply,
        upsert_nft_metadata,
    )

    part = load_table(spark, sf_dir, "part").where(F.col("p_partkey") < 60)
    p = F.col("p_partkey").cast("long")
    asset = F.concat(F.lit("0xc"), F.lpad(p.cast("string"), 4, "0"))
    assets = part.select(
        asset.alias("asset"),
        F.when(p % 4 == 0, F.lit("ERC721")).otherwise(F.lit("ERC20")).alias("asset_type"),
        (p * 1000).cast("decimal(38,0)").alias("total_supply"),
        F.lit(100).cast("long").alias("last_update_bn"),
    )

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 2000)
    a = (F.col("l_partkey") % 60).cast("long")
    bn = (F.lit(50) + F.col("l_orderkey") % 200).cast("long")
    supply_obs = li.select(
        F.concat(F.lit("0xc"), F.lpad(a.cast("string"), 4, "0")).alias("asset"),
        # bn%7==0 rows carry a junk negative supply — validate_bigint
        # must zero it while the block stamp still advances
        F.when(bn % 7 == 0, F.lit("-3"))
        .otherwise((a * 1000 + bn).cast("string"))
        .alias("total_supply"),
        bn.alias("block_number"),
    )
    refreshed = refresh_token_supply(assets, supply_obs)
    supply_rows = refreshed.select(
        F.lit("supply").alias("kind"),
        "asset",
        F.lit(None).cast("long").alias("token_id"),
        F.col("total_supply").cast("string").alias("value_str"),
        F.col("last_update_bn"),
    )

    nft_current = assets.where(F.col("asset_type") == "ERC721").select(
        "asset",
        (F.conv(F.substring("asset", 4, 4), 10, 10).cast("long") % 10).alias("token_id"),
        F.concat(F.lit("h"), F.conv(F.substring("asset", 4, 4), 10, 10)).alias("holder"),
        F.lit("{}").alias("meta"),
        F.concat(F.lit("ipfs://base/"), F.conv(F.substring("asset", 4, 4), 10, 10)).alias(
            "token_uri"
        ),
        F.lit("1").alias("free"),
        F.lit(50).cast("long").alias("last_update_bn"),
    )
    nbn = (F.lit(40) + F.col("l_orderkey") % 100).cast("long")
    tid = (F.col("l_linenumber") % 10).cast("long")
    nft_obs = (
        li.where((F.col("l_partkey") % 60) % 4 == 0)
        .select(
            F.concat(F.lit("0xc"), F.lpad(a.cast("string"), 4, "0")).alias("asset"),
            a.alias("__a"),
            tid.alias("token_id"),
            F.concat(F.lit("h"), (a + tid + nbn).cast("string")).alias("holder"),
            F.lit("{}").alias("meta"),
            F.concat(
                F.lit("ipfs://new/"), a.cast("string"), F.lit("/"),
                tid.cast("string"), F.lit("/"), nbn.cast("string"),
            ).alias("token_uri"),
            F.lit("1").alias("free"),
            nbn.alias("last_update_bn"),
        )
        .dropDuplicates(["asset", "token_id", "last_update_bn"])
        .drop("__a")
    )
    merged = upsert_nft_metadata(nft_current, nft_obs)
    nft_rows = merged.select(
        F.lit("nft").alias("kind"),
        "asset",
        "token_id",
        F.concat(F.col("token_uri"), F.lit("|"), F.col("holder")).alias("value_str"),
        "last_update_bn",
    )
    return supply_rows.unionByName(nft_rows)


@query(
    "snapshots_astar_dappstaking",
    oracle="""
WITH o AS (
  SELECT CAST(o_orderkey AS BIGINT) AS ok, CAST(o_custkey AS BIGINT) AS ck
  FROM orders WHERE o_orderkey < 3000
),
s AS (SELECT ok, ck, ok % 40 AS j FROM o),
dapps AS (SELECT DISTINCT ok % 40 AS j FROM o),
addr AS (
  SELECT j,
         CASE WHEN j % 3 = 0 THEN 'Wasm' ELSE 'Evm' END AS dapp_type,
         CASE WHEN j % 3 = 0 THEN 'W' || md5('w' || j)
              ELSE '0x' || substr(md5('d' || j) || md5('e' || j), 1, 40)
         END AS dapp_address
  FROM dapps
)
SELECT 'staker' AS kind,
       'stk' || (ck % 500) AS address_ss58,
       a.dapp_type, a.dapp_address,
       CAST(CAST(ok * 1000000000000000 + 3 AS VARCHAR) AS DOUBLE) / 1e18
         AS voting,
       CAST(CAST(ok * 100000000000000 + 1 AS VARCHAR) AS DOUBLE) / 1e18
         AS build_and_earn,
       CAST(j + 100 AS INTEGER) AS era,
       CAST(j % 5 AS INTEGER) AS period,
       j % 2 = 0 AS loyal
FROM s JOIN addr a USING (j)
UNION ALL
SELECT 'dapp', 'own' || j, dapp_type, dapp_address,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(j AS INTEGER), CAST(NULL AS INTEGER), j % 7 != 0
FROM addr
""",
    doc="Astar dApp-staking v3 snapshot tracks (substrate/snapshot/"
    "astar.js:174-208 stakerInfo, :279-294 integratedDApps): per-"
    "(staker, dApp) stakes with the {Evm/Wasm} dApp identity split from "
    "the storage key, voting/buildAndEarn decimalized through "
    "dechexToIntStr / 10^18 (exact-decimal-string → double → one IEEE "
    "division, mixed hex/decimal inputs row-by-row), and the dApp "
    "registry with hex-or-decimal ids and the Registered state gate — "
    "through plans.snapshots.AstarSnapshotter, all native JSON columns. "
    "The oracle rebuilds every value from the integer formulas.",
    tags=("pipeline", "snapshots", "functions"),
)
def snapshots_astar_dappstaking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.snapshots import AstarSnapshotter

    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 3000)
        .select(
            F.col("o_orderkey").cast("long").alias("ok"),
            F.col("o_custkey").cast("long").alias("ck"),
        )
    )
    ok, ck = F.col("ok"), F.col("ck")
    j = ok % 40
    js = j.cast("string")
    dapp_type = F.when(j % 3 == 0, F.lit("Wasm")).otherwise(F.lit("Evm"))
    dapp_addr = F.when(
        j % 3 == 0, F.concat(F.lit("W"), F.md5(F.concat(F.lit("w"), js)))
    ).otherwise(
        F.concat(
            F.lit("0x"),
            F.substring(
                F.concat(F.md5(F.concat(F.lit("d"), js)), F.md5(F.concat(F.lit("e"), js))),
                1, 40,
            ),
        )
    )

    def hexs(c: Column) -> Column:
        return F.concat(F.lit("0x"), F.lower(F.hex(c)))

    voting_raw = ok * 1000000000000000 + 3
    bae_raw = ok * 100000000000000 + 1
    staker_entries = o.select(
        F.concat(
            F.lit('["stk'), (ck % 500).cast("string"), F.lit('",{"'),
            dapp_type, F.lit('":"'), dapp_addr, F.lit('"}]'),
        ).alias("key_args"),
        F.concat(
            F.lit('{"staked":{"voting":"'),
            F.when(ok % 2 == 0, hexs(voting_raw)).otherwise(voting_raw.cast("string")),
            F.lit('","buildAndEarn":"'),
            F.when(ok % 3 == 0, hexs(bae_raw)).otherwise(bae_raw.cast("string")),
            F.lit('","era":'), (j + 100).cast("string"),
            F.lit(',"period":'), (j % 5).cast("string"),
            F.lit('},"loyalStaker":'),
            F.when(j % 2 == 0, F.lit("true")).otherwise(F.lit("false")),
            F.lit("}"),
        ).alias("value"),
    )
    dapp_entries = (
        o.select(j.alias("jj")).dropDuplicates()
        .select(
            F.concat(
                F.lit('[{"'),
                F.when(F.col("jj") % 3 == 0, F.lit("Wasm")).otherwise(F.lit("Evm")),
                F.lit('":"'),
                F.when(
                    F.col("jj") % 3 == 0,
                    F.concat(F.lit("W"), F.md5(F.concat(F.lit("w"), F.col("jj").cast("string")))),
                ).otherwise(
                    F.concat(
                        F.lit("0x"),
                        F.substring(
                            F.concat(
                                F.md5(F.concat(F.lit("d"), F.col("jj").cast("string"))),
                                F.md5(F.concat(F.lit("e"), F.col("jj").cast("string"))),
                            ),
                            1, 40,
                        ),
                    )
                ),
                F.lit('"}]'),
            ).alias("key_args"),
            F.concat(
                F.lit('{"owner":"own'), F.col("jj").cast("string"),
                F.lit('","id":'),
                F.when(
                    F.col("jj") % 2 == 1,
                    F.concat(F.lit('"0x'), F.lower(F.hex(F.col("jj"))), F.lit('"')),
                ).otherwise(F.col("jj").cast("string")),
                F.lit(',"state":"'),
                F.when(F.col("jj") % 7 == 0, F.lit("Unregistered")).otherwise(
                    F.lit("Registered")
                ),
                F.lit('"}'),
            ).alias("value"),
        )
    )
    snap = AstarSnapshotter()
    stakers = snap.staker_info(staker_entries).select(
        F.lit("staker").alias("kind"),
        "address_ss58",
        "dapp_type",
        "dapp_address",
        "voting",
        "build_and_earn",
        "era",
        "period",
        "loyal",
    )
    dapps = snap.integrated_dapps(dapp_entries).select(
        F.lit("dapp").alias("kind"),
        F.col("owner").alias("address_ss58"),
        "dapp_type",
        "dapp_address",
        F.lit(None).cast("double").alias("voting"),
        F.lit(None).cast("double").alias("build_and_earn"),
        F.col("dapp_id").cast("int").alias("era"),
        F.lit(None).cast("int").alias("period"),
        F.col("registered").alias("loyal"),
    )
    return stakers.unionByName(dapps)


@query(
    "gar_longtail_registry",
    oracle="""
WITH astar AS (
  SELECT 'polkadot~[{"parachain":' || (2600 + k) || '},{"generalIndex":'
           || k || '}]' AS xcm_interior_key,
         'AS' || k AS symbol,
         CAST(18 AS INTEGER) AS decimals,
         CAST(2600 + k AS INTEGER) AS para_id,
         'x2' AS interior_type,
         'onchain' AS source,
         CAST(CASE WHEN k = 6 THEN 2 ELSE 1 END AS BIGINT) AS confidence,
         '{"Token":"' || k || '"}' AS xc_currency_id,
         CAST(NULL AS VARCHAR) AS xc_contract_address
  FROM (SELECT CAST(p_partkey AS BIGINT) AS k FROM part WHERE p_partkey < 20)
),
astar_native AS (
  SELECT 'polkadot~[{"parachain":2006}]', 'ASTR', CAST(18 AS INTEGER),
         CAST(2006 AS INTEGER), 'x1', 'manual', CAST(1 AS BIGINT),
         '{"Token":"ASTR"}', CAST(NULL AS VARCHAR)
),
shiden AS (
  SELECT 'kusama~[{"parachain":' || (2700 + k) || '},{"generalIndex":'
           || (40 + k) || '}]',
         'SH' || k, CAST(12 AS INTEGER), CAST(2700 + k AS INTEGER), 'x2',
         'onchain', CAST(1 AS BIGINT), '{"Token":"' || k || '"}',
         CAST(NULL AS VARCHAR)
  FROM (SELECT CAST(r_regionkey AS BIGINT) AS k FROM region)
),
shiden_native AS (
  SELECT 'kusama~[{"parachain":2007}]', 'SDN', CAST(18 AS INTEGER),
         CAST(2007 AS INTEGER), 'x1', 'manual', CAST(1 AS BIGINT),
         '{"Token":"SDN"}', CAST(NULL AS VARCHAR)
),
clover AS (
  SELECT 'polkadot~[{"parachain":' || (2200 + k) || '},{"generalIndex":'
           || (10 + k) || '}]',
         'CL' || k, CAST(10 AS INTEGER), CAST(2200 + k AS INTEGER), 'x2',
         'onchain', CAST(1 AS BIGINT), '{"Token":"' || k || '"}',
         CAST(NULL AS VARCHAR)
  FROM (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier
        WHERE s_suppkey < 15 AND s_suppkey % 3 != 0)
),
trail AS (
  SELECT 'polkadot~[{"parachain":' || (2430 + k) || '},{"generalIndex":'
           || (20 + k) || '}]',
         'OT' || k, CAST(18 AS INTEGER), CAST(2430 + k AS INTEGER), 'x2',
         'onchain', CAST(1 AS BIGINT), '{"Token":"' || k || '"}',
         CAST(NULL AS VARCHAR)
  FROM (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
        WHERE c_custkey < 12 AND c_custkey <= 10)
),
clover_aug AS (
  SELECT 'polkadot~[{"parachain":' || (2290 + k) || '},{"generalIndex":'
           || (50 + k) || '}]',
         'CL' || k, CAST(10 AS INTEGER), CAST(2290 + k AS INTEGER), 'x2',
         'augment', CAST(1 AS BIGINT), '{"Token":"' || k || '"}',
         CAST(NULL AS VARCHAR)
  FROM (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier
        WHERE s_suppkey < 15 AND s_suppkey % 3 = 0 AND s_suppkey != 12)
),
shadow AS (
  SELECT 'kusama~[{"parachain":' || (2120 + k) || '},{"generalIndex":'
           || (30 + k) || '}]',
         'SD' || k, CAST(11 AS INTEGER), CAST(2120 + k AS INTEGER), 'x2',
         'onchain', CAST(1 AS BIGINT), '{"Token":"' || k || '"}',
         CAST(NULL AS VARCHAR)
  FROM (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation
        WHERE n_nationkey % 3 != 0)
)
SELECT * FROM astar
UNION ALL SELECT * FROM astar_native
UNION ALL SELECT * FROM shiden
UNION ALL SELECT * FROM shiden_native
UNION ALL SELECT * FROM clover
UNION ALL SELECT * FROM clover_aug
UNION ALL SELECT * FROM trail
UNION ALL SELECT * FROM shadow
""",
    doc="Long-tail gar chain-registry parsers — the five reference parser "
    "files the r5 dispatch did not name (gar/chainParsers/astar.js:1, "
    "clover.js:1, origintrail.js:1, robonomics.js:1, shadow.js:1), "
    "dispatch-completing _GAR_PARSERS against the reference directory: "
    "astar+shiden's xcAssetConfig:assetIdToLocation with the manual "
    "NATIVE registration (ASTR/SDN attach to the system-properties "
    "symbol-keyed seed, astar.js:25-38 + common_chainparser.js:68-101 "
    "— a key shape the r5 manual path could not express), clover's "
    "assetConfig:assetIdLocation PLUS its fetchAugments step — the "
    "k%3==0 assets the xc registry missed get locations INFERRED from "
    "outgoing xTokens extrinsics (processOutgoingXTokens: exactly-one "
    "TransferredMultiAssets event, positional currency<->MultiAsset zip, "
    "concrete-fungible only, known-asset gate; one two-event extrinsic "
    "must skip), publishing with source='augment' — origintrail's "
    "astar-layout registry "
    "including one cross-registration of an astar asset (tie-break "
    "para_id asc -> astar wins, confidence 2), and crust shadow's "
    "assetManager:assetIdType with the xc-wrapper symbol strip. "
    "Version-wrap variety: {v1}/{xcm} on astar, direct on "
    "clover/shiden, {v3} on origintrail, {v0}-or-direct on shadow; an "
    "unregistered astar id 999 exercises the unknown-asset skip. "
    "Robonomics (assets:metadata only, isXcRegistryAvailable=false) "
    "contributes nothing global by design — its parser is "
    "dispatch-tested in pytest. All parses are native JSON columns with "
    "broadcast known-asset gates; canonicalization is the REAL "
    "build_xcm_asset_registry (one compact Arrow codec wave, home-first "
    "rank window).",
    tags=("pipeline", "join", "window", "xcm"),
)
def gar_longtail_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.garparsers import (
        AstarGarParser,
        CloverGarParser,
        OrigintrailGarParser,
        ShadowGarParser,
        ShidenGarParser,
    )
    from polkadot_etl_spark.plans.xcmgar import build_xcm_asset_registry

    def _x2(para: Column, gi: Column) -> Column:
        return F.concat(
            F.lit('{"parents":1,"interior":{"X2":[{"Parachain":'),
            para.cast("string"),
            F.lit('},{"GeneralIndex":'),
            gi.cast("string"),
            F.lit("}]}}"),
        )

    def _keyed(df: DataFrame) -> Column:
        return F.concat(F.lit('["'), F.col("k").cast("string"), F.lit('"]'))

    k = F.col("k")
    ks = k.cast("string")

    # --- astar: assets:metadata + xcAssetConfig:assetIdToLocation
    pt = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_partkey") < 20)
        .select(F.col("p_partkey").cast("long").alias("k"))
    )
    as_gar = pt.select(
        _keyed(pt).alias("key_args"),
        F.concat(
            F.lit('{"symbol":"AS'), ks, F.lit('","name":"Astar '), ks,
            F.lit('","decimals":18}'),
        ).alias("value"),
    )
    as_xc_val = F.when(
        k % 2 == 0, F.concat(F.lit('{"v1":'), _x2(k + 2600, k), F.lit("}"))
    ).otherwise(F.concat(F.lit('{"xcm":'), _x2(k + 2600, k), F.lit("}")))
    as_xc = pt.select(_keyed(pt).alias("key_args"), as_xc_val.alias("value")).unionByName(
        local_frame(
            spark,
            # id 999 absent from assets:metadata → unknown-asset skip
            [('["999"]', '{"parents":1,"interior":{"X1":{"Parachain":9999}}}')],
            "key_args string, value string",
        )
    )
    as_regs = AstarGarParser().registrations(spark, as_gar, as_xc)

    # --- shiden: same parser class, kusama relay, SDN native
    rg = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("long").alias("k")
    )
    sh_gar = rg.select(
        _keyed(rg).alias("key_args"),
        F.concat(
            F.lit('{"symbol":"SH'), ks, F.lit('","name":"Shiden '), ks,
            F.lit('","decimals":12}'),
        ).alias("value"),
    )
    sh_xc = rg.select(_keyed(rg).alias("key_args"), _x2(k + 2700, k + 40).alias("value"))
    sh_regs = ShidenGarParser().registrations(spark, sh_gar, sh_xc)

    # --- clover: assets:metadata + assetConfig:assetIdLocation; k%3==0
    # assets are local-only (no xc row)
    sup = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") < 15)
        .select(F.col("s_suppkey").cast("long").alias("k"))
    )
    cl_gar = sup.select(
        _keyed(sup).alias("key_args"),
        F.concat(
            F.lit('{"symbol":"CL'), ks, F.lit('","name":"Clover '), ks,
            F.lit('","decimals":10}'),
        ).alias("value"),
    )
    cl_xc = sup.where(k % 3 != 0).select(
        _keyed(sup).alias("key_args"), _x2(k + 2200, k + 10).alias("value")
    )
    clover = CloverGarParser()
    cl_regs = clover.registrations(spark, cl_gar, cl_xc)
    # fetchAugments: the k%3==0 assets the xc registry missed get their
    # locations INFERRED from outgoing xTokens extrinsics
    # (processOutgoingXTokens); k=12 carries TWO TransferredMultiAssets
    # events and must skip
    aug_src = sup.where(k % 3 == 0)
    asset_json = F.concat(
        F.lit('[{"id":{"concrete":'), _x2(k + 2290, k + 50),
        F.lit('},"fun":{"fungible":77}}]'),
    )
    ev = F.concat(
        F.lit('{"section":"xTokens","method":"TransferredMultiAssets",'
              '"data":["s",'), asset_json, F.lit(",{},{}]}"),
    )
    cl_ext = aug_src.select(
        F.lit("xTokens").alias("section"),
        F.when(k % 2 == 1, F.lit("transfer"))
        .otherwise(F.lit("transferMulticurrencies"))
        .alias("method"),
        F.when(k % 2 == 1, F.concat(F.lit('{"currency_id":'), ks, F.lit("}")))
        .otherwise(F.concat(F.lit('{"currencies":[['), ks, F.lit(",100]]}")))
        .alias("params"),
        F.when(k == 12, F.concat(F.lit("["), ev, F.lit(","), ev, F.lit("]")))
        .otherwise(F.concat(F.lit("["), ev, F.lit("]")))
        .alias("events"),
    )
    cl_regs = cl_regs.unionByName(
        clover.augment_from_xtokens(cl_ext, clover.parse_gar(cl_gar))
    )

    # --- origintrail: astar layout, {v3} wrap; asset 11 cross-registers
    # astar's (2606, 6) location → confidence 2, astar home-rank wins
    cu = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 12)
        .select(F.col("c_custkey").cast("long").alias("k"))
    )
    ot_gar = cu.select(
        _keyed(cu).alias("key_args"),
        F.concat(
            F.lit('{"symbol":"OT'), ks, F.lit('","name":"Trail '), ks,
            F.lit('","decimals":18}'),
        ).alias("value"),
    )
    ot_loc = F.when(k <= 10, _x2(k + 2430, k + 20)).otherwise(
        _x2(F.lit(2606), F.lit(6))
    )
    ot_xc = cu.select(
        _keyed(cu).alias("key_args"),
        F.concat(F.lit('{"v3":'), ot_loc, F.lit("}")).alias("value"),
    )
    ot_regs = OrigintrailGarParser().registrations(spark, ot_gar, ot_xc)

    # --- shadow: assetManager:assetIdType, xc-wrapper strip; k%3==0
    # assets are local-only
    na = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k")
    )
    sd_sym = F.when(k % 2 == 0, F.concat(F.lit("xcSD"), ks)).otherwise(
        F.concat(F.lit("SD"), ks)
    )
    sd_gar = na.select(
        _keyed(na).alias("key_args"),
        F.concat(
            F.lit('{"symbol":"'), sd_sym, F.lit('","name":"Shadow '), ks,
            F.lit('","decimals":11}'),
        ).alias("value"),
    )
    sd_xc_val = F.when(
        k % 2 == 0, F.concat(F.lit('{"v0":'), _x2(k + 2120, k + 30), F.lit("}"))
    ).otherwise(_x2(k + 2120, k + 30))
    sd_xc = na.where(k % 3 != 0).select(
        _keyed(na).alias("key_args"), sd_xc_val.alias("value")
    )
    sd_regs = ShadowGarParser().registrations(spark, sd_gar, sd_xc)

    reg = build_xcm_asset_registry(
        as_regs.unionByName(sh_regs)
        .unionByName(cl_regs)
        .unionByName(ot_regs)
        .unionByName(sd_regs),
        codec="native",
    )
    return reg.select(
        "xcm_interior_key",
        "symbol",
        "decimals",
        "para_id",
        "interior_type",
        "source",
        "confidence",
        "xc_currency_id",
        "xc_contract_address",
    )


@query(
    "snapshots_dappstaking_v3",
    oracle="""
WITH stakers AS (
  SELECT 'staker' AS kind,
         's' || k AS address_ss58,
         CASE WHEN k % 2 = 0 THEN 'Evm' ELSE 'Wasm' END AS dapp_type,
         '0x' || k AS dapp_address,
         CAST(k AS DOUBLE) AS voting,
         CAST(k AS DOUBLE) * 0.5 AS build_and_earn,
         CAST(4300 + k AS INTEGER) AS era,
         CAST(k % 5 AS INTEGER) AS period,
         (k % 3 = 0) AS loyal,
         CAST(NULL AS DOUBLE) AS total_locked,
         CAST(NULL AS DOUBLE) AS unlocking,
         CAST(NULL AS DOUBLE) AS next_voting,
         CAST(NULL AS DOUBLE) AS next_build_and_earn,
         CAST(NULL AS INTEGER) AS next_era,
         CAST(NULL AS INTEGER) AS next_period,
         CAST(NULL AS BIGINT) AS next_era_start,
         CAST(NULL AS INTEGER) AS period_number,
         CAST(NULL AS VARCHAR) AS subperiod,
         CAST(NULL AS INTEGER) AS next_subperiod_start_era,
         CAST(NULL AS BOOLEAN) AS maintenance
  FROM (SELECT CAST(p_partkey AS BIGINT) AS k FROM part WHERE p_partkey < 25)
),
era_info AS (
  SELECT 'era_info', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         CAST(NULL AS VARCHAR),
         CAST('340282366920938463463' AS DOUBLE) / POWER(10.0, 18),
         CAST('12000000000000000000' AS DOUBLE) / POWER(10.0, 18),
         CAST(4335 AS INTEGER), CAST(1 AS INTEGER), CAST(NULL AS BOOLEAN),
         CAST('59853000000000000000000' AS DOUBLE) / POWER(10.0, 18),
         CAST('930000000000000000' AS DOUBLE) / POWER(10.0, 18),
         CAST('59000000000000000000000' AS DOUBLE) / POWER(10.0, 18),
         CAST(0 AS DOUBLE),
         CAST(4336 AS INTEGER), CAST(1 AS INTEGER),
         CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
         CAST(NULL AS INTEGER), CAST(NULL AS BOOLEAN)
),
protocol AS (
  SELECT 'protocol', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(4429 AS INTEGER), CAST(NULL AS INTEGER), CAST(NULL AS BOOLEAN),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE), CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
         CAST(5652415 AS BIGINT), CAST(7 AS INTEGER), 'Voting',
         CAST(4430 AS INTEGER), false
)
SELECT * FROM stakers
UNION ALL SELECT * FROM era_info
UNION ALL SELECT * FROM protocol
""",
    doc="Shibuya dApp-staking v3 snapshot track (plans/snapshots.py "
    "ShibuyaSnapshotter over substrate/snapshot/shibuya.js:28-118): the "
    "two singleton tracks — dappStaking.currentEraInfo "
    "(totalLocked/unlocking + current/next stake amounts, every balance "
    "dechexToInt / 10^18) and dappStaking.activeProtocolState (era, "
    "comma-formatted nextEraStart through the dechex cleaner, "
    "periodInfo, maintenance) — plus the per-(staker, dApp) stakerInfo "
    "walk inherited from the Astar extractor (the exact reuse the "
    "reference gets from its class hierarchy; shibuya.js:91-117). "
    "Moonbeam's snapshotter (snapshot/moonbeam.js:1-11) is a pure "
    "config subclass with NO custom tracks — pinned in pytest, not "
    "here. All three shapes are map-side JSON projections: zero "
    "shuffle, zero Python.",
    tags=("pipeline", "snapshot", "functions"),
)
def snapshots_dappstaking_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.snapshots import ShibuyaSnapshotter

    snap = ShibuyaSnapshotter()
    null_s = F.lit(None).cast("string")
    null_d = F.lit(None).cast("double")
    null_i = F.lit(None).cast("int")
    null_l = F.lit(None).cast("long")
    null_b = F.lit(None).cast("boolean")

    pt = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_partkey") < 25)
        .select(F.col("p_partkey").cast("long").alias("k"))
    )
    k = F.col("k")
    ks = k.cast("string")
    dapp_type = F.when(k % 2 == 0, F.lit("Evm")).otherwise(F.lit("Wasm"))
    staker_entries = pt.select(
        F.concat(
            F.lit('["s'), ks, F.lit('", {"'), dapp_type, F.lit('":"0x'), ks,
            F.lit('"}]'),
        ).alias("key_args"),
        F.concat(
            F.lit('{"staked":{"voting":"'), ks,
            F.lit('000000000000000000","buildAndEarn":"'), (k * 5).cast("string"),
            F.lit('00000000000000000","era":'), (k + 4300).cast("string"),
            F.lit(',"period":'), (k % 5).cast("string"),
            F.lit('},"loyalStaker":'),
            F.when(k % 3 == 0, F.lit("true")).otherwise(F.lit("false")),
            F.lit("}"),
        ).alias("value"),
    )
    stakers = snap.staker_info(staker_entries).select(
        F.lit("staker").alias("kind"),
        "address_ss58", "dapp_type", "dapp_address", "voting", "build_and_earn",
        "era", "period", "loyal",
        null_d.alias("total_locked"), null_d.alias("unlocking"),
        null_d.alias("next_voting"), null_d.alias("next_build_and_earn"),
        null_i.alias("next_era"), null_i.alias("next_period"),
        null_l.alias("next_era_start"), null_i.alias("period_number"),
        null_s.alias("subperiod"), null_i.alias("next_subperiod_start_era"),
        null_b.alias("maintenance"),
    )

    era_entries = local_frame(
        spark,
        [(
            '{"totalLocked":"59853000000000000000000",'
            '"unlocking":"930000000000000000",'
            '"currentStakeAmount":{"voting":"340282366920938463463",'
            '"buildAndEarn":"12000000000000000000","era":4335,"period":1},'
            '"nextStakeAmount":{"voting":"59000000000000000000000",'
            '"buildAndEarn":0,"era":4336,"period":1}}',
        )],
        "value string",
    )
    ei = snap.current_era_info(era_entries).select(
        F.lit("era_info").alias("kind"),
        null_s.alias("address_ss58"), null_s.alias("dapp_type"),
        null_s.alias("dapp_address"),
        F.col("cur_voting").alias("voting"),
        F.col("cur_build_and_earn").alias("build_and_earn"),
        F.col("cur_era").alias("era"), F.col("cur_period").alias("period"),
        null_b.alias("loyal"),
        "total_locked", "unlocking", "next_voting", "next_build_and_earn",
        "next_era", "next_period",
        null_l.alias("next_era_start"), null_i.alias("period_number"),
        null_s.alias("subperiod"), null_i.alias("next_subperiod_start_era"),
        null_b.alias("maintenance"),
    )

    proto_entries = local_frame(
        spark,
        [(
            '{"era":"4,429","nextEraStart":"5,652,415",'
            '"periodInfo":{"number":7,"subperiod":"Voting",'
            '"nextSubperiodStartEra":"4,430"},"maintenance":false}',
        )],
        "value string",
    )
    ps = snap.active_protocol_state(proto_entries).select(
        F.lit("protocol").alias("kind"),
        null_s.alias("address_ss58"), null_s.alias("dapp_type"),
        null_s.alias("dapp_address"), null_d.alias("voting"),
        null_d.alias("build_and_earn"),
        F.col("era").alias("era"), null_i.alias("period"), null_b.alias("loyal"),
        null_d.alias("total_locked"), null_d.alias("unlocking"),
        null_d.alias("next_voting"), null_d.alias("next_build_and_earn"),
        null_i.alias("next_era"), null_i.alias("next_period"),
        "next_era_start", "period_number", "subperiod",
        "next_subperiod_start_era", "maintenance",
    )
    return stakers.unionByName(ei).unionByName(ps)


def _sro_exprs() -> dict:
    """snapshots_relay_opengov's corpus-independent Column trees (r14,
    the gar/snapshot memo pattern — plans/exprmemo.py): the synthesized
    votingFor/referenda/treasury/bounty entry values and the eight
    20-column contract wrappers are pure functions of the generator key
    k and the track-builder output names; building them was ~half the
    query's ~4.5 s py4j build floor. Called once per SparkContext via
    expr_cache; every invocation still assembles and analyzes its own
    plan over the parquet scans."""
    null_s = F.lit(None).cast("string")
    null_d = F.lit(None).cast("double")
    null_l = F.lit(None).cast("long")
    k = F.col("k")
    ks = k.cast("string")
    track_id = F.element_at(
        F.array(F.lit(0), F.lit(1), F.lit(10), F.lit(30), F.lit(34)),
        (k % 5).cast("int") + 1,
    )
    voter = F.concat(F.lit("v"), ks)
    key_args = F.concat(
        F.lit('["'), voter, F.lit('", '), track_id.cast("string"), F.lit("]")
    )

    # casting value: standard vote byte 128+k%7 (aye) or k%7 (nay), then
    # a split (k%6!=0) or splitAbstain (k%6==0) second vote; plancks are
    # k-scaled integrals so every /1e10 is exact
    byte = F.when(k % 2 == 0, k % 7 + 128).otherwise(k % 7)
    vote_hex = F.concat(F.lit("0x"), F.lower(F.hex(byte)))
    second = F.when(
        k % 6 == 0,
        F.concat(
            F.lit('{"splitAbstain":{"aye":'), (k * 1000000000).cast("string"),
            F.lit(',"nay":'), (k * 500000000).cast("string"),
            F.lit(',"abstain":'), (k * 2000000000).cast("string"), F.lit("}}"),
        ),
    ).otherwise(
        F.concat(
            F.lit('{"split":{"aye":'), (k * 1000000000).cast("string"),
            F.lit(',"nay":'), (k * 500000000).cast("string"), F.lit("}}"),
        )
    )
    deleg_stats = F.when(
        k % 9 == 0,
        F.concat(
            F.lit('{"votes":'), (k * 100 * 10000000000).cast("string"),
            F.lit(',"capital":'), (k * 40 * 10000000000).cast("string"),
            F.lit("}"),
        ),
    ).otherwise(F.lit('{"votes":0,"capital":0}'))
    casting_val = F.concat(
        F.lit('{"casting":{"votes":[['), ks,
        F.lit(',{"standard":{"vote":"'), vote_hex, F.lit('","balance":'),
        (k * 10000000000).cast("string"), F.lit("}}],["),
        (k + 1000).cast("string"), F.lit(","), second,
        F.lit(']],"delegations":'), deleg_stats,
        F.lit(',"prior":['), ks, F.lit(","), (k * 10000000000).cast("string"),
        F.lit("]}}"),
    )
    conv_name = F.when(k % 11 == 0, F.lit("None")).otherwise(
        F.concat(F.lit("Locked"), (k % 6 + 1).cast("string"), F.lit("x"))
    )
    delegating_val = F.concat(
        F.lit('{"delegating":{"balance":'), (k * 2 * 10000000000).cast("string"),
        F.lit(',"target":"v'), (k % 10).cast("string"),
        F.lit('","conviction":"'), conv_name,
        F.lit('","delegations":{"votes":0,"capital":0},"prior":[0,0]}}'),
    )
    voting_cols = [
        key_args.alias("key_args"),
        F.when(k % 3 == 0, casting_val).otherwise(delegating_val).alias("value"),
    ]

    votes_sel = [
        F.lit("voter").alias("kind"),
        F.col("track"),
        F.col("poll_id").cast("string").alias("track_val"),
        F.col("voter").alias("address"),
        null_s.alias("target"),
        F.col("vote_type").alias("status"),
        "conviction", "conviction_weight", "aye", "nay", "abstain",
        null_d.alias("support"), null_d.alias("votes"), null_d.alias("capital"),
        null_d.alias("avg_conviction"), null_s.alias("delegators"),
        null_l.alias("n"), null_d.alias("amount"), null_d.alias("deposit"),
        null_d.alias("fee"),
    ]
    # record-level casting summary: kind='caster', one row per (voter,
    # track) — delegators carries the voted-poll csv, n the vote count,
    # amount/deposit the prior lock [bn, balance]
    casters_sel = [
        F.lit("caster").alias("kind"),
        F.col("track"),
        F.col("track").alias("track_val"),
        F.col("voter").alias("address"),
        null_s.alias("target"), null_s.alias("status"),
        null_s.alias("conviction"), null_d.alias("conviction_weight"),
        null_d.alias("aye"), null_d.alias("nay"), null_d.alias("abstain"),
        null_d.alias("support"),
        F.col("delegations_votes").alias("votes"),
        F.col("delegations_capital").alias("capital"),
        null_d.alias("avg_conviction"),
        F.col("voted").alias("delegators"),
        F.col("voted_cnt").alias("n"),
        F.col("prior_bn").cast("double").alias("amount"),
        F.col("prior_balance").alias("deposit"),
        null_d.alias("fee"),
    ]
    delegators_sel = [
        F.lit("delegator").alias("kind"),
        F.col("track"),
        F.col("track").alias("track_val"),
        F.col("voter").alias("address"),
        F.col("target"),
        null_s.alias("status"),
        "conviction", "conviction_weight",
        null_d.alias("aye"), null_d.alias("nay"), null_d.alias("abstain"),
        null_d.alias("support"), null_d.alias("votes"), null_d.alias("capital"),
        null_d.alias("avg_conviction"), null_s.alias("delegators"),
        F.col("prior_bn").alias("n"),
        F.col("balance").alias("amount"),
        F.col("prior_balance").alias("deposit"),
        null_d.alias("fee"),
    ]
    delegatees_sel = [
        F.lit("delegatee").alias("kind"),
        F.col("track"),
        F.col("track").alias("track_val"),
        F.col("delegatee").alias("address"),
        null_s.alias("target"), null_s.alias("status"),
        null_s.alias("conviction"), null_d.alias("conviction_weight"),
        null_d.alias("aye"), null_d.alias("nay"), null_d.alias("abstain"),
        null_d.alias("support"),
        F.col("delegations_votes").alias("votes"),
        F.col("delegations_capital").alias("capital"),
        "avg_conviction", "delegators",
        F.col("delegators_cnt").alias("n"),
        null_d.alias("amount"), null_d.alias("deposit"), null_d.alias("fee"),
    ]

    # referenda: status by k % 4 over the nation keys
    ongoing_val = F.concat(
        F.lit('{"ongoing":{"submissionDeposit":{"who":"d'), ks,
        F.lit('","amount":'), (k * 10000000000 + 5000000000).cast("string"),
        F.lit('},"decisionDeposit":{"who":"d'), ks, F.lit('","amount":'),
        (k * 2 * 10000000000).cast("string"),
        F.lit('},"tally":{"ayes":'), (k * 7 * 10000000000).cast("string"),
        F.lit(',"nays":'), (k * 3 * 10000000000).cast("string"),
        F.lit(',"support":'), (k * 5 * 10000000000).cast("string"),
        F.lit("}}}"),
    )
    closed_val = F.concat(
        F.when(k % 4 == 1, F.lit('{"approved":[')).otherwise(
            F.lit('{"rejected":[')
        ),
        (k + 100000).cast("string"),
        F.lit(',{"who":"d'), ks, F.lit('","amount":'),
        (k * 10000000000).cast("string"), F.lit("},null]}"),
    )
    killed_val = F.concat(
        F.lit('{"killed":['), (k + 200000).cast("string"), F.lit("]}")
    )
    ref_cols = [
        F.concat(F.lit("["), ks, F.lit("]")).alias("key_args"),
        F.when(k % 4 == 0, ongoing_val)
        .when(k % 4 == 3, killed_val)
        .otherwise(closed_val)
        .alias("value"),
    ]
    refs_sel = [
        F.lit("referendum").alias("kind"),
        F.lit("referenda").alias("track"),
        F.col("ref_id").cast("string").alias("track_val"),
        F.col("depositor").alias("address"),
        null_s.alias("target"),
        F.col("status"),
        null_s.alias("conviction"), null_d.alias("conviction_weight"),
        F.col("tally_ayes").alias("aye"), F.col("tally_nays").alias("nay"),
        null_d.alias("abstain"), F.col("tally_support").alias("support"),
        null_d.alias("votes"), null_d.alias("capital"),
        null_d.alias("avg_conviction"), null_s.alias("delegators"),
        F.col("moment").alias("n"),
        F.col("submission_deposit").alias("amount"),
        F.col("decision_deposit").alias("deposit"),
        null_d.alias("fee"),
    ]

    treas_cols = [
        F.concat(F.lit('["'), ks, F.lit('"]')).alias("key_args"),
        F.concat(
            F.lit('{"proposer":"p'), ks, F.lit('","value":'),
            (k * 10000000000).cast("string"),
            F.lit(',"beneficiary":"b'), ks, F.lit('","bond":'),
            (k * 1000000000).cast("string"), F.lit("}"),
        ).alias("value"),
    ]
    treas_sel = [
        F.lit("treasury").alias("kind"),
        F.lit("treasury").alias("track"),
        F.col("proposal_id").cast("string").alias("track_val"),
        F.col("beneficiary").alias("address"),
        F.col("proposer").alias("target"),
        null_s.alias("status"),
        null_s.alias("conviction"), null_d.alias("conviction_weight"),
        null_d.alias("aye"), null_d.alias("nay"), null_d.alias("abstain"),
        null_d.alias("support"), null_d.alias("votes"), null_d.alias("capital"),
        null_d.alias("avg_conviction"), null_s.alias("delegators"),
        null_l.alias("n"),
        F.col("value").alias("amount"),
        F.col("bond").alias("deposit"),
        null_d.alias("fee"),
    ]

    # bounties over region keys: status variant embeds curator/updateDue
    status_json = (
        F.when(k % 3 == 0, F.lit('{"proposed":{}}'))
        .when(
            k % 3 == 1,
            F.concat(
                F.lit('{"active":{"curator":"c'), ks, F.lit('","updateDue":'),
                (k + 300000).cast("string"), F.lit("}}"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('{"pendingPayout":{"curator":"c'), ks,
                F.lit('","unlockAt":9}}'),
            )
        )
    )
    bounty_cols = [
        F.concat(F.lit("["), ks, F.lit("]")).alias("key_args"),
        F.concat(
            F.lit('{"proposer":"p'), ks, F.lit('","value":'),
            (k * 5 * 10000000000).cast("string"),
            F.lit(',"fee":'), (k * 10000000000).cast("string"),
            F.lit(',"curatorDeposit":'), (k * 5000000000).cast("string"),
            F.lit(',"bond":'), (k * 1000000000).cast("string"),
            F.lit(',"status":'), status_json, F.lit("}"),
        ).alias("value"),
    ]
    bounty_sel = [
        F.lit("bounty").alias("kind"),
        F.lit("bounty").alias("track"),
        F.col("bounty_id").cast("string").alias("track_val"),
        F.col("proposer").alias("address"),
        F.col("curator").alias("target"),
        F.col("bounty_status").alias("status"),
        null_s.alias("conviction"), null_d.alias("conviction_weight"),
        null_d.alias("aye"), null_d.alias("nay"), null_d.alias("abstain"),
        null_d.alias("support"), null_d.alias("votes"), null_d.alias("capital"),
        null_d.alias("avg_conviction"), null_s.alias("delegators"),
        F.col("update_due").alias("n"),
        F.col("value").alias("amount"),
        F.col("curator_deposit").alias("deposit"),
        F.col("fee"),
    ]
    staking_sel = [
        F.lit("staking").alias("kind"),
        F.lit("era").alias("track"),
        F.col("metric").alias("track_val"),
        null_s.alias("address"), null_s.alias("target"), null_s.alias("status"),
        null_s.alias("conviction"), null_d.alias("conviction_weight"),
        null_d.alias("aye"), null_d.alias("nay"), null_d.alias("abstain"),
        null_d.alias("support"), null_d.alias("votes"), null_d.alias("capital"),
        null_d.alias("avg_conviction"), null_s.alias("delegators"),
        F.col("era").alias("n"),
        F.col("value").alias("amount"),
        null_d.alias("deposit"), null_d.alias("fee"),
    ]
    return {
        "voting_cols": voting_cols, "votes_sel": votes_sel,
        "casters_sel": casters_sel, "delegators_sel": delegators_sel,
        "delegatees_sel": delegatees_sel, "ref_cols": ref_cols,
        "refs_sel": refs_sel, "treas_cols": treas_cols,
        "treas_sel": treas_sel, "bounty_cols": bounty_cols,
        "bounty_sel": bounty_sel, "staking_sel": staking_sel,
    }


@query(
    "snapshots_relay_opengov",
    oracle="""
WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
              WHERE c_custkey < 60),
trackmap AS (
  SELECT * FROM (VALUES (0, 0, 'Root'), (1, 1, 'WhitelistedCaller'),
                        (2, 10, 'StakingAdmin'), (3, 30, 'SmallTipper'),
                        (4, 34, 'BigSpender')) AS t(m, track_id, track)
),
voters AS (SELECT k, 'v' || k AS voter, track_id, track
           FROM cust JOIN trackmap ON k % 5 = m),
-- casting voters (k % 3 = 0): one standard vote + one split/splitAbstain
std AS (
  SELECT 'voter' AS kind, track, CAST(k AS VARCHAR) AS track_val,
         voter AS address,
         CAST(NULL AS VARCHAR) AS target,
         CASE WHEN k % 2 = 0 THEN 'aye' ELSE 'nay' END AS status,
         CASE WHEN k % 7 = 0 THEN 'None' ELSE 'Locked' || (k % 7) || 'x' END
           AS conviction,
         CASE WHEN k % 7 = 0 THEN 0.1 ELSE CAST(k % 7 AS DOUBLE) END
           AS conviction_weight,
         CASE WHEN k % 2 = 0 THEN CAST(k AS DOUBLE) ELSE 0 END AS aye,
         CASE WHEN k % 2 = 0 THEN 0 ELSE CAST(k AS DOUBLE) END AS nay,
         CAST(0 AS DOUBLE) AS abstain,
         CAST(NULL AS DOUBLE) AS support,
         CAST(NULL AS DOUBLE) AS votes, CAST(NULL AS DOUBLE) AS capital,
         CAST(NULL AS DOUBLE) AS avg_conviction,
         CAST(NULL AS VARCHAR) AS delegators,
         CAST(NULL AS BIGINT) AS n,
         CAST(NULL AS DOUBLE) AS amount, CAST(NULL AS DOUBLE) AS deposit,
         CAST(NULL AS DOUBLE) AS fee
  FROM voters WHERE k % 3 = 0
),
second_vote AS (
  SELECT 'voter', track, CAST(1000 + k AS VARCHAR), voter,
         CAST(NULL AS VARCHAR),
         CASE WHEN k % 6 = 0 THEN 'splitAbstain' ELSE 'split' END,
         'None', 0.1,
         CAST(k AS DOUBLE) / 10, CAST(k AS DOUBLE) / 20,
         CASE WHEN k % 6 = 0 THEN CAST(k AS DOUBLE) / 5 ELSE 0 END,
         CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
  FROM voters WHERE k % 3 = 0
),
caster_rows AS (
  SELECT 'caster', track, track, voter, CAST(NULL AS VARCHAR),
         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE),
         CASE WHEN k % 9 = 0 THEN CAST(100 * k AS DOUBLE) ELSE 0 END,
         CASE WHEN k % 9 = 0 THEN CAST(40 * k AS DOUBLE) ELSE 0 END,
         CAST(NULL AS DOUBLE),
         k || ',' || (1000 + k), CAST(2 AS BIGINT),
         CAST(k AS DOUBLE), CAST(k AS DOUBLE), CAST(NULL AS DOUBLE)
  FROM voters WHERE k % 3 = 0
),
delegs AS (SELECT *, 'v' || (k % 10) AS target_v,
                  CASE WHEN k % 11 = 0 THEN 'None'
                       ELSE 'Locked' || (k % 6 + 1) || 'x' END AS conv,
                  CASE WHEN k % 11 = 0 THEN 0.1
                       ELSE CAST(k % 6 + 1 AS DOUBLE) END AS convw
           FROM voters WHERE k % 3 != 0),
delegator_rows AS (
  SELECT 'delegator', track, track, voter, target_v, CAST(NULL AS VARCHAR),
         conv, convw,
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS VARCHAR), CAST(0 AS BIGINT),
         CAST(2 * k AS DOUBLE), CAST(0 AS DOUBLE), CAST(NULL AS DOUBLE)
  FROM delegs
),
self_stats AS (
  SELECT voter AS delegatee, track_id, track,
         CAST(100 * k AS DOUBLE) AS votes, CAST(40 * k AS DOUBLE) AS capital
  FROM voters WHERE k % 9 = 0 AND k % 3 = 0
),
incoming AS (
  SELECT target_v AS delegatee, track_id, track,
         COUNT(*) AS delegators_cnt,
         string_agg(voter, ',' ORDER BY voter) AS delegators
  FROM delegs GROUP BY target_v, track_id, track
),
delegatee_rows AS (
  SELECT 'delegatee',
         COALESCE(s.track, i.track),
         COALESCE(s.track, i.track),
         COALESCE(s.delegatee, i.delegatee), CAST(NULL AS VARCHAR),
         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE),
         COALESCE(s.votes, 0), COALESCE(s.capital, 0),
         CASE WHEN COALESCE(s.votes, 0) > 0
              THEN ROUND(s.votes / s.capital, 4) ELSE 0 END,
         COALESCE(i.delegators, ''), COALESCE(i.delegators_cnt, 0),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
  FROM self_stats s FULL OUTER JOIN incoming i
    ON s.delegatee = i.delegatee AND s.track_id = i.track_id
),
refs AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
referendum_rows AS (
  SELECT 'referendum', 'referenda', CAST(k AS VARCHAR),
         CASE WHEN k % 4 = 3 THEN CAST(NULL AS VARCHAR) ELSE 'd' || k END,
         CAST(NULL AS VARCHAR),
         CASE k % 4 WHEN 0 THEN 'ongoing' WHEN 1 THEN 'approved'
                    WHEN 2 THEN 'rejected' ELSE 'killed' END,
         CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
         CASE WHEN k % 4 = 0 THEN CAST(7 * k AS DOUBLE) END,
         CASE WHEN k % 4 = 0 THEN CAST(3 * k AS DOUBLE) END,
         CAST(NULL AS DOUBLE),
         CASE WHEN k % 4 = 0 THEN CAST(5 * k AS DOUBLE) END,
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS VARCHAR),
         CASE WHEN k % 4 IN (1, 2) THEN 100000 + k END,
         CASE WHEN k % 4 = 0 THEN CAST(k AS DOUBLE) + 0.5
              WHEN k % 4 IN (1, 2) THEN CAST(k AS DOUBLE) END,
         CASE WHEN k % 4 = 0 THEN CAST(2 * k AS DOUBLE) END,
         CAST(NULL AS DOUBLE)
  FROM refs
),
treas AS (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier
          WHERE s_suppkey < 30
          UNION ALL SELECT 309),
treasury_rows AS (
  SELECT 'treasury', 'treasury', CAST(k AS VARCHAR), 'b' || k, 'p' || k,
         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
         CAST(k AS DOUBLE), CAST(k * 1000000000 AS DOUBLE) / 10000000000,
         CAST(NULL AS DOUBLE)
  FROM treas WHERE k != 309
),
bounty_rows AS (
  SELECT 'bounty', 'bounty', CAST(k AS VARCHAR), 'p' || k,
         CASE WHEN k % 3 = 0 THEN CAST(NULL AS VARCHAR) ELSE 'c' || k END,
         CASE k % 3 WHEN 0 THEN 'proposed' WHEN 1 THEN 'active'
                    ELSE 'pendingPayout' END,
         CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS VARCHAR),
         CASE WHEN k % 3 = 1 THEN 300000 + k END,
         CAST(5 * k AS DOUBLE),
         CAST(k * 5000000000 AS DOUBLE) / 10000000000,
         CAST(k AS DOUBLE)
  FROM (SELECT CAST(r_regionkey AS BIGINT) AS k FROM region)
),
staking_rows AS (
  SELECT 'staking', 'era', m.name, CAST(NULL AS VARCHAR),
         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS VARCHAR), CAST(1477 AS BIGINT), m.v,
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
  FROM (VALUES ('erasTotalStake',
                CAST('8200000000000000000' AS DOUBLE) / POWER(10.0, 10)),
               ('totalIssuance',
                CAST('15000000000000000000' AS DOUBLE) / POWER(10.0, 10)),
               ('counterForNominators', CAST(21000 AS DOUBLE)),
               ('counterForValidators', CAST(1200 AS DOUBLE)),
               ('validatorCount', CAST(600 AS DOUBLE)),
               ('counterForBondedPools', CAST(250 AS DOUBLE)),
               ('counterForPoolMembers', CAST(31000 AS DOUBLE)))
       AS m(name, v)
)
SELECT * FROM std
UNION ALL SELECT * FROM second_vote
UNION ALL SELECT * FROM caster_rows
UNION ALL SELECT * FROM delegator_rows
UNION ALL SELECT * FROM delegatee_rows
UNION ALL SELECT * FROM referendum_rows
UNION ALL SELECT * FROM treasury_rows
UNION ALL SELECT * FROM bounty_rows
UNION ALL SELECT * FROM staking_rows
""",
    doc="Polkadot/Kusama relay snapshot tracks (plans/snapshots.py "
    "RelaySnapshotter over substrate/snapshot/polkadot.js; kusama.js is "
    "the same walks at 12 decimals): the OpenGov surface — "
    "convictionVoting.votingFor decoded into per-(voter, track, poll) "
    "casting rows (standard vote-byte rules: aye = byte >= 128, "
    "conviction = byte % 16 with the 0-means-0.1 'None' floor; "
    "split and splitAbstain balances at conviction None), record-level "
    "casting summaries at the reference's cvVotingForRec granularity "
    "(voted-poll roster + count, own delegations stats, prior lock), "
    "delegating "
    "rows (conviction name -> lock weight), and the delegatee rollup "
    "(self-side delegations stats where votes > 0, incoming delegator "
    "roster sorted + counted, average_conviction = round(votes/capital, "
    "4)) — plus referenda.referendumInfoFor (version-key status unwrap; "
    "moment + submission deposit on closed rows, deposits + tally on "
    "ongoing, killed carries neither), treasury.proposals minus the "
    "hand-kept blacklist (309 injected and dropped), bounties.bounties "
    "with the status-embedded curator/updateDue, and the "
    "computeTotalStaked era rollup as (metric, value, era) rows. "
    "Heterogeneous [pollID, detail] vote pairs ride from_json's "
    "raw-capture into one explode; everything else is native JSON "
    "projection; the only shuffles are the delegatee groupBy + its "
    "full-outer stats merge. NOTE the reference's voteAye/voteNay "
    "assignment-in-ternary bug (polkadot.js:137-138) is corrected, not "
    "reproduced — documented in RelaySnapshotter.",
    tags=("pipeline", "snapshot", "window", "functions"),
)
def snapshots_relay_opengov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.plans.exprmemo import expr_cache
    from polkadot_etl_spark.plans.snapshots import RelaySnapshotter

    snap = RelaySnapshotter()
    X = expr_cache(("snapshots_relay_opengov",), _sro_exprs)

    cu = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 60)
        .select(F.col("c_custkey").cast("long").alias("k"))
    )
    # materialize the synthesized votingFor walk ONCE: four consumers
    # (per-poll votes, casting summaries, delegating rows, and the
    # delegatee rollup's two branches) would otherwise each re-run the
    # scan + JSON synthesis subtree (semdedup_prune precedent)
    voting_for = cu.select(*X["voting_cols"]).localCheckpoint(eager=True)

    votes_df = snap.casting_votes(voting_for).select(*X["votes_sel"])
    casters_df = snap.casting_summary(voting_for).select(*X["casters_sel"])
    delegators_df = snap.delegations(voting_for).select(*X["delegators_sel"])
    delegatees_df = snap.delegatees(voting_for).select(*X["delegatees_sel"])

    na = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k")
    )
    ref_entries = na.select(*X["ref_cols"])
    refs_df = snap.referenda(ref_entries).select(*X["refs_sel"])

    # treasury: suppliers < 30 plus the blacklisted 309 (must drop)
    sup = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") < 30)
        .select(F.col("s_suppkey").cast("long").alias("k"))
        .unionByName(local_frame(spark, [(309,)], "k long"))
    )
    treas_entries = sup.select(*X["treas_cols"])
    treas_df = snap.treasury_proposals(treas_entries).select(*X["treas_sel"])

    rg = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("long").alias("k")
    )
    bounty_entries = rg.select(*X["bounty_cols"])
    bounty_df = snap.bounties(bounty_entries).select(*X["bounty_sel"])

    # computeTotalStaked era rollup (literal singleton frame)
    singles = local_frame(
        spark,
        [
            ("currentEra", "1477"),
            ("erasTotalStake", "8200000000000000000"),
            ("totalIssuance", "15000000000000000000"),
            ("counterForNominators", "21000"),
            ("counterForValidators", "1200"),
            ("validatorCount", "600"),
            ("counterForBondedPools", "250"),
            ("counterForPoolMembers", "31000"),
        ],
        "name string, value string",
    )
    staking_df = snap.staking_info(singles).select(*X["staking_sel"])

    return (
        votes_df.unionByName(casters_df)
        .unionByName(delegators_df)
        .unionByName(delegatees_df)
        .unionByName(refs_df)
        .unionByName(treas_df)
        .unionByName(bounty_df)
        .unionByName(staking_df)
    )


@query(
    "assethub_price_log",
    oracle="""
WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders
             WHERE o_orderkey < 3000),
rows_ AS (
  SELECT k, k % 168 AS g,
         CAST(FLOOR(epoch(CAST('1998-03-01 ' || lpad(CAST(k % 24 AS VARCHAR), 2, '0')
              || ':00:00.000' AS TIMESTAMP))) AS BIGINT) AS index_ts,
         'A' || (k % 7) AS asset,
         CAST((k % 977) AS DOUBLE) + 0.5 AS price_usd,
         CAST(3 * k AS DOUBLE) + 0.25 AS volume_usd,
         CAST((k % 50) AS DOUBLE) + 0.125 AS price_dot
  FROM src
),
win AS (SELECT *, row_number() OVER (PARTITION BY g ORDER BY k DESC) AS rn
        FROM rows_)
SELECT index_ts, asset, price_usd, volume_usd, price_dot
FROM win WHERE rn = 1
""",
    doc="AssetHub price/volume log ingest (substrate/assethublog.js:1-42): "
    "the reference pulls a Dune CSV of AssetHub DEX prices, skips the "
    "header, drops malformed rows (fewer than 5 fields or an empty "
    "asset, :30-31), takes columns 0/1/2/4/5 (column 3 is unused), "
    "keys each row on (floor(unix_timestamp(blockTime)), asset) and "
    "MySQL-upserts with ON DUPLICATE KEY UPDATE — last row in feed "
    "order wins (:32). Spark form: one line-frame -> split/guard "
    "projection (native string ops, zero Python), last-wins dedup as a "
    "row_number window over the key ordered by line number descending — "
    "the same keyed-MERGE semantics as operators/merge.py J10. The "
    "fixture feeds a header line, a short line and an empty-asset line "
    "(all three must drop) plus colliding keys across the feed; the "
    "oracle rebuilds the surviving rows independently.",
    tags=("pipeline", "window", "functions"),
)
def assethub_price_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    od = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 3000)
        .select(F.col("o_orderkey").cast("long").alias("k"))
    )
    k = F.col("k")
    line = F.concat(
        F.lit("1998-03-01 "),
        F.lpad((k % 24).cast("string"), 2, "0"),
        F.lit(":00:00.000 UTC,A"),
        (k % 7).cast("string"),
        F.lit(","),
        ((k % 977).cast("string")),
        F.lit(".5,x,"),
        (k * 3).cast("string"),
        F.lit(".25,"),
        (k % 50).cast("string"),
        F.lit(".125"),
    )
    feed = od.select(k.alias("line_no"), line.alias("line")).unionByName(
        local_frame(
            spark,
            [
                (0, "blockTime,asset,priceUSD,unused,volumeUSD,priceDOT"),
                (3001, "1998-03-01 00:00:00.000 UTC,,1,x,2,3"),
                (3002, "shortrow,y"),
            ],
            "line_no long, line string",
        )
    )
    p = F.split(F.col("line"), ",")
    parsed = (
        feed.where(F.col("line_no") > 0)  # slice(1): header row skipped
        .select("line_no", p.alias("p"))
        .where((F.size("p") > 4) & (F.length(F.element_at("p", 2)) > 0))
        .select(
            "line_no",
            F.unix_timestamp(
                F.regexp_replace(F.element_at("p", 1), " UTC$", "").cast("timestamp")
            ).alias("index_ts"),
            F.element_at("p", 2).alias("asset"),
            F.element_at("p", 3).cast("double").alias("price_usd"),
            F.element_at("p", 5).cast("double").alias("volume_usd"),
            F.element_at("p", 6).cast("double").alias("price_dot"),
        )
    )
    w = Window.partitionBy("index_ts", "asset").orderBy(F.col("line_no").desc())
    return (
        parsed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("index_ts", "asset", "price_usd", "volume_usd", "price_dot")
    )


@query(
    "dune_freshness_alerts",
    oracle="""
WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders
             WHERE o_orderkey < 200),
f AS (
  SELECT k,
         CASE k % 4 WHEN 0 THEN 'stakings' WHEN 1 THEN 'ingestions'
                    WHEN 2 THEN 'snapshots' ELSE 'balances' END AS feed,
         CASE WHEN k % 4 = 0 THEN
                CASE k % 3 WHEN 0 THEN 'kusama' WHEN 1 THEN 'polkadot'
                           ELSE 'chain' || (k % 7) END
              ELSE 'chain' || (k % 7) END AS chain_id,
         -- lag = (k%120) hours + 40min (even k, rounds UP) or 20min
         -- (odd k, rounds DOWN): the analytic form of Math.round(lag/1h)
         (k % 120) + (CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS hours_stale
  FROM src WHERE k % 31 != 0
),
a AS (
  SELECT *,
         CASE WHEN feed = 'stakings' THEN
                CASE chain_id WHEN 'kusama' THEN 24
                              WHEN 'polkadot' THEN 72 END
              WHEN feed = 'ingestions' THEN 3
              WHEN feed = 'snapshots' THEN 27
              ELSE 25 END AS thr
  FROM f
)
SELECT feed, chain_id, CAST(hours_stale AS BIGINT) AS hours_stale,
       CASE WHEN feed IN ('stakings', 'ingestions')
            THEN chain_id || ' (' || hours_stale || ' hrs)'
            ELSE chain_id || ' (' || hours_stale || ' hours old)'
       END AS message
FROM a WHERE thr IS NOT NULL AND hours_stale > thr
""",
    doc="The Dune freshness monitor (substrate/dune.js:21-159 "
    "get_slowStakings/Ingestions/Snapshots/Balances via "
    "sources/dune.py staleness_report): four pulled feeds become "
    "per-chain staleness checks — hours = Math.round of the lag "
    "(half-up pinned by 40-vs-20-minute offsets), stakings alerts ONLY "
    "for kusama > 24h / polkadot > 72h (other chains in that feed "
    "never alert), flat thresholds for ingestions (3h) / snapshots "
    "(27h) / balances (25h), NULL last-seen rows skipped, and the "
    "reference's TWO message formats preserved ('(N hrs)' vs '(N "
    "hours old)'). The wall-clock `currentTime` is an explicit as_of "
    "so the check replays deterministically. Pure column math, zero "
    "shuffle; the oracle derives every alert analytically.",
    tags=("pipeline", "filter", "functions"),
)
def dune_freshness_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.sources.dune import staleness_report

    as_of = "1998-06-01 00:00:00"
    od = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 200)
        .select(F.col("o_orderkey").cast("long").alias("k"))
    )
    k = F.col("k")
    feed = (
        F.when(k % 4 == 0, F.lit("stakings"))
        .when(k % 4 == 1, F.lit("ingestions"))
        .when(k % 4 == 2, F.lit("snapshots"))
        .otherwise(F.lit("balances"))
    )
    other_chain = F.concat(F.lit("chain"), (k % 7).cast("string"))
    chain = F.when(
        k % 4 == 0,
        F.when(k % 3 == 0, F.lit("kusama"))
        .when(k % 3 == 1, F.lit("polkadot"))
        .otherwise(other_chain),
    ).otherwise(other_chain)
    lag_s = (k % 120) * 3600 + F.when(k % 2 == 0, F.lit(2400)).otherwise(F.lit(1200))
    last_seen = F.when(
        k % 31 != 0,
        F.timestamp_seconds(
            F.unix_timestamp(F.lit(as_of).cast("timestamp")) - lag_s
        ),
    )  # k%31==0 rows carry NULL: the monitor must skip them
    feeds = od.select(
        feed.alias("feed"), chain.alias("chain_id"), last_seen.alias("last_block_time")
    )
    return staleness_report(feeds, as_of)


# canonical signatures come from functions/evm.py (one source for
# selector AND signature — no drift between the two document fields)


@query(
    "evm_tx_jsonld",
    oracle="""
WITH e AS (
  SELECT event_id, CAST(user_id AS BIGINT) AS k, event_type AS etype,
         CAST(FLOOR(value * 100) AS BIGINT) AS amt
  FROM events
  WHERE event_id < 2000
    AND event_type IN ('purchase', 'click', 'view', 'error')
    AND user_id IS NOT NULL AND value IS NOT NULL
),
b AS (
  SELECT *,
         21000 + k % 500 AS gas_used,
         1000 + k % 100 AS gas_price,
         2000 + k % 100 AS max_fee,
         1000 + k % 5 AS effective,
         (k % 2 = 0) AS is2,
         lpad(CAST(k AS VARCHAR), 64, '0') AS to64,
         lpad(CAST(k + 7 AS VARCHAR), 64, '0') AS from64,
         lpad(lower(hex(amt)), 64, '0') AS amt64,
         CASE etype WHEN 'purchase' THEN '0xa9059cbb'
                    WHEN 'click' THEN '0x23b872dd'
                    WHEN 'view' THEN '0x095ea7b3' END AS selector,
         CASE etype WHEN 'purchase' THEN 'transfer(address,uint256)'
                    WHEN 'click' THEN 'transferFrom(address,address,uint256)'
                    WHEN 'view' THEN 'approve(address,uint256)' END AS sig
  FROM e
),
c AS (
  SELECT *,
         CASE etype WHEN 'purchase' THEN selector || to64 || amt64
                    WHEN 'click' THEN selector || from64 || to64 || amt64
                    WHEN 'view' THEN selector || to64 || amt64
                    ELSE '0x' END AS calldata,
         CASE WHEN etype = 'error' AND k % 10 = 0 THEN 'ethon:CreatesTx'
              WHEN etype = 'error' THEN 'ethon:ValueTx'
              ELSE 'ethon:CallTx' END AS txtype,
         '{"@type":"evm:uint256","evm:name":"amount","evm:value":"'
           || amt || '"}' AS kvamt,
         '{"@type":"ethon:Account","ethon:address":"0x'
           || lpad(CAST(k AS VARCHAR), 40, '0') || '","evm:name":"' AS kv_k_pre,
         '{"@type":"ethon:Account","ethon:address":"0x'
           || lpad(CAST(k + 7 AS VARCHAR), 40, '0')
           || '","evm:name":"from"}' AS kv_from7
  FROM b
),
d AS (
  SELECT *,
         CASE etype
           WHEN 'purchase' THEN '[' || kv_k_pre || 'to"},' || kvamt || ']'
           WHEN 'click' THEN '[' || kv_from7 || ',' || kv_k_pre || 'to"},'
                             || kvamt || ']'
           WHEN 'view' THEN '[' || kv_k_pre || 'spender"},' || kvamt || ']'
         END AS decoded_input,
         CASE WHEN etype = 'purchase' THEN
           '[{"@type":"ethon:LogEntry","ethon:hasLogTopic":['
           || '{"ethon:logTopicIndex":0,"ethon:logTopicData":"0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"},'
           || '{"ethon:logTopicIndex":1,"ethon:logTopicData":"0x'
           || lpad(CAST(k + 5 AS VARCHAR), 64, '0') || '"},'
           || '{"ethon:logTopicIndex":2,"ethon:logTopicData":"0x' || to64
           || '"}],"ethon:logData":"0x' || amt64
           || '","ethon:loggedBy":{"@type":"evm:Account","ethon:address":"0x'
           || lpad(CAST(k * 3 AS VARCHAR), 40, '0')
           || '"},"ethon:canonicalSignature":"Transfer(address,address,uint256)",'
           || '"evm:abi":"https://evm.colorfulnotion.com/0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef/",'
           || '"ethon:event":[{"@type":"ethon:Account","ethon:address":"0x'
           || lpad(CAST(k + 5 AS VARCHAR), 40, '0') || '","evm:name":"from"},'
           || kv_k_pre || 'to"},'
           || '{"@type":"evm:uint256","evm:name":"value","evm:value":"' || amt
           || '"}]}]'
         ELSE '[]' END AS logs
  FROM c
)
SELECT event_id,
  '{"@context":{"schema":"https://schema.org/","ethon":"https://ethon.consensys.net/","evm":"https://polkaholic.io/types/"},'
  || '"@type":"' || txtype || '",'
  || '"evm:chain":{"chainID":2004,"name":"moonbeam"},'
  || '"ethon:txHash":"0xtx' || event_id || '",'
  || '"ethon:from":{"@type":"ethon:Account","ethon:address":"0x'
  || lpad(CAST(k + 5 AS VARCHAR), 40, '0') || '"},'
  || '"ethon:to":{"@type":"ethon:Account","ethon:address":"0x'
  || lpad(CAST(k * 3 AS VARCHAR), 40, '0') || '"},'
  || '"ethon:value":' || k * 1000000
  || ',"ethon:txGasPrice":' || gas_price
  || ',"ethon:txIndex":' || k % 50
  || ',"ethon:txNonce":' || k
  || ',"ethon:msgPayload":"' || calldata || '"'
  || ',"ethon:msgGasLimit":100000'
  || ',"ethon:msgGasUsed":' || gas_used
  || ',"ethon:txGasUsed":' || gas_used
  || ',"evm:blockHash":"0x' || lpad(CAST(k AS VARCHAR), 64, '0') || '"'
  || ',"evm:blockNumber":' || k * 10
  || ',"evm:transactionIndex":' || k % 50
  || ',"evm:txType":' || CASE WHEN is2 THEN 2 ELSE 0 END
  || CASE WHEN is2 THEN ',"evm:accessList":[]' ELSE '' END
  || ',"evm:txFee":' || gas_used * gas_price
  || CASE WHEN is2 THEN ',"evm:burnedFee":' || gas_used * 990
                        || ',"evm:txnSaving":' || gas_used * (max_fee - effective)
          ELSE '' END
  || ',"evm:cumulativeGasUsed":' || (gas_used + k)
  || CASE WHEN is2 THEN ',"evm:maxFeePerGas":' || max_fee
                        || ',"evm:maxPriorityFeePerGas":' || (10 + k % 5)
                        || ',"evm:baseFeePerGas":990'
                        || ',"evm:effectiveGasPrice":' || effective
          ELSE '' END
  || CASE WHEN selector IS NOT NULL THEN
       ',"ethon:byteSignature":"' || selector || '"'
       || ',"ethon:canonicalSignature":"' || sig || '"'
       || ',"evm:abi":"https://evm.colorfulnotion.com/' || selector || '/"'
       || ',"evm:decodedInput":' || decoded_input
     ELSE '' END
  || ',"evm:decodedLogs":' || logs
  || '}' AS doc
FROM d
""",
    doc="EthOn/schema.org JSON-LD export of decoded EVM transactions (plans/jsonld.py over substrate/jsonld.js:1-162): tx documents typed CreatesTx/CallTx/ValueTx, account nodes, gas/fee economics with the EIP-1559 fields present only on type-2 rows, the decodedInput byte/canonical signatures + typed params (address params render as Account nodes carrying the param NAME, exactly kv_to_jsonld's special case), and decodedLogs as EthOn LogEntry nodes with indexed topics and the selector-keyed abi URL. The calldata comes through the REAL functions.evm.decode_token_calldata round trip. Spark's null-dropping to_json reproduces JSON.stringify's undefined-key behavior, so every conditional field falls out of nullability; the oracle reconstructs each document byte-for-byte by string assembly. Pure column work, zero Python, zero shuffle.",
    tags=("pipeline", "scalar", "functions"),
)
def evm_tx_jsonld(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polkadot_etl_spark.functions.evm import (
        ERC20_SELECTORS,
        ERC20_SIGNATURES,
        TRANSFER_TOPIC,
        decode_token_calldata,
    )
    from polkadot_etl_spark.plans.jsonld import account_node, kv_node, log_node, tx_jsonld

    _JSONLD_SIGS = ERC20_SIGNATURES
    e = (
        load_table(spark, sf_dir, "events")
        .where(
            (F.col("event_id") < 2000)
            & F.col("event_type").isin("purchase", "click", "view", "error")
            # NULL user_id/value rows are undecodable fixtures, not txs:
            # to_json would emit a hollow partial document while the
            # oracle's string assembly NULL-propagates — exclude on BOTH
            # sides (review-confirmed divergence otherwise)
            & F.col("user_id").isNotNull()
            & F.col("value").isNotNull()
        )
    )
    k = F.col("user_id").cast("long")
    ks = k.cast("string")
    amt = F.floor(F.col("value") * 100).cast("bigint")
    amt_word = F.lpad(F.lower(F.hex(amt)), 64, "0")
    to_word = F.lpad(ks, 64, "0")
    from_word = F.lpad((k + 7).cast("string"), 64, "0")
    etype = F.col("event_type")
    calldata = (
        F.when(etype == "purchase", F.concat(F.lit(ERC20_SELECTORS["transfer"]), to_word, amt_word))
        .when(etype == "click", F.concat(F.lit(ERC20_SELECTORS["transferFrom"]), from_word, to_word, amt_word))
        .when(etype == "view", F.concat(F.lit(ERC20_SELECTORS["approve"]), to_word, amt_word))
        .otherwise(F.lit("0x"))
    )
    # Codegen-bounded staging (r11 verdict: janino 64 KB): calldata
    # lands as a plain attribute BEFORE the selector-dispatch decode —
    # decode_token_calldata references its argument once per selector
    # branch and word slice, and inlining the when-concat calldata into
    # every reference compounded the generated method past the 64 KB
    # limit (silent interpreted fallback). The multi-reference is also
    # what keeps CollapseProject from folding the seam back together.
    pre = e.select(
        "event_id",
        k.alias("k"),
        amt.alias("amt"),
        etype.alias("etype"),
        calldata.alias("calldata"),
    )
    base = pre.select(
        "event_id",
        "k",
        "amt",
        "etype",
        "calldata",
        decode_token_calldata(F.col("calldata")).alias("d"),
    )
    # Materialize the three decode fields this query consumes as plain
    # columns: SimplifyExtractValueOps otherwise pushes the per-field
    # decode trees THROUGH the struct into the to_json projection (a
    # non-whole-stage ProjectExec, since to_json is CodegenFallback),
    # whose expression-factory codegen then trips an upstream splitter
    # bug ('isNull_… is not an rvalue') and silently falls back to
    # row-interpreted projection. With attributes here, the decode
    # compiles in the whole-stage scan pipeline and the JSON projection
    # stays tiny. __method is multi-referenced downstream, which keeps
    # CollapseProject from folding the seam away.
    d = F.col("d")
    flat = base.select(
        "event_id",
        "k",
        "amt",
        "etype",
        "calldata",
        d["method"].alias("__method"),
        d["from_addr"].alias("__from_addr"),
        d["to_addr"].alias("__to_addr"),
    )
    k = F.col("k")
    ks = k.cast("string")
    amt = F.col("amt")
    amt_s = amt.cast("string")
    etype = F.col("etype")
    to_word = F.lpad(ks, 64, "0")  # rebind over base's columns
    is2 = k % 2 == 0
    gas_used = F.lit(21000) + k % 500
    gas_price = F.lit(1000) + k % 100
    max_fee = F.lit(2000) + k % 100
    effective = F.lit(1000) + k % 5
    method = F.col("__method")
    sig = (
        F.when(method == "transfer", F.lit(_JSONLD_SIGS["transfer"]))
        .when(method == "transferFrom", F.lit(_JSONLD_SIGS["transferFrom"]))
        .when(method == "approve", F.lit(_JSONLD_SIGS["approve"]))
    )
    amt_kv = kv_node(F.lit("uint256"), F.lit("amount"), amt_s)
    decoded_input = (
        F.when(
            method == "transfer",
            F.array(
                kv_node(F.lit("address"), F.lit("to"), F.col("__to_addr")), amt_kv
            ),
        )
        .when(
            method == "transferFrom",
            F.array(
                kv_node(F.lit("address"), F.lit("from"), F.col("__from_addr")),
                kv_node(F.lit("address"), F.lit("to"), F.col("__to_addr")),
                amt_kv,
            ),
        )
        .when(
            method == "approve",
            F.array(
                kv_node(F.lit("address"), F.lit("spender"), F.col("__to_addr")),
                amt_kv,
            ),
        )
    )
    log_from = F.concat(F.lit("0x"), F.lpad((k + 5).cast("string"), 40, "0"))
    log_topics = F.array(
        F.lit(TRANSFER_TOPIC),
        F.concat(F.lit("0x"), F.lpad((k + 5).cast("string"), 64, "0")),
        F.concat(F.lit("0x"), to_word),
    )
    transfer_log = log_node(
        log_topics,
        F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(amt)), 64, "0")),
        F.concat(F.lit("0x"), F.lpad((k * 3).cast("string"), 40, "0")),
        F.lit("Transfer(address,address,uint256)"),
        F.array(
            kv_node(F.lit("address"), F.lit("from"), log_from),
            kv_node(F.lit("address"), F.lit("to"), F.concat(F.lit("0x"), F.lpad(ks, 40, "0"))),
            kv_node(F.lit("uint256"), F.lit("value"), amt_s),
        ),
    )
    # non-purchase rows keep an EMPTY decodedLogs array (the reference
    # maps over []); filter-to-empty preserves the element type
    decoded_logs = F.when(etype == "purchase", F.array(transfer_log)).otherwise(
        F.filter(F.array(transfer_log), lambda _: F.lit(False))
    )
    doc = tx_jsonld(
        creates=(etype == "error") & (k % 10 == 0),
        tx_input=F.col("calldata"),
        chain_id=F.lit(2004).cast("long"),
        chain_name=F.lit("moonbeam"),
        tx_hash=F.concat(F.lit("0xtx"), F.col("event_id").cast("string")),
        from_addr=F.concat(F.lit("0x"), F.lpad((k + 5).cast("string"), 40, "0")),
        to_addr=F.concat(F.lit("0x"), F.lpad((k * 3).cast("string"), 40, "0")),
        value=(k * 1000000).cast("long"),
        gas_price=gas_price.cast("long"),
        tx_index=(k % 50).cast("long"),
        nonce=k,
        gas_limit=F.lit(100000).cast("long"),
        gas_used=gas_used.cast("long"),
        block_hash=F.concat(F.lit("0x"), F.lpad(ks, 64, "0")),
        block_number=(k * 10).cast("long"),
        tx_type=F.when(is2, F.lit(2)).otherwise(F.lit(0)).cast("long"),
        access_list=F.when(is2, F.array().cast("array<string>")),
        fee=(gas_used * gas_price).cast("long"),
        burned_fee=F.when(is2, gas_used * 990).cast("long"),
        txn_saving=F.when(is2, gas_used * (max_fee - effective)).cast("long"),
        cumulative_gas_used=(gas_used + k).cast("long"),
        max_fee_per_gas=F.when(is2, max_fee).cast("long"),
        max_priority_fee_per_gas=F.when(is2, F.lit(10) + k % 5).cast("long"),
        base_fee_per_gas=F.when(is2, F.lit(990)).cast("long"),
        effective_gas_price=F.when(is2, effective).cast("long"),
        method_id=F.when(method.isNotNull(), F.lower(F.substring("calldata", 1, 10))),
        signature=sig,
        decoded_input=decoded_input,
        decoded_logs=decoded_logs,
    )
    return flat.select("event_id", F.to_json(doc).alias("doc"))


# --------------------------------------------------------------------------
# End-to-end streaming day-dump replay: the reference's production shape
# composed under ONE hash (r9 verdict task #4)
# --------------------------------------------------------------------------

_SDR_KEYS = 120  # candidate window: block numbers 0..119 (every SF has them)


def _stream_dump_candidates(spark: SparkSession, sf_dir: str, work: str) -> str:
    """Materialize the bounded block-candidate NDJSON replay source:
    three arrival WAVES with forced-distinct mtimes (the
    streaming_corpus_replay file-ordering trick) —

    - wave 1: every block seen UNFINALIZED first (hash 0xb{n},
      observed_at = block_time + 1s)
    - wave 2: finalization for every non-5-LOW block (same hash, +2s)
      — the incremental sink must REPLACE the wave-1 winner in state
    - wave 3: an unfinalized FORK candidate for 1-URGENT blocks
      (hash 0xf{n}) with the LATEST observation (+3s) — it must still
      lose to the finalized wave-2 row NOW IN STATE (finality outranks
      recency) — PLUS wave 2's lines delivered again verbatim (replay
      idempotence through the partition-replace sink: duplicate rows
      re-arriving in a LATER batch than their original must not
      double-publish). r14 (guide §1.2): these were two separate
      triggers; each trigger pays a full affected-partition state
      rewrite (~95 (chain, day) dirs, the measured per-batch dominant
      cost), and both transitions resolve against the SAME wave-2
      state, so one merged batch exercises both — state-vs-batch fork
      resolution and duplicate redelivery — with one rewrite. The
      load-bearing incremental seam (wave-2 finalization REPLACING
      wave-1 winners in state) keeps its own trigger.

    5-LOW blocks never finalize, so the publish-time finalized filter
    drops them — the gap the gold blocklog must report. Waves are
    materialized through the SHARED replay skeleton
    (streaming/replay.py write_ndjson_waves — one definition of the
    forced-distinct-mtime idiom across all replay gates)."""
    import json as _json

    from polkadot_etl_spark.streaming.replay import write_ndjson_waves

    rows = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < _SDR_KEYS)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
        .collect()
    )
    rows.sort(key=lambda r: r["o_orderkey"])

    def _cand(r, hash_prefix: str, finalized: bool, lag_s: int) -> str:
        t = r["o_orderdate"]
        return _json.dumps(
            {
                "chain_id": 0,
                "number": int(r["o_orderkey"]),
                "hash": f"{hash_prefix}{int(r['o_orderkey'])}",
                "parent_hash": None,
                "block_time": t.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
                "finalized": finalized,
                "observed_at": t.strftime(f"%Y-%m-%dT%H:%M:{lag_s:02d}.000Z"),
            }
        )

    finalization = [
        _cand(r, "0xb", True, 2)
        for r in rows
        if r["o_orderpriority"] != "5-LOW"
    ]
    waves = [
        [_cand(r, "0xb", False, 1) for r in rows],
        finalization,
        # fork candidates + the finalization wave redelivered (see
        # docstring: one merged trigger, both state transitions)
        [
            _cand(r, "0xf", False, 3)
            for r in rows
            if r["o_orderpriority"] == "1-URGENT"
        ]
        + finalization,
    ]
    return write_ndjson_waves(work, waves)


@query(
    "streaming_dump_replay",
    oracle=f"""
WITH o AS (
  SELECT * FROM orders WHERE o_orderkey < {_SDR_KEYS}
),
pub AS (
  SELECT * FROM o WHERE o_orderpriority <> '5-LOW'
),
days AS (
  SELECT {d_date('o_orderdate')} AS log_dt,
         MIN(o_orderkey) AS start_bn,
         MAX(o_orderkey) AS end_bn,
         COUNT(*) AS num_blocks,
         COUNT(*) + COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
           AS num_logs
  FROM pub GROUP BY 1
),
le AS (
  SELECT l.*, p.o_orderdate
  FROM lineitem l JOIN pub p ON l.l_orderkey = p.o_orderkey
),
extd AS (
  SELECT {d_date('o_orderdate')} AS log_dt,
         COUNT(*) AS num_extrinsics,
         COUNT(CASE WHEN l_returnflag IN ('A','R') THEN 1 END)
           AS num_signed_extrinsics,
         COUNT(DISTINCT CASE WHEN l_returnflag IN ('A','R') THEN l_suppkey END)
           AS num_active_signers,
         {d_decsum("CASE WHEN l_returnflag IN ('A','R') THEN l_extendedprice END")}
           AS fees,
         COUNT(CASE WHEN l_quantity >= 2 THEN 1 END)
           + COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS num_events,
         CAST(SUM(CASE WHEN l_quantity >= 2
                       THEN CASE WHEN l_returnflag = 'A' THEN 3 ELSE 1 END
                       ELSE 0 END) AS BIGINT) AS num_calls,
         COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS num_transfers
  FROM le GROUP BY 1
)
SELECT d.log_dt, d.start_bn, d.end_bn, d.num_blocks,
       d.end_bn - d.start_bn + 1 - d.num_blocks AS num_missing,
       COALESCE(e.num_extrinsics, 0) AS num_extrinsics,
       COALESCE(e.num_signed_extrinsics, 0) AS num_signed_extrinsics,
       COALESCE(e.num_active_signers, 0) AS num_active_signers,
       e.fees,
       COALESCE(e.num_events, 0) AS num_events,
       COALESCE(e.num_calls, 0) AS num_calls,
       COALESCE(e.num_transfers, 0) AS num_transfers,
       d.num_logs,
       (d.end_bn - d.start_bn + 1 - d.num_blocks) = 0 AS loaded
FROM days d LEFT JOIN extd e ON d.log_dt = e.log_dt
""",
    doc="The reference's PRODUCTION shape end to end under ONE hash — "
    "the last integration seam the machines were verified across but "
    "never composed through (r9 verdict task #4): a bounded NDJSON "
    "block-candidate replay (unfinalized-first sightings, a later "
    "finalization wave, a latest-observed fork candidate for 1-URGENT "
    "blocks, and a byte-identical replayed delivery) streams through "
    "the REAL streaming/pipeline.py ingest tier — "
    "block_candidates_stream file source, foreachBatch "
    "fork_resolving_sink applying resolve_forks INCREMENTALLY against "
    "parquet state with dynamic partition-replace (X1/X6/X8; "
    "crawler.js:1296 fork path) — then the finalized-only publish "
    "gate (X2; 5-LOW blocks never finalize and MUST fall out), then "
    "the REAL plans/dump.py day-dump (digest->logs, validity gates, "
    "call-tree flatten, transfer extraction; substrateetl.js:6171 "
    "dump lifecycle) down to the blocklog GOLD per chain-day. Every "
    "bit of the gold row is hash-matched against a batch oracle that "
    "recomputes the whole thing relationally from orders/lineitem: a "
    "wrong fork winner (recency beating finality) or a lost/duplicated "
    "replay row lands in num_blocks/num_missing; a broken incremental "
    "re-resolution (wave 2 failing to REPLACE the wave-1 unfinalized "
    "winner in state) empties the publish set; the deliberately "
    "never-finalized blocks make num_missing/loaded load-bearing. "
    "Scale shape: state is partitioned by (chain_id, day) and each "
    "micro-batch rewrites ONLY the partitions it touches (the batch "
    "lake's unit-of-reprocessing); the dump composition is the same "
    "per-day plan dump_day_blocklog budgets; the replay harness "
    "(bounded collect of 120 orders, temp NDJSON, local checkpoint "
    "dir) is fixture plumbing, not the operator.",
    tags=("streaming", "pipeline", "agg", "join"),
)
def streaming_dump_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dump_replay_gold(spark, sf_dir, _dump_replay_winners(spark, sf_dir))


def _dump_replay_winners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 1 of the replay — the STREAMING harness: fixture waves
    through block_candidates_stream -> incremental fork_resolving_sink
    -> finalized-only publish gate. Returns the checkpointed winners
    frame (number, hash, block_time). Split out so bench.py can
    attribute the replay's cost to harness-vs-composition (the funnel
    treatment; r10 verdict task #4)."""
    import os as _os

    from polkadot_etl_spark.streaming.pipeline import (
        block_candidates_stream,
        fork_resolving_sink,
    )

    with tempfile.TemporaryDirectory(
        prefix="dump_replay_", ignore_cleanup_errors=True
    ) as work:
        src_dir = _stream_dump_candidates(spark, sf_dir, work)
        state_dir = _os.path.join(work, "state")
        q = (
            # one wave file per micro-batch (oldest-mtime first): the
            # whole point is driving fork_resolving_sink's INCREMENTAL
            # read-state/union/re-resolve path across three batches — an
            # unbounded trigger would coalesce the pre-existing files
            # into one batch and a broken state merge could still
            # hash-green (r10 self-review finding)
            block_candidates_stream(spark, src_dir, max_files_per_trigger=1)
            .writeStream.outputMode("append")
            .option("checkpointLocation", _os.path.join(work, "chk"))
            .foreachBatch(fork_resolving_sink(state_dir))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # the X2 publish gate: only finalized winners leave the state
        return (
            spark.read.parquet(state_dir)
            .where(F.col("finalized"))
            .select("number", "hash", "block_time")
            .localCheckpoint(eager=True)  # freeze before work is deleted
        )


def _dump_replay_gold(
    spark: SparkSession, sf_dir: str, winners: DataFrame
) -> DataFrame:
    """Stage 2 of the replay — the BATCH-side dump composition from a
    winners frame down to the blocklog gold row (the plan the plan-pin
    test checks without paying the streaming harness)."""
    from polkadot_etl_spark.plans.dump import dump_day

    # bronze decoration (batch-side, as the dump decorates from bronze):
    # urgency drives the second digest log, exactly _synth_bronze's rule
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < _SDR_KEYS)
    urgent = F.col("o_orderpriority") == "1-URGENT"
    j1 = F.concat(
        F.lit('{"preRuntime":["0x61757261","0x'),
        F.lpad(F.hex(F.col("number")), 16, "0"),
        F.lit('"]}'),
    )
    j2 = F.lit('{"seal":["0x61757261","0x00"]}')
    blocks_raw = winners.join(
        o.select(F.col("o_orderkey").alias("number"), "o_orderpriority"), "number"
    ).select(
        "number",
        "hash",
        F.lit(None).cast("string").alias("parent_hash"),
        F.lit(None).cast("string").alias("state_root"),
        F.lit(None).cast("string").alias("extrinsics_root"),
        "block_time",
        F.lit(None).cast("string").alias("author_ss58"),
        F.lit(None).cast("string").alias("author_pub_key"),
        F.lit(1).alias("spec_version"),
        F.lit(None).cast("long").alias("relay_block_number"),
        F.lit(None).cast("string").alias("relay_state_root"),
        F.when(urgent, F.array(j1, j2)).otherwise(F.array(j1)).alias("digest_logs"),
    )

    # extrinsics/events exist only for PUBLISHED blocks: the semi-join
    # against the streamed winners makes the streaming output gate the
    # extrinsic side too (a lost winner silently empties its day)
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < _SDR_KEYS)
    le = li.join(
        winners.select(F.col("number").alias("l_orderkey"), "block_time"),
        "l_orderkey",
    )
    rf = F.col("l_returnflag")
    signed = rf.isin("A", "R")
    ok = (F.col("l_quantity") >= 2).cast("int")
    ext_id = F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"), ok)
    ext_hash = F.concat(
        F.lit("0xe"), F.col("l_orderkey").cast("string"), F.lit("x"),
        F.col("l_linenumber").cast("string"), F.lit("x"), ok.cast("string"),
    )
    extrinsics = le.select(
        ext_hash.alias("hash"),
        ext_id.alias("extrinsic_id"),
        "block_time",
        F.col("l_orderkey").alias("block_number"),
        F.concat(F.lit("0xb"), F.col("l_orderkey").cast("string")).alias("block_hash"),
        F.lit("{}").alias("lifetime"),
        F.when(rf == "A", F.lit("utility")).when(rf == "R", F.lit("balances")).otherwise(F.lit("timestamp")).alias("section"),
        F.when(rf == "A", F.lit("batch")).when(rf == "R", F.lit("transfer")).otherwise(F.lit("set")).alias("method"),
        F.when(rf == "A", F.lit(_NESTED_PARAMS)).otherwise(F.lit("{}")).alias("params"),
        F.when(signed, F.col("l_extendedprice")).alias("fee"),
        F.when(signed, F.col("l_extendedprice") * 6.5).alias("fee_usd"),
        F.lit(None).cast("long").alias("weight"),
        signed.alias("signed"),
        _pk(F.col("l_suppkey")).alias("signer_ss58"),
        _pk(F.col("l_suppkey")).alias("signer_pub_key"),
    )
    common = [
        ext_id.alias("extrinsic_id"),
        ext_hash.alias("extrinsic_hash"),
        F.col("block_time").alias("block_time"),
        F.col("l_orderkey").alias("block_number"),
        F.concat(F.lit("0xb"), F.col("l_orderkey").cast("string")).alias("block_hash"),
        F.lit(None).cast("string").alias("data_decoded"),
    ]
    success = le.where(F.col("l_quantity") >= 2).select(
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"), F.lit("0")).alias("event_id"),
        F.lit("system").alias("section"),
        F.lit("ExtrinsicSuccess").alias("method"),
        F.lit("[]").alias("data"),
        *common,
    )
    raw_amt = F.floor(F.col("l_extendedprice") * 100).cast("bigint").cast("string")
    xfer_ev = le.where(rf == "R").select(
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"), F.lit("1")).alias("event_id"),
        F.lit("balances").alias("section"),
        F.lit("Transfer").alias("method"),
        F.concat(
            F.lit('["'), _pk(F.col("l_suppkey")), F.lit('","'), _pk(F.col("l_partkey")),
            F.lit('","'), raw_amt, F.lit('"]'),
        ).alias("data"),
        *common,
    )
    events = success.unionByName(xfer_ev)

    tables = dump_day(blocks_raw, extrinsics, events, relay_chain="polkadot", para_id=0)
    gold = tables["blocklog"]
    return gold.select(
        s_date("log_dt").alias("log_dt"),
        "start_bn",
        "end_bn",
        "num_blocks",
        "num_missing",
        "num_extrinsics",
        "num_signed_extrinsics",
        "num_active_signers",
        "fees",
        "num_events",
        "num_calls",
        "num_transfers",
        "num_logs",
        "loaded",
    )
