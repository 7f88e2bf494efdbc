"""Plan-quality regression guards: the physical plans behind the registry
must keep the properties the 100 TB design depends on. Planning only —
nothing executes, so the whole registry checks in seconds."""

from __future__ import annotations

import re

import pytest

from polkadot_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = QUERIES[name].build(spark, SF_DIR)
    return _plan_of(spark, df)


def _plan_of(spark, df) -> str:
    """Formatted physical plan of an arbitrary DataFrame — for pinning
    the INTERNAL stage plans of queries whose final frame is a
    driver-assembled LocalRelation (the bounded-driver-state family:
    the plan that matters is the one feeding the collect)."""
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _python_rdd_leaves(df) -> list[str]:
    """Executed-plan leaves whose RDD lineage runs Python: a
    ``Scan ExistingRDD`` over a pickled Python RDD, which is what
    ``spark.createDataFrame(<python list>)`` plans as — one Python-worker
    task per slice on every execution. localCheckpoint leaves print as
    ``Scan ExistingRDD`` too, but their lineage is cut at the checkpoint,
    so they never match."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.inputPlan()
    leaves = plan.collectLeaves()
    found = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "RDDScanExec":
            continue
        if "PythonRDD" in leaf.rdd().toDebugString():
            found.append(leaf.nodeName())
    return found


def test_python_rdd_leaf_check(spark):
    """The leaf check flags a list-built frame, even under a join, and
    passes the Arrow-built LocalRelation and a localCheckpoint of a
    list-built frame."""
    from polkadot_etl_spark.sources.tables import local_frame

    listed = spark.createDataFrame([(1,)], "id long")
    assert _python_rdd_leaves(listed) == ["Scan ExistingRDD"]
    assert _python_rdd_leaves(spark.range(4).join(listed, "id")) == [
        "Scan ExistingRDD"
    ]
    assert _python_rdd_leaves(local_frame(spark, [(1,)], "id long")) == []
    assert _python_rdd_leaves(listed.localCheckpoint()) == []


def test_no_row_at_a_time_python_anywhere(spark):
    """Registry-wide plan bans, checked in one planning pass:
    - BatchEvalPython (row-pickling Python) — Python must be
      Arrow-batched (ArrowEvalPython / FlatMapGroupsInPandas /
      MapInPandas);
    - Python-RDD leaves (``_python_rdd_leaves``) — driver-side literal
      frames must be LocalRelations (sources/tables.local_frame);
    - CartesianProduct — an unkeyed shuffled cross join is never the
      right 100 TB plan; small-side crosses must broadcast
      (BroadcastNestedLoopJoin) and everything else needs a key."""
    offenders, python_rdds, cartesian = [], [], []
    for name in sorted(QUERIES):
        df = QUERIES[name].build(spark, SF_DIR)
        plan = _plan_of(spark, df)
        if "BatchEvalPython" in plan:
            offenders.append(name)
        if _python_rdd_leaves(df):
            python_rdds.append(name)
        if "CartesianProduct" in plan:
            cartesian.append(name)
    assert not offenders, f"row-at-a-time Python UDFs in: {offenders}"
    assert not python_rdds, f"Python-RDD scan leaves in: {python_rdds}"
    assert not cartesian, f"non-broadcast cartesian products in: {cartesian}"


@pytest.mark.parametrize(
    "name", sorted(n for n, s in QUERIES.items() if "topk" in s.tags)
)
def test_topk_plans_as_take_ordered(spark, name):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    heap + merge), never a global sort."""
    assert "TakeOrderedAndProject" in _plan(spark, name), name


@pytest.mark.parametrize(
    "name,expected",
    [
        ("tpch_q1", r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_shipdate"),
        ("tpch_q6_forecast_revenue", r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate"),
        ("dynamic_predicates", r"PushedFilters: \[[^\]]*In\(event_type"),
        ("like_filter", r"PushedFilters: \[[^\]]*StringContains\(text,spark\)"),
    ],
)
def test_filters_reach_parquet_scan(spark, name, expected):
    assert re.search(expected, _plan(spark, name)), name


def test_dim_decoration_is_all_broadcast_no_fact_shuffle(spark):
    plan = _plan(spark, "broadcast_dim_decoration")
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 3
    assert not re.findall(r"^\(\d+\) Exchange hashpartitioning", plan, re.M)
    assert not re.findall(r"^\(\d+\) SortMergeJoin", plan, re.M)


def test_fuzzy_match_joins_on_time_bucket(spark):
    """The fuzzy tolerance join must carry the de-skew composite key:
    the equi-join condition includes the floor(ts/7200) probe bucket, so a
    hot user can never materialize its full lifetime cross product before
    the band filter."""
    plan = _plan(spark, "fuzzy_confidence_match")
    assert "probe_bucket" in plan, "composite time-bucket key missing from join"
    m = re.search(r"SortMergeJoin \[([^\]]*)\], \[([^\]]*)\]", plan)
    if m:  # AQE may also choose broadcast; when SMJ, the bucket must be a key
        assert "probe_bucket" in m.group(1) or "probe_bucket" in m.group(2)


def test_aggregations_are_partial_final(spark):
    """The flagship grouped agg must map-side combine: two HashAggregate
    nodes (partial below the exchange, final above)."""
    plan = _plan(spark, "tpch_q1")
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert "partial_sum" in plan


def test_q21_exists_chain_shapes(spark):
    """The correlated EXISTS/NOT-EXISTS rewrite must be semi + anti joins
    on the order key and the top-25 a TakeOrderedAndProject — and never a
    cartesian product from the suppkey inequality."""
    plan = _plan(spark, "tpch_q21_waiting_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q2_correlated_min_is_single_window_shuffle(spark):
    """The correlated-MIN decorrelates to a window over l_partkey: ONE
    hash exchange for the fact (the window), dims broadcast, no join
    back onto the fact."""
    plan = _plan(spark, "tpch_q2_min_cost_supplier")
    assert re.findall(r"^\(\d+\) Window", plan, re.M)
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 2
    assert not re.findall(r"^\(\d+\) SortMergeJoin", plan, re.M)


def test_contamination_benchmark_broadcasts(spark):
    """The benchmark shingle set must broadcast — the corpus-side scan
    stays map-local (no corpus shuffle before the aggregate)."""
    plan = _plan(spark, "benchmark_contamination")
    assert re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)
    assert not re.findall(r"^\(\d+\) SortMergeJoin", plan, re.M)


def test_global_share_threshold_broadcasts_scalar(spark):
    """Q11's global mean must reach the HAVING as a broadcast one-row
    join, not a shuffled join."""
    plan = _plan(spark, "tpch_q11_important_value_share")
    assert re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M) or re.findall(
        r"^\(\d+\) BroadcastHashJoin", plan, re.M
    )
    assert not re.findall(r"^\(\d+\) SortMergeJoin", plan, re.M)


def test_evm_decodes_stay_jvm_side(spark):
    """Token decode (calldata + logs incl. the 1155 dynamic arrays) is
    pure column expressions — zero Python of any kind in the plan."""
    for name in ("evm_transfer_logs", "evm_txn_fees", "evm_decoded_transfers"):
        plan = _plan(spark, name)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name


def test_corpus_hygiene_ops_stay_map_side(spark):
    """gopher_repetition (HOF run-length) and pii_scrub (JVM regex) are
    per-document column computations — zero Exchange, zero Python.
    passage_dedup_ngrams shuffles exactly twice: the doc_id-keyed
    fan-out repartition doubles as the (doc_id, gram) distinct's
    clustering (hashpartitioning(doc_id) satisfies the pair-keyed
    ClusteredDistribution, so the old distinct shuffle is gone — r13),
    then the final gram-hash shuffle.  (A size(collect_set)
    single-shuffle variant exists but is memory-unsafe on degenerate
    hot grams at 100 TB; the two-phase shape bounds per-key state.)"""
    for name in ("gopher_repetition", "pii_scrub"):
        plan = _plan(spark, name)
        assert not re.findall(r"^\(\d+\) Exchange", plan, re.M), name
        assert "EvalPython" not in plan, name
    plan = _plan(spark, "passage_dedup_ngrams")
    # 2 = doc_id-keyed fan-out (reused by the distinct) + the gram hash
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2
    assert "EvalPython" not in plan


def test_ivf_assignment_is_shuffle_free(spark):
    """Nearest-seed assignment is literal-array column math; the ONLY
    exchange is the (cid, pos) aggregate (map-side partials first).
    stratified_sample is pure map-side — zero Exchange."""
    plan = _plan(spark, "ivf_centroid_update")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "EvalPython" not in plan
    plan = _plan(spark, "stratified_sample")
    assert not re.findall(r"^\(\d+\) Exchange", plan, re.M)


def test_wasm_decode_python_is_gated(spark):
    """ink! decode: the registry query's messages are all fixed-width
    SCALE types, so the whole decode is generated column expressions —
    zero Python, zero Union (one scan)."""
    plan = _plan(spark, "wasm_contract_calls")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Union" not in plan


def test_wasm_dynamic_types_gate_python_to_one_branch(spark):
    """A registry with a dynamic-typed message (Vec<u8>) still routes
    ONLY that code hash's rows through Python: exactly one
    ArrowEvalPython node, fed by an isin filter, unioned with the
    native tiers."""
    from pyspark.sql import functions as F

    from polkadot_etl_spark.plans.wasm import (
        ContractRegistry,
        InkMessage,
        contractscall_table,
    )

    calls = spark.createDataFrame(
        [("c1", None, None, 1, None, "contracts", "call",
          '{"dest": {"id": "0xaa"}, "gas_limit": "1", "value": "0", '
          '"data": "0xdeadbeef04ff"}', "0xbb")],
        "extrinsic_id: string, hash: string, block_time: timestamp,"
        " block_number: long, block_hash: string, section: string,"
        " method: string, params: string, signer_pub_key: string",
    )
    dim = spark.createDataFrame(
        [("0xaa", "0xc0"), ("0xcc", "0xc1")],
        "address_pub_key: string, code_hash: string",
    )
    reg = ContractRegistry()
    reg.register("0xc0", [InkMessage("push", "0xdeadbeef", ("Vec<u8>",))])
    reg.register("0xc1", [InkMessage("flip", "0xdeadbeef", ("u32", "bool"))])
    df = contractscall_table(calls, dim, registry=reg)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    got = {r["extrinsic_id"]: r["decoded_call"] for r in df.collect()}
    assert got["c1"] == (
        '{"args": {"arg0": "0xff"}, "decoded": true, "label": "push",'
        ' "selector": "0xdeadbeef"}'
    )


def test_democracy_voting_is_shuffle_free(spark):
    """The conviction-voting surface is a pure narrow map over the state
    scan (from_json + explode + get_json_object, all JVM): the plan must
    contain zero Exchange and zero Python."""
    plan = _plan(spark, "democracy_voting")
    assert not re.findall(r"^\(\d+\) Exchange", plan, re.M), "unexpected shuffle"
    assert "EvalPython" not in plan


def test_xcmtransfers_wide_chain_dims_broadcast(spark):
    """The wide xcmtransfers projection decorates with the chain registry
    dim twice (origin + destination) — both must be broadcast hash joins;
    the fact side must not gain a shuffle for the decoration."""
    plan = _plan(spark, "xcmtransfers_wide")
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) >= 2


def test_evm_accounts_passive_is_anti_join(spark):
    """accountsevmpassive must plan the not-active check as a LeftAnti
    join on the co-partitioned (day, address) key — never a cross or a
    per-row subquery."""
    plan = _plan(spark, "evm_accounts_daily")
    assert "LeftAnti" in plan


def test_balances_lifecycle_is_window_not_selfjoin(spark):
    """accounts_new_reaped must detect new/reaped via ONE lag/lead window
    over the per-address day sequence, never a per-day-pair self-join:
    the plan stays Python-free and its shuffle count is bounded (window +
    day aggs + the day-axis rollup), independent of how many days the
    snapshot spans.

    PINNED: the final lag(numAddresses) window in the default
    single-chain form is deliberately unpartitioned — its input is the
    DAY-GRAIN rollup (one row per day, bounded by calendar length, not
    data volume; substrateetl.js:9369-9428 runs per-chain). Multi-chain
    callers pass chain_col so the lag partitions by chain (behavior
    pinned in tests/test_plans.py::test_balances_rollup_chain_partition)."""
    plan = _plan(spark, "balances_day_lifecycle")
    assert "EvalPython" not in plan
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges <= 8, f"shuffle count grew to {n_exchanges}"


def test_multimodal_pipeline_is_mapside_with_pushdown(spark):
    """The multimodal pipeline is pure fan-out: the doc_id predicate must
    reach the parquet scan, Python must be Arrow-batched mapInPandas, and
    the media joins must broadcast (zero shuffle in the whole plan)."""
    plan = _plan(spark, "multimodal_image_features")
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(doc_id", plan)
    assert "MapInPandas" in plan and "BatchEvalPython" not in plan
    assert not re.findall(r"^\(\d+\) Exchange", plan, re.M)


def test_published_xcm_messages_dims_broadcast(spark):
    """xcm_messages_wide decorates with the chains dim twice — both must
    be broadcast; the message side must not shuffle (plan has zero
    Exchange: pure scan → two BHJ → project)."""
    plan = _plan(spark, "xcm_messages_published")
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 2
    assert not re.findall(r"^\(\d+\) Exchange hashpartitioning", plan, re.M)


def test_snapshots_dedup_is_single_window_shuffle(spark):
    """The first-per-hour dedup is ONE rank window on (track_val, hour) —
    exactly one hash Exchange in the plan, no joins, no Python."""
    plan = _plan(spark, "snapshots_pricefeed")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "hashpartitioning(track_val" in plan
    assert "EvalPython" not in plan
    assert "Join" not in plan


def test_sequence_packing_is_one_shard_window(spark):
    """Packing must be per-shard: exactly ONE Exchange (the source-key
    window), no global sort, no Python — the scale property that keeps
    packing embarrassingly parallel across input shards."""
    plan = _plan(spark, "sequence_packing")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "hashpartitioning(source" in plan
    assert "EvalPython" not in plan


def test_dsir_single_pass_and_broadcast_weights(spark):
    """DSIR: the 256-row weight dim must broadcast onto the word stream
    (scoring adds no corpus shuffle) and both LMs must come from ONE
    corpus aggregation — so the word-stream groupBy(bucket) appears once
    in the plan, not per LM."""
    plan = _plan(spark, "dsir_importance")
    assert re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)
    assert "EvalPython" not in plan
    assert len(re.findall(r"hashpartitioning\(bucket", plan)) <= 2  # partial+final pair


def test_funnel_is_single_pass(spark):
    """The filter funnel computes all five gate booleans in one corpus
    pass: only the dedup-canonicality window Exchange plus the 1-row
    final aggregate — and the repetition gate must stay the shuffle-free
    HOF (no per-word explode/groupBy anywhere)."""
    plan = _plan(spark, "corpus_filter_funnel")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2
    assert "EvalPython" not in plan
    # exactly ONE Generate: the 5-row stack over the 1-row aggregate —
    # no per-word explode (the repetition gate is the run-length HOF)
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1


def test_semdedup_pairs_join_on_cell(spark):
    """SemDeDup's quadratic term must be bounded by the k-means cell:
    the pair join is an equi-join carrying cid, the only cross shape is
    the k-row seed dim broadcast (BroadcastNestedLoopJoin — never a
    shuffled CartesianProduct), and no Python anywhere."""
    plan = _plan(spark, "semdedup_prune")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    # the assignment (seed-dim broadcast cross + argmax) is materialized
    # once via localCheckpoint, so the visible plan reads ExistingRDD
    # instead of re-running that subtree per consumer
    assert "ExistingRDD" in plan
    # formatted plans list join keys in the details section ("Left keys")
    assert re.search(r"Left keys \[\d+\]: \[cid", plan), (
        "pair join lost its cid equi-key"
    )
    # the checkpoint HIDES the assignment subtree from the query plan
    # above, so assert its invariant directly on the pre-checkpoint
    # frame: the seed cross must be the sanctioned small-side broadcast
    # (BroadcastNestedLoopJoin), never a shuffled CartesianProduct
    from polkadot_etl_spark.queries.corpus_ext import _assigned_vectors

    aplan = _assigned_vectors(spark, SF_DIR)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", aplan, re.M)) == 1
    assert "CartesianProduct" not in aplan


def test_bpe_pair_rank_over_bounded_dim(spark):
    """Pair counting shuffles only the <=26^2 digram keys: one hash
    Exchange for the count, one single-partition Exchange for the rank
    window over the bounded dim — nothing else, no Python."""
    plan = _plan(spark, "bpe_pair_counts")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2
    assert "EvalPython" not in plan


def test_corpus_survivors_reuses_audited_shapes(spark):
    """The end-to-end dedup plan must stay Python-free and keep the
    bucket-cap predicate from the LSH stage (the quadratic bound) in the
    composed plan."""
    plan = _plan(spark, "dedup_corpus_survivors")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_perplexity_lm_dim_broadcasts(spark):
    """The unigram-LM dim must broadcast onto the word stream (scoring
    adds no corpus shuffle) and the whole plan stays Python-free."""
    plan = _plan(spark, "unigram_perplexity")
    assert re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)
    assert "EvalPython" not in plan


def test_split_leakage_is_hash_keyed(spark):
    """Leakage audit: gram text never crosses the wire (join keys are the
    16-byte md5 column), no Python, no cartesian shapes. Join strategy is
    deliberately left to size estimates — broadcast at toy SF, shuffle
    SMJ at corpus scale."""
    plan = _plan(spark, "split_leakage_audit")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "gram_hash" in plan


def test_users_tags_label_dim_broadcasts(spark):
    """The knownpubs label dim must broadcast onto the pair rollup (the
    fact side never reshuffles for decoration) and the whole attribution
    pipeline stays Python-free with no cartesian shapes."""
    plan = _plan(spark, "users_tags_attribution")
    assert re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_cluster_trace_decode_is_native_and_broadcast(spark):
    """F4 via the driver gate: the storage-key dim joins broadcast, the
    AccountInfo decode is pure native expressions (no Python anywhere),
    and the extrinsic decoration does not force an extra fact shuffle."""
    plan = _plan(spark, "cluster_trace_reference")
    assert "EvalPython" not in plan
    assert re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)


def test_audit_is_single_day_shuffle(spark):
    """The published-table audit builds all three present-block arrays in
    ONE groupBy(day) pass — exactly one Exchange, the range-diff is
    map-side array math, no joins, no Python."""
    plan = _plan(spark, "audit_row_counts")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "EvalPython" not in plan
    assert "Join" not in plan


def test_address_topn_rank_limit_pushes_down(spark):
    """addressTopN has only 15 rank groups, so the scale property lives in
    Catalyst's rank-limit pushdown (SPARK-37099): a PARTIAL
    WindowGroupLimit below the rank exchange keeps each input partition's
    local top-25 per metric before any shuffle — no task ever holds a
    metric's full address set.  Pin the partial+final pair and that the
    rank is ONE window (a hand-rolled salted two-phase stage measured
    strictly worse: same bound, one extra Exchange)."""
    plan = _plan(spark, "address_topn_metrics")
    assert len(re.findall(r"^\(\d+\) Window(?!GroupLimit)", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) WindowGroupLimit", plan, re.M)) == 2


def test_audio_pipeline_is_mapside_with_pushdown(spark):
    """The audio pipeline mirrors the image one: doc_id predicate pushed
    to the scan, Python is Arrow-batched mapInPandas only, zero shuffle."""
    plan = _plan(spark, "multimodal_audio_features")
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(doc_id", plan)
    assert "MapInPandas" in plan and "BatchEvalPython" not in plan
    assert not re.findall(r"^\(\d+\) Exchange", plan, re.M)


def test_bpe_encode_runs_on_vocab_not_corpus(spark):
    """BPE apply must encode the DISTINCT vocabulary: the word groupBy is
    the only Exchange, and the fixpoint loop is exactly one Arrow-batched
    UDF (never row-pickling Python) running above the aggregate — i.e.
    on vocab-sized, not corpus-sized, input."""
    plan = _plan(spark, "bpe_encode_vocab")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) == 1
    assert "BatchEvalPython" not in plan
    # formatted plans list nodes leaves-first: the UDF node id must be
    # LARGER than the final aggregate's, i.e. the encode consumes the
    # deduplicated vocab, not the raw word stream
    agg_id = max(int(m) for m in re.findall(r"^\((\d+)\) HashAggregate", plan, re.M))
    udf_id = int(re.search(r"^\((\d+)\) ArrowEvalPython", plan, re.M).group(1))
    assert udf_id > agg_id, "encode UDF runs below the vocab aggregate"


def test_classifier_and_dup_ngrams_are_map_side(spark):
    """quality_classifier_logit (integer HOF fold) and
    intradoc_dup_ngrams (per-row gram array math) are single corpus
    passes: zero Exchange, zero Python."""
    for name in ("quality_classifier_logit", "intradoc_dup_ngrams"):
        plan = _plan(spark, name)
        assert not re.findall(r"^\(\d+\) Exchange", plan, re.M), name
        assert "EvalPython" not in plan, name


def test_pq_encode_is_map_side_and_search_broadcasts(spark):
    """PQ encode is a zero-Python column pass whose only Exchange is the
    r13 keyed generator fan-out of the narrow (vec_id, embedding) rows
    (the single-split fixture scan otherwise runs every per-row encode
    in one task); the ADC search's only cross shape is the broadcast
    query set (never a shuffled CartesianProduct) and its top-k rank
    gets the WindowGroupLimit pushdown."""
    plan = _plan(spark, "pq_quantize_embeddings")
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) == 1 and "hashpartitioning(vec_id" in plan
    assert "EvalPython" not in plan
    plan = _plan(spark, "ann_pq_adc_search")
    assert "CartesianProduct" not in plan
    assert re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    assert re.findall(r"^\(\d+\) WindowGroupLimit", plan, re.M)
    assert "EvalPython" not in plan


def test_salted_agg_splits_hot_key_then_combines(spark):
    """The salted rollup must shuffle TWICE by design — first on
    (address, __salt) splitting the hot key over 16 reducers, then on
    address for the exact combine — with no Python anywhere."""
    plan = _plan(spark, "skewed_hotkey_rollup")
    assert "__salt" in plan, "salt column missing from the partial aggregate"
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2
    assert "EvalPython" not in plan


def test_mixture_sample_broadcasts_epoch_dim(spark):
    """The mixture materialization joins the source-count-sized epoch dim
    as a broadcast (the corpus never reshuffles for decoration), the
    replication is a Generate (explode) fan-out, and no Python appears."""
    plan = _plan(spark, "mixture_sample_corpus")
    assert re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)
    assert re.findall(r"^\(\d+\) Generate", plan, re.M)
    assert "EvalPython" not in plan


def test_substring_dedup_hashes_before_shuffle(spark):
    """Exact-substring span dedup: raw window text must md5 before any
    Exchange (the 16-byte key is what shuffles), the island merge is a
    doc_id window, and no Python appears. Shuffle count stays bounded:
    the dup-count aggregate pair, the join back, and the island window."""
    plan = _plan(spark, "exact_substring_dup_spans")
    assert "EvalPython" not in plan
    assert "md5" in plan
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_ex <= 5, f"shuffle count grew to {n_ex}"


def test_ccnet_buckets_compose_broadcast_lm(spark):
    """The tercile bucketing must reuse unigram_perplexity's shape — the
    LM dim broadcasts onto the word stream — and stay Python-free; the
    per-language rank is one window partition."""
    plan = _plan(spark, "ccnet_perplexity_buckets")
    assert re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)
    assert "EvalPython" not in plan
    assert re.findall(r"^\(\d+\) Window(?!GroupLimit)", plan, re.M)


def test_dhash_dedup_shuffles_hash_not_pixels(spark):
    """dHash dedup: the only Exchange is the 16-hex-char hash window
    (pixels never shuffle — all raster work is Arrow map stages above
    the pushed-down doc_id scan)."""
    plan = _plan(spark, "image_dhash_dedup")
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(doc_id", plan)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "hashpartitioning(dhash" in plan
    assert "MapInPandas" in plan and "BatchEvalPython" not in plan


def test_video_cuts_pair_join_is_keyed(spark):
    """Scene-cut detection: the consecutive-frame pair join must be a
    keyed equi-join on (media_id, frame arithmetic) — never a cartesian —
    with all pixel work in Arrow map stages above the pushed-down scan."""
    plan = _plan(spark, "video_scene_cuts")
    assert "CartesianProduct" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(doc_id", plan)
    assert "MapInPandas" in plan and "BatchEvalPython" not in plan


def test_audio_hash_dedup_shuffles_hash_not_samples(spark):
    """Audio energy-hash dedup mirrors the image one: the only Exchange
    is the 4-hex-char hash window — PCM samples never shuffle."""
    plan = _plan(spark, "audio_energy_hash_dedup")
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(doc_id", plan)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "hashpartitioning(ehash" in plan
    assert "MapInPandas" in plan and "BatchEvalPython" not in plan


def test_pallet_typed_view_filter_prunes(spark):
    """typed_events must keep the (section, method) filter ahead of the
    payload promotion and stay Python-free — the typed view is a pure
    projection over the filtered event stream."""
    plan = _plan(spark, "pallet_typed_views")
    assert "EvalPython" not in plan
    assert "from_json" in plan
    assert not re.findall(r"^\(\d+\) Exchange hashpartitioning", plan, re.M)


def test_call_flatten_success_semi_join_is_hash_not_sort(spark):
    """The success gate inside calls_from_extrinsics must plan as a
    ShuffledHashJoin LeftSemi (dedup-free: semi-join semantics already
    ignore right-side multiplicity), never a SortMergeJoin — sorting
    both sides on string extrinsic ids measured ~2x slower at sf0.1 and
    buys nothing for an existence probe."""
    plan = _plan(spark, "dump_day_blocklog")
    assert re.search(r"ShuffledHashJoin [^\n]*LeftSemi", plan), "semi join not hash"
    assert not re.search(r"SortMergeJoin [^\n]*LeftSemi", plan), "semi join sorts"


def test_gar_registry_parse_is_native_with_broadcast_gates(spark):
    """The per-chain gar parses are now FULLY JVM-side: the r7 native
    interior-key codec (plans/xcmgar.py native_loc_cols — one
    let-chained expression evaluated once per row inside a Generate)
    replaces the Arrow wave, removing both the Python stage AND its
    codec-compaction repartition Exchange. Every known-asset gate must
    broadcast — registries are dim-scale, a shuffled join would be the
    wrong 100 TB plan."""
    plan = _plan(spark, "gar_chain_registry")
    assert "EvalPython" not in plan  # codec is native column work now
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # ONE Exchange: the canonical-selection window (stats ride its
    # partitioning instead of a groupBy + join-back); the arrow-era
    # codec-compaction round robin is gone
    assert len(re.findall(r"\) Exchange", plan)) == 1
    # the codec evaluates ONCE: a single explode_outer Generate — a
    # refactor that re-inlines the codec per consumer would multiply
    # the expression tree (measured 1.1 MB plan / executor OOM)
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1


def test_assethub_decorate_is_broadcast(spark):
    """AssetHub per-asset decimalization joins the assets:metadata dim
    by broadcast; the fact side never shuffles for the decoration."""
    plan = _plan(spark, "assethub_asset_transfers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hydradx_tracks_are_mapside_with_broadcast_ticker(spark):
    """The omnipool snapshot tracks are pure projections; the only joins
    are broadcast ticker decorations against the registry dim — no
    shuffle anywhere in the plan."""
    plan = _plan(spark, "snapshots_hydradx_omnipool")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert not re.findall(r"^\(\d+\) Exchange hashpartitioning", plan, re.M)
    assert "EvalPython" not in plan


def test_remote_transact_python_is_derivative_codec_only(spark):
    """xcm_remote_transact: one Arrow node (the blake2 derivative codec,
    fed only rows with a remote template); linkage joins are keyed equi
    joins; the tiny generator dim broadcasts."""
    plan = _plan(spark, "xcm_remote_transact")
    assert "BatchEvalPython" not in plan
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) == 1
    assert "BroadcastHashJoin" in plan


def test_precompile_decoration_is_broadcast_codegen(spark):
    """System-contract classification is one broadcast dim join plus
    column expressions — no shuffle, no Python."""
    plan = _plan(spark, "evm_precompile_calls")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan
    assert not re.findall(r"^\(\d+\) Exchange hashpartitioning", plan, re.M)


def test_assethub_holders_walk_is_one_scan_one_residual_shuffle(spark):
    """The stablecoin holder walk: asset state broadcasts onto the holder
    scan; the name decode is a native HOF (no Python); the only hash
    exchange is the per-currency residual aggregate."""
    plan = _plan(spark, "snapshots_assethub_stablecoins")
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # exactly one non-broadcast Exchange: the per-currency residual agg
    assert len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M)) == 1


def test_token_maintenance_folds_are_windowed_no_python(spark):
    """Both maintenance merges are keyed windows over the observation
    batch — no Python, no cartesian, and the asset dim joins by key."""
    plan = _plan(spark, "token_metadata_maintenance")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert re.findall(r"^\(\d+\) Window", plan, re.M)


def test_astar_dappstaking_is_pure_projection(spark):
    """Both dApp-staking tracks are map-side JSON projections — zero
    hash exchange, zero Python."""
    plan = _plan(spark, "snapshots_astar_dappstaking")
    assert "EvalPython" not in plan
    assert not re.findall(r"^\(\d+\) Exchange hashpartitioning", plan, re.M)


def test_kmeans_assignment_is_shuffle_free_update_is_one_exchange(spark):
    """Per k-means round the assignment is literal column math (no join,
    no Python); the final centroid recompute is the single (cid, dim)
    aggregate exchange."""
    plan = _plan(spark, "kmeans_corpus_clusters")
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_url_filter_is_regex_codegen_one_rollup(spark):
    """URL canonicalization/suffix/blocklist are pure string expressions;
    the only exchange is the per-domain rollup."""
    plan = _plan(spark, "url_domain_filter")
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2  # distinct+final agg


def test_gar_longtail_parse_is_native_with_broadcast_gates(spark):
    """The five long-tail chain parses (astar/shiden/clover/origintrail/
    shadow) share gar_chain_registry's plan discipline: native JSON
    columns, broadcast known-asset gates, the r7 zero-Python native
    interior-key codec (one Generate per input branch), and only the
    canonical-window Exchange plus the xTokens-augment dedup (the
    augmentedXcMap keyed-map semantics)."""
    plan = _plan(spark, "gar_longtail_registry")
    assert "EvalPython" not in plan  # r7: native codec, zero Python
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # 2 = canonical window + the xTokens-augment dedup; the arrow-era
    # codec-compaction Exchange is gone
    assert len(re.findall(r"\) Exchange", plan)) == 2
    # one codec Generate per input branch (registrations + augment)
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 2


def test_dappstaking_v3_is_pure_projection(spark):
    """Shibuya's three track shapes (stakerInfo walk + two singletons)
    are map-side JSON projections — zero Exchange, zero Python."""
    plan = _plan(spark, "snapshots_dappstaking_v3")
    assert "EvalPython" not in plan
    assert not re.findall(r"^\(\d+\) Exchange", plan, re.M)


def test_relay_opengov_exchange_budget_no_python(spark):
    """The relay OpenGov walk is native JSON end-to-end; the only
    shuffles are the delegatee rollup (groupBy + the full-outer stats
    merge, which cannot broadcast) and the only nested-loop join is the
    broadcast 1-row era frame under computeTotalStaked."""
    plan = _plan(spark, "snapshots_relay_opengov")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # 3 = delegatee groupBy + the full-outer stats merge + the
    # currentEra singleton aggregate (one-row agg so a missing or
    # duplicated era fetch can't erase or double the metric rows)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 3
    assert len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)) == 1


def test_assethub_price_log_one_window_exchange(spark):
    """The Dune-CSV parse is pure string codegen; the last-wins keyed
    dedup is the single Exchange (its row_number window)."""
    plan = _plan(spark, "assethub_price_log")
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_ann_ivf_trained_search_is_broadcast_gated(spark):
    """The trained-IVF search never forms corpus x corpus: the probe is
    a broadcast cross against the k-row centroid dim, candidate
    selection is a broadcast-gated equi-join on cell id, and the
    queries' raw vectors broadcast into the rerank — no
    CartesianProduct, no Python. (The neighbor-side rerank join is a
    keyed equi-join by DESIGN — at corpus scale it legitimately
    shuffles, so no SortMergeJoin ban here; the banned shapes are the
    unkeyed ones.)"""
    plan = _plan(spark, "ann_ivf_trained_search")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_dune_freshness_is_pure_column_math(spark):
    """The staleness monitor is a map-side projection + filter — zero
    Exchange, zero Python, zero Join."""
    plan = _plan(spark, "dune_freshness_alerts")
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert not re.findall(r"^\(\d+\) Exchange", plan, re.M)


def test_evm_jsonld_is_pure_projection(spark):
    """The JSON-LD export is document formatting only — zero Exchange,
    zero Join, zero Python. (Its oversized to_json projection falls
    back to interpreted eval — documented in the query — but never to
    row-pickling Python.)"""
    plan = _plan(spark, "evm_tx_jsonld")
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert not re.findall(r"^\(\d+\) Exchange", plan, re.M)


def test_winnowing_selection_is_bounded_exchanges(spark):
    """Fingerprint selection is per-doc window math; everything after
    is keyed aggregation/equi-join work. Pin the Exchange budget (the
    doc window + fp distinct + bucket agg + ok distinct + pair agg +
    doc-count agg across the three union legs) so a refactor cannot
    silently add shuffles — and never Python or a cartesian."""
    plan = _plan(spark, "winnowing_fingerprints")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # r13: the selected fingerprints are checkpointed once (the gram
    # explode + doc window no longer re-plan per union leg), so every
    # leg reads the W-fold-reduced fp RDD — pin that the declared plan
    # contains NO Generate/Window (they ran once at build) and that the
    # remaining exchanges are the fp-sized aggregation/join shuffles
    assert "Scan ExistingRDD" in plan
    assert "Generate" not in plan and "Window" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 12


def test_ann_recall_audit_is_broadcast_dim_joins(spark):
    """The recall audit composes four real ANN plans plus their
    candidate-count stages; everything the AUDIT adds on top (truth x
    method hits, the candidate rollups, the method grid, the final left
    joins) operates on |queries| x k-row or per-query-count frames and
    must stay broadcast — no cartesian, no Python anywhere in the
    composition."""
    plan = _plan(spark, "ann_recall_audit")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_paragraph_rewrite_text_stays_out_of_hash_shuffle(spark):
    """The rewrite composes the shared _cdc_occurrences stage (ONE
    Generate, text row-local), flags canonicality over the 16-byte
    chunk-hash window, and re-touches text only through the single
    doc_id-keyed join for the rebuild — no Python, no cartesian, and
    the hash-window exchange never carries text."""
    plan = _plan(spark, "paragraph_dedup_rewrite")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 5, exchanges
    assert not any("text" in e for e in exchanges), exchanges


def test_bpe_training_result_is_bounded_driver_state(spark):
    """The BPE training loop runs vocab-side jobs with a 1-row driver
    collect per step (kmeans-centroid-class bounded state); the QUERY's
    final plan is therefore a LocalTableScan of the learned merge
    table — the corpus never appears in the result plan and no Python
    stage exists anywhere."""
    plan = _plan(spark, "bpe_merge_train_steps")
    assert "EvalPython" not in plan
    # createDataFrame of the K merge rows plans as a local/RDD scan
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan


def test_bigram_backoff_dims_broadcast(spark):
    """The seed-LM dims (bigram counts, unigram counts, the 1-row total)
    broadcast onto the row-local bigram stream — SIZING-driven, not
    forced (the seed is Wikipedia-scale in production and must be free
    to fall back to hash-keyed joins); no Python, no cartesian, and the
    per-doc rollup is the only corpus-keyed aggregate."""
    plan = _plan(spark, "bigram_perplexity_backoff")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) >= 3


def test_banded_minhash_pairs_stay_inside_bucket_shuffle(spark):
    """The (b=4, r=2) configuration keeps the r=1 family's audited
    shape: signatures computed once, the pair blowup happens inside the
    (band, key) groupBy via the collect_list explode (never a signature
    self-join), the verify joins move one shingle-set array per doc,
    and nothing is Python or cartesian."""
    plan = _plan(spark, "dedup_minhash_banded_r2")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 6
    # one Generate for the shingle explode per signature/set leg + the
    # pair explode — no quadratic structure outside them
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) <= 4


def test_gate_attribution_shares_funnel_shapes(spark):
    """The Venn attribution composes the same _release_stage_parts flag
    plans as the funnel: broadcasts survive, no cartesian, no Python,
    and the only new work is the 1-row aggregate fanned to 6 rows."""
    plan = _plan(spark, "gate_attribution_audit")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) >= 3
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 8


def test_int8_quantize_shuffles_are_dim_bounded(spark):
    """Quantization stats shuffle on the 64-key dim only: the scale dim
    broadcasts back onto the stream, no Python, and the exchange count
    is the two dim-keyed aggregates."""
    plan = _plan(spark, "embedding_int8_quantize")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 4


def test_audio_silence_trim_is_one_arrow_wave_pair(spark):
    """The trim is per-clip work: the WAV synth + decode/scan stages are
    Arrow-batched mapInPandas (never row-at-a-time Python) and the doc_id
    predicate reaches the parquet scan; no shuffle exists at all."""
    plan = _plan(spark, "audio_silence_trim")
    assert "BatchEvalPython" not in plan
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython|^\(\d+\) MapInPandas", plan, re.M)) >= 1
    assert "Exchange" not in plan
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan or "LessThan(doc_id,200)" in plan


def test_video_keyframe_composes_cut_plan(spark):
    """Keyframe extraction composes the REAL scene-cut plan plus the
    shared frame fan-out: Arrow stages only, the keyframe roster joins
    (media_id, frame) keyed, no cartesian anywhere."""
    plan = _plan(spark, "video_keyframe_sample")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_hard_negative_mining_inherits_prefilter_budget(spark):
    """The miner composes _sketch_prefiltered: the compressed Hamming
    scan's shape survives composition (WindowGroupLimit, no vectors in
    the prefilter exchange) and the joins broadcast the provably small
    candidate/query sides — sizing-driven, never a forced hint on the
    corpus-sized doc->source dim; no Python."""
    plan = _plan(spark, "hard_negative_mining")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) >= 3


def test_ann_sketch_prefilter_scan_is_compressed(spark):
    """The tuned ANN operating point: the Hamming scan must be the
    COMPRESSED form — raw embeddings never enter the top-m window's
    exchange (only ids + the 8-word sketch + ham cross the scan), the
    per-query top-m pushes down as WindowGroupLimit, the query sides
    broadcast, and nothing is Python or cartesian."""
    plan = _plan(spark, "ann_sketch_prefilter")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 4, exchanges
    assert not any("embedding" in e or "ws#" in e for e in exchanges), (
        "raw vectors or sketches crossed the prefilter shuffle: " + str(exchanges)
    )


def test_corpus_release_funnel_composition_keeps_stage_shapes(spark):
    """The release funnel fuses six REAL stage plans; composition must
    not degrade any stage's physical shape: the passage-decontamination
    bench dim and the small flag dims stay BROADCAST, nothing falls
    back to a cartesian or Python, and fusion adds no unkeyed shuffle —
    the Exchange budget stays at the sum of the stages' own keyed
    shuffles (gopher/exact windows, LSH signature aggregates, CC
    lineage, the funnel's final 1-row aggregate)."""
    plan = _plan(spark, "corpus_release_funnel")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) >= 3
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", plan, re.M)) <= 2
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 8


def test_cdc_chunk_dedup_is_row_local_until_hash_window(spark):
    """CDC chunking computes cuts, spans and chunk hashes row-local via
    higher-order functions in ONE Generate — the text column must never
    reach an Exchange; the only shuffles are the 16-byte chunk-hash
    window and the per-doc rollup."""
    plan = _plan(spark, "cdc_chunk_dedup")
    assert "EvalPython" not in plan
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) == 2, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"


def test_dedup_incremental_batch_digest_keyed(spark):
    """The incremental dedup joins/windows on the 16-byte digest only:
    no raw text in any Exchange, no forced broadcast (AQE sizes the
    ledger side — broadcast here at fixture scale, shuffle join at
    100 TB), and the whole pipeline fits in a bounded Exchange budget
    (ledger distinct + window key + per-source rollup)."""
    plan = _plan(spark, "dedup_incremental_batch")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 4, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"


def test_corpus_shard_shuffle_is_one_exchange(spark):
    """The training-order shuffle is ONE hash-partitioned exchange on
    shard_id plus local per-shard work — never a global sort."""
    plan = _plan(spark, "corpus_shard_shuffle")
    assert "EvalPython" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "rangepartitioning" not in plan  # a global orderBy would show one
    assert "TakeOrderedAndProject" not in plan


def test_bloom_dedup_membership_digest_keyed(spark):
    """The Bloom build/probe moves only 16-byte digests and 4-byte bit
    positions: no raw text in any Exchange, no Python, no cartesian
    fallback (the 1-row fill frame is explicitly broadcast), and the
    whole build+probe+truth composition fits a bounded Exchange budget
    (word groupBy, per-doc bool_and, digest-distinct, truth join,
    per-source rollup)."""
    plan = _plan(spark, "bloom_dedup_membership")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 7, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row fill attach


def test_ann_ivfpq_residual_search_shape(spark):
    """IVFADC: cell assignment + residual PQ encode are one map pass;
    the probe set broadcasts onto a cell-keyed equi-join (never
    corpus x corpus); the only Exchange is the per-query rank window.
    The residual/codes/ADC-table expressions are let-bound (lambda
    boundaries), so the plan must stay bounded — a re-inlining
    regression blows the formatted plan past ~1 MB (measured failure
    mode of the unprotected form elsewhere in r7)."""
    plan = _plan(spark, "ann_ivfpq_residual_search")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # exactly two exchanges: the r13 keyed fan-out of the narrow db rows
    # (the cell+residual encode otherwise runs in the one fixture scan
    # task) and the per-query rank window
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2
    assert "hashpartitioning(vec_id" in plan
    assert len(plan) < 300_000, f"plan blew up to {len(plan)} chars"


def test_datacard_source_stats_keyed_exchanges_only(spark):
    """The data card's digest and token count are map-side: raw text
    never reaches an Exchange. The shuffles are the 16-byte digest
    window, the source-keyed exchange (median window + rollup share
    it), the (source, lang) rollup, and the source join — all keyed,
    nothing global."""
    plan = _plan(spark, "datacard_source_stats")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 5, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"
    assert "rangepartitioning" not in plan  # no global sort anywhere


def test_domain_pagerank_iterations_stay_keyed(spark):
    """Each PageRank power iteration is one src-keyed join + one
    dst-keyed aggregate over the checkpointed edge table — all-keyed
    exchanges with a bounded count, no cartesian, no global sort, no
    Python. The graph build itself (staged self-join + edge rollup)
    sits behind the lineage-cut checkpoint. The static plan carries
    ~5 keyed exchanges per unrolled iteration (join sides + rollup);
    at runtime AQE converts the 11-row rank/degree sides to broadcasts
    — the bound guards against an accidental extra shuffle per
    iteration, not the AQE end state."""
    plan = _plan(spark, "domain_pagerank")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 22, exchanges


def test_ann_ivfpq_recall_audit_bounded_joins(spark):
    """The recall audit composes the real IVFPQ plan plus a brute-force
    truth pass; everything the audit adds (truth x approx hits, the
    pruning-ceiling join, the final left joins) operates on
    |queries| x k frames and must stay broadcast — no cartesian, no
    Python, and the plan-size bound guards the let-binding discipline
    of the composed IVFPQ legs."""
    plan = _plan(spark, "ann_ivfpq_recall_audit")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert len(plan) < 600_000, f"plan blew up to {len(plan)} chars"


def test_quality_signal_spearman_three_keyed_exchanges(spark):
    """Signals are map-side HOF/regex work (no word shuffle); the plan
    is ONE rank-window exchange over the unpivoted (sig, val) rows, the
    per-doc pivot-back, and a single global aggregate — the 6 output
    pairs unstack from one row with no further movement."""
    plan = _plan(spark, "quality_signal_spearman")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 4, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"


def test_contamination_containment_digest_keyed(spark):
    """The containment pair join moves only 16-byte gram digests; the
    frequency cap bounds the join fan-out (no hot-gram pair explosion),
    no broadcast hint is forced (AQE sizes the benchmark side), and raw
    text never reaches an Exchange."""
    plan = _plan(spark, "contamination_containment")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 8, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"


def test_rag_chunk_documents_zero_exchange(spark):
    """The whole chunking pipeline — boundary synthesis, sentence
    extraction, the greedy chunk fold, hashing — is row-local: one
    embarrassingly parallel map pass with NO Exchange at all."""
    plan = _plan(spark, "rag_chunk_documents")
    assert "EvalPython" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1


def test_image_dhash_hamming_lsh_bounded_candidates(spark):
    """The banded near-dup layer on top of the composed dhash plan must
    stay bucket-keyed: no cartesian, no row-at-a-time Python (the codec
    stages are Arrow), and the verify moves 16 hex chars per side — no
    pixel content in any Exchange."""
    plan = _plan(spark, "image_dhash_hamming_lsh")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert not any("content" in e for e in exchanges), "pixel bytes shuffled"
    assert len(exchanges) <= 8, exchanges


def test_bm25_topk_retrieval_inverted_index_shape(spark):
    """BM25 shuffles terms, never text: postings groupBy keys on term;
    the df-ANNOTATED query-term dim (<= 64 rows by construction,
    collected once) joins as a broadcast LocalRelation so capped
    stopword terms never match the hash table — their candidates are
    never generated, not filtered after the fact; the per-query top-k
    plans as a WindowGroupLimit pair so no query key can skew; the
    drop-accounting join broadcasts the <= Q*K ranked side. The whole
    score is BIGINT div arithmetic — no Python stage, and the r8
    COUNT-window over the full postings is GONE (no sort of every term
    partition just to annotate 64 query terms)."""
    plan = _plan(spark, "bm25_topk_retrieval")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    # the collected query-term dim (createDataFrame from collected rows)
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 4, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"
    # exactly one Window node (the top-k rank; formatted explain prints
    # tree + detail, so <= 2 lines) — the df window is gone
    assert len(re.findall(r"^\(\d+\) Window(?!GroupLimit)", plan, re.M)) <= 2, (
        "df window back?"
    )


def test_mmr_diversified_topk_greedy_is_row_local(spark):
    """The MMR reranker's cluster work is candidate construction only:
    the top-candidate window plans as a WindowGroupLimit pair, the pair
    sims stay a query-keyed equi-join, and the greedy selection loop is
    ONE row-local HOF fold over collected arrays — 3 keyed Exchanges
    total, no Python, no cartesian, and selection adds zero iterations
    of distributed work."""
    plan = _plan(spark, "mmr_diversified_topk")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 4, exchanges


def test_source_vocab_drift_single_corpus_pass(spark):
    """The drift card reads the corpus ONCE: the (source, word) counts
    are checkpointed and all three consumers (word-partition window,
    totals row, source dim) derive from the cut — no re-scan, no
    re-explode. Words shuffle, text never does; the missing-vocabulary
    mass is closed-form so no outer join exists."""
    plan = _plan(spark, "source_vocab_drift")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan parquet" not in plan, "corpus re-scanned past the checkpoint"
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 5, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"


def test_domain_quota_sample_two_keyed_exchanges(spark):
    """The quota gate is one domain-partition rank window plus the
    per-domain rollup — two keyed Exchanges, composing the real
    _url_staged derivation with no Python stage and no text movement."""
    plan = _plan(spark, "domain_quota_sample")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 2, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"


def test_source_overlap_matrix_row_local_pairs(spark):
    """The matrix expands source pairs row-locally from each digest's
    sorted count array (fan-out bounded by sources^2) — no digest
    self-join exists in the plan: 3 keyed Exchanges, map-side
    fingerprints, no text movement, no Python."""
    plan = _plan(spark, "source_overlap_matrix")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, "pair fan-out must be row-local, not a self-join"
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 3, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"


def test_bpe_fertility_audit_word_keyed(spark):
    """The fertility audit composes the trained segmentation (the loop
    runs on the checkpointed vocab dim, outside this plan) and adds one
    (source, word) groupBy, a word-keyed join and the source rollup —
    3 keyed Exchanges past the training cut, words shuffle, text never
    does, no Python stage."""
    plan = _plan(spark, "bpe_fertility_audit")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 4, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"


def test_embedding_isotropy_card_no_pairwise_term(spark):
    """Compactness is measured to the CENTROID, never all-pairs: the
    plan is one (label, pos)-keyed centroid aggregate, the per-label
    centroid-array collect (broadcast back), and the label rollup — no
    join fan-out in |vectors|^2, no Python, and every per-vector term is
    a row-local fold."""
    plan = _plan(spark, "embedding_isotropy_card")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 4, exchanges


def test_html_boilerplate_extract_one_map_pass(spark):
    """Markup synthesis, block segmentation, link-density scoring and
    the keep verdict are all row-local: ONE Generate, and the only
    Exchange is the per-doc rollup — no Python, no text in any wide
    shuffle beyond the per-doc group itself."""
    plan = _plan(spark, "html_boilerplate_extract")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 1, exchanges


def test_hybrid_rrf_fusion_composes_bounded_legs(spark):
    """Fusion composes the REAL BM25 plan plus the SKETCH-PREFILTERED
    dense leg (the r8 brute-force corpus crossJoin over raw embeddings
    is gone from the production path): the xor/bit_count Hamming scan
    must be IN the plan, both legs bound their per-query output with
    WindowGroupLimit pairs before any fusion work, the fusion join
    moves <= Q*k rows per side, and no Python, cartesian or text
    shuffle exists anywhere."""
    plan = _plan(spark, "hybrid_rrf_fusion")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "bit_count" in plan, "sketch prefilter stage missing from dense leg"
    assert plan.count("WindowGroupLimit") >= 4  # both legs + fused rank
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 10, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"


def test_ann_dim_truncation_audit_shape(spark):
    """The per-dim top-k frame is localCheckpointed at build (<=
    |dims|*|Q|*k rows — two consumers must not re-run the brute-force
    scan), so the visible plan is the audit fan-in only: ONE exchange
    (the per-(dim, query) overlap rollup), broadcast truth join, no
    Python, no cartesian."""
    plan = _plan(spark, "ann_dim_truncation_audit")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 2, exchanges


def test_inference_batch_padding_card_one_rollup(spark):
    """Token count and bin assignment are row-local; the ONLY exchange
    is the |bins|-key rollup (map-side partial agg) — no Python, no
    Generate, no text in any shuffle."""
    plan = _plan(spark, "inference_batch_padding_card")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert not re.findall(r"^\(\d+\) Generate", plan, re.M)
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 1, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"


def test_bm25_rm3_expansion_composes_bounded_passes(spark):
    """RM3 composes the real BM25 twice (first pass + expanded rescore):
    terms shuffle, text never; the feedback/expansion dims broadcast;
    every top-k (first pass, expansion pick, final rank) plans with
    WindowGroupLimit; no Python, no cartesian."""
    plan = _plan(spark, "bm25_rm3_expansion")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("WindowGroupLimit") >= 6  # 3 rank windows, tree+detail
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    # r14 (VERDICT #5): postings checkpoint once — both scoring passes
    # and the feedback-term pass read the pinned RDD instead of
    # re-planning the tokenize→explode→aggregate subtree per consumer
    # (pre-pin: 13 exchanges, 4 Generates; pinned: 9 / 0)
    assert len(exchanges) <= 9, exchanges
    assert "Scan ExistingRDD" in plan, "postings checkpoint missing"
    assert not re.findall(r"^\(\d+\) Generate", plan, re.M), (
        "tokenize explode re-entered the declared plan — postings "
        "checkpoint regressed"
    )
    assert not any("text" in e for e in exchanges), "raw text shuffled"


def test_bm25_champion_prune_shape(spark):
    """The champion cut is a term-partition WindowGroupLimit over the
    postings (per-partition pre-cut before the exchange); both scoring
    passes broadcast the query dim; terms shuffle, text never; no
    Python, no cartesian."""
    plan = _plan(spark, "bm25_champion_prune")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("WindowGroupLimit") >= 4  # champion cut + final rank
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 11, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"


def test_shuffle_skew_audit_key_bounded(spark):
    """Three map-combined key counts + per-family rank windows over
    key-cardinality-bounded frames — nothing corpus-sized crosses an
    exchange after the first aggregate; no Python, no cartesian, no
    text in any shuffle."""
    plan = _plan(spark, "shuffle_skew_audit")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 5, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"


def test_hybrid_fusion_recall_audit_shape(spark):
    """The audit runs two full fusions (sketch path + exact truth) over
    ONE checkpointed bm leg and ONE checkpointed prefilter frame — no
    Python, no cartesian, no text shuffle; the fan-in joins are all
    query-keyed dims."""
    plan = _plan(spark, "hybrid_fusion_recall_audit")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 22, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"


# --------------------------------------------------------------------------
# r10-trio pins (the one ratchet that slipped in r10 — r10 verdict task #1).
# These queries' FINAL frames are driver-assembled LocalRelations or
# post-streaming composites, so the pins target the internal stage plans
# through the module seams; reaching them executes the bounded build-time
# stages (kmeans training / the power-iteration direction), a few seconds
# each — the only tests in this file that run jobs.
# --------------------------------------------------------------------------


def test_ivf_maintenance_time_plan_is_batch_sized(spark):
    """ann_ivf_incremental_maintenance's MAINTENANCE-time plan (new
    batch -> literal nearest-centroid assignment -> (cell, dim) ledger
    aggregate) must be batch-sized: ONE Exchange (the ledger rollup),
    ZERO joins of any kind (k=5 <= 64 plans as the literal zero-shuffle
    assignment expression, not a broadcast/shuffle join), no Python,
    and exactly ONE parquet scan carrying the new-batch membership
    filter — the standing corpus is NEVER rescanned after the training
    loop."""
    from pyspark.sql import functions as F

    from polkadot_etl_spark.operators.kmeans import assign_nearest
    from polkadot_etl_spark.queries.corpus_ext import (
        IVF_MAINT_NEW_MIN,
        IVF_MAINT_NEW_MOD,
        _ivf_ledger_frame,
        _ivf_maint_corpus,
        _ivf_train_canon,
    )
    from polkadot_etl_spark.sources.tables import load_table

    e = load_table(spark, SF_DIR, "embeddings")
    qd = _ivf_maint_corpus(
        e, F.col("vec_id") % IVF_MAINT_NEW_MOD >= IVF_MAINT_NEW_MIN
    )
    _assigned, centroids, canon_col, _n = _ivf_train_canon(
        qd.where(~F.col("is_new"))
    )
    maint = _ivf_ledger_frame(
        assign_nearest(
            qd.where(F.col("is_new")), centroids, vec_col="demb", id_col="vec_id"
        ),
        canon_col,
    )
    plan = _plan_of(spark, maint)
    assert "EvalPython" not in plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                 "BroadcastNestedLoopJoin", "ShuffledHashJoin"):
        assert join not in plan, f"maintenance assignment planned a {join}"
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) == 1, exchanges
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, (
        "maintenance plan rescans the standing corpus"
    )
    assert re.search(r"% 7\)? >= 5", plan), "new-batch membership filter missing"


def test_abtt_stage_plans_are_single_pass(spark):
    """embedding_abtt_isotropy_delta's pass budget, pinned per stage:
    the centered+corrected frame is ONE parquet pass of row-local folds
    (zero Exchange, zero Python, no join — the projection is against
    broadcast literals); the dual centroid ledger is ONE arrays_zip
    Generate + ONE Exchange over the checkpointed frame (never a second
    corpus scan — r10 second-review finding made structural); the
    compactness fold joins ONLY the broadcast centroid dim (no shuffle
    before its label rollup, no pairwise |vectors|^2 term anywhere)."""
    from polkadot_etl_spark.queries import corpus_ext as cx

    cr0 = cx._abtt_centered(spark, SF_DIR)
    plan_cr = _plan_of(spark, cr0)
    assert "EvalPython" not in plan_cr
    # exactly ONE exchange: the r13 keyed fan-out of the narrow
    # (vec_id, label, embedding) rows feeding the eager checkpoint (the
    # single-split fixture scan otherwise materializes the whole
    # centered frame in one task and leaves the checkpoint
    # single-partitioned for all four consumers); still one parquet
    # pass, still no corpus re-shuffle of the folds themselves
    exch = re.findall(r"^\(\d+\) Exchange", plan_cr, re.M)
    assert len(exch) == 1 and "hashpartitioning(vec_id" in plan_cr, (
        "centering must carry only the keyed fan-out exchange"
    )
    assert "Join" not in plan_cr
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan_cr, re.M)) == 1

    cr = cr0.localCheckpoint(eager=True)
    plan_led = _plan_of(spark, cx._abtt_cent_ledger_frame(cr))
    assert "Scan parquet" not in plan_led, "ledger re-scans the corpus"
    assert len(re.findall(r"^\(\d+\) Generate", plan_led, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Exchange", plan_led, re.M)) == 1

    _x, _x2, x_lit = cx._ABTT_DIRECTION
    cent_df = spark.createDataFrame(
        [(0, [0] * cx.PC_DIMS, [0] * cx.PC_DIMS)],
        "label INT, mb ARRAY<BIGINT>, ma ARRAY<BIGINT>",
    )
    plan_fold = _plan_of(spark, cx._abtt_folded(cr, cent_df, x_lit))
    assert "Scan parquet" not in plan_fold, "fold re-scans the corpus"
    assert "BroadcastHashJoin" in plan_fold
    assert "SortMergeJoin" not in plan_fold
    assert "CartesianProduct" not in plan_fold
    assert not re.findall(r"^\(\d+\) Exchange", plan_fold, re.M)


def test_cms_heavy_hitters_plan_shapes(spark):
    """The CMS build is bounded aggregates end to end: the word count
    (|vocab| keys) and the ledger (<= depth*width keys) are the only
    hash exchanges besides the tiny candidate window's single-partition
    exchange; the candidate probe joins the BROADCAST ledger (no SMJ,
    no cartesian); raw document text never crosses an Exchange; no
    Python anywhere."""
    plan = _plan(spark, "cms_heavy_hitters")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 5, exchanges
    assert not any("text" in e for e in exchanges), "raw text shuffled"


def test_approx_percentile_rank_error_plan_shapes(spark):
    """One grouped sketch aggregate plus one broadcast join back for
    the rank counts — the fact table is scanned twice but never
    shuffled beyond the two group-by-returnflag aggregates; no SMJ, no
    cartesian, no Python."""
    plan = _plan(spark, "approx_percentile_rank_error")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) <= 4, exchanges


def test_daily_increment_stage_plans_batch_sized(spark):
    """corpus_daily_increment_replay's batch-side stages must move
    digests/ids only (r10 verdict task #8's 'batch-sized shuffles'
    pin): stage 2's ledger classification joins the collected stream
    output to the vocabulary dim on 16-byte keys — raw text in NO
    Exchange, no cartesian, no Python; stage 3's maintenance-time plan
    (kept-membership literal -> nearest-centroid assignment -> ledger
    aggregate) has no sort-merge join (the only join is the broadcast
    standing/membership decoration) and text never appears. Fake stream
    output + fixed centroids keep this a planning-only test.

    r12: stage 3's membership is an id-keyed JOIN against the kept
    frame (the r11 isin literal was a plan explosion at a real day's
    millions of kept ids — r11 verdict 'What's wrong #2'), so this
    probe mirrors the join shape and additionally pins that NO large
    In-literal appears anywhere in the maintenance plan."""
    from pyspark.sql import functions as F

    from polkadot_etl_spark.operators.kmeans import assign_nearest
    from polkadot_etl_spark.queries import corpus_ext as cx
    from polkadot_etl_spark.sources.tables import load_table
    from polkadot_etl_spark.streaming.corpus import DEDUP_OUT_SCHEMA

    sdf = spark.createDataFrame(
        [(1, "d1", "src10", True, True, 1), (10008, "d1", "src10", True, False, 1)],
        DEDUP_OUT_SCHEMA,
    )
    plan2 = _plan_of(spark, cx._incr_classified(spark, SF_DIR, sdf))
    assert "EvalPython" not in plan2
    assert "CartesianProduct" not in plan2
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan2, re.M)
    assert not any("text" in e for e in exchanges), "raw text shuffled"

    kept_dim = spark.createDataFrame(
        [(i, True) for i in range(cx.INCR_DOCS) if i % 7 == 3],
        "vec_id long, __kept boolean",
    )
    e = load_table(spark, SF_DIR, "embeddings").where(
        F.col("vec_id") < cx.INCR_DOCS
    )
    corpus = (
        e.join(kept_dim, "vec_id", "left")
        .withColumn("__kept", F.coalesce(F.col("__kept"), F.lit(False)))
    )
    kept_col = F.col("__kept")
    qd = cx._ivf_maint_corpus(corpus, kept_col)
    centroids = [
        [float(cx.IVF_MAINT_DISP) if d == j else 0.0 for d in range(cx.PC_DIMS)]
        for j in range(cx.IVF_MAINT_K)
    ]
    canon_col = F.col("cid").alias("cid")  # identity map for fixed centroids
    maint = cx._ivf_ledger_frame(
        assign_nearest(
            qd.where(F.col("is_new")), centroids, vec_col="demb", id_col="vec_id"
        ),
        canon_col,
    )
    plan3 = _plan_of(spark, maint)
    assert "EvalPython" not in plan3
    assert "SortMergeJoin" not in plan3 and "CartesianProduct" not in plan3
    exchanges3 = re.findall(r"^\(\d+\) Exchange[^\n]*", plan3, re.M)
    assert len(exchanges3) <= 2, exchanges3
    assert not any("text" in e for e in exchanges3)
    # NO large In-literal anywhere in the maintenance plan: membership
    # must stay a join, never a collected id list baked into the plan
    for m in re.finditer(r" IN \(([^()]*)\)", plan3):
        assert m.group(1).count(",") < 10, f"large In-literal: {m.group(0)[:120]}"


def test_dump_replay_batch_composition_shapes(spark):
    """streaming_dump_replay's batch-side dump composition (the plan
    downstream of the streamed winners), pinned to the same shapes
    dump_day_blocklog budgets: the success gate is a dedup-free
    ShuffledHashJoin LeftSemi (never sorted), no cartesian, no
    row-pickling Python, and the winners gate reaches the extrinsic
    side as a keyed join (a lost winner empties its day)."""
    from pyspark.sql import functions as F

    from polkadot_etl_spark.queries.pipelines import (
        _SDR_KEYS,
        _dump_replay_gold,
    )
    from polkadot_etl_spark.sources.tables import load_table

    o = load_table(spark, SF_DIR, "orders").where(F.col("o_orderkey") < _SDR_KEYS)
    winners = o.select(
        F.col("o_orderkey").alias("number"),
        F.concat(F.lit("0xb"), F.col("o_orderkey").cast("string")).alias("hash"),
        F.col("o_orderdate").cast("timestamp").alias("block_time"),
    )
    plan = _plan_of(spark, _dump_replay_gold(spark, SF_DIR, winners))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"ShuffledHashJoin [^\n]*LeftSemi", plan), "semi join not hash"
    assert not re.search(r"SortMergeJoin [^\n]*LeftSemi", plan), "semi join sorts"


def test_unimax_budget_semantics_and_aggregate_shape(spark):
    """unimax_mixture_budget (r12): the distributed part is ONE
    groupBy(source) aggregate (map-side partials, no join, no Python);
    the waterfall itself is bounded driver ints. Semantics pinned here
    beyond the oracle hash: both branches exercised, caps respected,
    and conservation — the waterfall distributes the entire budget
    whenever total caps exceed it (ours is 15/16 of total caps)."""
    from pyspark.sql import functions as F

    from polkadot_etl_spark.queries import corpus_ext as cx
    from polkadot_etl_spark.sources.tables import load_table

    d = load_table(spark, SF_DIR, "documents")
    agg = d.groupBy("source").agg(
        F.sum(
            F.regexp_count(F.lower(F.col("text")), F.lit(cx._BPE_RE))
        ).alias("n_tokens")
    )
    plan = _plan_of(spark, agg)
    assert "EvalPython" not in plan
    assert "Join" not in plan
    rows = QUERIES["unimax_mixture_budget"].build(spark, SF_DIR).collect()
    total = sum(r.n_tokens for r in rows)
    budget = cx.UNIMAX_BUDGET_NUM * total // cx.UNIMAX_BUDGET_DEN
    assert any(r.capped for r in rows), "no source hit the epoch cap"
    assert any(not r.capped for r in rows), "every source capped"
    assert all(r.alloc_tokens <= r.cap_tokens for r in rows)
    assert all(
        r.cap_tokens == cx.UNIMAX_EPOCH_CAP * r.n_tokens for r in rows
    )
    assert sum(r.alloc_tokens for r in rows) == budget, "budget not conserved"


def test_doremi_weights_semantics_and_stage_shape(spark):
    """mixture_doremi_weights (r13): the distributed part is one corpus
    word aggregate feeding a broadcast LM dim + one groupBy(source); the
    multiplicative-weights iteration is bounded driver ints (unimax
    discipline). Semantics beyond the oracle hash: both excess branches
    exercised, multipliers are exactly the ppm update rule, per-step
    normalization floor slack bounded by n_sources, and the coupling is
    monotone — a strictly larger excess never yields a smaller final or
    average weight (the Group-DRO direction: harder domains gain)."""
    from pyspark.sql import functions as F

    from polkadot_etl_spark.queries import corpus_ext as cx
    from polkadot_etl_spark.sources.tables import load_table

    d = load_table(spark, SF_DIR, "documents")
    wd = d.select(
        "source",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w"),
    )
    dim = cx._unigram_lm_dim(wd).select("w", "logp")
    stage = wd.join(F.broadcast(dim), "w").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"), F.sum("logp").alias("slogp")
    )
    plan = _plan_of(spark, stage)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, "LM dim must broadcast"
    rows = QUERIES["mixture_doremi_weights"].build(spark, SF_DIR).collect()
    assert any(r.excess_micro_nats == 0 for r in rows), "no at-ref source"
    assert any(r.excess_micro_nats > 0 for r in rows), "no excess signal"
    for r in rows:
        assert r.multiplier_ppm == 1_000_000 + (
            r.excess_micro_nats * cx.DOREMI_ETA_NUM // cx.DOREMI_ETA_DEN
        )
        assert r.loss_micro_nats > 0 and r.n_words > 0
    tot_final = sum(r.final_weight_ppm for r in rows)
    assert 1_000_000 - len(rows) <= tot_final <= 1_000_000, tot_final
    by_excess = sorted(rows, key=lambda r: r.excess_micro_nats)
    for a, b in zip(by_excess, by_excess[1:]):
        assert a.final_weight_ppm <= b.final_weight_ppm, (a, b)
        assert a.avg_weight_ppm <= b.avg_weight_ppm, (a, b)


def test_prefix_cache_buckets_plan_digest_keyed(spark):
    """prefix_cache_buckets (r12): one digest-keyed groupBy — full
    texts never reach the Exchange (only the 16-byte bucket, the
    K-word prefix and counts ride the shuffle), no join, no Python."""
    plan = _plan(spark, "prefix_cache_buckets")
    assert "EvalPython" not in plan
    assert "Join" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) == 1, exchanges
    assert not any(re.search(r"\btext\b", e) for e in exchanges), exchanges


def test_filter_threshold_sweep_plan_and_monotonicity(spark):
    """filter_threshold_sweep (r12): map-side HOF fold + bounded
    threshold fan-out + ONE groupBy — no join, no Python, text never
    shuffled. Semantics: kept docs/tokens are non-increasing in the
    threshold (a non-monotone curve means the integer rearrangement is
    wrong)."""
    plan = _plan(spark, "filter_threshold_sweep")
    assert "EvalPython" not in plan
    assert "Join" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) == 1, exchanges
    assert not any(re.search(r"\btext\b", e) for e in exchanges), exchanges
    rows = sorted(
        QUERIES["filter_threshold_sweep"].build(spark, SF_DIR).collect(),
        key=lambda r: r.threshold_tenths,
    )
    for a, b in zip(rows, rows[1:]):
        assert a.kept_docs >= b.kept_docs
        assert a.kept_tokens >= b.kept_tokens
    assert rows[0].kept_docs > 0
    assert rows[-1].kept_docs < rows[-1].n_docs


def test_heaps_vocab_growth_semantics_and_plan(spark):
    """heaps_vocab_growth (r12): one word-keyed min(doc_id) ledger +
    one doc rollup, fanned over the bounded octile dim — no Python, no
    cartesian. Semantics: cumulative vocabulary is non-decreasing,
    new_words telescopes to the final vocabulary, and every octile is
    present."""
    plan = _plan(spark, "heaps_vocab_growth")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    rows = sorted(
        QUERIES["heaps_vocab_growth"].build(spark, SF_DIR).collect(),
        key=lambda r: r.octile,
    )
    from polkadot_etl_spark.queries import corpus_ext as cx

    assert [r.octile for r in rows] == list(range(1, cx.HEAPS_OCTILES + 1))
    for a, b in zip(rows, rows[1:]):
        assert b.vocab_size >= a.vocab_size
        assert b.docs_prefix > a.docs_prefix
    assert sum(r.new_words for r in rows) == rows[-1].vocab_size


def test_sorted_neighborhood_dedup_distributed_window(spark):
    """sorted_neighborhood_dedup (r12): the scale-shape pin — SNM runs
    as a RANGE-partitioned sort with per-partition windows (ghost-row
    boundary overlap), never Spark's unpartitioned Window (which moves
    the corpus to one task). Every Window in the plan must be
    partitioned by pid; a rangepartitioning Exchange must exist; no
    cartesian, no Python. Boundary semantics: the oracle IS one global
    window, so the hash gate already proves the ghost construction
    finds exactly the global pair set; here we pin that exact-dup
    pairs (jaccard 1e6) exist — the blocking key must co-locate
    identical vocabularies."""
    plan = _plan(spark, "sorted_neighborhood_dedup")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the range sort runs EAGERLY inside the boundary-pinning
    # localCheckpoint, so the query plan starts at the checkpointed
    # scan; pin (a) the checkpoint scan is there, (b) every downstream
    # Window repartitions by pid (hashpartitioning — never an
    # unpartitioned 'move everything to one task' window), and (c) the
    # pre-checkpoint stage really is a range partitioning (rebuilt
    # standalone below, same expression)
    assert "localCheckpoint" in plan
    assert re.search(r"hashpartitioning\(pid", plan), "windows must key on pid"
    assert "SinglePartition" not in plan
    from pyspark.sql import functions as F

    from polkadot_etl_spark.sources.tables import load_table

    k = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.lit("x").alias("skey")
    )
    pre = _plan_of(spark, k.repartitionByRange(F.col("skey"), F.col("doc_id")))
    assert "rangepartitioning" in pre
    rows = QUERIES["sorted_neighborhood_dedup"].build(spark, SF_DIR).collect()
    assert any(r.jaccard_ppm == 1_000_000 for r in rows), "no exact-dup pair"
    assert all(1 <= r.dist <= 3 for r in rows)
    assert all(r.doc_a != r.doc_b for r in rows)


def test_pack_bins_ffd_plan_and_packing_invariants(spark):
    """pack_bins_ffd (r12): groupBy(source, shard) carrying int structs
    + the per-source rollup — exactly TWO exchanges, no text in either,
    no join, no Python. The SHARD key is the scale pin's point: the FFD
    fold state is bounded by the 256-id window at any corpus size (the
    per-source first cut measured ~x16 time on x10 data). Packing
    invariants: bins_used >= bins_lower_bound (ceil optimum), capacity
    conservation, waste ppm in range."""
    plan = _plan(spark, "pack_bins_ffd")
    assert "EvalPython" not in plan
    assert "Join" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange[^\n]*", plan, re.M)
    assert len(exchanges) == 2, exchanges
    assert re.search(r"hashpartitioning\(source[^\n]*shard", plan), (
        "packing must key on the bounded (source, shard) window"
    )
    assert not any(re.search(r"\btext\b", e) for e in exchanges), exchanges
    from polkadot_etl_spark.queries import corpus_ext as cx

    rows = QUERIES["pack_bins_ffd"].build(spark, SF_DIR).collect()
    assert rows
    assert any(r.oversized_docs > 0 for r in rows), "oversized branch dry"
    assert any(r.oversized_docs == 0 for r in rows) or all(
        r.oversized_docs < r.n_docs for r in rows
    ), "FFD branch dry"
    for r in rows:
        assert r.bins_used >= r.bins_lower_bound, r
        assert r.bins_used * cx.PACK_CAP >= r.total_tokens, r
        assert 0 <= r.waste_ppm < 1_000_000, r


def test_mmc4_interleaved_plan_and_assembly_semantics(spark):
    """mmc4_interleaved_docs (r13): pixels never shuffle — every
    Exchange carries ids/counts/digests only (no raster_text, no PNG
    content), the codec is exactly ONE Arrow wave, no cartesian. The
    formatted plan prints each node twice (tree + detail), so the wave
    count divides by two. Assembly semantics recomputed in Python on a
    sample: each image sits after its max-overlap chunk (ties ->
    earliest), the cap accounting is exact, and both cap branches
    (dropped / not dropped) carry fixture coverage."""
    plan = _plan(spark, "mmc4_interleaved_docs")
    assert "CartesianProduct" not in plan
    n_map_waves = len(re.findall(r"MapInPandas", plan))
    assert n_map_waves in (1, 2), f"codec must be one wave: {n_map_waves}"
    exchanges = re.split(r"\n(?=\(\d+\) )", plan)
    for b in exchanges:
        if re.match(r"\(\d+\) Exchange", b):
            assert "raster_text" not in b, b
            assert "content" not in b, b
    from polkadot_etl_spark.queries import corpus_ext as cx
    from polkadot_etl_spark.sources.tables import load_table

    rows = {r.doc_id: r for r in
            QUERIES["mmc4_interleaved_docs"].build(spark, SF_DIR).collect()}
    assert any(r.n_images_dropped > 0 for r in rows.values()), "cap branch dry"
    assert any(r.n_images_dropped == 0 for r in rows.values())
    import re as _re

    docs = load_table(spark, SF_DIR, "documents").collect()
    checked = 0
    for d in sorted(docs, key=lambda x: x.doc_id)[:40]:
        w = _re.findall(r"[a-z]+", d.text.lower())
        if not w:
            assert d.doc_id not in rows
            continue
        r = rows[d.doc_id]
        cwn = cx.MMC4_CHUNK_WORDS
        iwn = cx.MMC4_IMG_WORDS
        n_chunks = (len(w) + cwn - 1) // cwn
        n_blocks = (len(w) + iwn - 1) // iwn
        n_imgs = min(n_blocks, cx.MMC4_MAX_IMAGES)
        assert r.n_words == len(w)
        assert r.n_chunks == n_chunks
        assert r.n_images == n_imgs
        assert r.n_images_dropped == max(n_blocks - cx.MMC4_MAX_IMAGES, 0)
        assert r.image_tokens == n_imgs * cx.MMC4_IMG_TOKENS
        assert r.total_tokens == r.n_words + r.image_tokens
        # independent placement replay -> interleave signature
        chunks = [sorted(set(w[c * cwn:(c + 1) * cwn])) for c in range(n_chunks)]
        placed: dict[int, list[int]] = {}
        for b in range(n_imgs):
            aw = set(w[b * iwn:(b + 1) * iwn])
            best = max(range(n_chunks),
                       key=lambda c: (len(aw & set(chunks[c])), -c))
            placed.setdefault(best, []).append(b)
        segs = ["t%d" % c + "".join("|i%d" % b for b in sorted(placed.get(c, [])))
                for c in range(n_chunks)]
        import hashlib

        assert r.interleave_sig == hashlib.md5("|".join(segs).encode()).hexdigest(), d.doc_id
        # pixel check: decoded raster sums = raw byte sums
        exp = sum(
            sum(" ".join(w[b * iwn:(b + 1) * iwn]).encode("utf-8")[:256])
            for b in range(n_imgs)
        )
        assert r.pixel_check == exp, d.doc_id
        checked += 1
    assert checked >= 30


def test_rholoss_selection_plan_and_semantics(spark):
    """rholoss_doc_selection (r13): one corpus word aggregate + two
    broadcast LM dims + ONE groupBy(doc_id) — unigram_perplexity's
    shuffle budget, no Python, no cartesian. Semantics beyond the
    oracle hash: rho telescopes exactly (train - ref in floored
    micro-nats), both selection branches carry fixture coverage, and
    the seed source's own documents must skew toward SELECTION — they
    draw from the holdout distribution, so their holdout loss is low
    and their reducible loss (train - holdout) high: RHO's 'clean and
    learnable' points are exactly the ones that look like the trusted
    reference (the paper's noise filter working as designed)."""
    from polkadot_etl_spark.queries import corpus_ext as cx
    from polkadot_etl_spark.sources.tables import load_table

    plan = _plan(spark, "rholoss_doc_selection")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    rows = QUERIES["rholoss_doc_selection"].build(spark, SF_DIR).collect()
    assert any(r.selected for r in rows) and any(not r.selected for r in rows)
    for r in rows:
        assert r.rho_micro_nats == (
            r.loss_train_micro_nats - r.loss_ref_micro_nats
        )
        assert r.selected == (r.rho_micro_nats > 0)
        assert r.n_words > 0 and r.loss_train_micro_nats > 0
    src = {
        d.doc_id: d.source
        for d in load_table(spark, SF_DIR, "documents").collect()
    }
    seed = [r for r in rows if src[r.doc_id] == cx.BIGRAM_SEED_SOURCE]
    rest = [r for r in rows if src[r.doc_id] != cx.BIGRAM_SEED_SOURCE]
    assert seed and rest
    seed_rate = sum(r.selected for r in seed) / len(seed)
    rest_rate = sum(r.selected for r in rest) / len(rest)
    assert seed_rate > rest_rate, (seed_rate, rest_rate)


def test_dedup_family_venn_cross_query_conservation(spark):
    """dedup_family_venn (r13): the Venn's marginals must equal the
    component queries' own pair counts EXACTLY — the card is an
    attribution over the same verified sets, not a re-derivation that
    could drift. Also: no all-false region can exist, the SNM-only
    region must be nonempty (its vocabulary gate is deliberately
    looser), and some region where all three families agree must exist
    (the true near-dups every family finds)."""
    rows = QUERIES["dedup_family_venn"].build(spark, SF_DIR).collect()
    assert 1 <= len(rows) <= 7
    assert all(r.in_lsh or r.in_snm or r.in_gram for r in rows)
    assert any(r.in_snm and not r.in_lsh and not r.in_gram for r in rows)
    assert any(r.in_lsh and r.in_snm and r.in_gram for r in rows)
    snm_margin = sum(r.n_pairs for r in rows if r.in_snm)
    lsh_margin = sum(r.n_pairs for r in rows if r.in_lsh)
    snm_pairs = QUERIES["snm_multipass_dedup"].build(spark, SF_DIR).count()
    lsh_pairs = QUERIES["dedup_ngram_jaccard"].build(spark, SF_DIR).count()
    assert snm_margin == snm_pairs, (snm_margin, snm_pairs)
    assert lsh_margin == lsh_pairs, (lsh_margin, lsh_pairs)


def test_payload_exchanges_are_deliberate_fanouts_only(spark):
    """ADVICE r14: raw corpus payload (documents.text / embeddings.
    embedding) may cross an Exchange ONLY through the deliberate keyed
    scan fan-outs — hashpartitioning on the unique id key, tagged
    REPARTITION_BY_NUM, gated on scan split count in
    sources/tables.fan_out_scan — never through a requirement-driven
    shuffle (ENSURE_REQUIREMENTS), which would mean a join/aggregate/
    window is moving payload bytes corpus-wide at production grain.
    Inspects each Exchange node's Input COLUMNS, not just the header
    line (the r13 assertions' blind spot, ADVICE medium)."""
    bad = []
    for name in sorted(QUERIES):
        plan = _plan(spark, name)
        for block in re.split(r"\n\n", plan):
            if not re.match(r"\(\d+\) Exchange", block):
                continue
            inp = re.search(r"Input \[\d+\]: \[(.*?)\]\n", block + "\n", re.S)
            cols = inp.group(1) if inp else ""
            if not re.search(r"(?:^|[\[, ])(?:embedding|text)#", cols):
                continue
            arg = re.search(r"Arguments: .*", block)
            a = arg.group(0) if arg else ""
            ok = "REPARTITION_BY_NUM" in a and re.search(
                r"hashpartitioning\((?:doc_id|vec_id)#", a
            )
            if not ok:
                bad.append((name, a[:120]))
    assert not bad, f"payload-carrying non-fan-out exchanges: {bad}"


def test_fan_out_scan_gates_on_split_count(spark):
    """sources/tables.fan_out_scan (r14, ADVICE): the keyed fan-out must
    apply exactly when the table's planned scan split count is below the
    session's parallelism — at fixture grain (single-row-group parquet,
    1 split) it repartitions; at production grain (splits >= cores) it
    must be a NO-OP so the payload never pays an added corpus-wide
    shuffle. Simulated by seeding the memo the gate reads."""
    from polkadot_etl_spark.sources import tables as T

    from polkadot_etl_spark.memo import context_memo

    dp = spark.sparkContext.defaultParallelism
    memo = context_memo(spark.sparkContext, "scan_splits")
    key = (SF_DIR, "documents")
    df = T.load_table(spark, SF_DIR, "documents")
    saved = memo.get(key)
    try:
        # real fixture layout: single-row-group parquet -> fans out
        memo.pop(key, None)
        fanned = df.transform(T.fan_out_scan(SF_DIR, "documents", "doc_id"))
        assert memo[key] < dp  # memo filled by the gate
        plan = _plan_of(spark, fanned)
        assert re.search(r"hashpartitioning\(doc_id#\d+L, \d+\), REPARTITION_BY_NUM", plan)
        # production layout (simulated): splits >= cores -> pass-through
        memo[key] = dp
        passed = df.transform(T.fan_out_scan(SF_DIR, "documents", "doc_id"))
        assert passed is df
    finally:
        if saved is None:
            memo.pop(key, None)
        else:
            memo[key] = saved
