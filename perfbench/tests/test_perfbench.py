"""The benchmark's own tests: span arithmetic, seeded order, membership
guard, metric names, time-window job attribution and the speed sample.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from types import SimpleNamespace

import pytest

from perfbench import run, trace
from perfbench.workloads import WORKLOADS, MembershipError, check_membership, pass_order

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _span(name, start, end, parent=None):
    return trace.Span(name, "q", start, end, parent)


def test_union_length_merges_overlaps_and_clips():
    assert trace.union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert trace.union_length([(1, 3), (2, 5), (7, 8)], 2, 7.5) == 3.5
    assert trace.union_length([(4, 6), (4, 6)], 0, 10) == 2
    assert trace.union_length([], 0, 10) == 0


def test_self_time_subtracts_covered_part_once():
    parent = _span("build", 10.0, 20.0)
    kids = [_span("job", 11.0, 14.0), _span("job", 13.0, 15.0), _span("job", 19.0, 25.0)]
    # children cover [11, 15] and [19, 20]: 5 s of the 10 s span
    assert trace.self_time(parent, kids) == pytest.approx(5.0)
    assert trace.self_time(parent, []) == pytest.approx(10.0)


def test_same_seed_same_order():
    names = WORKLOADS["etl_day"]["queries"]
    assert pass_order(names, 7) == pass_order(names, 7)
    assert sorted(pass_order(names, 7)) == sorted(names)
    assert len({tuple(pass_order(names, s)) for s in range(20)}) > 1


def test_membership_guard_passes_on_the_registry():
    from polkadot_etl_spark.queries import QUERIES

    check_membership(QUERIES)


@pytest.mark.parametrize(
    "registry, workloads, message",
    [
        ({"a": SimpleNamespace(bench=True)}, {"w": {"queries": ("a", "b")}}, "b (w): missing"),
        ({"a": SimpleNamespace(bench=False)}, {"w": {"queries": ("a",)}}, "a (w): registered with bench=False"),
        (
            {"a": SimpleNamespace(bench=True)},
            {"w": {"queries": ("a",)}, "v": {"queries": ("a",)}},
            "a: listed in both w and v",
        ),
    ],
)
def test_membership_guard_fails_loudly(registry, workloads, message):
    with pytest.raises(MembershipError, match=re.escape(message)):
        check_membership(registry, workloads)


def test_metric_names_and_units():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), names
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert all(UNIT.match(u) for u in list(run.E2E_UNITS.values()) + list(run.LAYER_UNITS.values()))


def _tracer_with(*phases):
    tracer = trace.Tracer()
    for name, query, start, end in phases:
        tracer.spans.append(trace.Span(name, query, start, end))
    return tracer


def test_jobs_attributed_by_submit_time_window():
    tracer = _tracer_with(("setup", "", 0, 5), ("query", "q", 10, 30), ("build", "q", 10, 20),
                          ("exec", "q", 20, 30), ("check", "q", 30, 32))
    for s in tracer.spans[2:4]:
        s.parent = 1
    log = trace.EventLog()
    log.jobs = {
        0: {"submit": 1.0, "end": 2.0, "stages": [0]},  # setup: left out
        1: {"submit": 11.0, "end": 13.0, "stages": [1]},  # eager
        2: {"submit": 12.0, "end": 14.0, "stages": [2]},  # eager, overlaps job 1
        3: {"submit": 21.0, "end": 29.0, "stages": [3]},  # the noop write
        4: {"submit": 31.0, "end": 31.5, "stages": [4]},  # oracle collect: left out
        5: {"submit": 40.0, "end": 41.0, "stages": [5]},  # outside every span
    }
    layers, unattributed = trace.per_query_layers(tracer, log, None)
    q = layers["q"]
    assert (q["queries.eager_jobs"], q["spark.jobs"], unattributed) == (2, 3, 1)
    assert q["queries.eager_s"] == pytest.approx(3.0)
    assert q["queries.build_self_s"] == pytest.approx(7.0)
    assert q["phase_coverage"] == pytest.approx(1.0)


def test_plan_shape_counts_nodes_and_exchanges():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1], functions=[count(1)])
   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=9]
      +- BroadcastHashJoin [a#2], [b#3], Inner, BuildRight
         :- Scan parquet [a#2]
         +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]))
            +- Scan parquet [b#3]
"""
    assert trace.plan_shape(plan) == (7, 2)


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    events = tmp_path_factory.mktemp("events")
    builder = SparkSession.builder.master("local[2]").appName("perfbench-test").config("spark.ui.enabled", "false")
    for key, value in trace.event_log_conf(events).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    yield spark, events
    spark.stop()


def test_job_from_worker_thread_lands_in_build_span(traced_spark):
    """A builder whose eager job runs on a pool thread: the thread does
    not inherit the caller's job group, but its job is still attributed
    to the build span by submit time."""
    spark, events = traced_spark

    def build(spark, _data_dir):
        spark.sparkContext.setJobGroup("caller-group", "perfbench test")
        with ThreadPoolExecutor(1) as pool:
            n = pool.submit(lambda: spark.range(100).count()).result()
        return spark.range(n)

    tracer = trace.Tracer()
    trace.traced_query(tracer, "threaded", build, spark, "")
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    spark.stop()
    log = trace.EventLog.read(events)
    build_span = tracer.spans[1]
    eager = [j for j in log.jobs.values() if build_span.start <= j["submit"] <= build_span.end]
    assert eager and all(j["group"] != "caller-group" for j in eager)
    layers, _ = trace.per_query_layers(tracer, log, None)
    q = layers["threaded"]
    assert q["queries.eager_jobs"] == len(eager)
    assert q["spark.jobs"] > len(eager)
    assert 0 < q["queries.eager_s"] <= build_span.duration


def test_speed_sample_restores_affinity():
    before = os.sched_getaffinity(0)
    assert run.speed_sample() > 0
    assert os.sched_getaffinity(0) == before
