"""Spans, probes and event-log attribution for the traced run.

The traced run records one span tree per query: a ``query`` root with
``build``, ``plan`` and ``exec`` children, plus a ``check`` sibling for
the untimed oracle collect. Spans live in memory and are written out when
the run ends. Spark jobs are attributed to spans by their submit time in
the event log, not by job group: builders that submit jobs from worker
threads do not carry the caller's job group, but their jobs still fall
inside the build span's time window.

Every probe here wraps a layer's public function from outside the
package; nothing inside ``polkadot_etl_spark`` is edited.
"""

from __future__ import annotations

import bisect
import json
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

PHASES = ("setup", "build", "plan", "exec", "check")
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
_EXCHANGE_LINE = re.compile(r"^[\s:|+-]*(?:Broadcast|Shuffle)?Exchange\b")


@dataclass
class Span:
    name: str
    query: str
    start: float  # epoch seconds, comparable with event-log milliseconds
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children) -> float:
    """A span's duration minus the part of it its children cover."""
    return span.duration - union_length(((c.start, c.end) for c in children), span.start, span.end)


class Tracer:
    """Holds the spans of one run in memory."""

    def __init__(self, py4j: "Py4jCounter | None" = None):
        self.spans: list[Span] = []
        self.py4j = py4j

    @contextmanager
    def span(self, name: str, query: str, parent: int | None = None):
        idx = len(self.spans)
        sp = Span(name, query, time.time(), parent=parent)
        self.spans.append(sp)
        calls0 = self.py4j.calls if self.py4j else 0
        try:
            yield idx
        finally:
            sp.end = time.time()
            if self.py4j:
                sp.attrs["py4j_calls"] = self.py4j.calls - calls0

    def phases(self) -> list[int]:
        """Indices of the phase spans, by start."""
        return sorted(
            (i for i, s in enumerate(self.spans) if s.name in PHASES),
            key=lambda i: self.spans[i].start,
        )

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        doc = dict(extra, spans=[asdict(s) for s in self.spans])
        path.write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")


def traced_query(tracer: Tracer, name: str, build, spark, data_dir: str):
    """Build, plan and execute one query under a ``query`` span with
    ``build``, ``plan`` and ``exec`` children. Returns the DataFrame, its
    executed plan and the plan span's index."""
    with tracer.span("query", name) as q:
        with tracer.span("build", name, q):
            df = build(spark, data_dir)
        with tracer.span("plan", name, q) as p:
            plan = df._jdf.queryExecution().executedPlan()
        with tracer.span("exec", name, q):
            df.write.format("noop").mode("overwrite").save()
    return df, plan, p


def attribute(tracer: Tracer, t: float) -> int | None:
    """Index of the phase span whose [start, end] holds epoch time ``t``."""
    idx = tracer.phases()
    starts = [tracer.spans[i].start for i in idx]
    k = bisect.bisect_right(starts, t) - 1
    if k >= 0 and t <= tracer.spans[idx[k]].end:
        return idx[k]
    return None


# --------------------------------------------------------------- probes


class Py4jCounter:
    """Counts Python-to-JVM py4j commands from every thread."""

    def __init__(self):
        self.calls = 0
        self._lock = threading.Lock()
        self._orig = None

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = self._orig = GatewayClient.send_command
        counter = self

        def send_command(client, *args, **kwargs):
            with counter._lock:
                counter.calls += 1
            return orig(client, *args, **kwargs)

        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        from py4j.java_gateway import GatewayClient

        if self._orig is not None:
            GatewayClient.send_command = self._orig
            self._orig = None


class LoadTableProbe:
    """Times every call of ``sources.tables.load_table`` and counts memo
    hits. A call is a hit when it returns the very object an earlier call
    with the same session, directory and table returned."""

    def __init__(self):
        self.calls: list[tuple[float, float, bool]] = []  # (start, end, hit)
        self._seen: dict = {}
        self._patched: list[tuple[object, str, object]] = []

    def install(self) -> None:
        from polkadot_etl_spark.sources import tables

        orig = tables.load_table
        probe = self

        def load_table(spark, sf_dir, name):
            t0 = time.time()
            df = orig(spark, sf_dir, name)
            t1 = time.time()
            key = (id(spark), sf_dir, name)
            hit = probe._seen.get(key) is df
            probe._seen[key] = df
            probe.calls.append((t0, t1, hit))
            return df

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("polkadot_etl_spark") and getattr(mod, "load_table", None) is orig:
                self._patched.append((mod, "load_table", orig))
                mod.load_table = load_table

    def uninstall(self) -> None:
        for mod, attr, orig in self._patched:
            setattr(mod, attr, orig)
        self._patched.clear()


def plan_shape(plan_text: str) -> tuple[int, int]:
    """(nodes, exchanges) of a physical plan's tree string."""
    lines = [ln for ln in plan_text.splitlines() if ln.strip()]
    exchanges = sum(1 for ln in lines if _EXCHANGE_LINE.match(ln))
    return len(lines), exchanges


# ------------------------------------------------------------ event log


def _walk(node):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def _iso_to_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def event_log_conf(event_dir: Path) -> dict[str, str]:
    """Spark conf that writes an uncompressed event log EventLog.read parses."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(event_dir),
        "spark.eventLog.compress": "false",
    }


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # id -> {submit, end, stages, group}
    stage_job: dict = field(default_factory=dict)  # stage id -> job id
    stages_run: list = field(default_factory=list)  # stage ids that ran
    tasks: list = field(default_factory=list)  # (stage id, metrics, accum updates)
    sql: dict = field(default_factory=dict)  # execution id -> {start, plans}
    progress: list = field(default_factory=list)  # streaming progress dicts

    @classmethod
    def read(cls, event_dir: Path) -> "EventLog":
        log = cls()
        for path in sorted(p for p in event_dir.rglob("*") if p.is_file() and not p.name.startswith(".")):
            with open(path) as fh:
                for line in fh:
                    log._add(json.loads(line))
        return log

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            stages = [s["Stage ID"] for s in e["Stage Infos"]]
            self.jobs[e["Job ID"]] = {
                "submit": e["Submission Time"] / 1000,
                "end": None,
                "stages": stages,
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
            }
            for s in stages:
                self.stage_job.setdefault(s, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageSubmitted":
            self.stages_run.append(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            accums = {
                a["ID"]: a["Update"] for a in e["Task Info"].get("Accumulables", []) if "Update" in a
            }
            self.tasks.append((e["Stage ID"], e.get("Task Metrics") or {}, accums))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql[e["executionId"]] = {"start": e["time"] / 1000, "plans": [e["sparkPlanInfo"]]}
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if e["executionId"] in self.sql:
                self.sql[e["executionId"]]["plans"].append(e["sparkPlanInfo"])
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            self.progress.append(e["progress"])


# ---------------------------------------------------------- aggregation

LAYER_KEYS = (
    "queries.build_self_s",
    "queries.py4j_calls",
    "queries.eager_s",
    "queries.eager_jobs",
    "sources.load_calls",
    "sources.load_s",
    "sources.memo_hits",
    "sources.input_bytes",
    "sources.output_bytes",
    "streaming.batches",
    "streaming.trigger_s",
    "streaming.add_batch_s",
    "streaming.commit_s",
    "streaming.state_rows",
    "functions.python_nodes",
    "functions.python_rows",
    "functions.python_bytes",
    "spark.plan_s",
    "spark.plan_nodes",
    "spark.exchanges",
    "spark.exec_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.task_cpu_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
)


def per_query_layers(tracer: Tracer, log: EventLog, loads: LoadTableProbe | None) -> tuple[dict[str, dict], int]:
    """Per-layer numbers for every traced query, and the number of jobs
    that fell in no span. Jobs, SQL executions, streaming batches and
    load_table calls are attributed to the phase span their start falls
    in; those in ``setup`` and ``check`` spans are left out."""
    spans = tracer.spans
    out: dict[str, dict] = {}
    for s in spans:
        if s.name == "query":
            out[s.query] = dict.fromkeys(LAYER_KEYS, 0)
            out[s.query]["wall_s"] = s.duration
    phase_of = {}  # phase span index -> (query, phase name)
    for i in tracer.phases():
        phase_of[i] = (spans[i].query, spans[i].name)

    def owner(t: float):
        i = attribute(tracer, t)
        if i is None or phase_of[i][1] in ("setup", "check"):
            return None, None
        return i, phase_of[i]

    # jobs, and through them stages and tasks
    job_owner: dict[int, tuple] = {}
    unattributed = sum(1 for job in log.jobs.values() if attribute(tracer, job["submit"]) is None)
    eager_intervals: dict[int, list] = {}
    for jid, job in log.jobs.items():
        i, qp = owner(job["submit"])
        if i is None:
            continue
        job_owner[jid] = qp
        m = out[qp[0]]
        m["spark.jobs"] += 1
        if qp[1] == "build":
            m["queries.eager_jobs"] += 1
            eager_intervals.setdefault(i, []).append((job["submit"], job["end"] or spans[i].end))
    for i, ivs in eager_intervals.items():
        out[spans[i].query]["queries.eager_s"] += union_length(ivs, spans[i].start, spans[i].end)
    for sid in set(log.stages_run):
        qp = job_owner.get(log.stage_job.get(sid))
        if qp:
            out[qp[0]]["spark.stages"] += 1

    # python plan nodes and the accumulator ids of their metrics
    py_accums: dict[int, tuple[str, str]] = {}  # accum id -> (query, kind)
    for ex in log.sql.values():
        i, qp = owner(ex["start"])
        if i is None:
            continue
        final = ex["plans"][-1]
        out[qp[0]]["functions.python_nodes"] += sum(1 for n in _walk(final) if n["nodeName"] in PYTHON_NODES)
        for plan in ex["plans"]:
            for n in _walk(plan):
                if n["nodeName"] not in PYTHON_NODES:
                    continue
                for met in n.get("metrics", []):
                    if met["name"] == "number of output rows":
                        py_accums[met["accumulatorId"]] = (qp[0], "functions.python_rows")
                    elif met["name"] in ("data sent to Python workers", "data returned from Python workers"):
                        py_accums[met["accumulatorId"]] = (qp[0], "functions.python_bytes")

    for sid, tm, accums in log.tasks:
        for aid, upd in accums.items():
            if aid in py_accums:
                q, key = py_accums[aid]
                out[q][key] += int(upd)
        qp = job_owner.get(log.stage_job.get(sid))
        if not qp:
            continue
        m = out[qp[0]]
        m["spark.tasks"] += 1
        m["spark.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1000
        sr = tm.get("Shuffle Read Metrics", {})
        m["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["spark.shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        m["spark.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        m["sources.input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
        m["sources.output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)

    # streaming micro-batches; state rows are those a stream holds at its last batch
    last_state: dict[str, tuple[str, int]] = {}
    for p in log.progress:
        i, qp = owner(_iso_to_epoch(p["timestamp"]))
        if i is None:
            continue
        m = out[qp[0]]
        d = p.get("durationMs", {})
        m["streaming.batches"] += 1
        m["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1000
        m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000
        m["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000
        m.setdefault("streaming.trigger_s_each", []).append(d.get("triggerExecution", 0) / 1000)
        last_state[p["runId"]] = (qp[0], sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", [])))
    for q, rows in last_state.values():
        out[q]["streaming.state_rows"] += rows

    if loads is not None:
        for t0, t1, hit in loads.calls:
            i, qp = owner(t0)
            if i is None:
                continue
            m = out[qp[0]]
            m["sources.load_calls"] += 1
            m["sources.load_s"] += t1 - t0
            m["sources.memo_hits"] += int(hit)

    # phase times, py4j calls and plan shape straight from the spans
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    for i, s in enumerate(spans):
        if s.name == "build":
            m = out[s.query]
            m["queries.build_s"] = s.duration
            m["queries.build_self_s"] = s.duration - m["queries.eager_s"]
            m["queries.py4j_calls"] = s.attrs.get("py4j_calls", 0)
        elif s.name == "plan":
            m = out[s.query]
            m["spark.plan_s"] = s.duration
            m["spark.plan_nodes"] = s.attrs.get("plan_nodes", 0)
            m["spark.exchanges"] = s.attrs.get("exchanges", 0)
        elif s.name == "exec":
            out[s.query]["spark.exec_s"] = s.duration
        elif s.name == "query":
            kids = children.get(i, [])
            out[s.query]["phase_coverage"] = sum(c.duration for c in kids) / s.duration if s.duration > 0 else 1.0
            out[s.query]["query_self_s"] = self_time(s, kids)
    return out, unattributed
