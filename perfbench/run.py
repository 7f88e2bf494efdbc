"""Substrate ETL engine benchmark: one workload, one fresh process.

    python3 perfbench/run.py --workload etl_day --seed 7 --seconds 30 --trace 0

A run is a closed loop with one client on ``local[nproc]``: set the
session up (``get_spark`` + ``warm_session``), then run one pass over the
workload's queries in the seed's order. Each query is built
(``QuerySpec.build``) and materialised through the noop sink, as
``benchutil.time_noop_min`` does. After each timed write the result is
collected outside the timer and compared with the cached DuckDB answer
through ``tests/conftest.py:compare_frames``.

``--trace 0`` prints the end-to-end metrics: ``setup_s``, ``pass_s`` (the
wall time of the timed regions) and ``pass_cpu_s`` (the CPU seconds of the
process tree in them), each scaled to a reference host speed that
``speed_sample`` measures outside the timed regions; the raw figures are
printed and stamped too. ``--trace 1`` first runs
the untraced pass in a child process, then a traced pass, and prints the
per-layer metrics; its span trees go to ``.perfbench/traces/``. The last
line of standard output is the result as one JSON object. ``--seconds``
is recorded; a run measures one set-up and one cold pass, whose length
the workload's fixed membership sets.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DATA_DIR = ROOT / "perfbench" / "data" / "sf0.01"
WORK_DIR = ROOT / ".perfbench"

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s"}
INFO_UNITS = {
    "setup_wall_s": "s",
    "pass_wall_s": "s",
    "pass_tree_cpu_s": "s",
    "speed_s": "s",
    "query_p50_s": "s",
    "peak_rss_mb": "MB",
    "failed_frac": "ratio",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "queries.build_self_s": "s",
    "queries.py4j_calls": "count",
    "queries.eager_s": "s",
    "queries.eager_jobs": "count",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.memo_hit_ratio": "ratio",
    "sources.input_bytes": "bytes",
    "sources.output_bytes": "bytes",
    "sources.tmp_leak_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.batch_p50_s": "s",
    "streaming.state_rows": "count",
    "functions.python_nodes": "count",
    "functions.python_rows": "count",
    "functions.python_bytes": "bytes",
    "spark.plan_s": "s",
    "spark.plan_nodes": "count",
    "spark.exchanges": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_cpu_s": "s",
    "spark.cpu_util": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.overhead_frac": "ratio",
}


# The host's speed drifts by a third over minutes on a shared VM, as
# neighbours load the physical cores, and moves every timing with it. A
# run samples its CPUs' speed with speed_sample() before the set-up, after
# it, after each query and after Spark has stopped, each time only while
# the process tree is idle, and the gated figures are scaled to a host
# where the median sample reads REF_SPEED_S.
SPEED_SAMPLES = 4  # before the set-up, and again after the stop
SPEED_LOOPS = 60_000
QUIET_WINDOW_S = 0.05
QUIET_TIMEOUT_S = 2.0
REF_SPEED_S = 0.008


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def dir_bytes(path: Path) -> int:
    return sum(p.lstat().st_size for p in path.rglob("*") if p.is_file() and not p.is_symlink())


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found += kids
        frontier += kids
    return found


def tree_cpu_s(include_self: bool = True) -> float:
    """CPU seconds (user + system) of this process and every process
    below it: the driver, the JVM and the Python workers. Unlike
    ``parallel_card._tree_cpu_seconds`` it adds each process's reaped
    children (cutime + cstime): Python workers that exit during a pass are
    reaped by the pyspark daemon, and only its counters keep their CPU.
    Time the host steals from the VM is not counted."""
    ticks = 0
    for pid in ([os.getpid()] if include_self else []) + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def wait_gone(pids, timeout: float) -> None:
    """Wait for ``pids`` to exit; kill those still alive at the deadline."""
    deadline = time.monotonic() + timeout
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if Path(f"/proc/{p}").exists()]
        time.sleep(0.05)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process under it."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits on EOF
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    wait_gone(procs, 30)


def speed_sample() -> float:
    """Mean wall seconds a fixed pure-Python loop takes on each CPU this
    process may use, pinned to one CPU at a time, over two rounds."""
    cpus = os.sched_getaffinity(0)
    walls = []
    try:
        for cpu in sorted(cpus) * 2:
            os.sched_setaffinity(0, {cpu})
            t0 = time.perf_counter()
            x = 1
            for _ in range(SPEED_LOOPS):
                x = (x * 1103515245 + 12345) & 0x7FFFFFFF
            walls.append(time.perf_counter() - t0)
    finally:
        os.sched_setaffinity(0, cpus)
    return sum(walls) / len(walls)


def quiet_speed_sample(speeds: list) -> None:
    """Append a speed_sample() to ``speeds`` once the processes below this
    one have used no CPU for QUIET_WINDOW_S, so that the loop measures the
    host and not the JVM's own background work; skip it if they stay busy
    for QUIET_TIMEOUT_S."""
    deadline = time.monotonic() + QUIET_TIMEOUT_S
    while time.monotonic() < deadline:
        cpu0 = tree_cpu_s(include_self=False)
        time.sleep(QUIET_WINDOW_S)
        if tree_cpu_s(include_self=False) == cpu0:
            speeds.append(speed_sample())
            return


def isolate(run_dir: Path) -> None:
    """Give this run its own TMPDIR, SPARK_LOCAL_DIRS and working dir."""
    for sub in ("tmp", "local", "cwd"):
        (run_dir / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    tempfile.tempdir = None
    os.chdir(run_dir / "cwd")


def stamp(args, inherited_cpus) -> dict:
    import duckdb
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": inherited_cpus,
        "loadavg_start": os.getloadavg()[0],
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": commit,
    }


def run_pass(spark, order, answers, speeds, tracer=None) -> list[dict]:
    """One pass over ``order``. Each record holds the query's timed
    latency (build + plan + exec), the CPU the process tree spent in that
    time, and whether the result matched the oracle. After each query a
    quiet speed sample goes to ``speeds``."""
    from polkadot_etl_spark.queries import QUERIES
    from tests.conftest import compare_frames

    from perfbench import oracle, trace

    records = []
    for name in order:
        build = QUERIES[name].build
        rec = {"query": name, "ok": False}
        records.append(rec)
        plan = None
        try:
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            if tracer is None:
                df = build(spark, str(DATA_DIR))
                df.write.format("noop").mode("overwrite").save()
            else:
                df, plan, p = trace.traced_query(tracer, name, build, spark, str(DATA_DIR))
            rec["latency_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - cpu0
            with tracer.span("check", name) if tracer else nullcontext():
                compare_frames(df.toPandas(), oracle.load_answer(answers[name]), name)
            if plan is not None:
                nodes, exchanges = trace.plan_shape(plan.toString())
                tracer.spans[p].attrs.update(plan_nodes=nodes, exchanges=exchanges)
            rec["ok"] = True
        except Exception as exc:  # one failing query must not stop the pass
            rec["error"] = f"{type(exc).__name__}: {exc}"[:2000]
            traceback.print_exc(file=sys.stderr)
        finally:
            df = plan = None
            gc.collect()
            quiet_speed_sample(speeds)
    return records


def child_pass_s(args) -> float:
    """pass_s (scaled to the reference speed) of an untraced run of the
    same workload and seed."""
    out = subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=170, check=True,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError("the untraced reference pass failed its oracle check")
    return result["metrics"]["pass_s"]["value"]


def pass_total(records, key: str) -> float:
    return sum(r[key] for r in records if key in r)


def layer_metrics(tracer, log, loads, setup, records, leak_bytes, scale, untraced_pass_s, cores):
    """The workload's per-layer numbers, summed over its queries, and the
    per-query detail the trace file keeps."""
    from perfbench import trace

    per_query, unattributed = trace.per_query_layers(tracer, log, loads)
    total = {k: sum(m[k] for m in per_query.values()) for k in trace.LAYER_KEYS}
    pass_s = pass_total(records, "latency_s")
    total.update(
        {
            "session.start_s": setup["start_s"],
            "session.warm_s": setup["warm_s"],
            "sources.memo_hit_ratio": total["sources.memo_hits"] / total["sources.load_calls"]
            if total["sources.load_calls"] else 0.0,
            "sources.tmp_leak_bytes": leak_bytes,
            "spark.cpu_util": total["spark.task_cpu_s"] / (pass_s * cores),
            "trace.overhead_frac": pass_s * scale / untraced_pass_s,
        }
    )
    batches = [t for m in per_query.values() for t in m.get("streaming.trigger_s_each", [])]
    total["streaming.batch_p50_s"] = statistics.median(batches) if batches else 0.0
    detail = {
        "traced_pass_s": pass_s * scale,
        "untraced_pass_s": untraced_pass_s,
        "unattributed_jobs": unattributed,
        "min_phase_coverage": min((m["phase_coverage"] for m in per_query.values()), default=None),
        "per_query": per_query,
    }
    return {k: total[k] for k in LAYER_UNITS}, detail


def main(argv=None) -> int:
    started = time.perf_counter()
    from perfbench.workloads import WORKLOADS, check_membership, pass_order

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from polkadot_etl_spark.queries import QUERIES

    check_membership(QUERIES)
    names = WORKLOADS[args.workload]["queries"]
    order = pass_order(names, args.seed)

    inherited_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    cores = nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    info = stamp(args, inherited_cpus)

    from perfbench import oracle, trace

    answers_dir = WORK_DIR / "oracle"
    answers = oracle.answer_paths(names, DATA_DIR, answers_dir)
    missing = [n for n, p in answers.items() if not p.exists()]
    if missing:
        subprocess.run(
            [sys.executable, str(ROOT / "perfbench" / "oracle.py"), str(DATA_DIR), str(answers_dir), *missing],
            check=True, timeout=600,
        )
    untraced_pass_s = child_pass_s(args) if args.trace else None

    run_dir = WORK_DIR / "runs" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
    }
    tracer = loads = py4j = None
    if args.trace:
        conf.update(trace.event_log_conf(run_dir / "events"))
        (run_dir / "events").mkdir()
        py4j = trace.Py4jCounter()
        py4j.install()
        loads = trace.LoadTableProbe()
        loads.install()
        tracer = trace.Tracer(py4j)

    from polkadot_etl_spark.benchutil import warm_session
    from polkadot_etl_spark.session import get_spark
    from pyspark import SparkContext

    spark = None
    speeds = [speed_sample() for _ in range(SPEED_SAMPLES)]
    try:
        with tracer.span("setup", "") if tracer else nullcontext():
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
            t1 = time.perf_counter()
            warm_session(spark, str(DATA_DIR))
            setup = {"start_s": t1 - t0, "warm_s": time.perf_counter() - t1}
        quiet_speed_sample(speeds)
        records = run_pass(spark, order, answers, speeds, tracer)
        rss_mb = peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid])
        stop_spark(spark)
        spark = None
        speeds += [speed_sample() for _ in range(SPEED_SAMPLES)]
        leak_bytes = dir_bytes(run_dir / "tmp") + dir_bytes(run_dir / "local")
        log = trace.EventLog.read(run_dir / "events") if args.trace else None
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        for probe in (loads, py4j):
            if probe is not None:
                probe.uninstall()

    failed = [r for r in records if not r["ok"]]
    latencies = [r["latency_s"] for r in records if "latency_s" in r]
    info["loadavg_end"] = os.getloadavg()[0]
    info["run_wall_s"] = time.perf_counter() - started
    info["order"] = order
    info["latency_s"] = {r["query"]: r.get("latency_s") for r in records}
    info["cpu_s"] = {r["query"]: r.get("cpu_s") for r in records}
    info["failed"] = {r["query"]: r["error"] for r in failed}
    info["speed_samples_s"] = speeds
    info["speed_s"] = statistics.median(speeds)
    scale = REF_SPEED_S / info["speed_s"]
    info["setup_wall_s"] = setup["start_s"] + setup["warm_s"]
    info["pass_wall_s"] = sum(latencies)
    info["pass_tree_cpu_s"] = pass_total(records, "cpu_s")
    info["query_p50_s"] = statistics.median(latencies) if latencies else None
    info["peak_rss_mb"] = rss_mb
    info["failed_frac"] = len(failed) / len(records)
    if args.trace:
        values, detail = layer_metrics(
            tracer, log, loads, setup, records, leak_bytes, scale, untraced_pass_s, cores
        )
        units = LAYER_UNITS
        trace_path = WORK_DIR / "traces" / f"{args.workload}-seed{args.seed}.json"
        tracer.write(trace_path, dict(stamp=info, layers=values, **detail))
        print(f"# spans: {trace_path.relative_to(ROOT)}")
        print(f"# min phase coverage {detail['min_phase_coverage']:.4f}, unattributed jobs {detail['unattributed_jobs']}")
    else:
        values = {
            "setup_s": info["setup_wall_s"] * scale,
            "pass_s": info["pass_wall_s"] * scale,
            "pass_cpu_s": info["pass_tree_cpu_s"] * scale,
        }
        units = E2E_UNITS
    for name, v in values.items():
        print(f"# {args.workload:>16} {name:<28} {v:>16.6g} {units[name]}")
    for name, unit in INFO_UNITS.items():
        if info[name] is not None:
            print(f"# {args.workload:>16} {name:<28} {info[name]:>16.6g} {unit}")
    print("# stamp " + json.dumps(info, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(records),
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
