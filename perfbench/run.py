"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ops_short --seed 1 --seconds 6 --trace 0

Runs from the root of a checkout of this repository. Inputs are generated
from ``--seed``; the program (``striot_spark``) receives only those files.
The run sets up several times, each time staging the inputs and starting
a fresh JVM (median reported as ``setup_s``), makes one untimed first
pass that also checks every output, then repeats timed passes for
``--seconds``. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer ones).
Everything it writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# run as a script: import this directory as the ``perfbench`` package,
# never as top-level modules that could shadow the standard library
if sys.path and Path(sys.path[0]).resolve() == ROOT / "perfbench":
    sys.path[0] = str(ROOT)

from perfbench import trace, workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
}
PER_LAYER = {
    "peak_rss_mb": "MB",
    "inputs.stage_s": "s",
    "session.start_s": "s",
    "sources.load_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.driver_gap_s": "s",
    "engine.plan_s": "s",
    "engine.exec_s": "s",
    "engine.coord_s": "s",
    "engine.exec_jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.sum_job_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.gc_s": "s",
    "engine.shuffle_read_bytes": "bytes",
    "engine.shuffle_write_bytes": "bytes",
    "engine.spill_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.drain_width": "count",
    "streaming.state_rows_updated": "count",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
}
#: cold set-ups per run; ``setup_s`` is their median
SETUPS = 3
#: durationMs phases of a data micro-batch, reported (median ms) in the
#: traced run's report line and trace file
PHASES = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
    "commitOffsets", "triggerExecution", "stateCommitMs",
)


def percentile(values: list[float], q: float) -> float:
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """p90 when at least ten samples lie beyond it, else the highest
    percentile that keeps ten beyond it, but never below the median."""
    return min(90.0, max(50.0, 100.0 * (1 - 10 / n)))


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", default=None,
                    help="replace this operation with one that raises")
    return ap.parse_args(argv)


def _environment(work: Path) -> dict[str, str]:
    """Point every scratch location at the run's work dir and size the
    session's cores to this machine; returns the extra session conf."""
    for d in ("tmp", "local", "eventlog", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "local"),
        PYTHONWARNINGS="ignore::FutureWarning",
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    )
    import tempfile

    tempfile.tempdir = None
    return {
        # no hsperfdata file under /tmp: the run writes only inside the
        # checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def main(argv=None) -> int:
    args = parse(argv)
    try:
        import striot_spark.queries.registry  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    tracer = trace.Tracer()
    work = ROOT / ".perfbench" / f"{args.workload}-{tracer.run_id}"
    rss = trace.RssSampler()
    rss.start()
    try:
        report, summary = measure(args, tracer, work, rss)
    finally:
        rss.stop()
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps(summary))
    return 0


def _shutdown() -> None:
    """Stop the session and the JVM (and with it the Python workers), and
    wait until every process the run started has exited. The next
    ``get_spark`` then launches a fresh JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    kids = trace.descendants()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    if getattr(gateway, "proc", None) is not None:
        gateway.proc.stdin.close()
    trace.reap(kids)
    SparkContext._gateway = SparkContext._jvm = None


def measure(args, tracer, work: Path, rss) -> tuple[dict, dict]:
    import numpy as np

    from striot_spark.session import get_spark

    conf = _environment(work)
    if args.trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file:{work / 'eventlog'}"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    wl = workloads.WORKLOADS[args.workload]()
    rng = np.random.default_rng(args.seed)

    with tracer.span("run", workload=args.workload, seed=args.seed, trace=args.trace):
        setups = []
        for i in range(SETUPS):
            # each set-up is cold: a fresh JVM and workers, and inputs at
            # a new path, so nothing the program keeps per path is reused
            _shutdown()
            shutil.rmtree(work / f"data{i - 1}", ignore_errors=True)
            with tracer.span("setup", index=i):
                t0 = time.perf_counter()
                staged = wl.stage(args.seed, str(work / f"data{i}"))
                t1 = time.perf_counter()
                spark = get_spark(app_name="perfbench", extra_conf=conf)
                spark.sparkContext.setLogLevel("ERROR")
                t2 = time.perf_counter()
                wl.load(spark)  # schema reads: the session's first jobs
                t3 = time.perf_counter()
            setups.append({"stage_s": t1 - t0, "start_s": t2 - t1,
                           "load_s": t3 - t2, "setup_s": t3 - t0})
        wl.prepare(spark, args.inject_failure)

        attempted, errors, mismatches = 0, [], []

        def attempt(name: str, pass_no: int) -> dict | None:
            """Pass 0 checks outputs; the passes after it are measured."""
            nonlocal attempted
            attempted += 1
            group = f"m{pass_no}:{name}" if args.trace and pass_no else None
            t0 = time.perf_counter()
            try:
                rec = wl.run(spark, name, pass_no == 0, tracer, group)
            except Exception as exc:  # isolate: record, keep going
                free = shutil.disk_usage(os.environ["SPARK_LOCAL_DIRS"]).free
                errors.append({"op": name, "pass": pass_no,
                               "error": f"{type(exc).__name__}: {exc}"[:400],
                               "local_dir_free_bytes": free})
                print(f"perfbench: pass {pass_no} {name} FAILED "
                      f"({errors[-1]['error'][:120]}) free={free}", file=sys.stderr, flush=True)
                return None
            if rec.get("mismatch"):
                mismatches.append({"op": name, "mismatch": rec["mismatch"]})
            print(f"perfbench: pass {pass_no} {name} {time.perf_counter() - t0:.3f}s",
                  file=sys.stderr, flush=True)
            return rec

        with tracer.span("first_pass") as first:
            for name in wl.ops(rng):
                attempt(name, 0)

        passes: list[dict] = []  # wall_s, and the record of each operation by name
        rss.peak = 0  # the peak of the measured passes only
        gc0, steal0 = trace.jvm_gc_s(spark), trace.steal_s()
        t_start = time.perf_counter()
        while len(passes) < wl.min_passes or time.perf_counter() - t_start < args.seconds:
            pass_no = len(passes) + 1
            steal = trace.steal_s()
            with tracer.span("pass", index=pass_no) as ps:
                recs = {n: attempt(n, pass_no) for n in wl.ops(rng)}
            wall = ps["end"] - ps["start"]
            # share of the machine's CPU time the hypervisor took back
            ps["steal_share"] = (trace.steal_s() - steal) / (wall * os.cpu_count())
            passes.append({"wall_s": wall, "steal_share": ps["steal_share"],
                           "ops": {n: r for n, r in recs.items() if r is not None}})
        gc_s = trace.jvm_gc_s(spark) - gc0
        steal_s = trace.steal_s() - steal0
        rss.sample()
        app_id = spark.sparkContext.applicationId
        spark.stop()  # flushes the event log

    # each time is the fastest over the measured passes: CPU time the
    # hypervisor takes back stretches a pass, nothing here shortens one
    samples = op_latencies(wl, passes)
    tail_q = tail_percentile(len(samples))
    e2e = {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "pass_s": min(p["wall_s"] for p in passes),
        "op_p50_ms": 1000.0 * statistics.median(samples),
        "op_tail_ms": 1000.0 * percentile(samples, tail_q),
    }
    failed = len(errors) + len(mismatches)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "run_id": tracer.run_id, "inputs": staged,
        "first_pass_s": first["end"] - first["start"],
        "passes": len(passes),
        "pass_steal_share": [round(p["steal_share"], 4) for p in passes],
        "op_samples": len(samples), "peak_rss_mb": rss.peak / 2**20,
        "gc_s": gc_s, "steal_s": steal_s,
        "tail_percentile": tail_q, "fail_ratio": failed / max(attempted, 1),
        "errors": errors, "mismatches": mismatches, "setups": setups,
    }
    if wl.kind == "stream":
        report["events_per_s"] = wl.events / e2e["pass_s"]
    last = ROOT / ".perfbench" / "last" / f"{args.workload}.json"
    if args.trace:
        layers, phases = layer_metrics(wl, setups, passes, tracer, work, app_id)
        layers["engine.gc_s"] = gc_s / len(passes)
        layers["peak_rss_mb"] = report["peak_rss_mb"]
        report["streaming_phases_ms"] = phases
        if last.exists():
            untraced = json.loads(last.read_text())
            report["overhead"] = {k: e2e[k] - untraced[k] for k in e2e}
        report["trace_file"] = str(
            Path(".perfbench") / "traces" / f"{args.workload}-{tracer.run_id}.json")
        tracer.dump(str(ROOT / report["trace_file"]),
                    {"report": report, "end_to_end": e2e, "per_layer": layers})
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        last.parent.mkdir(parents=True, exist_ok=True)
        last.write_text(json.dumps(e2e))
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return report, {"correct": failed == 0, "attempted": attempted,
                    "failed": failed, "metrics": metrics}


def op_latencies(wl, passes) -> list[float]:
    """One latency (s) per operation: per query, or per data micro-batch
    of the drain by its position, the fastest over the measured passes."""
    by_op: dict[object, list[float]] = {}
    for p in passes:
        for name, r in p["ops"].items():
            if wl.kind == "stream":
                batches = trace.phase_ms(r["progress"])["triggerExecution"]
                for i, ms in enumerate(batches):
                    by_op.setdefault((name, i), []).append(ms / 1000.0)
            else:
                by_op.setdefault(name, []).append(r["latency_s"])
    return [min(v) for v in by_op.values()] or [float("nan")]


def layer_metrics(wl, setups, passes, tracer, work: Path, app_id: str):
    """Per-layer metrics of the measured passes, per pass, from the
    spans, the progress reports and the Spark event log."""
    n = len(passes)
    jobs = trace.read_event_log(str(work / "eventlog"), app_id).values()
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)

    def jobs_of(*groups):
        return [j for g in groups for j in by_group.get(g, ())]

    def gap(span, js):
        return trace.dur(span) - trace.covered(
            [(j["start"], j["end"] or j["start"]) for j in js], span["start"], span["end"])

    spans = [s for s in tracer.spans if s.get("group")]  # measured ops only
    builds = [s for s in spans if s["name"] == "build"]
    out = {
        "session.start_s": statistics.median(s["start_s"] for s in setups),
        "sources.load_s": statistics.median(s["load_s"] for s in setups),
        "inputs.stage_s": statistics.median(s["stage_s"] for s in setups),
        "queries.build_s": sum(r["build_s"] for p in passes for r in p["ops"].values()) / n,
    }
    build_jobs = [j for s in builds for j in jobs_of(s["group"])]
    out["queries.build_jobs"] = len(build_jobs) / n
    phases: dict[str, list[float]] = {}
    if wl.kind == "stream":
        drains = [s for s in spans if s["name"] == "drain"]
        exec_jobs = jobs_of(*[s["run_id"] for s in drains])
        out["queries.driver_gap_s"] = out["queries.build_s"]
        per_batch = [trace.phase_ms(r["progress"]) for p in passes for r in p["ops"].values()]
        for ph in per_batch:
            for k, v in ph.items():
                phases.setdefault(k, []).extend(v)
        all_progress = [pr for p in passes for r in p["ops"].values() for pr in r["progress"]]
        out["engine.plan_s"] = sum(
            pr["durationMs"].get("queryPlanning", 0) for pr in all_progress) / 1000 / n
        out["engine.exec_s"] = sum(
            pr["durationMs"].get("addBatch", 0) for pr in all_progress) / 1000 / n
        out["engine.coord_s"] = sum(gap(s, jobs_of(s["run_id"])) for s in drains) / n
        out["streaming.batches"] = sum(len(ph["inputRows"]) for ph in per_batch) / n
        out["streaming.drain_width"] = wl.drain_width or 0
        out["streaming.state_rows_updated"] = sum(phases.get("stateRowsUpdated", [])) / n
        out["streaming.state_rows_total"] = max(phases.get("stateRowsTotal", [0]))
        out["streaming.state_memory_bytes"] = max(phases.get("stateMemoryBytes", [0]))
    else:
        execs = [s for s in spans if s["name"] == "exec"]
        plans = [s for s in spans if s["name"] == "plan"]
        exec_jobs = [j for s in execs for j in jobs_of(s["group"])]
        plan_jobs = [j for s in plans for j in jobs_of(s["group"])]
        out["queries.driver_gap_s"] = sum(gap(s, jobs_of(s["group"])) for s in builds) / n
        out["engine.plan_s"] = sum(trace.dur(s) for s in plans) / n
        out["engine.exec_s"] = sum(trace.dur(s) for s in execs) / n
        out["engine.coord_s"] = sum(gap(s, jobs_of(s["group"])) for s in execs) / n
        exec_jobs += plan_jobs
        for k in ("streaming.batches", "streaming.drain_width", "streaming.state_rows_updated",
                  "streaming.state_rows_total", "streaming.state_memory_bytes"):
            out[k] = 0
    measured = build_jobs + exec_jobs
    out["engine.exec_jobs"] = len(exec_jobs) / n
    for key, field in (("engine.stages", "stages"), ("engine.tasks", "tasks"),
                       ("engine.executor_cpu_s", "cpu_s"),
                       ("engine.shuffle_read_bytes", "shuffle_read"),
                       ("engine.shuffle_write_bytes", "shuffle_write"),
                       ("engine.spill_bytes", "spill")):
        out[key] = sum(j[field] for j in measured) / n
    out["engine.sum_job_s"] = sum(
        (j["end"] or j["start"]) - j["start"] for j in measured) / n
    phase_p50 = {k: statistics.median(phases[k]) for k in PHASES if phases.get(k)}
    return out, phase_p50


if __name__ == "__main__":
    sys.exit(main())
