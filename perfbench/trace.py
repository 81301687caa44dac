"""Measurement plumbing: spans, the process-tree RSS sampler, the
streaming progress listener and the Spark event-log reader.

None of this reaches into the program: it reads ``/proc``, a
``StreamingQueryListener`` registered on the benchmark's own session,
the JVM's garbage-collector beans and the ``file:`` event log Spark
writes when ``spark.eventLog.enabled`` is set for a traced run.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import uuid
from collections import defaultdict

# -- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, attributes) sharing one
    run id; written out once, when the run ends."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int, **attrs) -> None:
        """Record a finished span (e.g. a micro-batch the listener
        reported) under span ``parent``."""
        self.spans.append(
            {
                "id": len(self.spans),
                "parent": parent,
                "name": name,
                "start": start,
                "end": end,
                **attrs,
            }
        )

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, f)


def dur(span: dict) -> float:
    return span["end"] - span["start"]


# -- process tree ------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids[ppid].append(int(entry))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it, so forked workers sum correctly."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def steal_s() -> float:
    """CPU seconds the hypervisor has so far given to other guests while
    this machine's CPUs were ready to run (all CPUs, from ``/proc/stat``);
    0 where the kernel does not account it."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


class RssSampler(threading.Thread):
    """Peak resident memory (PSS) of this process plus all its
    descendants (the JVM and the Python workers it forks), sampled from
    ``/proc``."""

    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        total = sum(_pss_bytes(p) for p in [os.getpid(), *descendants()])
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(") ", 1)[1][0] != "Z"
    except OSError:
        return False


def reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait until every pid in ``pids`` has exited, SIGKILLing what
    outlives ``timeout``; reaps the ones that are our own children."""
    import signal

    deadline = time.time() + timeout
    while live := [p for p in pids if _alive(p)]:
        if time.time() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)
    for p in pids:
        try:
            os.waitpid(p, os.WNOHANG)
        except OSError:
            pass


# -- streaming progress ------------------------------------------------------


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress report by
    query name and signals when a named query has terminated."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.names: dict[str, str] = {}  # run id -> query name
            self.progress: dict[str, list[dict]] = defaultdict(list)
            self.done: dict[str, threading.Event] = {}

        def expect(self, name: str) -> None:
            """Call before starting the query named ``name``."""
            self.done[name] = threading.Event()

        def onQueryStarted(self, event):
            self.names[str(event.runId)] = event.name

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            self.progress[p["name"]].append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            name = self.names.get(str(event.runId))
            if name in self.done:
                self.done[name].set()

        def drained(self, name: str, timeout: float = 30.0) -> list[dict]:
            """The query's progress reports, once the (asynchronous)
            listener bus has delivered its termination."""
            self.done[name].wait(timeout)
            return self.progress.pop(name, [])

    return Listener()


def phase_ms(progress: list[dict]) -> dict[str, list[float]]:
    """durationMs phases and state-store counts of the data micro-batches
    (batches that carried input rows)."""
    out: dict[str, list[float]] = defaultdict(list)
    for p in progress:
        if not p.get("numInputRows"):
            continue
        for k, v in p.get("durationMs", {}).items():
            out[k].append(float(v))
        ops = p.get("stateOperators") or []
        out["stateRowsUpdated"].append(sum(o.get("numRowsUpdated", 0) for o in ops))
        out["stateRowsTotal"].append(sum(o.get("numRowsTotal", 0) for o in ops))
        out["stateMemoryBytes"].append(sum(o.get("memoryUsedBytes", 0) for o in ops))
        out["stateCommitMs"].append(sum(o.get("commitTimeMs", 0) for o in ops))
        out["inputRows"].append(float(p["numInputRows"]))
    return out


# -- event log ---------------------------------------------------------------


def read_event_log(log_dir: str, app_id: str) -> dict[int, dict]:
    """Per-job totals from a Spark ``file:`` event log, by job id.

    Each job carries its group, submit/end times (s), stage and task counts, and task metric
    sums: executor CPU, shuffle read/write and spill bytes."""
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        path += ".inprogress"
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": 0,
                    "tasks": 0,
                    "cpu_s": 0.0,
                    "shuffle_read": 0,
                    "shuffle_write": 0,
                    "spill": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                if job is not None:
                    job["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                sr = m.get("Shuffle Read Metrics", {})
                job["tasks"] += 1
                job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                job["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return jobs


def jvm_gc_s(spark) -> float:
    """Collection time of every garbage collector of the (driver and, in
    local mode, executor) JVM so far, from its management beans."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1000.0


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total
