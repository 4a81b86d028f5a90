"""Measurement plumbing shared by the workloads: the Spark session the
benchmark owns, /proc samplers (peak RSS, external CPU load) and the
span tracer that attributes Spark's event log to the layer calls.

Everything here observes the package from outside: spans are set around
calls into its public functions, and per-span Spark work is read back
from Spark's own event log after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


class Session:
    """Owns the benchmark's SparkSession and the JVM behind it.

    The session is the package's own: ``session.get_spark(cpus=nproc())``
    applies its settings. A bare session is created just before, so that
    the settings ``get_spark`` cannot change on a live session stay on the
    benchmark's side: the ``local[nproc]`` master, a warehouse directory
    inside the work directory instead of ``get_spark``'s fixed one in the
    system temp directory, and, with ``event_log``, an uncompressed,
    non-rolling Spark event log under the work directory. The driver heap,
    its temp directory and Spark's local directories come from the
    environment ``run.py`` sets before the JVM starts.
    """

    def __init__(self, work: str):
        self.work = work
        self.event_dir = os.path.join(work, "eventlog")
        self.spark = None
        self.app_ids: list[str] = []

    def start(self, event_log: bool = False, tag: str | None = None) -> float:
        """Create the session and run its first job; returns the seconds
        from session creation to that job's completion. ``tag`` labels that
        job for the event log."""
        from pyspark.sql import SparkSession

        from calculate_file_content_size_for_vector_db_spark.session import get_spark

        t0 = time.perf_counter()
        b = (
            SparkSession.builder.master(f"local[{nproc()}]")
            .appName("perfbench")
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.eventLog.enabled", str(event_log).lower())
        )
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            b = (
                b.config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
                .config("spark.eventLog.dir", "file:" + self.event_dir)
            )
        b.getOrCreate()
        self.spark = get_spark(cpus=nproc())
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        if tag:
            sc.setLocalProperty(SPAN_PROPERTY, tag)
        self.spark.range(1).count()
        sc.setLocalProperty(SPAN_PROPERTY, None)
        if event_log:
            self.app_ids.append(sc.applicationId)
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — never leave the JVM behind
                    proc.kill()
                    proc.wait(timeout=30)

    def event_log_files(self) -> list[str]:
        """The event logs of every application this object started."""
        files = []
        for app in self.app_ids:
            found = glob.glob(os.path.join(self.event_dir, app + "*"))
            if len(found) != 1:
                raise RuntimeError(f"expected one event log for {app}, found {found}")
            files.append(found[0])
        return files


def setup_samples(sess: Session, tracer: "Tracer | None" = None, n: int = 5) -> list[float]:
    """``n`` session set-ups (the first one also launches the JVM); the
    session of the last one stays up. Traced, the event log is on and each
    set-up is a ``session.start`` span whose first job carries its tag."""
    out = []
    for i in range(n):
        if i:
            sess.stop()
        if tracer is None:
            out.append(sess.start())
            continue
        tracer.spark = None
        with tracer.span("session.start") as rec:
            out.append(sess.start(event_log=True, tag=rec["tag"]))
    return out


# ---------------------------------------------------------------------------
# /proc samplers
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (a child belongs to the thread
    that forked it, and the JVM forks Python workers from its own threads)."""
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _proc_stat_jiffies() -> tuple[int, int]:
    """(total, busy) jiffies machine-wide."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + (v[4] if len(v) > 4 else 0)
    return sum(v), sum(v) - idle


def _tree_jiffies(pid: int) -> int:
    tot = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            tot += int(fields[11]) + int(fields[12])  # utime + stime
        except (OSError, IndexError, ValueError):
            pass
    return tot


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class Monitor:
    """Background sampler over a timed region: peak RSS of this process
    tree (driver JVM and Python workers included) and the CPUs kept busy
    by processes outside it (the contention meter of bench.py).

    Only Python processes below the JVM count as workers. The JVM also
    spawns short-lived helpers (shell commands of the Hadoop local file
    system, among others); until such a child execs, /proc reports the
    JVM's whole RSS for it, and a sample that lands in that window read
    about 1.5 GB too high in some runs, more often on a busy machine."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        # RSS in MB of each part of the tree at the peak sample
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._t0 = self._o0 = None

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            jvms = _children(pid)
            workers = [p for j in jvms for p in process_tree(j) if p != j and _is_python(p)]
            parts = {
                "driver": _rss_kb(pid),
                "jvm": sum(_rss_kb(p) for p in jvms),
                "workers": sum(_rss_kb(p) for p in workers),
            }
            total = sum(parts.values())
            if total > self.peak_kb:
                self.peak_kb = total
                self.peak_parts = {k: round(v / 1024.0) for k, v in parts.items()}
            self._stop.wait(self.interval)

    def __enter__(self) -> "Monitor":
        self._t0, self._o0 = _proc_stat_jiffies(), _tree_jiffies(os.getpid())
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        t, o = _proc_stat_jiffies(), _tree_jiffies(os.getpid())
        dt = max(1, t[0] - self._t0[0])
        ext = max(0, (t[1] - self._t0[1]) - (o - self._o0))
        self.external_cpus = round(ext / dt * (os.cpu_count() or 1), 2)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Spans and event-log attribution
# ---------------------------------------------------------------------------

SPAN_FIELDS = {
    "self_s": "s",
    "tasks": "count",
    "executor_run_ms": "ms",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "driver_gap_ms": "ms",
}


class Tracer:
    """Spans around layer calls. Each span tags the Spark jobs it starts
    with a local property, so the event log can be split by span later.
    Spans do not nest, so a span's self time is its wall time."""

    def __init__(self):
        self.spark = None
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "tag": f"{name}#{len(self.spans)}", "start": time.time()}
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc:
            sc.setLocalProperty(SPAN_PROPERTY, rec["tag"])
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if sc:
                sc.setLocalProperty(SPAN_PROPERTY, None)

    def count(self, name: str, value: float) -> None:
        self.counts[name] = value


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    tot, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot


def parse_event_logs(paths: list[str]) -> dict[str, dict]:
    """Per span tag: jobs, stage intervals and summed task metrics."""
    out: dict[str, dict] = {}
    for path in paths:
        _parse_one(path, out)
    return out


def _parse_one(path: str, out: dict[str, dict]) -> None:
    stage_tag: dict[int, str] = {}

    def rec(tag: str) -> dict:
        return out.setdefault(
            tag,
            {"jobs": 0, "tasks": 0, "executor_run_ms": 0, "shuffle_write_bytes": 0,
             "spill_bytes": 0, "stages": []},
        )

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                if tag:
                    rec(tag)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_tag[sid] = tag
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics") or {}
                if tag:
                    r = rec(tag)
                    r["tasks"] += 1
                    r["executor_run_ms"] += m.get("Executor Run Time", 0)
                    r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
            elif kind == "SparkListenerStageCompleted":
                info = ev.get("Stage Info") or {}
                tag = stage_tag.get(info.get("Stage ID"))
                if tag and "Submission Time" in info and "Completion Time" in info:
                    rec(tag)["stages"].append((info["Submission Time"], info["Completion Time"]))


def span_metrics(tracer: Tracer, log: dict[str, dict]) -> dict[str, dict]:
    """Median over repeated spans of one name, per SPAN_FIELDS, plus the
    job count of each span name."""
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        ev = log.get(s["tag"], {})
        wall = s["end"] - s["start"]
        busy_ms = _union_ms([(a, b) for a, b in ev.get("stages", [])])
        by_name.setdefault(s["name"], []).append(
            {
                "self_s": wall,
                "tasks": ev.get("tasks", 0),
                "executor_run_ms": ev.get("executor_run_ms", 0),
                "shuffle_write_bytes": ev.get("shuffle_write_bytes", 0),
                "spill_bytes": ev.get("spill_bytes", 0),
                "driver_gap_ms": max(0.0, wall * 1000.0 - busy_ms),
                "jobs": ev.get("jobs", 0),
            }
        )
    return {
        name: {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        for name, rows in by_name.items()
    }
