"""Measurement helpers: spans, the streaming-query listener, the Spark event
log, process-tree memory and percentile summaries.

Spans are kept in memory and written out once, at exit, so tracing adds no
I/O to the measured region. Every layer figure here is taken from outside the
engine package: spans around calls into its public functions, Spark's
``StreamingQueryListener`` and the event log Spark writes when
``spark.eventLog.enabled`` is set through ``build_spark(extra_conf=...)``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
import uuid
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs, beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it, as
    ``(value, percentile)``. With too few samples for any such percentile
    above the median, the maximum is returned with percentile 100."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    k = n - beyond - 1  # index of the last sample with `beyond` above it
    if k < n // 2:
        return float(xs[-1]), 100.0
    return float(xs[k]), 100.0 * (k + 1) / n


# -- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans ``(name, start, end, parent)`` sharing one run id.

    A disabled tracer records nothing, so the untraced run pays only a
    ``with`` statement per layer call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack.__dict__.setdefault("s", [])
        parent = stack[-1]["id"] if stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run": self.run_id, **attrs}
        self.spans.append(rec)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" in s:
                own = s["end"] - s["start"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, f)


# -- streaming-query listener -------------------------------------------------


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class QueryLog(StreamingQueryListener):
    """Records start time and every progress of each streaming query the
    session runs, including queries an operator starts internally."""

    def __init__(self):
        self.started: dict[str, float] = {}
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        with self._lock:
            self.started[str(event.runId)] = _ts(event.timestamp)

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def summary(self) -> dict[str, float]:
        with self._lock:
            prog = list(self.progress)
            started = dict(self.started)
        by_run: dict[str, list[dict]] = {}
        for p in prog:
            by_run.setdefault(p["runId"], []).append(p)
        first = [
            _ts(min(ps, key=lambda p: p["batchId"])["timestamp"]) - started[r]
            for r, ps in by_run.items() if r in started
        ]

        def dur(key):
            return median(p["durationMs"].get(key, 0) for p in prog)

        ops = [op for p in prog for op in p.get("stateOperators", [])]
        last_total: dict[str, int] = {}
        for p in prog:  # rows held at the end, per query
            for op in p.get("stateOperators", []):
                last_total[p["id"]] = op["numRowsTotal"]
        return {
            "runtime.query_starts": float(len(started)),
            "runtime.batches": float(len(prog)),
            "runtime.start_to_first_batch_s": median(first),
            "runtime.planning_ms": dur("queryPlanning"),
            "runtime.add_batch_ms": dur("addBatch"),
            "runtime.wal_commit_ms": dur("walCommit"),
            "runtime.commit_offsets_ms": dur("commitOffsets"),
            "runtime.latest_offset_ms": dur("latestOffset"),
            "state.rows_total": float(sum(last_total.values())),
            "state.rows_updated": float(sum(op["numRowsUpdated"] for op in ops)),
            "state.rows_removed": float(sum(op["numRowsRemoved"] for op in ops)),
            "state.memory_bytes": float(max((op["memoryUsedBytes"] for op in ops), default=0)),
            "state.commit_ms": median(op["commitTimeMs"] for op in ops),
        }

    def sink_runs(self, fragment: str) -> list[dict]:
        """Progress records of the queries whose sink path contains
        ``fragment``."""
        with self._lock:
            return [p for p in self.progress if fragment in p["sink"]["description"]]


def query_walls(log: QueryLog, progress: list[dict]) -> list[float]:
    """Wall time of each query run, from its start event to the end of its
    last batch."""
    by_run: dict[str, list[dict]] = {}
    for p in progress:
        by_run.setdefault(p["runId"], []).append(p)
    out = []
    for r, ps in by_run.items():
        if r in log.started:
            end = max(_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000 for p in ps)
            out.append(end - log.started[r])
    return out


# -- Spark event log ----------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def parse_event_log(path: str, t0: float, t1: float) -> dict[str, float]:
    """Job, stage and task totals for jobs submitted in ``[t0, t1]`` (epoch
    seconds), plus the wall time no stage was running (driver gap)."""
    jobs = stages = 0
    run_ms = sh_read = sh_write = spill = sent = recv = 0.0
    intervals = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if t0 <= ev["Submission Time"] / 1000 <= t1:
                    jobs += 1
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                s, e = info.get("Submission Time"), info.get("Completion Time")
                if s is not None and e is not None and t0 <= s / 1000 <= t1:
                    stages += 1
                    intervals.append((s / 1000, min(e / 1000, t1)))
            elif kind == "SparkListenerTaskEnd":
                ti, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                if not (t0 <= ti.get("Launch Time", 0) / 1000 <= t1):
                    continue
                run_ms += tm.get("Executor Run Time", 0)
                rd = tm.get("Shuffle Read Metrics", {})
                sh_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                sh_write += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                for acc in ti.get("Accumulables", []):
                    name = acc.get("Name")
                    if name in (_PY_SENT, _PY_RECV):
                        v = float(acc.get("Update") or 0)
                        if name == _PY_SENT:
                            sent += v
                        else:
                            recv += v
    covered, end = 0.0, t0
    for s, e in sorted(intervals):
        s = max(s, end)
        if e > s:
            covered += e - s
            end = e
    return {
        "spark.jobs": float(jobs),
        "spark.stages": float(stages),
        "spark.executor_run_ms": run_ms,
        "spark.driver_gap_ms": max(0.0, (t1 - t0 - covered) * 1000),
        "spark.shuffle_read_bytes": sh_read,
        "spark.shuffle_write_bytes": sh_write,
        "spark.spill_bytes": spill,
        "state.python_bytes_sent": sent,
        "state.python_bytes_received": recv,
    }


def event_log_file(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


# -- memory -------------------------------------------------------------------

def _parents() -> dict[int, int]:
    """Parent pid of every process, read from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue  # the process ended while we listed
    return parent


def _descendants(root: int, parent: dict[int, int]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # ended, or not readable
    return 0


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants (the
    driver, its JVM and the JVM's Python workers). PSS splits each shared
    page among the processes that map it, so the forked Python workers'
    shared pages count once, not once per worker."""
    return sum(_pss_bytes(p) for p in [root, *_descendants(root, _parents())])


def stop_processes(spark, timeout_s: float = 60.0) -> None:
    """Stop the Spark session and the JVM this process launched, then wait
    until every descendant process (JVM, Python workers) has ended; any
    still alive at the deadline is killed."""
    import signal

    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout_s
    while True:
        left = _descendants(os.getpid(), _parents())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.1)


class MemorySampler:
    """Samples the process tree's PSS on a background thread; ``peak_mb``
    is the highest sample."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for n in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(root, n))
    return total / 2**20
