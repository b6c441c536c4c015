"""Tracing for the benchmark: spans, Spark job groups, stream progress
and the event-log parser that joins them.

Spans are kept in memory and only written when the run ends. A span
around a layer call also tags every Spark job it launches with a job
group named after the span, so the event log (written by the traced
JVM, uncompressed) can charge each job's tasks to the layer that
caused them. The untraced runs use only :class:`ProgressListener`,
which passively reads Spark's own per-trigger progress.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

WAIT_S = 30.0  # longest wait for a stream's termination event
POLL_S = 0.02  # state-directory poll interval


class Tracer:
    """Span recorder. Disabled, it only runs the body."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.cost_s = 0.0  # time spent on tracing itself

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        group = f"{name}#{idx}"
        rec = {
            "name": name,
            "group": group,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            "links": [],
        }
        self.spans.append(rec)
        self._stack.append(idx)
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        self.cost_s += time.perf_counter() - t0
        try:
            yield
        finally:
            rec["end"] = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                sc.setJobGroup(outer["group"], outer["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.cost_s += time.perf_counter() - t1

    def link(self, group: str) -> None:
        """Charge jobs of another job group (a stream's run id: Spark
        runs each micro-batch under that group) to the last span."""
        if self.enabled:
            self.spans[-1]["links"].append(group)

    def finished(self) -> list[dict]:
        """The spans, each with its self time in seconds: its duration
        minus the part of it that its child spans cover."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [
            {**s, "self_s": s["end"] - s["start"] - child[i]} for i, s in enumerate(self.spans)
        ]


class ProgressListener(StreamingQueryListener):
    """Collects every ``StreamingQueryProgress`` by query run id."""

    def __init__(self):
        super().__init__()
        self._lock = threading.Lock()
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
            "durationMs": dict(p.durationMs),
            "stateOperators": [
                {
                    "numRowsTotal": s.numRowsTotal,
                    "numRowsUpdated": s.numRowsUpdated,
                    "memoryUsedBytes": s.memoryUsedBytes,
                    "numRowsDroppedByWatermark": s.numRowsDroppedByWatermark,
                    "customMetrics": dict(s.customMetrics),
                }
                for s in p.stateOperators
            ],
        }
        with self._lock:
            self.progress[str(p.runId)].append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated.add(str(event.runId))

    def run_ids(self) -> set[str]:
        with self._lock:
            return set(self.progress) | set(self.terminated)

    def wait_new(self, before: set[str]) -> list[dict]:
        """Progress of the one query that started after ``before`` was
        taken, once its termination event has arrived (events are
        delivered asynchronously, after ``awaitTermination`` returns)."""
        deadline = time.monotonic() + WAIT_S
        while time.monotonic() < deadline:
            with self._lock:
                done = self.terminated - before
                if done:
                    (rid,) = done
                    return list(self.progress.get(rid, []))
            time.sleep(0.01)
        raise TimeoutError("stream termination event never arrived")


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def parse_event_log(log_dir: Path) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, job wall (union of job
    intervals, ms) and task counters summed over the group's stages.
    Jobs outside any group land under ``""``."""
    job_group: dict[int, str] = {}
    job_iv: dict[int, list[float]] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "run_ms": 0.0,
            "cpu_ms": 0.0,
            "gc_ms": 0.0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "intervals": [],
        }
    )
    # Only the first application: the sessions rebuilt after the workload
    # log apps of their own. Spark 4 writes a rolling log,
    # <dir>/eventlog_v2_<app>/events_<n>_<app>; app ids rise with time.
    first_app = min(log_dir.iterdir(), key=lambda p: p.name.rsplit("-", 1)[-1])

    def order(p: Path):
        parts = p.name.split("_")
        return int(parts[1]) if parts[0] == "events" else 0

    files = sorted(
        (p for p in ([first_app] if first_app.is_file() else first_app.iterdir())
         if p.is_file() and not p.name.startswith(("appstatus", ".")) and p.stat().st_size),
        key=order,
    )
    for f in files:
        with f.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_iv[jid] = [ev["Submission Time"], ev["Submission Time"]]
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    groups[g]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_iv:
                        job_iv[jid][1] = ev["Completion Time"]
                        groups[job_group[jid]]["intervals"].append(tuple(job_iv[jid]))
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    groups[stage_group.get(sid, "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(ev["Stage ID"], "")]
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["run_ms"] += m.get("Executor Run Time", 0)
                    g["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    for g in groups.values():
        g["job_wall_ms"] = _union_ms(g.pop("intervals"))
    return dict(groups)


def layer_counters(spans: list[dict], groups: dict[str, dict]) -> dict:
    """Sum the event-log counters of ``spans`` (their own job group and
    linked groups); ``driver_only_ms`` is span wall time outside any job."""
    out = defaultdict(float)
    for s in spans:
        wall_ms = (s["end"] - s["start"]) * 1000
        out["wall_ms"] += wall_ms
        job_ms = 0.0
        for gid in [s["group"], *s["links"]]:
            g = groups.get(gid)
            if g is None:
                continue
            for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
                      "shuffle_write_bytes", "spill_bytes"):
                out[k] += g[k]
            job_ms += g["job_wall_ms"]
        out["driver_only_ms"] += max(0.0, wall_ms - job_ms)
    return dict(out)


class StatePoller:
    """Watches a bucketed state dir (``b<bucket>/v<epoch>``) from a
    thread while a merge stream drains, recording each committed
    version once: {(bucket, version): (bytes, rows)}. Versions are
    renamed into place whole, and the package keeps the newest two per
    bucket, so a 20 ms poll sees each one."""

    def __init__(self, state_dir: Path):
        self.state_dir = state_dir
        self.versions: dict[tuple[str, str], tuple[int, int]] = {}
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _scan(self) -> None:
        import pyarrow.parquet as pq

        if not self.state_dir.is_dir():
            return
        for b in self.state_dir.glob("b*"):
            for v in b.glob("v*"):
                key = (b.name, v.name)
                if key in self.versions:
                    continue
                try:
                    files = list(v.glob("*.parquet"))
                    size = sum(f.stat().st_size for f in files)
                    rows = sum(pq.read_metadata(f).num_rows for f in files)
                except OSError:
                    continue  # pruned between listing and reading
                self.versions[key] = (size, rows)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._scan()
            time.sleep(POLL_S)
        self.cpu_s = time.thread_time()

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=10)
        self._scan()
        return dict(self.versions)
