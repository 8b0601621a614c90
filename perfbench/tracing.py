"""Measurement from outside the program.

- `JobGroups` tags every Spark job a layer call starts with
  `SparkContext.setJobGroup(<layer>, ...)` and times the call on the
  driver.
- `summarize_event_log` sums task metrics per job group from Spark's
  uncompressed JSON event log (written because the traced session is
  started with spark.eventLog.enabled=true).
- `StreamProgress` is a PySpark StreamingQueryListener that keeps the
  start event and every progress event of each streaming query.
- `RssSampler` samples the resident set of the driver JVM and its
  Python workers (all descendants of this process) from /proc.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MIB = 1 << 20

# task metric fields and SQL accumulables summed per job group
_PY_ACCUMS = {
    "time to start Python workers": "py_start_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_recv_b",
}


def empty_group() -> dict:
    return {
        "jobs": 0, "tasks": 0, "stage_ids": set(), "cpu_ns": 0, "run_ms": 0, "gc_ms": 0,
        "shuffle_write_b": 0, "spill_b": 0, "fetch_wait_ms": 0, "peak_exec_mem_b": 0,
        "py_start_ms": 0, "py_run_ms": 0, "py_sent_b": 0, "py_recv_b": 0,
    }


def read_events(log_path: str) -> list[dict]:
    """Events of one application's JSON-lines event log."""
    with open(log_path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def summarize_events(events: list[dict]) -> dict[str, dict]:
    """Per job group totals. Jobs without a group land under "". A stage
    shared by jobs of two groups is charged to the first job that
    listed it."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(empty_group)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            g = groups[group]
            g["tasks"] += 1
            g["stage_ids"].add(ev.get("Stage ID"))
            tm = ev.get("Task Metrics") or {}
            g["cpu_ns"] += tm.get("Executor CPU Time", 0)
            g["run_ms"] += tm.get("Executor Run Time", 0)
            g["gc_ms"] += tm.get("JVM GC Time", 0)
            g["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            g["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g["fetch_wait_ms"] += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
            g["peak_exec_mem_b"] = max(g["peak_exec_mem_b"], tm.get("Peak Execution Memory", 0))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = _PY_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    g[key] += int(acc.get("Update") or 0)
    return dict(groups)


def summarize_event_log(log_dir: str) -> dict[str, dict]:
    """Sum every application log under `log_dir` (one per SparkContext)."""
    total: dict[str, dict] = defaultdict(empty_group)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        for group, g in summarize_events(read_events(path)).items():
            merge_into(total[group], g)
    return dict(total)


def merge_into(dst: dict, src: dict) -> dict:
    for k, v in src.items():
        if k == "stage_ids":
            dst[k] |= v
        elif k == "peak_exec_mem_b":
            dst[k] = max(dst[k], v)
        else:
            dst[k] += v
    return dst


def total_of(groups: dict[str, dict], names=None) -> dict:
    out = empty_group()
    for name, g in groups.items():
        if names is None or name in names:
            merge_into(out, g)
    return out


def spark_metrics(g: dict) -> dict[str, float]:
    """The spark.* per-layer family from one (merged) group record."""
    return {
        "spark.cpu_s": g["cpu_ns"] / 1e9,
        "spark.gc_s": g["gc_ms"] / 1e3,
        "spark.tasks": g["tasks"],
        "spark.stages": len(g["stage_ids"]),
        "spark.jobs": g["jobs"],
        "spark.shuffle_write_mib": g["shuffle_write_b"] / MIB,
        "spark.spill_mib": g["spill_b"] / MIB,
        "spark.fetch_wait_s": g["fetch_wait_ms"] / 1e3,
        "spark.py_start_s": g["py_start_ms"] / 1e3,
        "spark.py_sent_mib": g["py_sent_b"] / MIB,
        "spark.py_recv_mib": g["py_recv_b"] / MIB,
        "spark.peak_exec_mem_mib": g["peak_exec_mem_b"] / MIB,
    }


class JobGroups:
    """Driver-side wall per layer call, with the call's jobs tagged."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.walls: dict[str, float] = defaultdict(float)

    @contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] += time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def make_stream_listener():
    """A StreamingQueryListener recording, per query run id, its start
    time and its progress events. Built lazily: the base class needs an
    importable pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self.started: dict[str, float] = {}
            self.progress: dict[str, list[dict]] = defaultdict(list)

        def onQueryStarted(self, event):
            self.started[str(event.runId)] = _iso_ms(event.timestamp)

        def onQueryProgress(self, event):
            p = event.progress
            self.progress[str(p.runId)].append({
                "rows": p.numInputRows,
                "ts": _iso_ms(p.timestamp),
                "durations": dict(p.durationMs or {}),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamProgress()


def _iso_ms(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


def stream_metrics(listener) -> dict[str, float]:
    """streaming.* per-layer family over the recorded queries."""
    out = {"streaming.batches": 0, "streaming.nodata_batches": 0, "streaming.start_s": 0.0,
           "streaming.add_batch_s": 0.0, "streaming.planning_s": 0.0, "streaming.wal_s": 0.0}
    for run_id, events in listener.progress.items():
        out["streaming.batches"] += len(events)
        out["streaming.nodata_batches"] += sum(1 for e in events if not e["rows"])
        if run_id in listener.started and events:
            out["streaming.start_s"] += max(events[0]["ts"] - listener.started[run_id], 0) / 1e3
        for e in events:
            d = e["durations"]
            out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            out["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
            out["streaming.wal_s"] += d.get("walCommit", 0) / 1e3
    return out


def _descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command field is parenthesised and may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled every `interval` seconds. The
    sampler runs in the driver process, so a long interval keeps it from
    competing for the interpreter lock with the Spark driver's py4j calls."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kib(p) for p in _descendants(me))
            self.peak_kib = max(self.peak_kib, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mib(self) -> float:
        return self.peak_kib / 1024
