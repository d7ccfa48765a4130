"""Measurement helpers: spans, percentiles, Spark event logs and streaming
progress.  Only ``ProgressListener`` and ``JobGroups`` touch Spark; the
rest is plain Python over plain data, and ``perfbench/tests`` covers it.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile
# how long to wait for the listener to hear that a stopped query terminated
LISTENER_TIMEOUT_S = 10.0


def tail(values: list[float], run_n: int | None = None) -> dict | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above
    it, at a run length of ``run_n`` samples (default: the samples given).

    Nearest rank: of ``n`` sorted samples the one at 1-based rank ``r`` has
    ``n - r`` beyond it, so at ``run_n`` samples the answer is percentile
    ``(run_n - TAIL_BEYOND) / run_n``.  A run that took more samples than
    ``run_n`` reports that same percentile, so runs stay comparable, and
    still has at least ``TAIL_BEYOND`` samples above it.  ``None`` when too
    few samples leave any percentile to report."""
    n = len(values)
    run_n = run_n or n
    if run_n - TAIL_BEYOND < 1 or n < run_n:
        return None
    rank = -(-(run_n - TAIL_BEYOND) * n // run_n)  # ceil, in integers
    return {"value": sorted(values)[rank - 1], "pct": 100.0 * (run_n - TAIL_BEYOND) / run_n, "n": n}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """Spans kept in memory and written out at the end.  A span records
    its name, start, end, parent span and invocation id.  A disabled
    tracer records nothing and costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, inv: int | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "inv": inv,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover
    (children clipped to the parent's interval, overlaps counted once)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s["parent"]
        if p is not None:
            lo, hi = by_id[p]["start"], by_id[p]["end"]
            children[p].append((max(s["start"], lo), min(s["end"], hi)))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(children[s["id"]]) for s in spans
    }


class JobGroups:
    """One Spark job group per span, read back from ``statusTracker()``.
    Group ids are unique per span, so a group's job list is exactly the
    jobs the span started on its thread."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jobs: dict[str, list[int]] = {}

    @contextmanager
    def group(self, gid: str):
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.jobs[gid] = list(self.sc.statusTracker().getJobIdsForGroup(gid))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


# ---------------------------------------------------------------- event log


def _zero_stats() -> dict:
    return {
        "jobs": 0,
        "job_s": 0.0,
        "stages": 0,
        "tasks": 0,
        "task_run_s": 0.0,
        "input_bytes": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
    }


def group_stats(events: list[dict]) -> dict[str, dict]:
    """Per job group totals from Spark event-log records: jobs and their
    wall, stages, tasks, executor run time, input, shuffle and spill
    bytes.  Jobs without a group (streaming micro-batches) are skipped;
    the streaming layers come from query progress instead."""
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(_zero_stats)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if gid is None:
                continue
            job_group[ev["Job ID"]] = gid
            job_start[ev["Job ID"]] = ev.get("Submission Time", 0)
            out[gid]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = gid
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
            gid = job_group[ev["Job ID"]]
            out[gid]["job_s"] += (ev["Completion Time"] - job_start[ev["Job ID"]]) / 1000.0
        elif kind == "SparkListenerStageCompleted":
            gid = stage_group.get(ev["Stage Info"]["Stage ID"])
            if gid is not None:
                out[gid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            gid = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if gid is None or not m:
                continue
            st = out[gid]
            st["tasks"] += 1
            st["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics", {})
            st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(out)


def read_event_logs(log_dir: str) -> list[dict]:
    """Every record of every (finished) event log under ``log_dir``."""
    events = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


# ------------------------------------------------------- streaming progress


def epoch_s(iso: str) -> float:
    """Spark's progress timestamps (``2026-01-01T00:00:00.123Z``, UTC)."""
    t = dt.datetime.strptime(iso.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return (t - dt.datetime(1970, 1, 1)).total_seconds()


def commit_s(progress: dict) -> float:
    """When a micro-batch committed: trigger start plus batch duration."""
    return epoch_s(progress["timestamp"]) + progress["batchDuration"] / 1000.0


def freshness(progress: list[dict], due_s: list[float]) -> list[float]:
    """For each landed file, the commit time of the first micro-batch that
    consumed it minus the file's due time: landing, bronze, discovery and
    silver, but not the window length.  The feed stamps each file's last
    trade with the file's due time, and files are consumed in order, so the
    first batch whose newest event time reaches a due time is the batch
    that made that file visible.  Files no batch reached are left out."""
    batches = sorted(
        (epoch_s(p["eventTime"]["max"]), commit_s(p))
        for p in progress
        if p.get("numInputRows", 0) > 0 and "max" in (p.get("eventTime") or {})
    )
    out, k = [], 0
    for due in sorted(due_s):
        while k < len(batches) and batches[k][0] < due - 1e-6:
            k += 1
        if k == len(batches):
            break
        out.append(batches[k][1] - due)
    return out


def first_commit_after(progress: list[dict], event_s: float) -> float | None:
    """Commit time of the first batch whose newest event is at or after
    ``event_s`` (epoch seconds), i.e. the batch that made it visible."""
    for p in sorted(progress, key=lambda p: p["batchId"]):
        mx = (p.get("eventTime") or {}).get("max")
        if mx and epoch_s(mx) >= event_s - 1e-6:
            return commit_s(p)
    return None


def state_totals(progress: list[dict]) -> dict:
    """State rows and bytes after the last batch, late rows over all batches."""
    last = progress[-1]["stateOperators"] if progress else []
    return {
        "state_rows": sum(op.get("numRowsTotal", 0) for op in last),
        "state_bytes": sum(op.get("memoryUsedBytes", 0) for op in last),
        "late_rows_dropped": sum(
            op.get("numRowsDroppedByWatermark", 0) for p in progress for op in p["stateOperators"]
        ),
    }


def backlog_max(progress: list[dict], landed_s: list[float], rows_per_file: int) -> int:
    """Largest number of landed files waiting when a source batch started:
    files landed before the trigger minus files the earlier batches took."""
    taken, worst = 0, 0
    for p in sorted(progress, key=lambda p: p["batchId"]):
        start = epoch_s(p["timestamp"])
        waiting = sum(1 for t in landed_s if t <= start) - taken
        worst = max(worst, waiting)
        taken += p.get("numInputRows", 0) // rows_per_file
    return worst


def duration_median(progress: list[dict], key: str) -> float:
    """Median over data-carrying batches of one ``durationMs`` part, in s."""
    return median(
        [p["durationMs"].get(key, 0) / 1000.0 for p in progress if p.get("numInputRows", 0) > 0]
    )


class ProgressListener:
    """Collects every ``StreamingQueryProgress`` of the sessions it is
    attached to, keyed by query id, as the JSON dicts Spark reports."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer._add(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.terminated.add(str(event.id))

        self.listener = _L()
        self.by_query: dict[str, list[dict]] = defaultdict(list)
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

    def _add(self, progress: dict) -> None:
        with self._lock:
            self.by_query[progress["id"]].append(progress)

    def attach(self, spark) -> None:
        spark.streams.addListener(self.listener)

    def attach_to_child_sessions(self) -> None:
        """Also listen to every session later made with ``newSession``.
        A listener only hears the queries of the session it is attached
        to, and the engine runs its streaming twins in child sessions."""
        from pyspark.sql import SparkSession

        new_session = SparkSession.newSession

        def patched(spark):
            child = new_session(spark)
            self.attach(child)
            return child

        SparkSession.newSession = patched

    def progress_of(self, query_id: str) -> list[dict]:
        """The progress of one query, once its termination has been heard
        (events arrive asynchronously, after the query reported them)."""
        deadline = time.time() + LISTENER_TIMEOUT_S
        while time.time() < deadline:
            with self._lock:
                if query_id in self.terminated:
                    break
            time.sleep(0.05)
        with self._lock:
            return sorted(self.by_query.get(query_id, []), key=lambda p: p["batchId"])

    def snapshot(self) -> dict[str, list[dict]]:
        with self._lock:
            return {k: list(v) for k, v in self.by_query.items()}
