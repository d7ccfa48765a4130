"""Tests of the benchmark's own pure code: the tail rule, freshness from
progress events, span self time, event-log attribution, the input
generators, the metric list in BENCHMARK.json and the clean-up of left
processes.  None of them starts Spark.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import inputs, trace
from real_time_financial_lakehouse_spark.catalog import TABLE_NAMES

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------------------------ tail rule


def test_tail_needs_more_than_ten_samples():
    assert trace.tail([1.0] * 10) is None
    got = trace.tail([float(i) for i in range(11)])
    assert got == {"value": 0.0, "pct": 100.0 / 11, "n": 11}


@pytest.mark.parametrize(
    "n, pct, value",
    [(20, 50.0, 10.0), (100, 90.0, 90.0), (1000, 99.0, 990.0), (37, 100 * 27 / 37, 27.0)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct, value):
    values = [float(i) for i in range(n, 0, -1)]  # order must not matter
    got = trace.tail(values)
    assert got["pct"] == pytest.approx(pct)
    assert got["value"] == value
    assert sum(v > got["value"] for v in values) == 10


def test_tail_at_a_fixed_run_length_keeps_its_percentile():
    values = [float(i) for i in range(1, 34)]
    got = trace.tail(values, run_n=22)
    assert got["pct"] == pytest.approx(100 * 12 / 22)
    assert got["value"] == 18.0
    assert sum(v > got["value"] for v in values) == 15
    assert trace.tail(values[:21], run_n=22) is None


# ------------------------------------------------------------------ freshness


def _progress(batch, start, duration_ms, rows, newest=None):
    p = {
        "batchId": batch,
        "timestamp": start,
        "batchDuration": duration_ms,
        "numInputRows": rows,
        "eventTime": {},
        "durationMs": {"addBatch": duration_ms // 2, "walCommit": 10},
        "stateOperators": [{"numRowsTotal": 7 * batch, "memoryUsedBytes": 100, "numRowsDroppedByWatermark": 0}],
    }
    if newest:
        p["eventTime"] = {"max": newest, "watermark": "1970-01-01T00:00:00.000Z"}
    return p


BASE = trace.epoch_s("2026-10-17T00:00:00.000Z")


def test_epoch_parses_spark_progress_time():
    assert trace.epoch_s("2026-10-17T00:00:01.250Z") - BASE == pytest.approx(1.25)


def test_freshness_per_file_uses_first_batch_reaching_its_due_time():
    events = [
        _progress(0, "2026-10-17T00:00:01.000Z", 500, 1000, "2026-10-17T00:00:00.750Z"),
        _progress(1, "2026-10-17T00:00:01.600Z", 400, 0),  # no data: ignored
        _progress(2, "2026-10-17T00:00:02.000Z", 1000, 500, "2026-10-17T00:00:01.500Z"),
    ]
    due = [BASE + 0.5, BASE + 0.75, BASE + 1.0, BASE + 1.5, BASE + 9.0]
    got = trace.freshness(events, due)
    # files due at 0.5 and 0.75 committed with batch 0 at 1.5 s, the next
    # two with batch 2 at 3.0 s; the last file was never committed
    assert got == pytest.approx([1.0, 0.75, 2.0, 1.5])


def test_first_commit_after_and_state_totals():
    events = [
        _progress(0, "2026-10-17T00:00:01.000Z", 500, 10, "2026-10-17T00:00:00.750Z"),
        _progress(1, "2026-10-17T00:00:02.000Z", 250, 10, "2026-10-17T00:00:01.900Z"),
    ]
    assert trace.first_commit_after(events, BASE + 1.0) - BASE == pytest.approx(2.25)
    assert trace.first_commit_after(events, BASE + 5.0) is None
    assert trace.state_totals(events) == {"state_rows": 7, "state_bytes": 100, "late_rows_dropped": 0}
    assert trace.duration_median(events, "addBatch") == pytest.approx(0.1875)


def test_backlog_counts_landed_files_not_yet_taken():
    events = [
        _progress(0, "2026-10-17T00:00:01.000Z", 100, 2 * 500),
        _progress(1, "2026-10-17T00:00:03.000Z", 100, 3 * 500),
    ]
    landed = [BASE + t for t in (0.2, 0.9, 1.5, 2.0, 2.5, 3.5)]
    # batch 0 finds 2 files waiting, batch 1 finds 5 landed minus 2 taken
    assert trace.backlog_max(events, landed, 500) == 3


# ------------------------------------------------------------------ spans


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        {"id": 0, "name": "inv", "parent": None, "inv": 0, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "inv": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "name": "b", "parent": 0, "inv": 0, "start": 2.0, "end": 5.0},
        {"id": 3, "name": "c", "parent": 0, "inv": 0, "start": 9.0, "end": 12.0},
        {"id": 4, "name": "d", "parent": 2, "inv": 0, "start": 2.5, "end": 3.0},
    ]
    own = trace.self_times(spans)
    assert own == pytest.approx({0: 10.0 - 4.0 - 1.0, 1: 2.0, 2: 2.5, 3: 3.0, 4: 0.5})


def test_tracer_records_nesting_and_disabled_tracer_records_nothing():
    t = trace.Tracer(True)
    with t.span("outer", 1):
        with t.span("inner", 1):
            pass
    assert [(s["name"], s["parent"], s["inv"]) for s in t.spans] == [("outer", None, 1), ("inner", 0, 1)]
    off = trace.Tracer(False)
    with off.span("outer"):
        pass
    assert off.spans == []


def test_group_stats_attributes_tasks_to_the_job_group_of_their_stage():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000, "Stage IDs": [3, 4],
         "Properties": {"spark.jobGroup.id": "e7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1000, "Stage IDs": [5],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
            "Executor Run Time": 250, "Input Metrics": {"Bytes Read": 10},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 30},
            "Memory Bytes Spilled": 4, "Disk Bytes Spilled": 5}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Task Metrics": {"Executor Run Time": 750}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 5, "Task Metrics": {"Executor Run Time": 999}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 4}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2500},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2500},
    ]
    assert trace.group_stats(events) == {
        "e7": {"jobs": 1, "job_s": 1.5, "stages": 2, "tasks": 2, "task_run_s": 1.0, "input_bytes": 10,
               "shuffle_write_bytes": 30, "shuffle_read_bytes": 3, "spill_bytes": 9}
    }


# ------------------------------------------------------------------ inputs


def test_trade_feed_is_deterministic_per_seed():
    a, b, c = (inputs.TradeFeed(s) for s in (5, 5, 6))
    due = 1_800_000_000_000
    assert a.rows(3, due) == b.rows(3, due)
    assert a.rows(3, due) != c.rows(3, due)
    assert a.rows(3, due) != a.rows(3, due, warm=True)


def test_trade_feed_stamps_due_time_and_stays_inside_the_watermark():
    feed = inputs.TradeFeed(11)
    due = 1_800_000_000_000
    rows = feed.rows(0, due)
    assert len(rows) == 500
    assert rows[-1]["timestamp"] == inputs.iso_ms(due)
    stamps = sorted(r["timestamp"] for r in rows)
    assert stamps[-1] == inputs.iso_ms(due)
    assert stamps[0] > inputs.iso_ms(due - 60_000)
    assert {r["symbol"] for r in rows} <= set(inputs.TradeFeed.SYMBOLS)


def test_fixture_tables_are_deterministic_per_seed():
    a = inputs.fixture_tables(3, 2000, 50)
    b = inputs.fixture_tables(3, 2000, 50)
    c = inputs.fixture_tables(4, 2000, 50)
    assert sorted(a) == sorted(TABLE_NAMES)
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["events"].equals(c["events"])
    ts = a["events"].column("ts").cast("int64").to_pylist()
    assert all(x < y for x, y in zip(ts, ts[1:]))


# ------------------------------------------------------------------ silver check


def _silver(rows):
    import pandas as pd

    return pd.DataFrame(
        rows, columns=["window_start", "window_end", "symbol", "volatility", "average_price", "n_events"]
    )


def test_silver_check_allows_one_rounding_step_and_nothing_else():
    from perfbench.workloads import silver_mismatches

    want = _silver([(0, 60, "BTC", 1.5, 60000.123456, 10), (30, 90, "BTC", 0.0, 60000.5, 1)])
    assert silver_mismatches(want.copy(), want) == []
    step = _silver([(0, 60, "BTC", 1.500001, 60000.123455, 10), (30, 90, "BTC", 0.0, 60000.5, 1)])
    assert silver_mismatches(step, want) == []
    two_steps = _silver([(0, 60, "BTC", 1.500002, 60000.123456, 10), (30, 90, "BTC", 0.0, 60000.5, 1)])
    assert len(silver_mismatches(two_steps, want)) == 1
    count = _silver([(0, 60, "BTC", 1.5, 60000.123456, 11), (30, 90, "BTC", 0.0, 60000.5, 1)])
    assert len(silver_mismatches(count, want)) == 1
    assert len(silver_mismatches(want.iloc[:1], want)) == 1


# ------------------------------------------------------------------ contract


def test_benchmark_json_keeps_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert sorted(spec) == ["command", "end_to_end", "paths", "per_layer", "run_seconds", "workloads"]
    from perfbench import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert 1 <= spec["run_seconds"] <= 60


# ------------------------------------------------------------ process cleanup


def test_reap_children_stops_processes_orphaned_under_the_run():
    # a shell starts a sleeper and exits, as the JVM leaves its Python
    # workers behind; the sleeper must be stopped and waited for
    script = """
import os, subprocess, sys
sys.path.insert(0, sys.argv[1])
from perfbench import run
run.become_subreaper()
pid = int(subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"], capture_output=True, text=True).stdout)
assert run.child_pids() == [pid]
run.reap_children()
assert run.child_pids() == [] and not os.path.exists(f"/proc/{pid}")
"""
    subprocess.run([sys.executable, "-c", script, ROOT], check=True, timeout=60)
