"""The two workloads.  Each drives the engine from outside, through its
public functions only, and returns a ``Result``.

``query_mix`` is a closed loop with one client: each invocation builds a
registry query, plans it and executes it into the ``noop`` sink, then the
next one starts.  ``live_ticks`` is an open loop: a generator thread lands
trade files on a fixed schedule while the bronze and silver streams run.

The set-up runs once, cold, and is timed from process start: imports, the
JVM launch, the session, and the untimed first invocation of every mix
member.  Oracle and silver checks run after the timed phase, outside every
span.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

from . import inputs
from .trace import (
    JobGroups,
    ProgressListener,
    Tracer,
    backlog_max,
    duration_median,
    epoch_s,
    first_commit_after,
    freshness,
    group_stats,
    median,
    read_event_logs,
    self_times,
    state_totals,
    tail,
)

# A closed-loop run lasts whole passes until both --seconds and this many
# invocations are reached.  At 30, six passes, the tail rule (ten samples
# beyond) reports p66.7, the 20th sample: above the 18 dashboard samples,
# so the tail is set by the two heavy members, while the median falls among
# the dashboard samples.  Each heavy invocation costs about four dashboard
# ones, and the run must fit the benchmark's time budget, so a pass has
# three dashboard queries, not more.
MIN_INVOCATIONS = 30

# query_mix: the dashboard surface over the trade tape (executor-bound),
# connected components over the documents (construction-bound: many small
# driver-side jobs) and the streaming/versioned-table machinery
# (checkpoints, state stores, table commits).
DASHBOARD = ["gold_market_summary", "minute_ohlc", "rsi_14"]
DRIVER_SIDE = ["dedup_clusters"]
MACHINERY = ["streaming_incremental_gold"]
# One pass of the closed loop invokes each member once, in seeded order.
PASS = DASHBOARD + DRIVER_SIDE + MACHINERY
# only the tables the mix reads get catalog handles; the oracle sees all ten
MIX_TABLES = ["events", "documents"]
TAPE_ROWS = 20_000
DOCS = 500

# live_ticks (the feed rate is fixed in ``inputs``).  Processing-time
# triggers, as the reference deploys its streams (there 5 s and 10 s).
# Spark fires them on multiples of the interval since the epoch, and the
# feed starts on a multiple of the silver interval, so every run sees the
# same phase between landing and triggers: freshness then
# varies with the batch work, not with where a file fell in the schedule.
BRONZE_TRIGGER_S = 1
SILVER_TRIGGER_S = 3
WARM_FILES = 2  # feed files used to fit the model and warm the streams
DRAIN_TIMEOUT_S = 60.0
JVM_EXIT_TIMEOUT_S = 30.0


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    e2e: dict[str, float]
    layers: dict[str, float]
    info: dict


class Bench:
    """One benchmark process: its run directory, Spark session, tracer."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, run_dir: str, t_start: float):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.run_dir, self.t_start = run_dir, t_start
        self.tracer = Tracer(trace)
        self.listener = ProgressListener() if trace else None
        if self.listener:
            self.listener.attach_to_child_sessions()
        self.spark = None
        self.jobs = None
        self.cores = 0
        self.inputs_s = 0.0
        self.setup_parts: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        p = os.path.join(self.run_dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def start_session(self):
        from real_time_financial_lakehouse_spark.session import default_parallelism, get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # JVM temp files and perf data stay inside the run directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if self.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.path("eventlog")
            # one plain JSON-lines file per application, for read_event_logs
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cores = default_parallelism()
        self.jobs = JobGroups(self.spark) if self.trace else None
        if self.trace:
            self.listener.attach(self.spark)
        return self.spark

    def group(self, gid: str):
        return self.jobs.group(gid) if self.jobs else contextlib.nullcontext()

    def setup(self, steps: list) -> float:
        """Start the session, run ``steps`` (a list of (layer name,
        callable)) and return ``setup_s``: the wall from process start to
        here, less input generation, so it includes the imports and the JVM
        launch.  Each step's own wall goes into ``setup_parts``."""
        for name, fn in [("session.start_s", self.start_session)] + steps:
            t = time.perf_counter()
            with self.tracer.span(name):
                fn()
            self.setup_parts[name] = time.perf_counter() - t
        return time.perf_counter() - self.t_start - self.inputs_s

    def stop(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None
        stop_jvm()

    def peak_rss_mb(self) -> float:
        """VmHWM of this Python driver plus its JVM."""
        from pyspark import SparkContext

        pids = [os.getpid()]
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            pids.append(proc.pid)
        return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def stop_jvm() -> None:
    """End the gateway JVM and wait for it.  PySpark leaves it to exit by
    itself once it reads end-of-file on its stdin, which happens only after
    this process has gone, so without this the JVM outlives the run."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        _log_failure("gateway shutdown")
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(JVM_EXIT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_times() -> tuple[int, int]:
    """(all, steal) jiffies of this machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took from this machine between two
    ``cpu_times`` readings: reported beside the figures, since it slows
    every measured wall time alike."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


# ----------------------------------------------------------------- query_mix


def query_mix(b: Bench) -> Result:
    from real_time_financial_lakehouse_spark import catalog, registry
    from real_time_financial_lakehouse_spark.oracle import compare_frames, run_oracle

    data = b.path("inputs")
    t = time.perf_counter()
    inputs.write_fixture_tables(data, b.seed, TAPE_ROWS, DOCS)
    b.inputs_s = time.perf_counter() - t
    order = PASS[:]
    random.Random(b.seed).shuffle(order)
    members = list(dict.fromkeys(order))

    def invoke(name: str, inv: int, collect: bool = False):
        with b.tracer.span("registry.construct", inv), b.group(f"c{inv}"):
            df = registry.QUERIES[name](b.spark, data)
        with b.tracer.span("planner.plan", inv), b.group(f"p{inv}"):
            df._jdf.queryExecution().executedPlan()
        with b.tracer.span("executor.execute", inv), b.group(f"e{inv}"):
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
        return None

    # The warm-up invocation collects its rows instead of discarding them;
    # they are compared with the oracle after the timed phase, so the check
    # costs no second run of the query.
    warm_rows = {}

    def warmup() -> None:
        for i, name in enumerate(members):
            warm_rows[name] = invoke(name, -1 - i, collect=True)

    setup_s = b.setup(
        [
            ("catalog.load_s", lambda: catalog.load_tables(b.spark, data, MIX_TABLES)),
            ("registry.warmup_s", warmup),
        ]
    )

    samples: list[tuple[str, float]] = []  # (query, latency) of completed invocations
    failed = 0
    wall0 = time.time()
    cpu0 = cpu_times()
    t0 = time.perf_counter()
    inv = 0
    while True:
        name = order[inv % len(order)]
        t = time.perf_counter()
        try:
            with b.tracer.span("invocation", inv):
                invoke(name, inv)
            samples.append((name, time.perf_counter() - t))
        except Exception:
            failed += 1
            _log_failure(f"invocation {inv} ({name})")
        inv += 1
        if inv % len(order):
            continue  # whole passes only, so every run has the same mix
        # attempts, not successes, so a run whose invocations fail still ends
        if time.perf_counter() - t0 >= b.seconds and inv >= MIN_INVOCATIONS:
            break
    wall = time.perf_counter() - t0
    wall1 = time.time()
    steal = steal_share(cpu0, cpu_times())
    peak = b.peak_rss_mb()

    t_check = time.perf_counter()
    problems = {}
    for name in sorted(warm_rows):
        try:
            p = compare_frames(warm_rows[name], run_oracle(registry.ORACLE_SQL[name], data))
        except Exception as exc:
            _log_failure(f"oracle check of {name}")
            p = [repr(exc)]
        if p:
            problems[name] = p
    checks_s = time.perf_counter() - t_check
    twins = b.listener.snapshot() if b.listener else {}
    b.stop()

    latencies = [lat for _, lat in samples]
    # the percentile is the tail rule's at the shortest run: whole passes
    # until MIN_INVOCATIONS, whatever more a fast host fits into --seconds
    q_tail = tail(latencies, run_n=-(-MIN_INVOCATIONS // len(PASS)) * len(PASS)) or {
        "value": max(latencies, default=0.0), "pct": 100.0, "n": len(latencies)}
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(latencies) / wall,
        "latency_p50_s": median(latencies),
        "latency_tail_s": q_tail["value"],
        "peak_rss_mb": peak,
    }
    info = {
        "latency_tail_pct": q_tail["pct"],
        "invocations": len(latencies),
        "timed_wall_s": wall,
        "host_steal_share": steal,
        "inputs_s": b.inputs_s,
        "setup_parts": b.setup_parts,
        "checks_s": checks_s,
        "query_p50_s": {n: median([lat for q, lat in samples if q == n]) for n in members},
        "tape_rows": TAPE_ROWS,
        "mix": order,
        "oracle_mismatches": problems,
    }
    layers = _query_layers(b, inv, twins, wall0, wall1) if b.trace else {}
    layers["registry.warmup_s"] = b.setup_parts["registry.warmup_s"]
    layers["catalog.load_s"] = b.setup_parts["catalog.load_s"]
    return Result(not problems and not failed, inv, failed, e2e, layers, info)


def _query_layers(b: Bench, invocations: int, twins: dict, wall0: float, wall1: float) -> dict:
    """Per-layer figures of the timed invocations ``0 .. invocations-1``."""
    spans = [s for s in b.tracer.spans if s["end"] is not None]
    own = self_times(spans)
    timed = [s for s in spans if s["inv"] is not None and s["inv"] >= 0]

    def per_inv(layer: str) -> list[float]:
        return [own[s["id"]] for s in timed if s["name"] == layer]

    stats = group_stats(read_event_logs(os.path.join(b.run_dir, "eventlog")))
    n = max(1, invocations)

    def total(prefix: str, key: str) -> float:
        return sum(stats.get(f"{prefix}{i}", {}).get(key, 0) for i in range(invocations))

    exec_s = sum(per_inv("executor.execute"))
    task_s = total("e", "task_run_s")
    construct_jobs = sum(len(b.jobs.jobs.get(f"c{i}", [])) for i in range(invocations))

    # streaming twins: progress of every query that ran inside the timed loop
    batches = [
        p
        for runs in twins.values()
        for p in runs
        if wall0 <= epoch_s(p["timestamp"]) <= wall1 and p.get("numInputRows", 0) > 0
    ]
    twin_queries = [
        runs for runs in twins.values() if runs and wall0 <= epoch_s(runs[0]["timestamp"]) <= wall1
    ]
    layers = {
        "registry.construct_s": median(per_inv("registry.construct")),
        "registry.construct_jobs": construct_jobs / n,
        "registry.construct_job_s": total("c", "job_s") / n,
        "planner.plan_s": median(per_inv("planner.plan")),
        "executor.execute_s": median(per_inv("executor.execute")),
        "executor.task_run_s": task_s / n,
        "executor.slot_busy_share": task_s / (exec_s * b.cores) if exec_s else 0.0,
        "streaming.twins.batches": len(batches) / max(1, len(twin_queries)),
        "streaming.twins.batch_s": median([p["batchDuration"] / 1000.0 for p in batches]),
        "streaming.twins.wal_commit_s": median(
            [p["durationMs"].get("walCommit", 0) / 1000.0 for p in batches]
        ),
        "streaming.twins.state_rows": median(
            [float(state_totals(runs)["state_rows"]) for runs in twin_queries]
        ),
        "traced.latency_p50_s": median([s["end"] - s["start"] for s in timed if s["name"] == "invocation"]),
    }
    for key in ("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        layers[f"executor.{key}"] = total("e", key) / n
    return layers


# ----------------------------------------------------------------- live_ticks


SILVER_KEYS = ["window_start", "window_end", "symbol"]
# sliding_window_agg rounds both aggregates to 6 decimals; the stream merges
# partial aggregates in another order than the batch query, so a value may
# land one rounding step away
ROUNDING_STEP = 1e-6


def silver_mismatches(got, want) -> list[str]:
    """Compare the last silver refinement per window with the batch
    aggregate (both pandas frames): the same windows, the same event
    counts, and volatility and average price within one rounding step."""
    m = got.merge(want, on=SILVER_KEYS, how="outer", suffixes=("_got", "_want"), indicator=True)
    problems = []
    one_sided = m[m["_merge"] != "both"]
    if len(one_sided):
        problems.append(f"{len(one_sided)} windows in only one side: {one_sided[SILVER_KEYS + ['_merge']].head(3).to_dict('records')}")
    m = m[m["_merge"] == "both"]
    off = m[m["n_events_got"] != m["n_events_want"]]
    if len(off):
        problems.append(f"{len(off)} windows with another event count: {off.head(3).to_dict('records')}")
    for c in ("volatility", "average_price"):
        # 1.5 steps: the difference of two 6-decimal doubles can exceed 1e-6
        off = m[(m[f"{c}_got"] - m[f"{c}_want"]).abs() > ROUNDING_STEP * 1.5]
        if len(off):
            problems.append(f"{len(off)} windows with another {c}: {off.head(3).to_dict('records')}")
    return problems


def _trades(spark, rows: list[dict]):
    """Feed rows as a bronze-shaped DataFrame."""
    import pandas as pd

    from real_time_financial_lakehouse_spark.schemas import TRADE_SCHEMA

    return spark.createDataFrame(pd.DataFrame(rows, columns=TRADE_SCHEMA.fieldNames()), TRADE_SCHEMA)


def _silver_input(df):
    """The silver stream's cast projection (process_silver.py:47): event
    time from the ISO text, symbol and price under the names the silver
    aggregation reads."""
    from pyspark.sql import functions as F

    return df.select(
        F.col("timestamp").cast("timestamp").alias("ts"),
        F.col("symbol").alias("event_type"),
        F.col("price").alias("value"),
    )


class Pipeline:
    """Landing dir -> bronze stream -> bronze parquet -> silver stream."""

    def __init__(self, b: Bench, name: str, infer):
        self.b, self.infer = b, infer
        self.landing = b.path("live", name, "landing")
        self.bronze = b.path("live", name, "bronze")
        self.silver = b.path("live", name, "silver")
        self.ckpt = b.path("live", name, "ckpt")
        self.bronze_q = self.silver_q = None

    def start(self, available_now: bool = False, max_files: int | None = None) -> None:
        from real_time_financial_lakehouse_spark.schemas import TRADE_SCHEMA
        from real_time_financial_lakehouse_spark.streaming.bronze import json_file_source, write_bronze
        from real_time_financial_lakehouse_spark.streaming.silver import run_silver_stream

        spark = self.b.spark
        self.bronze_q = write_bronze(
            json_file_source(spark, self.landing, max_files_per_trigger=max_files),
            self.bronze,
            os.path.join(self.ckpt, "bronze"),
            trigger_seconds=BRONZE_TRIGGER_S,
            available_now=available_now,
        )
        if available_now:
            self.bronze_q.awaitTermination()
        else:
            # the silver source must see the bronze sink's metadata log
            deadline = time.time() + 30
            while not os.path.isdir(os.path.join(self.bronze, "_spark_metadata")):
                if time.time() > deadline:
                    raise RuntimeError("bronze sink never created its log")
                time.sleep(0.05)
        reader = spark.readStream.schema(TRADE_SCHEMA)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        bronze = _silver_input(reader.parquet(self.bronze))
        self.silver_q = run_silver_stream(
            bronze, self.silver, os.path.join(self.ckpt, "silver"), infer=self.infer,
            trigger_seconds=SILVER_TRIGGER_S, available_now=available_now,
        )
        if available_now:
            self.silver_q.awaitTermination()

    def land(self, i: int, text: str) -> None:
        """Write a file whole, then move it into the landing dir."""
        tmp = self.b.path("live", "staging")
        src = os.path.join(tmp, f"f{i:06d}.json")
        with open(src, "w") as fh:
            fh.write(text)
        os.rename(src, os.path.join(self.landing, f"f{i:06d}.json"))

    @staticmethod
    def progress(q) -> list[dict]:
        return [json.loads(p.json) for p in q.recentProgress]


def live_ticks(b: Bench) -> Result:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from real_time_financial_lakehouse_spark.ml.regression import infer_with_fallback, train
    from real_time_financial_lakehouse_spark.operators.silver import sliding_window_agg

    feed = inputs.TradeFeed(b.seed)
    t = time.perf_counter()
    now_ms = int(time.time() * 1000)
    warm_rows = [r for i in range(WARM_FILES) for r in feed.rows(i, now_ms - 1000 * i, warm=True)]
    b.inputs_s = time.perf_counter() - t

    model = None
    infer_calls: list[float] = []

    def infer(batch):
        t = time.perf_counter()
        try:
            return infer_with_fallback(model, batch)
        finally:
            infer_calls.append(time.perf_counter() - t)

    def fit() -> None:
        nonlocal model
        model = train(sliding_window_agg(_silver_input(_trades(b.spark, warm_rows))))

    def warm_streams() -> None:
        # one micro-batch per file, so the streams run several batches warm
        p = Pipeline(b, "warm", infer)
        for i in range(WARM_FILES):
            p.land(i, inputs.TradeFeed.encode(warm_rows[i * inputs.ROWS_PER_FILE : (i + 1) * inputs.ROWS_PER_FILE]))
        p.start(available_now=True, max_files=1)

    setup_s = b.setup([("ml.fit_s", fit), ("streaming.warmup_s", warm_streams)])
    infer_calls.clear()

    # ---- timed: the generator lands files on schedule while streams run
    p = Pipeline(b, "live", infer)
    p.start()
    n_files = b.seconds * inputs.FILES_PER_S
    grid = SILVER_TRIGGER_S * 1000
    start_ms = (int(time.time() * 1000) // grid + 1) * grid + 100
    due_ms = [start_ms + i * inputs.INTERVAL_MS for i in range(n_files)]
    landed: list[float] = []
    gen_error: list[BaseException] = []

    def generate() -> None:
        try:
            for i, due in enumerate(due_ms):
                text = inputs.TradeFeed.encode(feed.rows(i, due))
                delay = due / 1000.0 - time.time()
                if delay > 0:
                    time.sleep(delay)
                p.land(i, text)
                landed.append(time.time())
        except BaseException as exc:  # reported, then the run fails
            gen_error.append(exc)
            raise

    cpu0 = cpu_times()
    gen = threading.Thread(target=generate, name="perfbench-feed")
    gen.start()
    gen.join()
    last_due = due_ms[-1] / 1000.0
    deadline = time.time() + DRAIN_TIMEOUT_S
    while first_commit_after(Pipeline.progress(p.silver_q), last_due) is None:
        if time.time() > deadline or not p.silver_q.isActive:
            break
        time.sleep(0.05)
    p.bronze_q.processAllAvailable()
    p.silver_q.processAllAvailable()
    steal = steal_share(cpu0, cpu_times())
    peak = b.peak_rss_mb()
    bronze_prog, silver_prog = Pipeline.progress(p.bronze_q), Pipeline.progress(p.silver_q)
    p.bronze_q.stop()
    p.silver_q.stop()
    if b.listener:
        # the traced run takes the same progress records from its listener
        bronze_prog = b.listener.progress_of(str(p.bronze_q.id))
        silver_prog = b.listener.progress_of(str(p.silver_q.id))

    # ---- checks, outside the timed phase
    t_check = time.perf_counter()
    fresh = freshness(silver_prog, [d / 1000.0 for d in due_ms])
    drained = first_commit_after(silver_prog, last_due)
    state = state_totals(silver_prog)
    all_rows = [r for i, due in enumerate(due_ms) for r in feed.rows(i, due)]
    problems = []
    if gen_error:
        problems.append(f"generator failed: {gen_error[0]!r}")
    if drained is None:
        problems.append("silver never committed the last file")
    if state["late_rows_dropped"]:
        problems.append(f"{state['late_rows_dropped']} rows dropped as late")
    cols = ["window_start", "window_end", "symbol", "volatility", "average_price", "n_events"]
    silver = b.spark.read.parquet(p.silver)
    last = Window.partitionBy("window_start", "symbol").orderBy(F.col("processed_time").desc())
    got = silver.withColumn("_r", F.row_number().over(last)).filter("_r = 1").select(*cols)
    want = sliding_window_agg(_silver_input(_trades(b.spark, all_rows))).select(*cols)
    problems += silver_mismatches(got.toPandas(), want.toPandas())
    b.stop()

    rows_in = sum(x.get("numInputRows", 0) for x in silver_prog)
    span_s = (drained or time.time()) - due_ms[0] / 1000.0
    f_tail = tail(fresh) or {"value": max(fresh, default=0.0), "pct": 100.0, "n": len(fresh)}
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": rows_in / span_s,
        "latency_p50_s": median(fresh),
        "latency_tail_s": f_tail["value"],
        "peak_rss_mb": peak,
    }
    info = {
        "latency_tail_pct": f_tail["pct"],
        "setup_parts": b.setup_parts,
        "silver_batches": sum(1 for x in silver_prog if x.get("numInputRows", 0) > 0),
        "fresh_files": len(fresh),
        "host_steal_share": steal,
        "checks_s": time.perf_counter() - t_check,
        "drain_s": (drained - last_due) if drained else None,
        "live_rows_per_s": inputs.ROWS_PER_S,
        "live_files_per_s": inputs.FILES_PER_S,
        "files": n_files,
        "rows": len(all_rows),
        "late_share": feed.late_share,
        "inputs_s": b.inputs_s,
        "silver_mismatches": problems,
    }
    layers = {}
    if b.trace:
        data_b = [x for x in bronze_prog if x.get("numInputRows", 0) > 0]
        data_s = [x for x in silver_prog if x.get("numInputRows", 0) > 0]
        layers = {
            "ml.fit_s": b.setup_parts["ml.fit_s"],
            "streaming.warmup_s": b.setup_parts["streaming.warmup_s"],
            "streaming.bronze.batches": float(len(data_b)),
            "streaming.bronze.batch_p50_s": median([x["batchDuration"] / 1000.0 for x in data_b]),
            "streaming.silver.batches": float(len(data_s)),
            "streaming.silver.batch_p50_s": median([x["batchDuration"] / 1000.0 for x in data_s]),
            "streaming.silver.add_batch_s": duration_median(silver_prog, "addBatch"),
            "streaming.silver.latest_offset_s": duration_median(silver_prog, "latestOffset"),
            "streaming.silver.query_planning_s": duration_median(silver_prog, "queryPlanning"),
            "streaming.silver.wal_commit_s": duration_median(silver_prog, "walCommit"),
            "streaming.silver.commit_offsets_s": duration_median(silver_prog, "commitOffsets"),
            "streaming.silver.state_rows": float(state["state_rows"]),
            "streaming.silver.state_bytes": float(state["state_bytes"]),
            "streaming.silver.late_rows_dropped": float(state["late_rows_dropped"]),
            "streaming.drain_s": (drained - last_due) if drained else 0.0,
            "ml.infer_s": sum(infer_calls),
            "ml.infer_calls": float(len(infer_calls)),
            "sources.backlog_files_max": float(backlog_max(bronze_prog, landed, inputs.ROWS_PER_FILE)),
            "generator.late_s": max((t - d / 1000.0 for t, d in zip(landed, due_ms)), default=0.0),
            "traced.latency_p50_s": median(fresh),
        }
    return Result(not problems, n_files, n_files - len(landed), e2e, layers, info)


WORKLOADS = {"query_mix": query_mix, "live_ticks": live_ticks}

