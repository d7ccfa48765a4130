"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs are made from ``--seed`` inside a
per-run directory under ``.perfbench_run/``; the engine's scratch output,
Spark's local and temp files and (traced) the Spark event log go there
too, and the directory is removed when the run ends.  Everything printed
before the last line is a readable report; the last line of standard
output is the result JSON.  The exit code is 0 only when every oracle and
silver check passed.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` runs the
workload with spans, job groups, the event log and the streaming listener
on, and reports the per-layer metrics instead.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.getcwd()
PR_SET_CHILD_SUBREAPER = 36
CHILD_EXIT_TIMEOUT_S = 10.0


def become_subreaper() -> None:
    """Have the processes the JVM starts (Python workers) handed to this
    process, not to init, when the JVM ends before them, so that
    ``reap_children`` can stop and wait for them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def child_pids() -> list[int]:
    me, pids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # the fields after the command name, which may hold spaces
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended meanwhile
        if int(fields[1]) == me:
            pids.append(int(entry))
    return pids


def reap_children() -> None:
    """Stop every process still left under this one and wait for each:
    SIGTERM first, SIGKILL after ``CHILD_EXIT_TIMEOUT_S``."""
    deadline = time.monotonic() + CHILD_EXIT_TIMEOUT_S
    while pids := child_pids():
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass  # waited for already, by its Popen

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_record(args) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        import real_time_financial_lakehouse_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not in {ROOT}: {exc}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    scratch = os.path.join(run_dir, "scratch")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(scratch)
    os.makedirs(tmp)
    # the engine's scratch_dir() never cleans up; a per-run directory keeps
    # one run's leftovers from inflating the next run's figures
    os.environ["RTFL_SCRATCH_DIR"] = scratch
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # the launcher JVM that spark-submit starts first would write to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None

    become_subreaper()
    bench = None
    try:
        bench = workloads.Bench(args.workload, args.seed, args.seconds, bool(args.trace), run_dir, T_START)
        result = workloads.WORKLOADS[args.workload](bench)
        result.layers["scratch.bytes_left"] = float(workloads.dir_bytes(scratch))
        result.layers["session.start_s"] = bench.setup_parts["session.start_s"]
        if args.trace:
            bench.tracer.dump(os.path.join(ROOT, ".perfbench_run", f"spans-{args.workload}-{args.seed}.json"))
    finally:
        try:
            if bench is not None:
                bench.stop()
        finally:
            reap_children()
            shutil.rmtree(run_dir, ignore_errors=True)

    # BENCHMARK.json names the metrics: every end-to-end one must have been
    # measured; a per-layer one the workload does not exercise reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.trace:
        declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unknown = set(result.layers) - set(declared)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {n: {"value": float(result.layers.get(n, 0.0)), "unit": u} for n, u in declared.items()}
    else:
        metrics = {m["name"]: {"value": float(result.e2e[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}
    report = {"workload": args.workload, "host": host_record(args), **result.info}
    print("perfbench report: " + json.dumps(report, default=str))
    for name, m in metrics.items():
        print(f"  {name:38s} {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": result.correct,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if result.correct else 1


if __name__ == "__main__":
    sys.exit(main())
