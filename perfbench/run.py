"""CDC ingest benchmark: one workload per invocation, run from the repo root.

    python3 perfbench/run.py --workload drain_wide --seed 1 --seconds 10 --trace 0

The engine runs on ``local[<cores available to this process>]`` in this
process, with every file it writes (segments, table, checkpoints, Spark
scratch) under ``.perfbench/`` in the repo root, removed at exit, and
``DCS_SESSION_WARMUP=0`` (each set-up warms the engine with a micro-batch
of its own). Each run prints its metrics by name and unit, one per line,
then as its last line one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the end-to-end
ones listed in BENCHMARK.json; with ``--trace 1`` they are the per-layer
ones, and the spans are written to ``.perfbench/traces/``.

Exits 2 without a result when the engine's sources are not next to this
directory, and 1 when a workload raised.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# figures printed next to the gated metrics, with their units
INFO_UNITS = {
    "events_per_s": "events/s",
    "batch_p50_s": "s",
    "freshness_p50_s": "s",
    "freshness_tail_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "backlog_end_files": "files",
    "failed_frac": "ratio",
    "bench.input_gen_s": "s",
    "session.start_s": "s",
    "session.warm_batch_s": "s",
}


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _stop_jvm() -> None:
    """Stop the Spark gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        return _fail(f"cannot read BENCHMARK.json: {e}")
    if not os.path.isfile(os.path.join(ROOT, "datacollector_spark", "__init__.py")):
        return _fail(f"the datacollector_spark package is not in {ROOT}")
    sys.path.insert(0, ROOT)
    import workloads  # starts nothing: Spark starts in Bench.setup

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEMORY": workloads.DRIVER_MEMORY,
            "DCS_SPARK_LOCAL_DIR": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "DCS_SESSION_WARMUP": "0",
        }
    )
    os.environ.pop("DCS_MERGE_DEBUG", None)
    tempfile.tempdir = None  # re-read TMPDIR

    if args.workload not in workloads.WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    trace_path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    bench = workloads.Bench(
        workloads.WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work, cores
    )
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        rep, values = bench.run(trace_path)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        # each step runs even when an earlier one raised (a run terminated
        # mid-job can fail to stop its session cleanly)
        try:
            bench.stop_session()
        finally:
            try:
                _stop_jvm()
            finally:
                shutil.rmtree(work, ignore_errors=True)

    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in values]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} cores={cores}")
    for name, m in metrics.items():
        print(f"  {name:30s} {m['value']:>16.6g} {m['unit']}")
    for name, unit in INFO_UNITS.items():
        if name in bench.info and name not in metrics:
            v = bench.info[name]
            value, note = v if isinstance(v, tuple) else (v, "")
            print(f"  {name:30s} {value:>16.6g} {unit} {note}".rstrip())
    if args.trace:
        print(f"  spans: {os.path.relpath(trace_path, ROOT)}")
    print(
        json.dumps(
            {"correct": rep.correct and rep.failed == 0, "attempted": rep.attempted, "failed": rep.failed, "metrics": metrics}
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
