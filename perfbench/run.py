"""Benchmark entry point.

    python3 perfbench/run.py --workload <render_batch|stream_tail|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from the
seed inside ``perfbench/_work/``, starts the engine's Spark session on
``local[nproc]``, measures for ``--seconds``, checks the outputs, and
prints a report line followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` metrics of
BENCHMARK.json; with ``--trace 1`` they are its ``per_layer`` metrics and
the spans are written to ``perfbench/_work/trace-<workload>.json``.
``--scale tiny`` and ``--wrong-expected`` exist for ``selftest.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("render_batch", "stream_tail", "query_mix")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    p.add_argument("--wrong-expected", action="store_true",
                   help="corrupt the expected outputs (self-test of the checks)")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, REPO_ROOT)
    try:
        import kinesis_log_watcher_spark  # noqa: F401
        with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (ImportError, OSError, ValueError) as exc:
        print(f"perfbench: not a checkout of the engine: {exc}", file=sys.stderr)
        return 2
    metric_names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    import harness

    harness.fresh_work_dir()
    conf = harness.pin_environment()
    host = harness.HostTelemetry()
    tracer = harness.new_tracer(bool(args.trace), args.workload, args.seed)
    outcome = harness.Outcome()
    module = __import__(args.workload)
    module.run(conf, args, tracer, outcome)
    if tracer.enabled:
        tracer.write(os.path.join(harness.WORK_DIR, f"trace-{args.workload}.json"))
    harness.emit(args.workload, args.seed, bool(args.trace), outcome,
                 host.finish(), metric_names)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
