"""Benchmark entry point.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 20 --trace 0

Runs one seeded workload against the package in this checkout, checks
its outputs, and prints a report line (every detail, JSON) followed by
the result line: ``{"correct", "attempted", "failed", "metrics"}`` with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) declared in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("search_mix", "daily_update")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "trialstreamer_spark")):
        print(f"no trialstreamer_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    run_root = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    settings = harness.isolate(run_root)
    bench = harness.Bench(
        args.workload, args.seed, args.seconds, bool(args.trace), run_root, settings
    )
    try:
        try:
            importlib.import_module(f"perfbench.{args.workload}").run(bench)
            result = bench.finish()
        except harness.SetupFailed:
            result = bench.abandoned()
    finally:
        if bench.spark is not None:
            harness.stop_session(bench.spark)
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_root))
        except OSError:
            pass  # another run is still using it
    print(json.dumps({"report": bench.report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
