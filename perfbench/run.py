"""Benchmark entry point.

    python3 perfbench/run.py --workload search_session --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Prints one diagnostics JSON line, then,
as the last line, the result: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones, and the spans go to
.perfbench-out/trace-<workload>-<seed>.json. Everything the run writes
stays inside the checkout; its work directory is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("search_session", "upsert_refresh")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "tika_xapian_spark")):
        print(f"perfbench: no tika_xapian_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    from perfbench import workloads

    run = workloads.BenchRun(args.seed, args.seconds, bool(args.trace), work)
    try:
        run.start_session()
        result = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            out = os.path.join(ROOT, ".perfbench-out")
            os.makedirs(out, exist_ok=True)
            run.tracer.dump(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"diagnostics": run.diag}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
