#!/usr/bin/env python
"""Round-7 optimization harness (NOT the driver's frozen bench.py).

Per-query wall timing + formatted-plan capture for any subset of the
registry, at any SF dir, mirroring bench.py's methodology (warm pass, then
min-of-N timed .collect() runs) so numbers are comparable with the frozen
bench's per-query section.  Also supports the guide §1.4 noop-sink isolation
mode (--noop) to time computation without driver-side result collection.

Usage:
  python bench_extra.py --sf /root/testdata/sf1.0 --queries a,b,c \
      [--noop] [--trials 2] [--plans plans/r07 --suffix before] [--cpus N]

--cpus defaults to $SPARK_GRAFT_CPUS, else to the cores this process may
run on (os.sched_getaffinity), as perfbench does.

Prints one JSON line: {"sf": ..., "queries": {name: sec}, "walls": {...}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default="")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--plans", default="", help="dir for explain captures")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS",
                                               len(os.sched_getaffinity(0)))))
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    import bench as B
    from tika_xapian_spark.plans import doc_queries as dq

    names = ([q for q in args.queries.split(",") if q]
             if args.queries else B.BENCH_QUERIES)
    registry = entrymod.queries()

    spark = B.build_session(args.cpus)
    dq.get_index(spark, args.sf)  # amortized, like bench.py
    out: dict[str, float] = {}
    walls: dict[str, list[float]] = {}
    try:
        for name in names:
            fn = registry[name]
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            df = fn(spark, args.sf)
            if args.plans:
                os.makedirs(args.plans, exist_ok=True)
                with open(os.path.join(args.plans,
                                       f"{name}_{args.suffix}.txt"), "w") as f:
                    f.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))

            def run() -> None:
                d = fn(spark, args.sf)
                if args.noop:
                    d.write.format("noop").mode("overwrite").save()
                else:
                    d.collect()

            run()  # warm (plan compile, broadcast build)
            trials = []
            for _ in range(args.trials):
                t0 = time.time()
                run()
                trials.append(round(time.time() - t0, 3))
            walls[name] = trials
            out[name] = min(trials)
            print(f"[bench_extra] {name}: {out[name]} {trials}",
                  file=sys.stderr)
            spark.sparkContext.setJobDescription(None)
    finally:
        spark.stop()
    print(json.dumps({"sf": args.sf, "noop": args.noop,
                      "queries": out, "walls": walls}))


if __name__ == "__main__":
    main()
