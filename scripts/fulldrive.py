#!/usr/bin/env python
"""Full-registry drive vs the DuckDB oracles with the driver-strict compare
(tests/test_oracle_parity.py::strict_rows), recorded as a JSON artifact —
round-6 verdict item #6 made auditable: name -> {ok, wall_s, err}.

Usage: python scripts/fulldrive.py [--sf /root/testdata/sf0.01]
                                   [--out FULLDRIVE_r07.json] [--queries a,b]
                                   [--cpus N]

--cpus defaults to $SPARK_GRAFT_CPUS, else to the cores this process may
run on (os.sched_getaffinity), as perfbench does.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="")
    ap.add_argument("--queries", default="")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS",
                                               len(os.sched_getaffinity(0)))))
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    import bench as B
    from test_oracle_parity import strict_rows

    con = duckdb.connect()
    for p in glob.glob(f"{args.sf}/*.parquet"):
        name = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = [q for q in args.queries.split(",") if q] or sorted(qs)
    spark = B.build_session(args.cpus)
    results: dict[str, dict] = {}
    n_fail = 0
    try:
        for name in names:
            t0 = time.time()
            rec: dict = {"ok": False, "wall_s": None, "err": None}
            try:
                spark.sparkContext.setJobDescription(f"fulldrive:{name}")
                spdf = qs[name](spark, args.sf).toPandas()
                sql = oracles.get(name)
                if sql is None:
                    raise RuntimeError("no oracle registered")
                opdf = con.execute(sql).df()
                if list(spdf.columns) != list(opdf.columns):
                    raise AssertionError(
                        f"columns {list(spdf.columns)} vs {list(opdf.columns)}"
                    )
                if len(spdf) != len(opdf):
                    raise AssertionError(f"rows {len(spdf)} vs {len(opdf)}")
                ns, no = strict_rows(spdf), strict_rows(opdf)
                bad = [(a, b) for a, b in zip(ns, no) if a != b]
                if bad:
                    raise AssertionError(f"value mismatch, first: {bad[:2]}")
                rec["ok"] = True
            except Exception as e:  # noqa: BLE001 — recorded, not swallowed
                rec["err"] = f"{type(e).__name__}: {e}"[:500]
                n_fail += 1
                print(f"[fulldrive] FAIL {name}: {rec['err']}", file=sys.stderr)
            rec["wall_s"] = round(time.time() - t0, 3)
            results[name] = rec
            status = "ok" if rec["ok"] else "FAIL"
            print(f"[fulldrive] {status} {name} {rec['wall_s']}s",
                  file=sys.stderr)
    finally:
        spark.stop()
    payload = {
        "sf": args.sf,
        "n": len(names),
        "n_ok": len(names) - n_fail,
        "n_fail": n_fail,
        "results": results,
    }
    if args.out:
        with open(args.out, "w") as f:
            json.dump(payload, f, indent=1)
    print(json.dumps({"sf": args.sf, "n": len(names), "n_ok": payload["n_ok"],
                      "n_fail": n_fail}))
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
