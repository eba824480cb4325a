#!/usr/bin/env python
"""The one measurement driver for the query registry (__spark_entry__).

  python scripts/drive.py --parity --sf <dir> [--queries a,b] [--out FILE] [--cpus N]
  python scripts/drive.py --time --sf <dir> [--queries a,b] [--trials N] [--cpus N]

``--parity`` runs each query (default: the whole registry) on Spark and its
DuckDB oracle over the same parquet, compares them with the driver-strict
compare (tests/test_oracle_parity.py::strict_rows), prints one JSON summary
line, writes the per-query record name -> {ok, wall_s, err} to ``--out``
and exits 1 on any failure.

``--time`` times each query (default: bench.BENCH_QUERIES) the way bench.py
does: one warm pass, then the min of ``--trials`` timed collects. It prints
one JSON line {"sf", "queries": {name: s}, "walls": {name: [s, ...]}}.

The session is bench.build_session's. ``--cpus`` defaults to
$SPARK_GRAFT_CPUS, else to the cores this process may run on
(os.sched_getaffinity), as perfbench does.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))


def parity(spark, sf: str, names: list[str], qs: dict, out: str) -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from test_oracle_parity import strict_rows

    con = duckdb.connect()
    for p in glob.glob(f"{sf}/*.parquet"):
        name = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracles = entrymod.oracle_sql()
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        rec: dict = {"ok": False, "wall_s": None, "err": None}
        try:
            spark.sparkContext.setJobDescription(f"drive:{name}")
            spdf = qs[name](spark, sf).toPandas()
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
        rec["wall_s"] = round(time.time() - t0, 3)
        results[name] = rec
        status = "ok" if rec["ok"] else f"FAIL {rec['err']}"
        print(f"[drive] {name} {rec['wall_s']}s {status}", file=sys.stderr)
    n_fail = sum(not r["ok"] for r in results.values())
    summary = {"sf": sf, "n": len(names), "n_ok": len(names) - n_fail,
               "n_fail": n_fail}
    if out:
        with open(out, "w") as f:
            json.dump({**summary, "results": results}, f, indent=1)
    print(json.dumps(summary))
    return 1 if n_fail else 0


def timed(spark, sf: str, names: list[str], qs: dict, trials: int) -> int:
    from tika_xapian_spark.plans import doc_queries as dq

    dq.get_index(spark, sf)  # amortized, like bench.py
    best: dict[str, float] = {}
    walls: dict[str, list[float]] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"drive:{name}")
        qs[name](spark, sf).collect()  # warm: plan compile, broadcast build
        walls[name] = []
        for _ in range(trials):
            t0 = time.time()
            qs[name](spark, sf).collect()
            walls[name].append(round(time.time() - t0, 3))
        best[name] = min(walls[name])
        print(f"[drive] {name}: {best[name]} {walls[name]}", file=sys.stderr)
    print(json.dumps({"sf": sf, "queries": best, "walls": walls}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--parity", action="store_true",
                      help="compare each query with its DuckDB oracle")
    mode.add_argument("--time", action="store_true",
                      help="warm pass, then min of --trials timed collects")
    ap.add_argument("--sf", required=True, help="dir with the parquet tables")
    ap.add_argument("--queries", default="", help="comma-separated names")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS",
                                               len(os.sched_getaffinity(0)))))
    ap.add_argument("--out", default="", help="--parity: JSON record path")
    ap.add_argument("--trials", type=int, default=2, help="--time: timed runs")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    import bench as B

    qs = entrymod.queries()
    names = [q for q in args.queries.split(",") if q] or (
        sorted(qs) if args.parity else list(B.BENCH_QUERIES)
    )
    spark = B.build_session(args.cpus)
    try:
        if args.parity:
            return parity(spark, args.sf, names, qs, args.out)
        return timed(spark, args.sf, names, qs, args.trials)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
