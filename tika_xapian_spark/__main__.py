"""Batch entry points (SURVEY.md §2.7 U5): the reference declares a ``query``
subcommand but never dispatches it (/root/reference/src/main.rs:54-58 vs
:66-112 — only the TUI runs). Here both pipeline ends are real spark-submit
jobs:

    python -m tika_xapian_spark index --pages <parquet> --out <dir> [--buckets N]
    python -m tika_xapian_spark query --index <dir> "<query string>" [-k N]

``index`` runs the resumable bucketed pipeline (restart-safe); ``query``
reads ``<dir>/postings`` of either layout (the ``index`` command's url
buckets or ``InvertedIndex.write``'s term buckets), recomputes the doc and
term stats from it, compiles the reference grammar and prints the ranked
pages, mirroring the TUI's final print of selected paths
(/root/reference/src/main.rs:105-111).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    from .plans.curation import GATES, STAR_ABOVE, curate_docs

    p = argparse.ArgumentParser(prog="tika_xapian_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("index", help="extract+index a pages table (resumable)")
    pi.add_argument("--pages", required=True, help="pages parquet path")
    pi.add_argument("--out", required=True, help="index output dir")
    pi.add_argument("--buckets", type=int, default=16)
    pi.add_argument("--master", default=None)

    pd = sub.add_parser(
        "curate",
        help="corpus curation: lang -> quality gate -> repetition cap -> "
        "exact dedup -> near-dup removal; writes kept docs as parquet",
    )
    pd.add_argument("--docs", required=True, help="documents parquet (doc_id, text, ...)")
    pd.add_argument("--out", required=True, help="curated output parquet dir")
    pd.add_argument("--key", default="doc_id")
    pd.add_argument(
        "--gate", choices=GATES, default="gopher",
        help="quality gate: 'classic' (length/stopword composite), "
        "'gopher' (Rae et al. rule set + repetition cap), 'ccnet' "
        "(exact dedup + corpus-LM perplexity terciles, no minhash stage), "
        "or 'clf' (hashed linear classifier margin >= 0)",
    )
    pd.add_argument("--min-stop", type=int, default=1)
    pd.add_argument(
        "--star-above", type=int, default=STAR_ABOVE,
        help="buckets larger than this emit linear star pairs (member vs "
        "bucket min) instead of the quadratic all-pairs join "
        "(default: %(default)s)",
    )
    pd.add_argument("--master", default=None)

    pq = sub.add_parser("query", help="ranked search over a written index")
    pq.add_argument(
        "--index", required=True,
        help="index dir; reads <index>/postings as written by the `index` "
        "command or InvertedIndex.write, and recomputes the stats from it",
    )
    pq.add_argument("qstr", help="query string (reference grammar)")
    pq.add_argument("-k", type=int, default=100)
    pq.add_argument("--no-partial", action="store_true")
    pq.add_argument("--master", default=None)

    pe = sub.add_parser(
        "explain",
        help="print a registered query's executed plan + plan-lint verdicts "
        "(exit 1 on a violation: cartesian / nested-loop / row-Python / "
        "no-codegen)",
    )
    pe.add_argument("--query", required=True, help="registered query name")
    pe.add_argument(
        "--sf", default="/root/testdata/sf0.001", help="sf dir with the parquet tables"
    )
    pe.add_argument("--full", action="store_true", help="print the whole plan")
    pe.add_argument("--master", default=None)

    args = p.parse_args(argv)

    from .session import get_spark

    spark = get_spark(app_name=f"tika-xapian-{args.cmd}", master=args.master)
    try:
        if args.cmd == "index":
            from .streaming.resume import index_resumable

            pages = spark.read.parquet(args.pages)
            summary = index_resumable(spark, pages, args.out, args.buckets)
            print(json.dumps(summary))
        elif args.cmd == "explain":
            import __spark_entry__ as entrymod

            from .plans.planlint import lint_df

            qs = entrymod.queries()
            if args.query not in qs:
                print(f"unknown query {args.query!r}", file=sys.stderr)
                return 2
            df = qs[args.query](spark, args.sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rep = lint_df(df)
            print(plan if args.full else "\n".join(plan.splitlines()[:40]))
            print(json.dumps({"ok": rep.ok, "violations": rep.violations,
                              "info": rep.info}))
            return 0 if rep.ok else 1
        elif args.cmd == "curate":
            docs = spark.read.parquet(args.docs)
            kept = curate_docs(
                docs, key=args.key, gate=args.gate, min_stop=args.min_stop,
                star_above=args.star_above,
            )
            kept.write.mode("overwrite").parquet(args.out)
            n_in = docs.count()
            n_out = spark.read.parquet(args.out).count()
            print(json.dumps({
                "gate": args.gate, "n_in": n_in, "n_kept": n_out,
                "kept_frac": round(n_out / max(n_in, 1), 4), "out": args.out,
            }))
        else:
            from .operators.index import InvertedIndex
            from .plans.query_compiler import (
                compile_query,
                explain,
                get_description,
                search,
            )
            from .streaming.resume import read_postings

            # the `index` layout stores postings only: the one postings
            # constructor derives the stats and the term dictionary
            idx = InvertedIndex.from_postings(read_postings(spark, args.index))
            node = compile_query(args.qstr, partial=not args.no_partial)
            print(f"# plan: {explain(node)}", file=sys.stderr)
            print(f"# query: {get_description(node)}", file=sys.stderr)
            for r in search(
                idx, args.qstr, k=args.k, partial=not args.no_partial
            ).collect():
                print(f"{r['score']:.6f}\t{r['doc']}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
