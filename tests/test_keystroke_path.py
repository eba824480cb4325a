"""The keystroke path over a written index: the driver-held term
dictionary, literal termweights, term-bucket pruning, the fused leaf plan,
the job count of each keystroke kind, and the CLI `query` over the one
postings constructor."""

import itertools
import os
import re
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from perfbench import inputs
from tika_xapian_spark.operators import index as I
from tika_xapian_spark.operators import search as S
from tika_xapian_spark.operators.index import InvertedIndex, extract_index_carrier
from tika_xapian_spark.plans import doc_queries as dq
from tika_xapian_spark.plans.query_compiler import search
from tika_xapian_spark.sources.pages import PAGES_SCHEMA, gen_row

# every gen_row payload case 16 times: enough page numbers for perfbench's
# keystroke stream over the same ids
PAGE_IDS = range(100000, 100128)
SF = os.path.join(os.path.dirname(entry.SF0001), "sf0.01")  # the parity sf


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages") / "pages")
    cols = [f.name for f in PAGES_SCHEMA.fields]
    pdf = pd.DataFrame([gen_row(i) for i in PAGE_IDS])[cols]
    spark.createDataFrame(pdf, PAGES_SCHEMA).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def written(spark, pages_path, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("index") / "idx")
    idx = InvertedIndex.from_fused_carrier(
        extract_index_carrier(spark.read.parquet(pages_path))
    )
    try:
        idx.write(base)
    finally:
        idx.unpersist()
    return base


@pytest.fixture(scope="module")
def reopened(spark, written):
    return InvertedIndex.read(spark, written)


@pytest.fixture(scope="module")
def sf_index(spark):
    return dq.get_index(spark, SF)


_groups = itertools.count()


def jobs_of(spark, name, fn):
    """Run ``fn`` under a fresh job group; (its result, jobs it ran)."""
    sc = spark.sparkContext
    group = f"{name}-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("after", "after")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def column_termweight(df_col, n_docs, wqf):
    """The termweight expression the scoring operators evaluated per row
    over a df column before the weights became literals."""
    tw = (F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5)
    tw = F.when(tw < 2.0, tw * 0.5 + 1.0).otherwise(tw)
    wqf_factor = (F.lit(S.K3 + 1) * wqf) / (F.lit(S.K3) + wqf)
    return F.log(tw) * wqf_factor * F.lit(S.K1 + 1)


class TestLiteralWeights:
    @pytest.mark.parametrize("wqf", [1, 2, 3])
    def test_bit_identical_to_column_expression(self, spark, sf_index, wqf):
        """Over the whole sf0.01 dictionary, and over every df its
        collection can hold, the literal weight Catalyst folds equals the
        per-row expression bit for bit."""
        n = sf_index.n_docs
        d = sf_index.term_dictionary()
        dfs = sorted(set(range(1, n + 1)) | {d.stats(t)[0] for t in d.terms})
        lit = spark.range(1).select(
            *[F.expr(S._termweight(str(df), n, wqf)).alias(f"w{df}") for df in dfs]
        )
        # folded: the optimized plan carries doubles, no log left to run
        assert "ln(" not in lit._jdf.queryExecution().optimizedPlan().toString()
        row = lit.collect()[0]
        want = spark.createDataFrame([(df,) for df in dfs], "df long").select(
            "df", column_termweight(F.col("df"), n, F.lit(wqf)).alias("w")
        )
        got = {df: row[f"w{df}"] for df in dfs}
        assert got == {r["df"]: r["w"] for r in want.collect()}
        by_term = sf_index.term_stats.select(
            "term", "df", column_termweight(F.col("df"), n, F.lit(wqf)).alias("w")
        ).collect()
        assert len(by_term) == len(d.terms)
        assert all(got[r["df"]] == r["w"] for r in by_term)


class TestDictionary:
    PREFIXES = ["", "s", "sp", "Z", "Zs", "S", "Sexampl", "K", "Kt", "ü", "中",
                "t", "1000", "\U0010ffff", "zzzz"]

    @pytest.mark.parametrize("which", ["sf0.01", "pages"])
    def test_bisect_expansion_equals_spark(self, sf_index, reopened, which):
        idx = sf_index if which == "sf0.01" else reopened

        def spark_expand(prefix, limit):  # the collect it replaces
            rows = (
                idx.term_stats.filter(F.col("term").startswith(prefix))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(limit)
                .select("term")
                .collect()
            )
            return [r["term"] for r in rows]

        for prefix in self.PREFIXES:
            for limit in (1000, 3):
                assert S.expand_wildcard(idx, prefix, limit) == spark_expand(
                    prefix, limit
                ), (prefix, limit)
        # the pages index holds field-prefixed and non-ASCII terms
        if which == "pages":
            d = idx.term_dictionary()
            assert any(t.startswith("K") for t in d.terms)
            assert S.expand_wildcard(idx, "ü", 10)

    def test_read_runs_no_aggregation_job(self, spark, written):
        """n_docs from the doc_stats footers, total length from the
        dictionary, every table's schema from one footer, and one postings
        bucket at this size, listed on the driver: a reopen runs no Spark
        job."""
        idx, jobs = jobs_of(spark, "read", lambda: InvertedIndex.read(spark, written))
        assert jobs == 0
        row = spark.read.parquet(os.path.join(written, "doc_stats")).agg(
            F.count(F.lit(1)).alias("n"), F.avg("doclen").alias("avg")
        ).collect()[0]
        assert (idx.n_docs, idx.avg_len) == (row["n"], row["avg"])

    def test_over_cap_raises_with_size(self, spark, written, monkeypatch):
        monkeypatch.setattr(I, "DICTIONARY_MAX_BYTES", 100)
        with pytest.raises(ValueError, match=r"term dictionary is [\d,]+ bytes"):
            InvertedIndex.read(spark, written)

    def test_unreadable_doc_stats_footer_raises(self, spark, written, tmp_path):
        base = str(tmp_path / "idx")
        shutil.copytree(written, base)
        part = next(
            os.path.join(r, f)
            for r, _, fs in os.walk(os.path.join(base, "doc_stats"))
            for f in fs
            if f.endswith(".parquet")
        )
        with open(part, "wb") as fh:
            fh.write(b"not a parquet file")
        with pytest.raises(Exception):
            InvertedIndex.read(spark, base)

    def test_old_layout_raises(self, spark, written, tmp_path):
        """An index whose term_stats has no term_bucket column (every index
        written before the per-index bucket count) raises, naming it."""
        base = str(tmp_path / "idx")
        shutil.copytree(written, base)
        stats = os.path.join(base, "term_stats")
        old = pq.read_table(stats).drop_columns(["term_bucket"])
        shutil.rmtree(stats)
        os.makedirs(stats)
        pq.write_table(old, os.path.join(stats, "part-0.parquet"))
        with pytest.raises(ValueError, match=f"{re.escape(base)}.*rewrite the index"):
            InvertedIndex.read(spark, base)


def keystrokes(ids, n_cycles):
    """(kind, text) of perfbench's measured keystroke stream: n_cycles
    cycles, so every COMPLETE_FORMS form appears."""
    cycles = inputs.keystroke_cycles(7, ids, False)
    out = []
    for _ in range(n_cycles):
        for kind, (q, _) in zip(inputs.CYCLE, next(cycles)):
            form = next((f for f in inputs.COMPLETE_FORMS if f" {f} " in q), None)
            if kind == "complete":
                form = form or ("phrase" if q.startswith('"') else "title")
                kind = f"complete:{form}"
            out.append((kind, q))
    return out


class TestKeystrokeJobs:
    def test_search_construction_runs_no_job(self, spark, reopened):
        for kind, q in keystrokes(PAGE_IDS, len(inputs.COMPLETE_FORMS)):
            _, jobs = jobs_of(spark, "build", lambda: search(reopened, q, partial=True))
            assert jobs == 0, (kind, q)

    def test_jobs_per_keystroke_kind(self, spark, reopened):
        """Each keystroke is one pruned postings scan: a shuffle map job and
        the result job. A SYNONYM of two or more dictionary terms (here the
        partial word 'not', which expands to 'not' and 'note') also
        broadcasts its pseudo-term df — the docs matching any member, an
        aggregate of its own — which costs three jobs more."""
        ks = keystrokes(PAGE_IDS, len(inputs.COMPLETE_FORMS))
        for _, q in ks[:4]:  # warm
            search(reopened, q, partial=True).collect()
        seen = {}
        for kind, q in ks:
            _, jobs = jobs_of(
                spark, "exec", lambda: search(reopened, q, partial=True).collect()
            )
            seen[kind] = max(seen.get(kind, 0), jobs)
        limit = {kind: 2 for kind in seen}
        limit["incomplete"] = 0
        if len(S.expand_wildcard(reopened, "not")) > 1:
            limit["complete:NOT"] = 5
        assert all(seen[k] <= limit[k] for k in seen), seen

    def test_keystroke_prunes_term_buckets(self, reopened):
        assert_prunes_to_dictionary_buckets(reopened, "markdown syn")


def test_multi_bucket_index(spark, pages_path, tmp_path, monkeypatch):
    """With POSTINGS_PER_BUCKET lowered, a 128-page index writes the rule's
    bucket count; the dictionary holds bucket_col's bucket of each term;
    every keystroke scan prunes to its terms' dictionary buckets and ranks
    the same pages, bit for bit, as the built index."""
    built = InvertedIndex.from_fused_carrier(
        extract_index_carrier(spark.read.parquet(pages_path))
    )
    try:
        rows = built.term_dictionary().postings_rows
        monkeypatch.setattr(I, "POSTINGS_PER_BUCKET", rows // 5)
        n = min(I.N_BUCKETS, max(1, -(-rows // I.POSTINGS_PER_BUCKET)))
        assert n > 1
        base = str(tmp_path / "idx")
        built.write(base)
        dirs = {d for d in os.listdir(os.path.join(base, "postings")) if "=" in d}
        assert dirs == {f"term_bucket={b}" for b in range(n)}
        idx = InvertedIndex.read(spark, base)
        d = idx.term_dictionary()
        want = {
            r["term"]: r["b"]
            for r in idx.term_stats.select("term", I.bucket_col("term", n).alias("b")).collect()
        }
        assert dict(zip(d.terms, d.bucket.tolist())) == want
        pruned = 0
        for kind, q in keystrokes(PAGE_IDS, len(inputs.COMPLETE_FORMS)):
            df = search(idx, q, partial=True)
            if "FileScan" in df._jdf.queryExecution().executedPlan().toString():
                assert_prunes_to_dictionary_buckets(idx, q)
                pruned += 1
            got = [tuple(r) for r in df.collect()]
            assert got == [tuple(r) for r in search(built, q, partial=True).collect()], (kind, q)
        assert pruned > len(inputs.COMPLETE_FORMS)
    finally:
        built.unpersist()


def assert_prunes_to_dictionary_buckets(idx, q):
    """Every postings scan of the keystroke (two for a synonym's df) prunes
    to exactly the buckets the dictionary holds for its pushed terms."""
    plan = search(idx, q, partial=True)._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans, plan
    for scan in scans:
        pushed = re.search(r"PushedFilters: \[.*?(?:In\(term, \[([^\]]*)\]\)|EqualTo\(term,([^)]*)\))", scan)
        terms = (pushed[1] or pushed[2]).split(",")
        got = re.search(r"PartitionFilters: \[.*term_bucket#\d+ (?:IN \(([^)]*)\)|= (\d+))", scan)
        buckets = {int(b) for b in (got[1] or got[2]).split(",")}
        assert buckets == set(idx.term_dictionary().buckets(terms)), (buckets, terms)


def _z(*words):
    return [S.stem_query_term(w) for w in words]


# query string -> the same match set from the registry's join algebra
LOWERED = {
    '"example article" AND markdown': lambda idx: S.op_and(
        S.match_phrase(idx, ["example", "article"]), S.score_terms(idx, _z("markdown"))
    ),
    "markdown NEAR subtitle OR syntax": lambda idx: S.op_or(
        S.match_near(idx, ["markdown", "subtitle"]), S.score_terms(idx, _z("syntax"))
    ),
    'markdown -("example article")': lambda idx: S.op_and_not(
        S.score_terms(idx, _z("markdown")), S.match_phrase(idx, ["example", "article"])
    ),
    "(markdown syntax article ELITE 2) AND NOT subtitle": lambda idx: S.op_and_not(
        S.op_elite_set(idx, _z("markdown", "syntax", "article"), 2),
        S.score_terms(idx, _z("subtitle")),
    ),
    "article AND NOT (body ADJ main)": lambda idx: S.op_and_not(
        S.score_terms(idx, _z("article")), S.match_adj(idx, ["body", "main"])
    ),
    "article AND NOT (main ADJ body)": lambda idx: S.op_and_not(
        S.score_terms(idx, _z("article")), S.match_adj(idx, ["main", "body"])
    ),
}


class TestOneScan:
    @pytest.mark.parametrize("q", list(LOWERED))
    def test_positional_and_elite_trees_are_one_scan(self, spark, reopened, q):
        """Every compiled tree, positional and elite leaves included, is one
        postings scan and no join, within the keystroke job limit, and
        matches the join algebra it replaces."""
        df = search(reopened, q, partial=False)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1 and "Join" not in plan, plan
        rows, jobs = jobs_of(spark, "one-scan", df.collect)
        assert jobs <= 2, (q, jobs)
        got = {r["doc"]: r["score"] for r in rows}
        want = {r["doc"]: r["score"] for r in LOWERED[q](reopened).collect()}
        assert got.keys() == want.keys()
        assert all(got[d] == pytest.approx(want[d], rel=1e-12) for d in got), q


def test_cli_query_matches_search(spark, pages_path, tmp_path):
    """CLI `index --buckets 2` then `query` prints the same score<TAB>url
    rows as search over from_fused_carrier of the same pages."""
    out = str(tmp_path / "cli_idx")
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def cli(*args):
        return subprocess.run(
            [sys.executable, "-m", "tika_xapian_spark", *args, "--master", "local[2]"],
            cwd=repo, env=env, capture_output=True, text=True, timeout=600,
            check=True,
        ).stdout

    cli("index", "--pages", pages_path, "--out", out, "--buckets", "2")
    q = "markdown syn"
    got = cli("query", "--index", out, q, "-k", "20").splitlines()
    idx = InvertedIndex.from_fused_carrier(
        extract_index_carrier(spark.read.parquet(pages_path))
    )
    try:
        want = [
            f"{r['score']:.6f}\t{r['doc']}"
            for r in search(idx, q, k=20, partial=True).collect()
        ]
    finally:
        idx.unpersist()
    assert got == want and len(want) > 1
