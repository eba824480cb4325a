"""T-rank + T-ops: BM25 hand-computed fixtures (FIXTURES.md §5) and the
boolean/positional operator algebra on a tiny corpus."""

import math
import re

import pytest

from tika_xapian_spark.operators import search as S
from tika_xapian_spark.operators.index import InvertedIndex

CORPUS = [
    (1, "spark join fast"),
    (2, "spark spark merge"),
    (3, "join slow"),
    (4, "merge join spark fast fast"),
]


@pytest.fixture(scope="module")
def index(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=False)
    yield idx
    idx.unpersist()


def bm25(n_docs, df, wdf, doclen, avg_len, k1=1.0, k3=1.0, b=0.5, min_normlen=0.5, wqf=1):
    tw = (n_docs - df + 0.5) / (df + 0.5)
    if tw < 2:
        tw = tw * 0.5 + 1
    termweight = math.log(tw) * ((k3 + 1) * wqf / (k3 + wqf)) * (k1 + 1)
    normlen = max(doclen / avg_len, min_normlen)
    return termweight * wdf / (k1 * (normlen * b + (1 - b)) + wdf)


def scores_of(df):
    return {r["doc"]: r["score"] for r in df.collect()}


class TestBM25:
    def test_collection_stats(self, index):
        assert index.n_docs == 4
        assert index.avg_len == pytest.approx((3 + 3 + 2 + 5) / 4)

    def test_single_term_scores(self, index):
        got = scores_of(S.score_terms(index, ["spark"]))
        avg = 13 / 4
        exp = {
            1: bm25(4, 3, 1, 3, avg),
            2: bm25(4, 3, 2, 3, avg),
            4: bm25(4, 3, 1, 5, avg),
        }
        assert set(got) == set(exp)
        for d in exp:
            assert got[d] == pytest.approx(exp[d], rel=1e-12), d

    def test_tw_smoothing_branch(self, index):
        # 'slow': df=1 -> tw = (4-1+.5)/1.5 = 2.333 >= 2, no smoothing
        got = scores_of(S.score_terms(index, ["slow"]))
        avg = 13 / 4
        assert got[3] == pytest.approx(bm25(4, 1, 1, 2, avg), rel=1e-12)

    def test_wqf_factor(self, index):
        got1 = scores_of(S.score_terms(index, {"slow": 1}))
        got2 = scores_of(S.score_terms(index, {"slow": 2}))
        # (k3+1)*wqf/(k3+wqf): wqf=2 -> 4/3 vs 1 at wqf=1
        assert got2[3] == pytest.approx(got1[3] * 4 / 3, rel=1e-12)

    def test_score_terms_all_equals_op_and(self, index):
        # single-scan AND == op_and fold of per-term match sets
        fused = scores_of(S.score_terms_all(index, ["spark", "merge"]))
        folded = scores_of(
            S.op_and(S.score_terms(index, ["spark"]), S.score_terms(index, ["merge"]))
        )
        assert set(fused) == set(folded)
        for d in fused:
            assert fused[d] == pytest.approx(folded[d], rel=1e-12)
        tri = scores_of(S.score_terms_all(index, ["spark", "merge", "join"]))
        tri_folded = scores_of(
            S.op_and(
                S.op_and(
                    S.score_terms(index, ["spark"]), S.score_terms(index, ["merge"])
                ),
                S.score_terms(index, ["join"]),
            )
        )
        assert set(tri) == set(tri_folded)
        for d in tri:
            assert tri[d] == pytest.approx(tri_folded[d], rel=1e-12)

    def test_sum_over_terms(self, index):
        got = scores_of(S.score_terms(index, ["spark", "join"]))
        s = scores_of(S.score_terms(index, ["spark"]))
        j = scores_of(S.score_terms(index, ["join"]))
        for d in got:
            assert got[d] == pytest.approx(s.get(d, 0) + j.get(d, 0), rel=1e-12)

    def test_top_k_tie_break_ascending_doc(self, index):
        # 'fast': doc1 (wdf1, len3) vs doc4 (wdf2, len5) — check ordering stable
        ranked = S.top_k(S.score_terms(index, ["fast"]), k=10).collect()
        assert len(ranked) == 2
        assert ranked[0]["score"] >= ranked[1]["score"]


class TestBooleanOps:
    def test_and(self, index):
        l = S.score_terms(index, ["spark"])
        r = S.score_terms(index, ["merge"])
        got = scores_of(S.op_and(l, r))
        assert set(got) == {2, 4}
        ls, rs = scores_of(l), scores_of(r)
        assert got[2] == pytest.approx(ls[2] + rs[2], rel=1e-12)

    def test_or(self, index):
        got = scores_of(
            S.op_or(S.score_terms(index, ["spark"]), S.score_terms(index, ["slow"]))
        )
        assert set(got) == {1, 2, 3, 4}

    def test_and_not(self, index):
        got = scores_of(
            S.op_and_not(S.score_terms(index, ["spark"]), S.score_terms(index, ["merge"]))
        )
        assert set(got) == {1}

    def test_xor(self, index):
        got = scores_of(
            S.op_xor(S.score_terms(index, ["spark"]), S.score_terms(index, ["slow"]))
        )
        assert set(got) == {1, 2, 3, 4} - {1, 2, 4} | {1, 2, 4} - {3} | {3}
        assert set(got) == {1, 2, 3, 4}  # disjoint matches here
        got2 = scores_of(
            S.op_xor(S.score_terms(index, ["spark"]), S.score_terms(index, ["join"]))
        )
        # spark: 1,2,4; join: 1,3,4 -> xor = {2,3}
        assert set(got2) == {2, 3}

    def test_and_maybe(self, index):
        l = S.score_terms(index, ["join"])
        r = S.score_terms(index, ["merge"])
        got = scores_of(S.op_and_maybe(l, r))
        assert set(got) == {1, 3, 4}
        ls, rs = scores_of(l), scores_of(r)
        assert got[4] == pytest.approx(ls[4] + rs[4], rel=1e-12)
        assert got[1] == pytest.approx(ls[1], rel=1e-12)

    def test_filter(self, index):
        l = S.score_terms(index, ["join"])
        got = scores_of(S.op_filter(l, S.score_terms(index, ["spark"])))
        ls = scores_of(l)
        assert set(got) == {1, 4}
        assert got[1] == pytest.approx(ls[1], rel=1e-12)  # weight from left only

    def test_scale(self, index):
        l = S.score_terms(index, ["slow"])
        got = scores_of(S.op_scale(l, 2.5))
        assert got[3] == pytest.approx(scores_of(l)[3] * 2.5, rel=1e-12)

    def test_pure_not(self, index):
        got = scores_of(S.op_pure_not(index, S.score_terms(index, ["spark"])))
        assert set(got) == {3}
        assert got[3] == 0.0


class TestPositionalOps:
    def test_phrase_consecutive(self, index):
        # "spark join" consecutive only in doc1
        got = scores_of(S.match_phrase(index, ["spark", "join"]))
        assert set(got) == {1}

    def test_phrase_order_matters(self, index):
        got = scores_of(S.match_phrase(index, ["join", "spark"]))
        assert set(got) == {4}  # 'merge join spark'

    def test_phrase_three_terms(self, index):
        got = scores_of(S.match_phrase(index, ["merge", "join", "spark"]))
        assert set(got) == {4}

    def test_near_any_order(self, index):
        got = scores_of(S.match_near(index, ["fast", "join"], window=10))
        assert set(got) == {1, 4}

    def test_near_window_enforced(self, index):
        # doc4: merge@1, fast@{4,5} -> min span 3; matches iff span < window
        got = scores_of(S.match_near(index, ["merge", "fast"], window=3))
        assert set(got) == set()
        got2 = scores_of(S.match_near(index, ["merge", "fast"], window=4))
        assert set(got2) == {4}


class TestPositionalProperties:
    """Property tests for the sorted-merge NEAR / ADJ sweeps and the
    intersect PHRASE against a brute-force position-set oracle."""

    def _mk_index(self, spark, docs):
        df = spark.createDataFrame(docs, "doc_id long, text string")
        return InvertedIndex.build_from_body(df, key="doc_id", stem=False)

    def test_near_and_phrase_match_bruteforce(self, spark):
        import itertools
        import random

        rnd = random.Random(7)
        docs = []
        for d in range(40):
            n = rnd.randint(1, 60)
            docs.append(
                (d, " ".join(rnd.choice(["aa", "bb", "cc", "xx", "yy"]) for _ in range(n)))
            )
        idx = self._mk_index(spark, docs)
        try:
            for terms, window in [
                (["aa", "bb"], 3),
                (["aa", "bb", "cc"], 5),
                (["aa", "bb"], 2),
                (["aa", "bb", "cc"], 11),
            ]:
                got = set(scores_of(S.match_near(idx, terms, window=window)))
                exp = set()
                for d, text in docs:
                    toks = text.split()
                    poss = [[i + 1 for i, w in enumerate(toks) if w == t] for t in terms]
                    if all(poss) and any(
                        max(sel) - min(sel) < window
                        for sel in itertools.product(*poss)
                    ):
                        exp.add(d)
                assert got == exp, (terms, window)
            for terms in (["aa", "bb"], ["aa", "bb", "cc"], ["aa", "aa"]):
                got = set(scores_of(S.match_phrase(idx, terms)))
                exp = {
                    d
                    for d, text in docs
                    for toks in [text.split()]
                    if any(
                        toks[i : i + len(terms)] == terms
                        for i in range(len(toks) - len(terms) + 1)
                    )
                }
                assert got == exp, terms
            for terms, window in [
                (["aa", "bb"], 2),
                (["aa", "bb"], 4),
                (["aa", "bb", "cc"], 5),
                (["aa", "aa"], 3),
                (["cc", "aa", "cc"], 11),
            ]:
                got = set(scores_of(S.match_adj(idx, terms, window=window)))
                exp = set()
                for d, text in docs:
                    toks = text.split()
                    poss = [[i + 1 for i, w in enumerate(toks) if w == t] for t in terms]
                    if any(
                        all(a < b for a, b in zip(sel, sel[1:]))
                        and sel[-1] - sel[0] < window
                        for sel in itertools.product(*poss)
                    ):
                        exp.add(d)
                assert got == exp, (terms, window)
        finally:
            idx.unpersist()

    def test_near_adversarial_long_positions(self, spark):
        # 10k positions per term in one doc: the old nested-exists plan was
        # O(|p0| * |p1|) = 1e8 checks; the sorted-merge sweep is linear and
        # must stay fast. window=1 forces the full non-matching sweep.
        import time

        body = " ".join(("aa" if i % 2 == 0 else "bb") for i in range(20000))
        idx = self._mk_index(spark, [(1, body)])
        try:
            t0 = time.time()
            assert set(scores_of(S.match_near(idx, ["aa", "bb"], window=1))) == set()
            assert set(scores_of(S.match_near(idx, ["aa", "bb"], window=2))) == {1}
            assert time.time() - t0 < 60
        finally:
            idx.unpersist()


class TestSynonymElite:
    def test_synonym_single_weight(self, index):
        got = scores_of(S.op_synonym(index, ["slow", "merge"]))
        # matches docs 2,3,4 as one pseudo-term with df=3
        avg = 13 / 4
        assert set(got) == {2, 3, 4}
        assert got[3] == pytest.approx(bm25(4, 3, 1, 2, avg), rel=1e-12)

    def test_synonym_builds_no_eager_job(self, spark, index):
        # op_synonym folds the pseudo-term df into the plan as a broadcast
        # scalar: constructing the DataFrame must not run a driver job
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None))
        S.op_synonym(index, ["slow", "merge"])
        assert len(tracker.getJobIdsForGroup(None)) == before

    def test_elite_keeps_highest_bound(self, index):
        # bounds here order slow > merge > spark (df order and bound order
        # agree on this corpus); elite(2) keeps slow+merge
        got = scores_of(S.op_elite_set(index, ["spark", "merge", "slow"], 2))
        exp = scores_of(S.score_terms(index, ["merge", "slow"]))
        assert set(got) == set(exp)

    def test_elite_bound_order_beats_df_order(self, spark):
        """Xapian elite selection ranks by get_maxweight(), not rarity: a
        common-but-bursty term (huge max_wdf) outranks a rare flat one.
        rare: df=2, max_wdf=1 -> ub = ln(3.4)*2 * 1/1.75      = 1.398
        bursty: df=3, max_wdf=50 -> ub = ln(2.143)*2 * 50/50.75 = 1.502"""
        rows = [(1, "rare pad"), (2, "rare pad")]
        rows += [(3, "bursty " * 50), (4, "bursty pad"), (5, "bursty pad")]
        rows += [(i, "pad filler") for i in range(6, 11)]
        docs = spark.createDataFrame(
            [(i, t.strip()) for i, t in rows], "doc_id long, text string"
        )
        idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=False)
        try:
            got = scores_of(S.op_elite_set(idx, ["rare", "bursty"], 1))
            exp = scores_of(S.score_terms(idx, ["bursty"]))
            assert set(got) == set(exp) == {3, 4, 5}
        finally:
            idx.unpersist()


class TestMaxTerms:
    def test_op_max_terms_equals_folded_op_max(self, index):
        """op_max_terms = OP_MAX over single-term match sets, in one scan."""
        got = scores_of(S.op_max_terms(index, ["spark", "merge", "slow"]))
        exp = scores_of(
            S.op_max(
                S.op_max(
                    S.score_terms(index, ["spark"]),
                    S.score_terms(index, ["merge"]),
                ),
                S.score_terms(index, ["slow"]),
            )
        )
        assert set(got) == set(exp)
        for d in exp:
            assert got[d] == pytest.approx(exp[d], rel=1e-12), d

    def test_op_max_terms_single_scan(self, index):
        plan = (
            S.op_max_terms(index, ["spark", "merge"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # one shuffle (the per-doc max), literal weights: no per-term scan
        # fan-out and no join at all
        assert plan.count("Exchange hashpartitioning(doc") == 1
        assert "Join" not in plan


class TestRanking:
    def test_percent(self, index):
        got = S.with_percent(S.score_terms(index, ["spark"])).collect()
        by_doc = {r["doc"]: r["percent"] for r in got}
        assert by_doc[2] == 100

    def test_percent_floor_semantics(self, index):
        # the reference truncates after a 100*DBL_EPSILON nudge
        # (omenquire.cc:338) — never ceil; 0 -> 1 for matched docs
        m = S.score_terms(index, ["spark"], with_nsub=True)
        scores = scores_of(m)
        top = max(scores.values())
        got = {
            r["doc"]: r["percent"]
            for r in S.with_percent(m, total_subqs=1).collect()
        }
        for d, s in scores.items():
            exp = min(100, max(1, math.floor(s * 100.0 / top + 1e-14)))
            assert got[d] == exp, d

    def test_percent_matched_subquery_fraction(self, spark):
        # multimatch.cc:913-914: percent scales by the fraction of subqueries
        # the TOP doc matched — a top doc matching 1 of 2 terms caps at 50
        docs = spark.createDataFrame(
            [(1, "rare rare rare rare"), (2, "common"), (3, "common x")],
            "doc_id long, text string",
        )
        idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=False)
        try:
            m = S.score_terms(idx, ["rare", "common"], with_nsub=True)
            sc = scores_of(m)
            assert sc[1] == max(sc.values())  # doc1 is the top doc
            pct = {
                r["doc"]: r["percent"]
                for r in S.with_percent(m, total_subqs=2).collect()
            }
            assert pct[1] == 50
        finally:
            idx.unpersist()

    def test_cutoff(self, index):
        m = S.score_terms(index, ["spark"])
        top = max(scores_of(m).values())
        got = scores_of(S.cutoff(m, weight_cutoff=top))
        assert set(got) == {2}

    def test_wand_equals_naive_topk(self, index, spark):
        # WAND pruning must be invisible: exact same page as the full plan
        import random

        for terms, k in [(["spark", "slow"], 2), (["spark", "join", "slow"], 3)]:
            naive = S.top_k(S.score_terms(index, terms), k=k).collect()
            wand = S.top_k_wand(index, terms, k=k).collect()
            assert [(r["doc"], r["score"]) for r in wand] == [
                (r["doc"], r["score"]) for r in naive
            ], (terms, k)
        # random corpus with a skewed common term — the pruning-active regime
        rnd = random.Random(3)
        docs = [
            (
                d,
                " ".join(
                    rnd.choice(["common"] * 8 + ["rare", "mid", "oth"])
                    for _ in range(rnd.randint(3, 30))
                ),
            )
            for d in range(120)
        ]
        idx = InvertedIndex.build_from_body(
            spark.createDataFrame(docs, "doc_id long, text string"),
            key="doc_id",
            stem=False,
        )
        try:
            for k in (5, 25):
                naive = S.top_k(S.score_terms(idx, ["rare", "common"]), k=k).collect()
                wand = S.top_k_wand(idx, ["rare", "common"], k=k).collect()
                assert [(r["doc"], r["score"]) for r in wand] == [
                    (r["doc"], r["score"]) for r in naive
                ], k
        finally:
            idx.unpersist()

    def test_collapse(self, index, spark):
        m = S.score_terms(index, ["spark"]).withColumn("host", S.F.col("doc") % 2)
        got = S.collapse(m, "host", 1).collect()
        assert len(got) == 2  # one per parity class

    def test_collapse_salted_equals_plain(self, index, spark):
        # skew-safe two-phase collapse returns the exact same rows
        m = S.score_terms(index, ["spark", "join", "merge"]).withColumn(
            "host", S.F.col("doc") % 2
        )
        for cmax in (1, 2):
            plain = {
                (r["doc"], r["host"]) for r in S.collapse(m, "host", cmax).collect()
            }
            salted = {
                (r["doc"], r["host"])
                for r in S.collapse(m, "host", cmax, salt=4).collect()
            }
            assert salted == plain, cmax


class TestStemmedProfile:
    def test_stemmed_z_terms(self, spark):
        docs = spark.createDataFrame(
            [(1, "merging tables quickly"), (2, "merge table")],
            "doc_id long, text string",
        )
        idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=True)
        try:
            got = scores_of(S.score_terms(index=idx, terms=[S.stem_query_term("merge")]))
            assert set(got) == {1, 2}  # 'merging' and 'merge' both stem to 'merg'
        finally:
            idx.unpersist()

    def test_digit_leading_query_term_unstemmed(self, spark):
        # should_stem: the index writes no Z-form for '2024', so the query
        # side must fall back to the raw term (not a nonexistent 'Z2024')
        docs = spark.createDataFrame(
            [(1, "report 2024 results"), (2, "older 2023 report")],
            "doc_id long, text string",
        )
        idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=True)
        try:
            assert S.stem_query_term("2024") == "2024"
            got = scores_of(S.score_free_text(idx, "2024"))
            assert set(got) == {1}
        finally:
            idx.unpersist()


class TestSpellingTable:
    """The spelling dictionary (xapian's spelling-B-tree analogue) is
    built and persisted once per index, built or reopened, and the
    per-query plan is a fragment point lookup on it — never a full-vocab
    explode."""

    CORPUS = [
        (1, "spark merge window query"),
        (2, "spark table merge"),
        (3, "window query value"),
    ]

    def test_reopened_index_suggests_as_built(self, spark, tmp_path):
        docs = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=True)
        try:
            want = sorted(
                (r["word"], r["suggestion"])
                for r in S.spelling_suggestions(idx, ["merg", "qery"]).collect()
            )
            assert [w for w, _ in want] == ["merg", "qery"]
            idx.write(str(tmp_path))
        finally:
            idx.unpersist()
        reopened = InvertedIndex.read(spark, str(tmp_path))
        try:
            df = S.spelling_suggestions(reopened, ["merg", "qery"])
            plan = df._jdf.queryExecution().executedPlan().toString()
            # vocabulary side: the fragment point lookup on the persisted
            # fragment table built from the reopened term_stats
            scan = next(ln for ln in plan.splitlines() if "InMemoryTableScan" in ln)
            assert re.search(r"frag#\d+ IN \(", scan), plan
            got = sorted((r["word"], r["suggestion"]) for r in df.collect())
            assert got == want
        finally:
            reopened.unpersist()

    def test_transposition_costs_one(self, spark):
        """Xapian's spelling metric is restricted Damerau-Levenshtein
        (XC spelling/editdistance.cc): 'teh' -> 'the' is ONE edit, not the
        two plain levenshtein charges."""
        assert S.osa_distance("teh", "the") == 1
        assert S.osa_distance("sprak", "spark") == 1
        assert S.osa_distance("merg", "merge") == 1
        assert S.osa_distance("abc", "abc") == 0
        # the RESTRICTED variant: no edit inside a transposed pair
        # (true Damerau-Levenshtein would give 2 here)
        assert S.osa_distance("ca", "abc") == 3
        docs = spark.createDataFrame(
            [(1, "the quick fox"), (2, "the lazy dog")],
            "doc_id long, text string",
        )
        idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=False)
        try:
            got = {
                r["word"]: (r["suggestion"], r["distance"])
                for r in S.spelling_suggestions(idx, ["teh"]).collect()
            }
            assert got == {"teh": ("the", 1)}
        finally:
            idx.unpersist()

    def test_single_udf_evaluation_in_plan(self, spark):
        """The OSA distance UDF must appear as exactly ONE ArrowEvalPython
        node: Catalyst substitutes deterministic expressions through
        projections, so without the asNondeterministic() pin the filter and
        the best-per-word aggregate each got their own Python round trip
        (2x the query's serving latency)."""
        docs = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=True)
        try:
            plan = (
                S.spelling_suggestions(idx, ["merg", "qery"])
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            n = sum(
                1
                for line in plan.splitlines()
                if "ArrowEvalPython [_osa" in line
            )
            assert n == 1, plan
        finally:
            idx.unpersist()

    def test_in_memory_table_built_once(self, spark):
        docs = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=True)
        try:
            t1 = idx.spelling_table()
            t2 = idx.spelling_table()
            assert t1 is t2  # persisted once, reused across queries
            got = {
                r["word"]: r["suggestion"]
                for r in S.spelling_suggestions(idx, ["qery"]).collect()
            }
            assert got == {"qery": "query"}
        finally:
            idx.unpersist()


class TestMatchAdj:
    """Ordered-NEAR (ADJ) matcher semantics: XC matcher/phrasepostlist.cc
    test_doc — strictly-increasing in-order positions, span < window."""

    @pytest.fixture(scope="class")
    def adj_index(self, spark):
        rows = [
            (1, "alpha beta"),
            (2, "beta alpha"),
            (3, "alpha x x x x x x x x x x x beta"),  # span 12
            (4, "beta x alpha x beta"),
            (5, "gamma"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=False)
        yield idx
        idx.unpersist()

    def docs_of(self, df):
        return sorted(r["doc"] for r in df.collect())

    def test_order_and_window(self, adj_index):
        got = self.docs_of(
            S.match_adj(adj_index, ["alpha", "beta"]).select("doc")
        )
        # default window 11: doc 3's span-12 pair is out; doc 2 wrong order;
        # doc 4 has alpha@2 -> beta@4 in order
        assert got == [1, 4]

    def test_tight_window(self, adj_index):
        got = self.docs_of(
            S.match_adj(adj_index, ["alpha", "beta"], window=2).select("doc")
        )
        assert got == [1]  # adjacency only

    def test_single_occurrence_cannot_self_chain(self, adj_index):
        # "gamma ADJ gamma" must not match a doc with ONE gamma: the
        # position-tie ordering processes the higher term index first
        got = self.docs_of(
            S.match_adj(adj_index, ["gamma", "gamma"], window=11).select("doc")
        )
        assert got == []

    def test_needs_two_terms(self, adj_index):
        with pytest.raises(ValueError, match="ADJ"):
            S.match_adj(adj_index, ["alpha"])


class TestRrfFuse:
    def test_overlap_and_missing_lists_fuse_exactly(self, spark):
        """A doc ranked by both lists sums both reciprocal contributions;
        a doc in one list gets exactly that list's share; integer div
        matches the hand-computed 10^9 div (60+rank) values."""
        from tika_xapian_spark.operators.search import rrf_fuse

        kw = spark.createDataFrame(
            [(10, 1), (20, 2), (30, 3)], "doc_id long, rank int"
        )
        ann = spark.createDataFrame(
            [(20, 1), (40, 2)], "doc_id long, rank int"
        )
        got = {
            r.doc_id: (r.kw_rank, r.ann_rank, r.rrf_score)
            for r in rrf_fuse([("kw", kw), ("ann", ann)], k0=60, limit=10).collect()
        }
        c = lambda r: 1_000_000_000 // (60 + r)
        assert got == {
            10: (1, None, c(1)),
            20: (2, 1, c(2) + c(1)),
            30: (3, None, c(3)),
            40: (None, 2, c(2)),
        }

    def test_limit_orders_by_fused_score_then_doc_id(self, spark):
        from tika_xapian_spark.operators.search import rrf_fuse

        kw = spark.createDataFrame(
            [(i, i) for i in range(1, 6)], "doc_id long, rank int"
        )
        out = rrf_fuse([("kw", kw)], k0=60, limit=3).collect()
        assert [r.doc_id for r in out] == [1, 2, 3]

    def test_no_ranked_lists_raises(self):
        # a ValueError, not an assert: `python -O` must not strip the check
        from tika_xapian_spark.operators.search import rrf_fuse

        with pytest.raises(ValueError, match="at least one ranked list"):
            rrf_fuse([])


class TestPrfSmallMatchSet:
    def test_oracle_agrees_when_initial_query_matches_fewer_than_fb_docs(
        self, spark, tmp_path
    ):
        """'spark' matches only 2 of 4 docs: the engine's R (actual rset
        size) and the oracle's R must both be 2, not the fb_docs literal —
        full stringified parity on a corpus where the divergence would
        show."""
        import duckdb

        from tika_xapian_spark.plans import oracles
        from tika_xapian_spark.plans.doc_queries import (
            PRF_DOCS,
            PRF_TERMS,
            PRF_WORDS,
            q_search_prf,
        )

        docs = spark.createDataFrame(
            [
                (0, "spark merge join table"),
                (1, "spark window sort row"),
                (2, "merge join window table row"),
                (3, "sort row filter scan table"),
            ],
            "doc_id long, text string",
        )
        sf = str(tmp_path)
        docs.write.parquet(f"{sf}/documents.parquet")
        got = sorted(
            tuple(str(x) for x in r) for r in q_search_prf(spark, sf).collect()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{sf}/documents.parquet/*.parquet')"
        )
        want = sorted(
            tuple(str(x) for x in r)
            for r in con.execute(
                oracles.prf(PRF_WORDS, PRF_DOCS, PRF_TERMS, 10)
            ).fetchall()
        )
        assert got == want and len(got) > 0
