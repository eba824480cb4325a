"""Physical-plan shape assertions for the scale-critical operators: the plans
must be the ones we would want at 100TB, not just correct ones (no cartesian
products, broadcast where a side is small, no Python in JVM-only pipelines,
bounded top-k)."""

import pytest
from pyspark.sql import functions as F

from tika_xapian_spark.operators import dedup as D
from tika_xapian_spark.operators import similarity as SIM
from tika_xapian_spark.operators.index import InvertedIndex


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"w{i % 11} spark join merge w{(i * 7) % 13} batch") for i in range(200)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (i, [((i * 31 + j * 17) % 97 - 48) / 48.0 for j in range(64)], i % 3)
        for i in range(100)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


class TestDedupPlans:
    def test_minhash_no_cartesian(self, docs):
        sh = D.shingles_df(docs, "doc_id")
        sig = D.minhash_signatures(sh)
        cand = D.lsh_candidates(D.band_buckets(sig))
        plan = plan_of(cand)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_simhash_pure_jvm(self, docs):
        plan = plan_of(D.simhash(docs, "doc_id"))
        # no Python evaluation anywhere: whole pipeline is column algebra
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "MapInPandas" not in plan

    def test_simhash_single_shuffle_no_bit_explode(self, docs):
        """The 100 TB property (r4 verdict #2): the fingerprint is ONE
        groupBy(doc) of 60 literal-shift conditional sums. The token explode
        is the only Generate (no ×60 bit-sequence explode amplifying the
        corpus token stream) and there is exactly one Exchange."""
        plan = plan_of(D.simhash(docs, "doc_id"))
        assert plan.count("Generate") == 1  # token explode only
        assert "sequence(" not in plan  # the old per-bit explode source
        assert plan.count("Exchange") == 1  # single groupBy(doc) shuffle
        # map-side combine present: partial aggregation before the Exchange
        assert "partial_sum" in plan or "HashAggregate" in plan

    def test_exact_dedup_single_shuffle(self, docs):
        plan = plan_of(D.exact_duplicates(docs, "doc_id"))
        # the md5 group + join should resolve to broadcast (small groups side)
        assert "CartesianProduct" not in plan

    def test_minhash_no_seed_explode_single_exchange(self, docs):
        """minhash_signatures must aggregate 16 per-seed minima in ONE
        groupBy(doc) — the naive form explodes every shingle row 16x
        BEFORE the shuffle, carrying 16x the corpus shingle stream through
        the Exchange (the simhash r4 lesson, re-learned on the 600k-page
        curate bench)."""
        sh = D.shingles_df(docs, "doc_id")
        plan = plan_of(D.minhash_signatures(sh))
        # no per-seed explode: the only explode is the shingle generator
        # (whose input legitimately uses sequence() for positions)
        assert plan.count("Generate explode") == 1, plan
        # exactly one aggregation exchange (the groupBy(doc)), partial
        # min-aggregates combined map-side before it
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "partial_min" in plan, plan
        # stack() unpivot runs AFTER the aggregate
        assert "stack" in plan.lower()


class TestSimilarityPlans:
    def test_pairwise_dedup_banded_equijoin(self, emb):
        """r4 verdict #3: the near-dup candidate generator must be an
        equi-join on (band, bval) — never a cartesian or single-bucket
        block — and the duplicate-candidate fold must shuffle scalars only
        (no vector columns through the groupBy(id_a, id_b) Exchange)."""
        df = SIM.pairwise_cosine_dedup(emb, threshold_micro=0)
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the candidate join keys on band + bval
        assert "band" in plan and "bval" in plan
        # the post-cosine dedup aggregate exchanges (id_a, id_b) scalars:
        # no exchange whose partitioning mentions the vector columns
        for frag in plan.split("Exchange")[1:]:
            key = frag.split("\n")[0]
            assert "va#" not in key and "vb#" not in key


    def test_brute_force_single_stage_topk(self, emb):
        df = SIM.cosine_topk(emb, [0.1] * 64, k=5)
        plan = plan_of(df)
        assert "TakeOrderedAndProject" in plan
        assert "Exchange" not in plan  # map-only + bounded heap, no shuffle
        assert "ArrowEvalPython" not in plan  # higher-order fns, not UDFs

    def test_lsh_filter_before_math(self, emb):
        df = SIM.lsh_cosine_topk(emb, [0.1] * 64, k=5)
        plan = plan_of(df)
        assert "TakeOrderedAndProject" in plan
        assert "Exchange" not in plan


class TestIndexReadPath:
    def test_read_roundtrip_and_search(self, spark, docs, tmp_path):
        base = str(tmp_path / "idx")
        idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=True)
        idx.write(base)
        reopened = InvertedIndex.read(spark, base)
        assert reopened.n_docs == idx.n_docs
        assert reopened.avg_len == pytest.approx(idx.avg_len)
        from tika_xapian_spark.operators import search as S

        a = {r["doc"]: r["score"] for r in S.score_terms(idx, ["Zspark"]).collect()}
        b = {r["doc"]: r["score"] for r in S.score_terms(reopened, ["Zspark"]).collect()}
        assert a.keys() == b.keys()
        for k in a:
            assert a[k] == pytest.approx(b[k], rel=1e-12)
        idx.unpersist()

    def test_written_postings_scan_prunes_columns(self, spark, docs, tmp_path):
        base = str(tmp_path / "idx2")
        idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=True)
        idx.write(base)
        idx.unpersist()
        reopened = InvertedIndex.read(spark, base)
        # df-only projection must not read the positions column
        df = reopened.postings.select("term", "wdf")
        plan = plan_of(df)
        assert "positions" not in plan.split("ReadSchema")[-1][:200]

class TestWandPlan:
    def test_multiprobe_filter_no_python_no_exchange(self, emb):
        df = SIM.multiprobe_cosine_topk(emb, [0.1] * 64, k=5)
        plan = plan_of(df)
        assert "TakeOrderedAndProject" in plan
        assert "Exchange" not in plan  # bucket IN-filter + bounded heap only
        assert "ArrowEvalPython" not in plan

    def test_wand_prunes_with_pushed_candidate_filter(self, spark):
        from tika_xapian_spark.operators import search as S

        # skewed corpus: rare term + dominant common term -> pruning active
        rows = [
            (i, ("rare " if i < 30 else "") + "common " * 5 + f"w{i % 7}")
            for i in range(300)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=False)
        try:
            # r4 verdict #8: construction's only driver round-trip is the
            # bounded term-stats dictionary read — tau is a broadcast scalar
            # subquery, not a collected page, so top_k_wand adds ZERO jobs
            # beyond what _term_upper_bounds itself costs
            tracker = spark.sparkContext.statusTracker()
            # warm once (first read pays AQE shuffle materialization), then
            # measure the steady-state dictionary-read job cost
            S._term_upper_bounds(idx, {"rare": 1, "common": 1})
            before = len(tracker.getJobIdsForGroup(None))
            S._term_upper_bounds(idx, {"rare": 1, "common": 1})
            dict_jobs = len(tracker.getJobIdsForGroup(None)) - before
            before = len(tracker.getJobIdsForGroup(None))
            df = S.top_k_wand(idx, ["rare", "common"], k=10)
            assert len(tracker.getJobIdsForGroup(None)) - before == dict_jobs
            plan = plan_of(df)
            # candidate restriction compiles to a semi join feeding the scan
            assert "LeftSemi" in plan or "left_semi" in plan.lower()
            assert "TakeOrderedAndProject" in plan
            assert "CartesianProduct" not in plan
            # and it is invisible in the results
            naive = S.top_k(S.score_terms(idx, ["rare", "common"]), k=10).collect()
            assert [(r["doc"], r["score"]) for r in df.collect()] == [
                (r["doc"], r["score"]) for r in naive
            ]
        finally:
            idx.unpersist()


class TestFusedCarrierSingleExecution:
    def test_from_fused_carrier_runs_extraction_once(self, spark):
        """The persisted carrier means the fused extract+tokenize UDF
        executes exactly once, even though postings/doc_stats/term_stats and
        every later search all reference it (the resume.py lineage pattern,
        now also entry()'s)."""
        from tika_xapian_spark.operators import search as S
        from tika_xapian_spark.operators.index import (
            InvertedIndex,
            extract_index_carrier,
        )
        from tika_xapian_spark.sources.pages import synth_pages

        pages = synth_pages(spark, 160)
        acc = spark.sparkContext.accumulator(0)

        def counting(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        counted = pages.mapInPandas(counting, pages.schema)
        idx = InvertedIndex.from_fused_carrier(extract_index_carrier(counted))
        try:
            assert acc.value == 160  # the build's one stats action, once
            S.top_k(S.score_free_text(idx, "markdown syntax")).collect()
            idx.postings.count()
            idx.doc_stats.count()
            assert acc.value == 160  # later actions hit the cache
        finally:
            idx.unpersist()


class TestPositionalFusion:
    def test_phrase_single_postings_scan(self, spark, docs, tmp_path):
        """PHRASE/NEAR over M terms read the postings table ONCE (term IN
        (...) + positions pivot), not once per term with an (M-1)-way
        self-join chain — constant scan volume in M."""
        from tika_xapian_spark.operators import search as S

        base = str(tmp_path / "idx_pos")
        built = InvertedIndex.build_from_body(docs, key="doc_id", stem=False)
        built.write(base)
        built.unpersist()
        idx = InvertedIndex.read(spark, base)
        for df in (
            S.match_phrase(idx, ["spark", "join", "merge"]).select("doc"),
            S.match_near(idx, ["spark", "merge"]).select("doc"),
        ):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("FileScan parquet") == 1
            assert "Join" not in plan  # pivot aggregation, no self-joins


class TestConnectedComponents:
    def test_chain_and_singletons(self, spark):
        """Transitive closure across multi-hop chains (label must propagate
        the full diameter), separate components stay separate, vertices with
        no edges map to themselves."""
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11)],
            "doc_a long, doc_b long",
        )
        verts = spark.createDataFrame(
            [(i,) for i in [1, 2, 3, 4, 10, 11, 12, 99]], "doc_id long"
        )
        got = {
            r["v"]: r["component"]
            for r in D.connected_components(edges, verts).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 99: 99}

    def test_reversed_chain_worst_case(self, spark):
        # labels must flow AGAINST the edge direction too (undirected)
        edges = spark.createDataFrame(
            [(5, 4), (4, 3), (3, 2), (2, 1)], "doc_a long, doc_b long"
        )
        verts = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
        got = {
            r["v"]: r["component"]
            for r in D.connected_components(edges, verts).collect()
        }
        assert got == {i: 1 for i in range(1, 6)}

    def test_nonconvergence_is_loud(self, spark):
        """A chain deeper than max_iter must RAISE, not silently return
        partially-propagated labels (the repo's no-silent-caps rule)."""
        import pytest

        n = 8
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long"
        )
        verts = spark.createDataFrame(
            [(i,) for i in range(1, n + 1)], "doc_id long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            D.connected_components(edges, verts, max_iter=2)
        # and with enough rounds the same graph converges fine
        got = {
            r["v"]: r["component"]
            for r in D.connected_components(edges, verts, max_iter=n).collect()
        }
        assert got == {i: 1 for i in range(1, n + 1)}

    def test_star_mode_converges_on_deep_chain(self, spark):
        """The escape hatch (r4 verdict #9): a 64-deep chain needs ~63
        propagate rounds but O(log L) alternating large-star/small-star
        rounds — mode='star' must converge under a budget where propagate
        raises, with labels identical to ground truth."""
        import pytest

        n = 64
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long"
        )
        verts = spark.createDataFrame(
            [(i,) for i in range(1, n + 1)], "doc_id long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            D.connected_components(edges, verts, max_iter=8)
        got = {
            r["v"]: r["component"]
            for r in D.connected_components(
                edges, verts, max_iter=8, mode="star"
            ).collect()
        }
        assert got == {i: 1 for i in range(1, n + 1)}

    def test_star_mode_matches_propagate(self, spark):
        """Both modes are exact: identical labels on a mixed graph (chains,
        a triangle, reversed edges, singletons)."""
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11), (20, 21),
             (21, 22), (22, 20), (31, 30)],
            "doc_a long, doc_b long",
        )
        verts = spark.createDataFrame(
            [(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 22, 30, 31, 99]],
            "doc_id long",
        )
        prop = {
            r["v"]: r["component"]
            for r in D.connected_components(edges, verts).collect()
        }
        star = {
            r["v"]: r["component"]
            for r in D.connected_components(edges, verts, mode="star").collect()
        }
        assert star == prop
        assert star[99] == 99 and star[20] == 20 and star[30] == 30

    def test_bad_mode_and_max_iter_raise(self, spark):
        import pytest

        edges = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
        verts = spark.createDataFrame([(1,), (2,)], "doc_id long")
        with pytest.raises(ValueError, match="max_iter"):
            D.connected_components(edges, verts, max_iter=0)
        with pytest.raises(ValueError, match="mode"):
            D.connected_components(edges, verts, mode="magic")


class TestWrittenIndexPushdown:
    def test_term_in_probe_reaches_parquet_scan(self, spark, tmp_path):
        """Over a WRITTEN index the query-term probe must arrive at the
        postings scan as a pushed In(term, ...) filter (row-group pruning on
        the term-sorted files — the B-tree-seek analogue). The broadcast
        join alone never pushes; regression here silently turns every query
        into a full postings scan."""
        from tika_xapian_spark.operators import search as S

        docs = spark.createDataFrame(
            [(i, f"alpha beta w{i}") for i in range(30)],
            "doc_id long, text string",
        )
        idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=False)
        try:
            idx.write(str(tmp_path))
        finally:
            idx.unpersist()
        reopened = InvertedIndex.read(spark, str(tmp_path))
        plan = (
            S.top_k(S.score_terms(reopened, ["alpha", "beta"]))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        pushed = [
            seg.split("]")[0]
            for seg in plan.split("PushedFilters: [")[1:]
        ]
        assert any("In(term, [alpha,beta" in p for p in pushed), pushed
        # and the scan schema is pruned: positions never read for scoring
        assert "positions" not in plan.split("ReadSchema")[1].split("\n")[0]


class TestCorpusHygiene:
    def test_contamination_broadcasts_probes(self, spark):
        """Decontamination at 10^12 docs: the eval-set probe shingles are
        the small side and MUST broadcast — a shuffle join on the corpus
        shingle stream would move the whole corpus."""
        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta doc{i}") for i in range(20)],
            "doc_id long, text string",
        )
        corpus_sh = D.shingles_df(docs, key="doc_id")
        probe_sh = D.shingles_df(
            docs.filter(F.col("doc_id") < 2), key="doc_id"
        )
        out = D.contamination_hits(corpus_sh, probe_sh)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        got = {r["doc"]: r["n_probe_hits"] for r in out.collect()}
        # every doc shares 'alpha beta gamma'/'beta gamma delta' with probes
        assert set(got) == set(range(20))
        assert got[0] > got[5]  # probe doc matches its own unique shingles

    def test_substring_spans_keyed_joins_only(self, spark):
        """ExactSubstr at 10^12 rows: the candidate generator must be an
        equi-join on the gram hash — never a cartesian — and the span merge
        a keyed window+groupBy."""
        docs = spark.createDataFrame(
            [(i, " ".join(f"w{(i * 3 + j) % 9}" for j in range(15)))
             for i in range(20)],
            "doc_id long, text string",
        )
        df = D.shared_substring_spans(docs, key="doc_id", width=4)
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_gopher_ops_zero_shuffle(self, spark):
        """The Gopher repetition/quality passes are per-row folds — at
        10^12 rows they must stay embarrassingly parallel map stages: no
        Exchange, no Python evaluation anywhere in the plan."""
        from tika_xapian_spark.operators import textstats as T

        docs = spark.createDataFrame(
            [(i, f"line a\nline b w{i}") for i in range(20)],
            "doc_id long, text string",
        )
        for df in (
            T.gopher_repetition(docs, key="doc_id"),
            T.gopher_quality(docs, key="doc_id"),
        ):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan
            assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_quality_classifier_zero_shuffle(self, spark):
        """The hashed linear classifier scores map-side: the weight function
        inlines (no weight-table join), so the plan must have no Exchange,
        no join, and no Python — at 10^12 rows the filter stage is a pure
        map over the corpus."""
        from tika_xapian_spark.operators import textstats as T

        docs = spark.createDataFrame(
            [(i, f"spark merge w{i % 7} table scan") for i in range(20)],
            "doc_id long, text string",
        )
        df = T.quality_classifier(docs, key="doc_id")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_dsir_probe_broadcasts_ratio_table(self, spark):
        """DSIR's per-doc scoring join must broadcast the B-row log-ratio
        table (the only corpus-scale shuffle is the final groupBy(doc));
        the spine/count joins may shuffle — they carry at most B rows."""
        from tika_xapian_spark.operators import textstats as T

        docs = spark.createDataFrame(
            [
                (i, f"w{i % 5} spark merge w{(i * 3) % 7} scan", "en" if i % 2 else "de")
                for i in range(40)
            ],
            "doc_id long, text string, lang string",
        )
        df = T.dsir_importance(docs, key="doc_id", target=F.col("lang") == "en")
        plan = plan_of(df)
        assert plan.count("BroadcastHashJoin") >= 1
        assert plan.count("Exchange hashpartitioning(doc") == 1
        assert "EvalPython" not in plan

    def test_boilerplate_profile(self, spark):
        rows = [(i, "nav home about " + f"unique{i} body text") for i in range(10)]
        rows += [(100 + i, f"solo{i} words only here") for i in range(10)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        # the corpus size is a broadcast scalar in the plan, not an eager
        # docs.count(): constructing the profile runs ZERO driver jobs
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None))
        df = D.boilerplate_shingles(docs, key="doc_id", min_frac=0.3, limit=10)
        assert len(tracker.getJobIdsForGroup(None)) == before
        out = df.collect()
        top = {r["shingle"]: r["df"] for r in out}
        assert top.get("nav home about") == 10
        assert all(df >= 6 for df in top.values())  # 0.3 * 20 docs


class TestSemDedupPlan:
    def test_assignment_broadcasts_pairs_equijoin(self, emb):
        """SemDeDup's centroid assignment must be map-side against broadcast
        centroid rows, and the quadratic stage must be keyed on the cluster
        id (equi-join) — never a corpus-level cartesian."""
        df = SIM.semdedup(emb, k=4)
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "EvalPython" not in plan
        out = df.collect()
        assert len(out) == 100
        assert {r.cluster for r in out} <= set(range(4))


class TestTfidfPlan:
    def test_pure_jvm_no_cartesian_single_doc_shuffle(self, spark, docs):
        """tfidf_top_terms: no Python anywhere, no cartesian, and the only
        by-doc exchange is the ranking window's — the tf table itself is
        built map-side (run-length over the sorted token array), so
        occurrences never shuffle."""
        from tika_xapian_spark.operators.textstats import tfidf_top_terms

        plan = plan_of(tfidf_top_terms(docs, key="doc_id", k=3))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan or "BuildRight" in plan
        assert plan.count("hashpartitioning(doc#") == 1, plan
        assert "Window" in plan, plan


class TestDenormalizedDoclen:
    def test_score_plan_has_no_docstats_join(self, spark, docs):
        """BM25 scoring over the denormalized layout is one postings scan
        (literal query weights) + one final aggregation — the doc_stats
        join (a full doc-side shuffle at 10^12 docs) is gone; doclen rides
        each posting like Xapian's postlist entries."""
        from tika_xapian_spark.operators import search as S

        idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=False)
        try:
            assert "doclen" in idx.postings.columns
            df = S.score_terms(idx, ["spark", "merge"])
            plan = plan_of(df)
            # no join keyed on doc anywhere
            assert "Join [doc" not in plan and "Join [cast(doc" not in plan
            assert "SortMergeJoin" not in plan
            # exactly one doc-keyed exchange: the final groupBy(doc)
            # (term-keyed exchanges in the tiny weights subtree are fine)
            n_doc_exchange = plan.count("Exchange hashpartitioning(doc")
            assert n_doc_exchange == 1, plan
            got = {r["doc"]: r["score"] for r in df.collect()}
            # and the scores equal the legacy joined form, doclen from doc_stats
            legacy = idx.postings.drop("doclen").join(idx.doc_stats, "doc")
            from tika_xapian_spark.operators.index import InvertedIndex as II

            lidx = II(legacy, idx.doc_stats, idx.term_stats, idx.n_docs, idx.avg_len)
            want = {r["doc"]: r["score"] for r in S.score_terms(lidx, ["spark", "merge"]).collect()}
            assert got.keys() == want.keys()
            for d in got:
                assert abs(got[d] - want[d]) < 1e-12
        finally:
            idx.unpersist()


class TestPackingPlan:
    """pack_sequences' scale claim: the global prefix sum never pushes
    the corpus through one task. In the executed plan the ONLY
    SinglePartition exchange must feed the BUCKET-level window (input =
    one row per bucket, post-HashAggregate), the bucket offsets must come
    back as a broadcast, and the chunk explode must be map-side (no
    exchange of its own)."""

    def test_single_partition_stage_is_bucket_level_only(self, spark):
        from tika_xapian_spark.operators.packing import pack_sequences

        docs = spark.createDataFrame(
            [(i, "a b c d e f g") for i in range(300)],
            "doc_id long, text string",
        )
        plan = plan_of(pack_sequences(docs, key="doc_id", bucket_span=32))
        # exactly one single-partition exchange: the bounded bucket prefix
        assert plan.count("Exchange SinglePartition") == 1, plan
        # ...and it operates on the bucket aggregate, not on doc rows
        assert "HashAggregate(keys=[bucket" in plan, plan
        # one hash exchange total: the bucket aggregate's (doc-level
        # windows live behind the lazy checkpoint, partitioned by bucket)
        assert plan.count("Exchange hashpartitioning") == 1, plan
        # offsets rejoin via broadcast; the explode adds no exchange
        assert "BroadcastHashJoin [bucket" in plan, plan
        assert "Generate explode" in plan, plan


class TestPowerIterationPlan:
    """power_iteration_component's docstring claims: two wide aggregates
    (one Exchange each), intermediate vector via broadcast crossJoin, no
    per-element explode, no keyed join. Pin all four — an explode-based
    A^T u would shuffle n*dim rows instead of partial-aggregating 64 sums
    map-side."""

    def test_two_exchanges_broadcast_vector(self, emb):
        from tika_xapian_spark.operators.similarity import (
            power_iteration_component,
        )

        plan = plan_of(power_iteration_component(emb))
        # z1's and z2's global aggregates: SinglePartition exchanges only
        assert plan.count("Exchange SinglePartition") == 2, plan
        assert plan.count("Exchange hashpartitioning") == 0, plan
        assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row vector
        assert "Generate explode" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "partial" in plan.lower(), plan  # map-side combine on sums


class TestVocabCoveragePlan:
    def test_one_corpus_shuffle_then_dict_window(self, docs):
        """The only corpus-scale exchange is the word count (map-side
        partial agg); the rank window and total both run over the
        vocabulary-bounded dict behind the checkpoint."""
        from tika_xapian_spark.operators.textstats import vocab_coverage

        df = vocab_coverage(docs, key="doc_id")
        df.count()  # materialize the lazy checkpoint first
        plan = plan_of(df)
        # upstream word count hidden behind the checkpoint: what remains is
        # the dict-level single-partition window + the final repartition(1)
        assert "Window" in plan, plan
        assert "BroadcastNestedLoopJoin" in plan, plan  # broadcast total
        assert "SortMergeJoin" not in plan, plan


class TestBalanceStrataPlan:
    def test_rates_broadcast_onto_corpus(self, docs):
        from tika_xapian_spark.operators.sampling import balance_strata

        d = docs.withColumn("source", (F.col("doc_id") % 4).cast("string"))
        df = balance_strata(d, key="doc_id", strata_col="source")
        df.count()  # materialize the rates checkpoint
        plan = plan_of(df)
        # membership filter joins the corpus against broadcast rates — a
        # shuffle join here would move the full corpus on the strata key
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan


class TestBpePlan:
    def test_pair_count_rounds_are_dict_level(self, docs):
        """After the base word-count shuffle (behind the checkpoint), each
        merge round is: dict-level aggregates + the 1-row winner on a
        broadcast — no corpus-scale exchange, no keyed join, no driver
        collect (the whole k-round loop is one lazy plan)."""
        from tika_xapian_spark.operators.bpe import _apply_merge, bpe_merges

        df = bpe_merges(docs, key="doc_id", n_merges=2)
        plan = plan_of(df)
        # each round's dict sits behind a lazy checkpoint (Scan
        # ExistingRDD), so assert on what remains: dict-level aggregates
        # with map-side combine, no keyed join anywhere
        assert "SortMergeJoin" not in plan, plan
        assert "partial" in plan.lower(), plan
        assert "Scan ExistingRDD" in plan, plan  # the checkpointed dict

        # the winner crossJoin itself is visible pre-checkpoint: rebuild
        # one round without the cut and pin the broadcast
        from tika_xapian_spark.operators.bpe import (
            _best_pair,
            _pair_counts,
            word_freq_dict,
            _encode,
        )
        from pyspark.sql import functions as FF

        wf = word_freq_dict(docs, "doc_id").select(
            _encode("word").alias("s"), "cnt"
        )
        merged = wf.crossJoin(FF.broadcast(_best_pair(_pair_counts(wf))))
        assert "BroadcastNestedLoopJoin" in plan_of(merged)


class TestHardNegatives:
    def test_banded_equijoin_different_labels(self, emb):
        """The mining candidate generator must stay a (band, bucket)
        equi-join — never a corpus cartesian — and every mined negative
        must carry a different label than its anchor."""
        df = SIM.hard_negatives(emb)
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        out = df.collect()
        assert len(out) > 0
        assert all(r.label != r.neg_label for r in out)


class TestSemDedupSeedGuard:
    def test_missing_or_duplicate_seed_raises(self, spark):
        rows = [(i, [float(i % 7) / 7.0] * 64) for i in range(1, 20)]  # no id 0
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        with pytest.raises(ValueError, match="seed id"):
            SIM.semdedup(df, k=4)


class TestRound6SessionPlans:
    def test_rrf_fuse_is_one_exchange_no_join(self, spark):
        """The fusion of pre-ranked bounded lists must plan as union +
        ONE hash aggregation — a fold of full-outer joins (which cannot
        broadcast) would show SortMergeJoin + an exchange per list."""
        from tika_xapian_spark.operators.search import rrf_fuse

        kw = spark.range(5).select(
            F.col("id").alias("doc_id"), (F.col("id") + 1).cast("int").alias("rank")
        )
        ann = spark.range(3, 8).select(
            F.col("id").alias("doc_id"), (F.col("id") - 2).cast("int").alias("rank")
        )
        plan = plan_of(rrf_fuse([("kw", kw), ("ann", ann)]))
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Union" in plan

    def test_bitext_margin_no_cartesian(self, spark, emb):
        from tika_xapian_spark.operators.similarity import bitext_margin

        lang_of = emb.select(
            "vec_id",
            F.when(F.col("label") == 0, "en").otherwise("de").alias("lang"),
        )
        plan = plan_of(bitext_margin(emb, lang_of, "en", "de"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_containment_join_is_keyed(self, docs):
        from tika_xapian_spark.operators.dedup import containment_top_pairs
        from tika_xapian_spark.plans.planlint import lint_plan_text

        plan = plan_of(containment_top_pairs(docs, key="doc_id", k=3))
        assert "CartesianProduct" not in plan
        # round 7: the bootstrap threshold + corpus-min size ride as
        # broadcast 1-row scalars (Cross BNLJ — the sanctioned pattern the
        # lint rule distinguishes); a NON-Cross BNLJ is still a violation
        assert lint_plan_text(plan).ok, lint_plan_text(plan).violations
        # bounded top-k, not a global sort of all pairs
        assert "TakeOrderedAndProject" in plan

    def test_pq_assign_no_cartesian_and_no_python(self, spark, emb):
        from tika_xapian_spark.operators.similarity import pq_assign

        plan = plan_of(pq_assign(emb, [0.1] * 64))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "EvalPython" not in plan

    def test_kn_bigram_stats_stay_vocab_bounded(self, spark, docs):
        """The top-list join must broadcast the bounded side (never
        shuffle the stats frames against a 20-row list)."""
        from tika_xapian_spark.operators.textstats import kn_bigram_probs

        plan = plan_of(kn_bigram_probs(docs, key="doc_id"))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
