"""Plan-linter: the packaged plan-audit checklist (plans/planlint.py) must
flag the failure shapes the repo's plan-shape tests pin, and pass the
healthy operators."""

from tika_xapian_spark.plans.planlint import lint_df, lint_plan_text


class TestLintRules:
    def test_flags_seeded_cartesian(self, spark):
        # a non-equi INNER join: plans as CartesianProduct or a non-Cross
        # BroadcastNestedLoopJoin depending on size estimates — both flagged
        a = spark.range(10).selectExpr("id AS x")
        b = spark.range(10).selectExpr("id AS y")
        rep = lint_df(a.join(b, a.x < b.y))
        assert not rep.ok
        assert any("cartesian" in v or "nested-loop" in v for v in rep.violations)

    def test_scalar_cross_join_is_sanctioned(self, spark):
        from pyspark.sql import functions as F

        big = spark.range(100).selectExpr("id AS x")
        scalar = F.broadcast(big.agg(F.max("x").alias("mx")))
        rep = lint_df(big.crossJoin(scalar).filter("x >= mx - 3"))
        assert rep.ok, rep.violations
        assert rep.info["scalar_cross_joins"] >= 1

    def test_flags_row_python_udf(self, spark):
        from pyspark.sql.functions import udf
        from pyspark.sql.types import LongType

        plus = udf(lambda x: x + 1, LongType(), useArrow=False)
        rep = lint_df(spark.range(10).select(plus("id").alias("y")))
        assert any("row-python" in v for v in rep.violations)

    def test_passes_healthy_operator(self, spark):
        from tika_xapian_spark.operators import textstats as T

        docs = spark.createDataFrame(
            [(i, f"spark merge w{i % 7} scan") for i in range(20)],
            "doc_id long, text string",
        )
        rep = lint_df(T.quality_classifier(docs, key="doc_id"))
        assert rep.ok, rep.violations
        assert rep.info["exchanges"] == 0

    def test_codegen_count_is_informational(self):
        rep = lint_plan_text("Scan ExistingRDD[x#1L]")
        assert rep.ok  # HOF/interpreted plans are legitimate
        assert rep.info["codegen_spans"] == 0


class TestExplainCli:
    @staticmethod
    def _no_stop(monkeypatch):
        # main() stops the session it get_spark()'d — which IS the shared
        # test session (getOrCreate). Killing it here would break every
        # later test in the run.
        from pyspark.sql import SparkSession

        monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    def test_explain_good_query_exits_zero(self, spark, capsys, monkeypatch):
        import json

        from tika_xapian_spark.__main__ import main

        self._no_stop(monkeypatch)
        rc = main(
            ["explain", "--query", "quality_classifier_score",
             "--sf", "/root/testdata/sf0.001"]
        )
        out = capsys.readouterr().out
        verdict = json.loads(out.strip().splitlines()[-1])
        assert rc == 0 and verdict["ok"]

    def test_explain_unknown_query_exits_two(self, spark, monkeypatch):
        from tika_xapian_spark.__main__ import main

        self._no_stop(monkeypatch)
        assert main(["explain", "--query", "nope"]) == 2


class TestRegistrySweep:
    def test_no_cartesian_or_row_python_across_registry_slice(self, spark):
        """Every cheap-to-construct registered query (plan build only, no
        execution) must lint clean — institutionalizes the plan-shape bar
        across the registry rather than only the hand-pinned operators.
        ANN/iterative queries are excluded: their *construction* runs jobs
        (written-index builds, checkpointed rounds), which belongs to their
        own tests."""
        import __spark_entry__ as entrymod

        sf = "/root/testdata/sf0.001"
        names = [
            "dedup_exact", "dedup_minhash_signature", "dedup_minhash_pairs",
            "dedup_ngram_pairs", "dedup_simhash_pairs", "text_simhash",
            "decontaminate", "boilerplate_ngrams", "dedup_within_doc_lines",
            "text_langid", "text_quality", "gopher_repetition",
            "gopher_quality", "text_readability", "c4_quality_filter",
            "quality_classifier_score",
            "dsir_importance", "cms_heavy_hitters",
            "text_unigram_logppl", "text_bigram_logppl", "tfidf_top_terms",
            "text_char_entropy", "text_bigram_novelty", "vocab_coverage",
            "cooccurrence_pmi", "url_dedup", "url_host_profile",
            "url_robots_filter", "url_latest_snapshot", "embedding_top_pairs",
            # embedding_label_similarity deliberately absent: its inequality
            # self-join runs over the POST-AGGREGATION centroid table (k
            # label rows), a bounded O(k²) BNLJ its docstring justifies —
            # the linter can't see the side is label-bounded
            "embedding_quantize",
            "ann_cosine_topk", "ann_range_search", "doc_fingerprint",
            "token_count", "sample_stratified", "mix_sources", "token_budget",
            "quality_gate_matrix", "embedding_hard_negatives",
        ]
        from tika_xapian_spark.plans.planlint import lint_df

        qs = entrymod.queries()
        bad = {}
        for name in names:
            rep = lint_df(qs[name](spark, sf))
            if not rep.ok:
                bad[name] = rep.violations
        assert not bad, bad
