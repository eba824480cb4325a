"""Corpus-level curation primitives: skew-safe count joins, deterministic
stratified sampling, CCNet-style corpus line dedup.

Semantics AND plan shape: these three exist for the 100 TB path, so the
tests pin the physical properties that make them scale (broadcast head /
shuffle tail, zero-shuffle sampling) alongside the row-level results.
"""

import pytest
from pyspark.sql import functions as F

from tika_xapian_spark.operators.dedup import line_dedup_corpus
from tika_xapian_spark.operators.sampling import (
    group_holdout_split,
    sample_hash_micro,
    stratified_sample,
)
from tika_xapian_spark.operators.skewjoin import skew_safe_count_join


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------------- skewjoin


class TestSkewSafeCountJoin:
    @pytest.fixture()
    def rows_and_counts(self, spark):
        # Zipf-ish: key 'hot' carries most rows, a long tail of singletons.
        rows = spark.range(1000).select(
            F.when(F.col("id") < 800, F.lit("hot"))
            .otherwise(F.concat(F.lit("k"), F.col("id")))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        counts = rows.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
        return rows, counts

    def test_matches_naive_join(self, rows_and_counts):
        rows, counts = rows_and_counts
        got = skew_safe_count_join(rows, "k", counts, "c", hot_k=4)
        want = rows.join(counts, "k")
        assert got.columns == want.columns
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )

    def test_inner_join_semantics_missing_keys_drop(self, spark):
        rows = spark.createDataFrame(
            [("a", 1), ("b", 2), ("zzz", 3)], "k string, payload int"
        )
        counts = spark.createDataFrame([("a", 10), ("b", 1)], "k string, c long")
        got = skew_safe_count_join(rows, "k", counts, "c", hot_k=1)
        assert sorted(map(tuple, got.collect())) == [("a", 1, 10), ("b", 2, 1)]

    def test_hot_branch_broadcasts_cold_branch_shuffles(
        self, spark, rows_and_counts
    ):
        """The point of the operator: with auto-broadcast OFF (so nothing
        accidentally broadcasts at toy scale), the head still joins via an
        explicit BroadcastHashJoin while the tail's count join is a shuffle
        join — the plan a 10^12-row corpus needs."""
        rows, counts = rows_and_counts
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = plan_of(skew_safe_count_join(rows, "k", counts, "c", hot_k=4))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
        # two broadcast joins from explicit hints (hot equi-join + anti-join)
        assert plan.count("BroadcastHashJoin") >= 2
        # the tail count join stays a shuffle join (no blanket broadcast)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


# ------------------------------------------------------------- sampling


class TestDeterministicSampling:
    def test_stratified_fractions_and_default(self, spark):
        docs = spark.range(2000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 3 == 0, "en")
            .when(F.col("id") % 3 == 1, "de")
            .otherwise("xx")
            .alias("lang"),
        )
        out = stratified_sample(
            docs, "doc_id", "lang", {"en": 1.0, "de": 0.2},
            default_fraction=0.0, seed="mix",
        )
        by_lang = {
            r.lang: r.n
            for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }
        assert by_lang.get("en") == 667          # fraction 1.0 keeps all
        assert 0 < by_lang.get("de", 0) < 667    # thinned
        assert "xx" not in by_lang               # default 0.0 drops stratum

    def test_zero_shuffle_plan(self, spark):
        docs = spark.range(100).select(
            F.col("id").alias("doc_id"), F.lit("en").alias("lang")
        )
        plan = plan_of(
            stratified_sample(docs, "doc_id", "lang", {"en": 0.5})
        )
        assert "Exchange" not in plan
        assert "Python" not in plan  # pure JVM column algebra

    def test_hash_range(self, spark):
        docs = spark.range(300).select(F.col("id").alias("doc_id"))
        mm = docs.select(
            F.min(sample_hash_micro("doc_id")).alias("lo"),
            F.max(sample_hash_micro("doc_id")).alias("hi"),
        ).collect()[0]
        assert 0 <= mm.lo and mm.hi < 1_000_000


# ---------------------------------------------------------- line dedup


class TestLineDedupCorpus:
    @pytest.fixture()
    def corpus(self, spark):
        # 6 docs share a banner; doc 5 is ONLY boilerplate; doc 6 unique.
        rows = [
            (i, "COOKIE banner!!\nbody %d\n\nfooter common" % i) for i in range(5)
        ] + [(5, "COOKIE banner!!"), (6, "all mine\nonly here")]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_drops_frequent_lines_keeps_order(self, corpus):
        out = {
            r.doc: r
            for r in line_dedup_corpus(
                corpus, "doc_id", max_line_df=3
            ).collect()
        }
        # banner df=6 > 3 and footer df=5 > 3 drop; body + blank line stay
        assert out[0].text_clean == "body 0\n"
        assert (out[0].n_lines, out[0].n_kept, out[0].n_dropped) == (4, 2, 2)
        # all-boilerplate doc survives as a row with empty text
        assert out[5].text_clean == "" and out[5].n_kept == 0
        # unique doc untouched
        assert out[6].text_clean == "all mine\nonly here"

    def test_normalization_unifies_variants(self, spark):
        """Case/punctuation variants of a line count as ONE line for the
        frequency (CCNet normalizes before hashing)."""
        rows = [(i, "Accept Cookies!\nbody %d" % i) for i in range(3)]
        rows += [(3, "ACCEPT   COOKIES\nbody 3"), (4, "accept cookies.\nbody 4")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = line_dedup_corpus(df, "doc_id", max_line_df=4)
        assert out.filter(F.col("n_dropped") > 0).count() == 5

    def test_blank_lines_never_candidates(self, spark):
        """Whitespace-only lines appear in every doc but must never be
        dropped — they carry document structure, not boilerplate signal."""
        rows = [(i, "a %d\n\n  \nb %d" % (i, i)) for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = line_dedup_corpus(df, "doc_id", max_line_df=2)
        assert out.filter(F.col("n_dropped") > 0).count() == 0
        assert out.filter(F.col("n_kept") != 4).count() == 0


# ------------------------------------------------- LSH jumbo-bucket cap


class TestLshBucketCap:
    """lsh_candidates(max_bucket_size=...): an identical-text cluster of n
    docs puts n rows in the same bucket of every band, so the self-join
    emits O(n^2) pairs per band — the measured disk-filler at 600k pages.
    The cap drops such buckets whole; small (discriminative) buckets are
    untouched."""

    @pytest.fixture(scope="class")
    def frames(self, spark):
        from tika_xapian_spark.operators import dedup as D

        cluster = "the quick brown fox jumps over the lazy dog every day"
        near_a = "some other english text about a completely different matter"
        near_b = "some other english text about a completely different topic"
        rows = [(i, cluster) for i in range(1, 6)]
        rows += [(10, near_a), (11, near_b)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sh = D.shingles_df(docs, key="doc_id")
        buckets = D.band_buckets(D.minhash_signatures(sh))
        return D, buckets

    def test_uncapped_has_cluster_pairs(self, frames):
        D, buckets = frames
        pairs = {
            (r.doc_a, r.doc_b) for r in D.lsh_candidates(buckets).collect()
        }
        assert (1, 2) in pairs and (4, 5) in pairs  # quadratic cluster
        assert (10, 11) in pairs

    def test_cap_drops_jumbo_bucket_keeps_small(self, frames):
        D, buckets = frames
        pairs = {
            (r.doc_a, r.doc_b)
            for r in D.lsh_candidates(buckets, max_bucket_size=4).collect()
        }
        assert not any(a <= 5 and b <= 5 for a, b in pairs), pairs
        assert (10, 11) in pairs  # size-2 bucket survives a cap of 4

    def test_star_dedupes_jumbo_at_linear_cost(self, frames):
        """star_above: the 5-doc identical cluster emits exactly its 4
        star pairs (min=1 vs 2..5) — the cluster still gets deduped, at
        n-1 candidates instead of n(n-1)/2 — while the small near-dup
        bucket keeps its all-pairs form."""
        D, buckets = frames
        pairs = {
            (r.doc_a, r.doc_b)
            for r in D.lsh_candidates(buckets, star_above=4).collect()
        }
        cluster = {p for p in pairs if p[0] <= 5 and p[1] <= 5}
        assert cluster == {(1, 2), (1, 3), (1, 4), (1, 5)}, pairs
        assert (10, 11) in pairs

    def test_bad_cap_raises(self, frames):
        D, buckets = frames
        with pytest.raises(ValueError, match="max_bucket_size"):
            D.lsh_candidates(buckets, max_bucket_size=0)
        with pytest.raises(ValueError, match="star_above"):
            D.lsh_candidates(buckets, star_above=0)


class TestCanonicalNearDup:
    """curate_docs runs near-dup over exact-dedup canonicals only. The
    equivalence argument: a non-canonical near-dup partner a (< b) always
    has a canonical a' <= a with byte-identical text, hence the same
    shingles, signature, and buckets — so the pair (a', b) still drops b.
    This pins the mechanism: b's only sub-canonical partner is doc 2, and
    b is still dropped via canonical doc 1."""

    def test_near_dup_via_non_canonical_still_dropped(self, spark):
        from tika_xapian_spark.plans.curation import curate_docs

        t = "the quick brown fox jumps over the lazy dog and then sleeps"
        rows = [(1, t), (2, t), (3, t.replace("dog", "cat"))]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        kept = {
            r.doc_id
            for r in curate_docs(
                docs, gate="classic", quality_min=-(10**9), jaccard_min=400_000
            ).collect()
        }
        # 2 goes to exact dedup (canonical is 1); 3 is near-dup of the
        # cluster text and must be dropped through pair (1, 3) even though
        # near-dup candidates never see doc 2
        assert kept == {1}


class TestGroupHoldoutSplit:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [(i, f"host{i % 37}") for i in range(500)]
        return spark.createDataFrame(rows, "doc_id long, source string")

    def test_groups_never_straddle_the_split(self, docs):
        out = group_holdout_split(docs, "source", train_frac=0.7)
        sides = (
            out.groupBy("source")
            .agg(F.countDistinct("split").alias("n"))
            .collect()
        )
        assert all(r.n == 1 for r in sides)

    def test_both_sides_populated_and_frac_sane(self, docs):
        out = group_holdout_split(docs, "source", train_frac=0.7)
        by = {r.split: r.n for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert set(by) == {"train", "holdout"}
        # group-level assignment: expect ~70% of GROUPS, loose band
        assert 0.4 * 500 < by["train"] < 0.95 * 500

    def test_nested_fracs_are_subsets(self, docs):
        t50 = {r.source for r in group_holdout_split(docs, "source", 0.5)
               .filter("split = 'train'").select("source").distinct().collect()}
        t80 = {r.source for r in group_holdout_split(docs, "source", 0.8)
               .filter("split = 'train'").select("source").distinct().collect()}
        assert t50 <= t80 and len(t50) < len(t80)

    def test_zero_shuffle(self, docs):
        plan = (group_holdout_split(docs, "source")
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan and "Python" not in plan


class TestEncodingAnomalies:
    def _one(self, spark, text):
        from tika_xapian_spark.operators.textstats import encoding_anomalies

        df = spark.createDataFrame([(0, text)], "doc_id long, text string")
        return encoding_anomalies(df, key="doc_id").collect()[0]

    def test_clean_ascii(self, spark):
        r = self._one(spark, "plain ascii text with tabs\tand\nnewlines\r")
        assert (r.n_replacement, r.n_control, r.n_mojibake, r.n_nonascii,
                r.clean) == (0, 0, 0, 0, 1)

    def test_replacement_and_control(self, spark):
        r = self._one(spark, "bad � bytes \x07 bell \x1b esc")
        assert r.n_replacement == 1 and r.n_control == 2 and r.clean == 0

    def test_mojibake_pairs(self, spark):
        # UTF-8 'été' re-decoded as Latin-1 → two Ã-pairs
        r = self._one(spark, "screenshot Ã©tÃ© here")
        assert r.n_mojibake == 2 and r.n_nonascii == 4 and r.clean == 0

    def test_legit_nonascii_stays_clean(self, spark):
        r = self._one(spark, "naïve café 東京")
        assert r.n_mojibake == 0 and r.clean == 1
        assert r.n_nonascii == 4  # ï, é, 東, 京


class TestWithinDocLineDedup:
    def test_drops_repeats_keeps_order_and_empties(self, spark):
        from tika_xapian_spark.operators.dedup import within_doc_line_dedup

        docs = spark.createDataFrame(
            [
                (1, "a b\nDup Line!\na b\ndup line\n\ntail"),
                (2, ""),
                (3, "only"),
            ],
            "doc_id long, text string",
        )
        rows = {r.doc: r for r in within_doc_line_dedup(docs, "doc_id").collect()}
        # doc 1: 'a b' repeat and normalized 'dup line' repeat drop; the
        # empty line survives; order preserved
        assert rows[1].text_clean == "a b\nDup Line!\n\ntail"
        assert (rows[1].n_lines, rows[1].n_kept, rows[1].n_dropped) == (6, 4, 2)
        # empty text is one empty line, kept
        assert (rows[2].n_lines, rows[2].n_kept) == (1, 1)
        assert rows[3].text_clean == "only"

    def test_zero_shuffle_no_python(self, spark):
        from tika_xapian_spark.operators.dedup import within_doc_line_dedup

        docs = spark.createDataFrame(
            [(i, f"l{i}\nl{i}") for i in range(10)], "doc_id long, text string"
        )
        plan = (
            within_doc_line_dedup(docs, "doc_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestLabelCentroidSimilarity:
    def test_identical_and_opposite_clusters(self, spark):
        from tika_xapian_spark.operators.similarity import (
            label_centroid_similarity,
        )

        def vec(sign, jitter):
            return [sign * (1.0 + jitter * (j % 3) / 10.0) for j in range(8)]

        rows = (
            [(i, vec(+1, i % 2), 0) for i in range(4)]
            + [(i + 10, vec(+1, (i + 1) % 2), 1) for i in range(4)]
            + [(i + 20, vec(-1, i % 2), 2) for i in range(4)]
        )
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        got = {
            (r.label_a, r.label_b): r.cos_micro
            for r in label_centroid_similarity(emb, dim=8).collect()
        }
        assert got[(0, 1)] == 1_000_000        # same direction
        assert got[(0, 2)] == -1_000_000       # opposite direction
        assert set(got) == {(0, 1), (0, 2), (1, 2)}

    def test_single_label_shuffle(self, spark):
        from tika_xapian_spark.operators.similarity import (
            label_centroid_similarity,
        )

        emb = spark.createDataFrame(
            [(i, [float(i + j) for j in range(8)], i % 3) for i in range(30)],
            "vec_id long, embedding array<float>, label int",
        )
        plan = (
            label_centroid_similarity(emb, dim=8)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # the centroid groupBy is checkpointed before the self-join, so the
        # executed plan of the final frame joins two checkpoint scans —
        # no re-aggregation, no shuffle join of the k-row table
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_within_doc_line_dedup_null_text(spark):
    """A NULL text row behaves as empty text (1 empty line kept) — not
    NULL-propagated -1 counters."""
    from tika_xapian_spark.operators.dedup import within_doc_line_dedup

    docs = spark.createDataFrame(
        [(1, None), (2, "a\na")], "doc_id long, text string"
    )
    rows = {r.doc: r for r in within_doc_line_dedup(docs, "doc_id").collect()}
    assert (rows[1].n_lines, rows[1].n_kept, rows[1].text_clean) == (1, 1, "")
    assert (rows[2].n_lines, rows[2].n_kept) == (2, 1)


class TestBalanceStrata:
    def _docs(self, spark):
        rows = []
        i = 0
        for src, n in (("big", 40), ("mid", 20), ("tiny", 5)):
            for _ in range(n):
                rows.append((i, src))
                i += 1
        return spark.createDataFrame(rows, "doc_id bigint, source string")

    def test_manifest_shape_and_rates(self, spark):
        from tika_xapian_spark.operators.sampling import balance_strata

        out = {
            r.source: r
            for r in balance_strata(
                self._docs(spark), key="doc_id", strata_col="source"
            ).collect()
        }
        assert set(out) == {"big", "mid", "tiny"}
        # rate = round(min_total * 1e6 / n_total)
        assert out["tiny"].rate_micro == 1_000_000  # smallest keeps all
        assert out["tiny"].n_kept == 5
        assert out["big"].rate_micro == 125_000
        assert out["mid"].rate_micro == 250_000
        for r in out.values():
            assert 0 <= r.n_kept <= r.n_total

    def test_deterministic(self, spark):
        from tika_xapian_spark.operators.sampling import balance_strata

        docs = self._docs(spark)
        a = sorted(map(tuple, balance_strata(docs, "doc_id", "source").collect()))
        b = sorted(map(tuple, balance_strata(docs, "doc_id", "source").collect()))
        assert a == b


class TestCapPerGroup:
    def _pages(self, spark):
        # one giant host (the skew case the salting exists for) + smalls
        rows = [(i, "giant.com") for i in range(60)]
        rows += [(100 + i, "small.org") for i in range(3)]
        rows += [(200, "lone.net")]
        return spark.createDataFrame(rows, "doc_id bigint, host string")

    def test_matches_single_window_reference(self, spark):
        from pyspark.sql import Window

        from tika_xapian_spark.operators.sampling import (
            cap_per_group,
            sample_hash_micro,
        )

        pages = self._pages(spark)
        k = 5
        got = sorted(
            map(tuple, cap_per_group(pages, "doc_id", "host", k=k).collect())
        )
        # reference: ONE plain window, rank clamped to the k+1 sentinel
        w = Window.partitionBy("host").orderBy("_h", "doc_id")
        ref = sorted(
            map(
                tuple,
                pages.select(
                    "doc_id", "host",
                    sample_hash_micro("doc_id", "cap").alias("_h"),
                )
                .select(
                    "doc_id", "host",
                    F.least(F.row_number().over(w), F.lit(k + 1))
                    .cast("int").alias("rnk"),
                )
                .select(
                    "doc_id", "host", "rnk",
                    F.when(F.col("rnk") <= k, F.lit(1)).otherwise(F.lit(0))
                    .alias("kept"),
                )
                .collect(),
            )
        )
        assert got == ref

    def test_kept_counts_and_sentinel(self, spark):
        from tika_xapian_spark.operators.sampling import cap_per_group

        out = cap_per_group(self._pages(spark), "doc_id", "host", k=5)
        per = {
            r["grp"]: (r["n_kept"], r["n_cut"])
            for r in out.groupBy("grp").agg(
                F.sum("kept").alias("n_kept"),
                F.sum(F.when(F.col("rnk") == 6, 1).otherwise(0)).alias("n_cut"),
            ).collect()
        }
        assert per["giant.com"] == (5, 55)   # cap bites, rest at sentinel
        assert per["small.org"] == (3, 0)    # under the cap: all kept
        assert per["lone.net"] == (1, 0)

    def test_k_validated(self, spark):
        from tika_xapian_spark.operators.sampling import cap_per_group

        with pytest.raises(ValueError):
            cap_per_group(self._pages(spark), "doc_id", "host", k=0)


class TestTokenBudget:
    def _docs(self, spark):
        rows = [
            (0, "a b c d e", "s1"),      # 5 tokens
            (1, "a b c", "s2"),          # 3
            (2, "a b", "s3"),            # 2
        ]
        return spark.createDataFrame(rows, "doc_id bigint, text string, source string")

    def test_quotas_sum_exactly_to_budget(self, spark):
        from tika_xapian_spark.operators.sampling import token_budget_allocation

        out = token_budget_allocation(self._docs(spark), "source", budget=10).collect()
        got = {r["stratum"]: r for r in out}
        # shares 5,3,2 of 10 over N=10 divide evenly: no remainders
        assert {s: r["quota"] for s, r in got.items()} == {"s1": 5, "s2": 3, "s3": 2}
        assert all(r["extra"] == 0 for r in out)

    def test_largest_remainder_assignment(self, spark):
        from tika_xapian_spark.operators.sampling import token_budget_allocation

        # budget 7 over shares 5/3/2 (N=10): bases 3,2,1 (sum 6), rems
        # 5,1,4 -> the single leftover goes to s1 (largest remainder)
        out = {r["stratum"]: r for r in token_budget_allocation(
            self._docs(spark), "source", budget=7).collect()}
        assert {s: r["base_quota"] for s, r in out.items()} == {"s1": 3, "s2": 2, "s3": 1}
        assert {s: r["quota"] for s, r in out.items()} == {"s1": 4, "s2": 2, "s3": 1}
        assert sum(r["quota"] for r in out.values()) == 7

    def test_budget_validated(self, spark):
        from tika_xapian_spark.operators.sampling import token_budget_allocation

        with pytest.raises(ValueError):
            token_budget_allocation(self._docs(spark), "source", budget=-1)


class TestVocabCoverage:
    def test_curve_matches_python(self, spark):
        from collections import Counter

        from tika_xapian_spark.operators.textstats import vocab_coverage

        texts = ["a a a b b c", "a b d", "e a", ""]
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id bigint, text string"
        )
        toks = [w for t in texts for w in t.split() if w]
        cnt = Counter(toks)
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        total = sum(cnt.values())
        exp = {}
        cum = 0
        for k, (w, c) in enumerate(ranked, start=1):
            cum += c
            if k in (1, 2, 4, 8, 16, 32):
                exp[k] = (w, cum, round(cum * 1_000_000 / total))
        got = {
            r.k: (r.kth_term, r.cum_tokens, r.covered_micro)
            for r in vocab_coverage(docs, key="doc_id").collect()
        }
        assert got == exp
        assert max(got) == 4  # 5 distinct terms -> ranks beyond vocab absent


class TestContaminationOverlap:
    def test_fractions(self, spark):
        from tika_xapian_spark.operators.dedup import (
            contamination_overlap,
            shingles_df,
        )

        # 3-word shingles; doc 10 shares exactly one of its two shingles
        # with the probe, doc 11 shares none.
        probe_docs = spark.createDataFrame(
            [(0, "alpha beta gamma")], "doc_id bigint, text string"
        )
        corpus = spark.createDataFrame(
            [(10, "alpha beta gamma delta"), (11, "zeta eta theta")],
            "doc_id bigint, text string",
        )
        out = {
            r.doc: r
            for r in contamination_overlap(
                shingles_df(corpus, "doc_id"), shingles_df(probe_docs, "doc_id")
            ).collect()
        }
        assert out[10].n_grams == 2 and out[10].n_probe_hits == 1
        assert out[10].overlap_micro == 500_000
        assert out[11].n_probe_hits == 0 and out[11].overlap_micro == 0


class TestPowerIteration:
    def test_matches_numpy_exact(self, spark):
        import numpy as np

        from tika_xapian_spark.operators.similarity import (
            power_iteration_component,
        )

        rng = np.random.RandomState(7)
        A = rng.randn(50, 8).astype(np.float32)
        emb = spark.createDataFrame(
            [(i, [float(x) for x in A[i]]) for i in range(50)],
            "vec_id bigint, embedding array<float>",
        )
        M = np.round(A.astype(np.float64) * 1000).astype(object)  # exact ints
        u1 = M.sum(axis=1)
        z1 = (M * u1[:, None]).sum(axis=0)
        z1s = np.array([int(np.floor(int(z) / 1_000_000.0)) for z in z1], dtype=object)
        u2 = (M * z1s[None, :]).sum(axis=1)
        z2 = (M * u2[:, None]).sum(axis=0)
        got = {
            r.dim: r.component
            for r in power_iteration_component(emb, dim=8).collect()
        }
        assert got == {i: int(z2[i]) for i in range(8)}

    def test_direction_tracks_dominant_eigenvector(self, spark):
        import numpy as np

        from tika_xapian_spark.operators.similarity import (
            power_iteration_component,
        )

        # planted dominant direction: strong variance along dim 0 + 1
        rng = np.random.RandomState(3)
        base = rng.randn(200, 1) * 10
        A = np.hstack([base, base * 0.9, rng.randn(200, 2) * 0.1]).astype(
            np.float32
        )
        emb = spark.createDataFrame(
            [(i, [float(x) for x in A[i]]) for i in range(200)],
            "vec_id bigint, embedding array<float>",
        )
        comp = np.array(
            [
                r.component
                for r in sorted(
                    power_iteration_component(emb, dim=4).collect(),
                    key=lambda r: r.dim,
                )
            ],
            dtype=np.float64,
        )
        v = comp / np.linalg.norm(comp)
        M = A.astype(np.float64)
        w, V = np.linalg.eigh(M.T @ M)
        top = V[:, -1]
        assert abs(float(v @ top)) > 0.99


class TestBigramNovelty:
    def test_matches_python(self, spark):
        from collections import defaultdict

        from tika_xapian_spark.operators.textstats import bigram_novelty

        texts = {
            0: "a b c a b",        # bigrams: {a b, b c, c a} — all first here
            1: "a b x y",          # {a b(old), b x, x y}
            2: "x y a b b c",      # all old except {y a, b b}
            3: "z",                # no bigrams -> absent
        }
        docs = spark.createDataFrame(
            list(texts.items()), "doc_id bigint, text string"
        )
        firstseen: dict[str, int] = {}
        per = {}
        for d in sorted(texts):
            toks = texts[d].split()
            bgs = {f"{a} {b}" for a, b in zip(toks, toks[1:])}
            for g in sorted(bgs):
                firstseen.setdefault(g, d)
            if bgs:
                per[d] = (len(bgs), sum(1 for g in bgs if firstseen[g] == d))
        got = {
            r.doc: (r.n_bigrams, r.n_novel, r.novelty_micro)
            for r in bigram_novelty(docs, key="doc_id").collect()
        }
        exp = {
            d: (n, nov, round(nov * 1_000_000 / n))
            for d, (n, nov) in per.items()
        }
        assert got == exp
        assert 3 not in got  # single-token doc has no bigrams


class TestCooccurrencePmi:
    def test_matches_python(self, spark):
        import math
        from collections import Counter

        from tika_xapian_spark.operators.textstats import cooccurrence_pmi

        texts = [
            "red apple red apple green pear",
            "red apple pie and green pear tart",
            "apple red apple red",
        ] * 3
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id bigint, text string"
        )
        W, MIN = 2, 3
        pairs: Counter = Counter()
        uni: Counter = Counter()
        for t in texts:
            toks = t.split()
            uni.update(toks)
            for i, a in enumerate(toks):
                for d in range(1, W + 1):
                    if i + d < len(toks):
                        b = toks[i + d]
                        pairs[(min(a, b), max(a, b))] += 1
        n_p = sum(pairs.values())
        n_u = sum(uni.values())
        exp_rows = []
        for (a, b), c in pairs.items():
            if c < MIN:
                continue
            pmi = math.log2((c / n_p) / ((uni[a] / n_u) * (uni[b] / n_u)))
            exp_rows.append((f"{a} {b}", c, uni[a], uni[b], round(pmi * 1e6)))
        exp = sorted(exp_rows, key=lambda r: (-r[4], r[0]))[:5]
        got = [
            (r.pair, r.c_ab, r.c_a, r.c_b, r.pmi_micro)
            for r in cooccurrence_pmi(
                docs, key="doc_id", window=W, min_count=MIN, top_k=5
            ).collect()
        ]
        assert got == exp


class TestContainmentPairs:
    def test_subset_doc_scores_full_containment_but_low_jaccard(self, spark):
        """A 3-word doc fully quoted inside a 40-word doc: containment of
        the small doc in the big one is exactly 1.0 while Jaccard is tiny,
        and the reverse direction is proportionally small — the asymmetry
        Jaccard cannot express."""
        from tika_xapian_spark.operators.dedup import (
            containment_top_pairs,
            ngram_jaccard_top_pairs,
        )

        small = "alpha beta gamma"
        big = " ".join(f"w{i}" for i in range(38)) + " alpha beta gamma"
        docs = spark.createDataFrame(
            [(1, small), (2, big)], "doc_id long, text string"
        )
        got = {
            (r.src_doc, r.dst_doc): r.containment_micro
            for r in containment_top_pairs(docs, key="doc_id", k=2).collect()
        }
        # small doc: 2 bigrams, both inside big -> containment 1.0
        assert got[(1, 2)] == 1_000_000
        # big doc: 40 bigrams, 2 shared -> 2/40
        assert got[(2, 1)] == (2 * 1_000_000) // 40
        jac = ngram_jaccard_top_pairs(docs, key="doc_id", k=2).collect()
        assert jac[0].jaccard_micro == round(2 * 1_000_000 / 40)


# ------------------------------------------- round-7 pair-pipeline shapes


class TestPairPipelineRound7:
    """Pins for the round-7 restructures: sizes ride the pair rows (no
    join above the pair aggregation), exact_jaccard verifies via per-doc
    arrays, and the substring-span candidate pass is a single grouped
    explode — alongside the row-level results that prove the shapes
    compute the same thing."""

    def test_containment_scoring_is_join_free(self, spark):
        from tika_xapian_spark.operators.dedup import containment_top_pairs

        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma w{i} delta") for i in range(12)],
            "doc_id long, text string",
        )
        df = containment_top_pairs(docs, key="doc_id", k=2, top=5)
        plan = plan_of(df)
        # exactly ONE join, and it is the shingle-table-level size attach
        # keyed on doc — NOT a join on the (corpus-quadratic) pair stream:
        # n_a/n_b are carried through the pair aggregation
        join_lines = [ln for ln in plan.splitlines() if "Join [" in ln]
        assert len(join_lines) == 1, plan
        assert "[doc#" in join_lines[0], join_lines[0]
        assert "TakeOrderedAndProject" in plan, plan
        assert len(df.collect()) == 5

    def test_containment_df_cap_still_prunes_hot_shingles(self, spark):
        from tika_xapian_spark.operators.dedup import containment_top_pairs

        # "hot hot hot" shingle shared by ALL docs is dropped by the cap,
        # so only the alpha/beta pair survives with its private shingle
        rows = [(i, f"hot hot hot u{i} v{i}") for i in range(10)]
        rows += [(100, "hot hot hot alpha beta"), (101, "alpha beta only x")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = containment_top_pairs(
            docs, key="doc_id", k=2, top=50, max_shingle_df=5
        ).collect()
        pairs = {(r.src_doc, r.dst_doc) for r in got}
        assert (100, 101) in pairs and (101, 100) in pairs
        # no pair between the hot-only docs: their every shingle is capped
        assert not any(r.src_doc < 100 and r.dst_doc < 100 for r in got)

    def test_exact_jaccard_zero_overlap_candidate_scores_zero(self, spark):
        from tika_xapian_spark.operators.dedup import exact_jaccard, shingles_df

        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, "x y z w")], "doc_id long, text string"
        )
        sh = shingles_df(docs, key="doc_id")
        cand = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
        rows = exact_jaccard(cand, sh).collect()
        # the candidate row survives (old left_outer+fill semantics) at 0
        assert [(r.doc_a, r.doc_b, r.jaccard_micro) for r in rows] == [(1, 2, 0)]

    def test_substring_spans_single_gram_shuffle_no_joins(self, spark):
        from tika_xapian_spark.operators.dedup import shared_substring_spans

        docs = spark.createDataFrame(
            [(i, " ".join(f"w{(i * 3 + j) % 9}" for j in range(15)))
             for i in range(20)],
            "doc_id long, text string",
        )
        df = shared_substring_spans(docs, key="doc_id", width=4)
        plan = plan_of(df)
        assert "Join" not in plan, plan  # candidate pass is grouped explode
        # one gram exchange + one span-merge exchange + the final top-k
        assert plan.count("Exchange hashpartitioning") == 2, plan
