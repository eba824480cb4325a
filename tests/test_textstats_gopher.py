"""Gopher repetition/quality rules on crafted docs that exercise the
shapes the synthetic corpus never produces (multi-line texts, duplicate
lines, bullets, ellipses, repeated n-grams) — pins the sorted-adjacent
fold logic against hand-computed truths."""

import pytest
from pyspark.sql import functions as F

from tests.test_oracle_parity import SF_DIR
from tika_xapian_spark.operators import textstats as T


@pytest.fixture(scope="module")
def crafted(spark):
    rows = [
        # 4 lines, "dup line" twice: extra_count 1 of 4 lines; chars:
        # lines = [dup line(8), dup line(8), solo one(8), solo two(8)]
        (1, "dup line\ndup line\nsolo one\nsolo two"),
        # heavy 2-gram repetition: "ab cd" x4
        (2, "ab cd ab cd ab cd ab cd"),
        # 5-gram repeated twice: 10 tokens = the same 5 twice
        (3, "v w x y z v w x y z"),
        # bullets + ellipsis lines
        (4, "- item one\n- item two\nplain tail..."),
        # a "good" doc: >= 12 words incl. two Gopher stopwords
        (5, "the cat sat with the dog and they watched other cats play "
            "games outside today happily under warm sun"),
        # symbol-heavy: many '#'
        (6, "spam ### ### ### ### wow"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestRepetition:
    def stats(self, crafted):
        return {
            r["doc"]: r
            for r in T.gopher_repetition(crafted, key="doc_id").collect()
        }

    def test_duplicate_lines(self, crafted):
        s = self.stats(crafted)[1]
        assert s["n_lines"] == 4
        # 1 extra occurrence of 4 lines
        assert s["dup_line_frac_micro"] == 250000
        # extra chars 8 of 32 line chars
        assert s["dup_line_char_frac_micro"] == 250000

    def test_no_duplicate_lines(self, crafted):
        s = self.stats(crafted)[4]
        assert s["n_lines"] == 3
        assert s["dup_line_frac_micro"] == 0
        assert s["dup_line_char_frac_micro"] == 0

    def test_top_2gram_coverage(self, crafted):
        # doc 2: tokens [ab cd ab cd ab cd ab cd]; top 2-gram "ab cd"
        # (len 5) occurs 4x -> cover 20 over 23 text chars
        s = self.stats(crafted)[2]
        assert s["top_2gram_char_frac_micro"] == round(20 / 23 * 1e6)

    def test_dup_5gram_coverage(self, crafted):
        # doc 3: "v w x y z" (len 9) appears twice among the six 5-grams;
        # the other grams are unique -> dup cover 18 over 19 chars
        s = self.stats(crafted)[3]
        assert s["dup_5gram_char_frac_micro"] == round(18 / 19 * 1e6)

    def test_short_doc_zero_grams(self, crafted):
        # doc 6 has 6 tokens -> 5-grams exist but unique; 2-grams unique
        s = self.stats(crafted)[6]
        assert s["dup_5gram_char_frac_micro"] == 0


class TestQualityRules:
    def feats(self, crafted, **kw):
        return {
            r["doc"]: r
            for r in T.gopher_quality(crafted, key="doc_id", **kw).collect()
        }

    def test_bullet_and_ellipsis_fractions(self, crafted):
        f = self.feats(crafted)[4]
        assert f["bullet_line_frac_micro"] == round(2 / 3 * 1e6)
        assert f["ellipsis_line_frac_micro"] == round(1 / 3 * 1e6)

    def test_symbol_ratio(self, crafted):
        # doc 6: 12 '#' chars, 0 '...'; tokens = [spam, wow] (###
        # dissolves in the tokenizer) -> ratio 12/2 = 6.0
        f = self.feats(crafted)[6]
        assert f["symbol_ratio_micro"] == 6_000_000
        assert f["passes"] == 0

    def test_stopword_floor_and_pass(self, crafted):
        f = self.feats(crafted, min_words=10)[5]
        assert f["n_stop_hits"] >= 3  # the, with, and
        assert f["alpha_word_frac_micro"] == 1_000_000
        assert f["passes"] == 1

    def test_word_count_band(self, crafted):
        # default min_words=50 rejects every crafted doc
        f = self.feats(crafted)
        assert all(v["passes"] == 0 for v in f.values())

    def test_min_stop_parameter(self, crafted):
        strict = self.feats(crafted, min_words=10, min_stop=5)[5]
        assert strict["passes"] == 0  # only 3 distinct stopwords present


class TestDupRunStatsProperty:
    """_dup_run_stats (the sorted-adjacent fold) vs a plain-Python
    reference over randomized string arrays — hypothesis-style coverage via
    seeded batches (one Spark action for the whole batch)."""

    def reference(self, arr):
        from collections import Counter

        c = Counter(arr)
        extra_chars = sum((n - 1) * len(v) for v, n in c.items())
        extra_count = sum(n - 1 for n in c.values())
        top_cover = max((n * len(v) for v, n in c.items()), default=0)
        dup_cover = sum(n * len(v) for v, n in c.items() if n > 1)
        return (extra_chars, extra_count, top_cover, dup_cover)

    def test_matches_reference_on_random_arrays(self, spark):
        import random

        from tika_xapian_spark.operators.textstats import _dup_run_stats

        rng = random.Random(7)
        words = ["a", "bb", "ccc", "dddd", "ee", "f"]
        cases = [[]] + [
            [rng.choice(words) for _ in range(rng.randint(1, 12))]
            for _ in range(60)
        ]
        df = spark.createDataFrame(
            [(i, arr) for i, arr in enumerate(cases)],
            "id long, arr array<string>",
        )
        got = {
            r["id"]: (
                r["s"]["extra_chars"],
                r["s"]["extra_count"],
                r["s"]["top_cover"],
                r["s"]["dup_cover"],
            )
            for r in df.select("id", F.expr(_dup_run_stats("arr")).alias("s")).collect()
        }
        for i, arr in enumerate(cases):
            assert got[i] == self.reference(arr), (i, arr, got[i])


class TestSharedSubstringSpans:
    """ExactSubstr relational form: spans must merge along diagonals and
    split at gaps, with exact start offsets."""

    @pytest.fixture(scope="class")
    def pair_docs(self, spark):
        shared = " ".join(f"s{i}" for i in range(12))  # 12-token run
        rows = [
            (1, "left padding words here " + shared + " tail one"),
            (2, "other intro " + shared + " different ending words"),
            # doc 3 shares the run but with a one-token mutation in the
            # middle -> splits into two sub-runs of 6, both < width 8
            (3, "x " + " ".join(
                f"s{i}" if i != 6 else "MUT" for i in range(12))),
            (4, "nothing in common at all zebra quux"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_span_offsets_and_length(self, pair_docs):
        from tika_xapian_spark.operators.dedup import shared_substring_spans

        out = shared_substring_spans(
            pair_docs, key="doc_id", width=8
        ).collect()
        spans = {(r["doc_a"], r["doc_b"]): r for r in out}
        s = spans[(1, 2)]
        # doc1 tokens: [left,padding,words,here, s0..s11, tail,one] -> run
        # starts at 4; doc2: [other,intro, s0..s11, ...] -> starts at 2
        assert s["span_tokens"] == 12
        assert s["start_a"] == 4 and s["start_b"] == 2
        # mutated doc: both halves are 6 tokens < width -> no span reported
        assert (1, 3) not in spans and (2, 3) not in spans
        assert all(4 not in k for k in spans)

    def test_gap_splits_with_narrow_width(self, pair_docs):
        from tika_xapian_spark.operators.dedup import shared_substring_spans

        out = shared_substring_spans(
            pair_docs, key="doc_id", width=4
        ).collect()
        halves = sorted(
            (
                (r["start_a"], r["start_b"], r["span_tokens"])
                for r in out
                if {r["doc_a"], r["doc_b"]} == {1, 3}
            )
        )
        # the mutation splits the run: s0..s5 (6 tokens) + s7..s11 (5
        # tokens), two separate islands on the same diagonal
        assert halves == [(4, 1, 6), (11, 8, 5)]


class TestCurationLibrarySurface:
    """plans/curation.curate_docs is the one curation chain: CLI ``curate``
    and the registry's curate_corpus* queries both run it, so oracle parity
    checks its kept ids directly."""

    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.read.parquet(f"{SF_DIR}/documents.parquet")

    @pytest.mark.parametrize("gate", ["ccnet", "clf"])
    def test_gate_discriminates(self, docs, gate):
        """The tercile cut and the classifier margin each drop some docs
        and keep some."""
        from tika_xapian_spark.plans.curation import curate_docs

        assert 0 < curate_docs(docs, gate=gate).count() < docs.count()

    def test_bad_gate_raises(self, spark):
        from tika_xapian_spark.plans.curation import curate_docs

        docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="gate"):
            curate_docs(docs, gate="magic")

    def test_output_keeps_all_columns(self, docs):
        from tika_xapian_spark.plans.curation import curate_docs

        out = curate_docs(docs, gate="gopher")
        assert set(docs.columns) <= set(out.columns)


class TestUnigramLogpplSkewSafe:
    """unigram_logppl's hot/cold split (r5 verdict #3): the Zipf head joins
    via a bounded broadcast, the tail via a shuffle whose probe side has no
    hot keys — and every split must agree with a plain-Python reference."""

    def reference(self, texts):
        import math
        from collections import Counter

        toks = {i: t.split() for i, t in texts.items()}
        cnt = Counter(w for ws in toks.values() for w in ws)
        n = float(sum(cnt.values()))
        out = {}
        for i, ws in toks.items():
            if not ws:
                continue
            bits = [math.log2(n) - math.log2(cnt[w]) for w in ws]
            out[i] = (len(ws), round(sum(bits) / len(ws) * 1_000_000))
        return out

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        texts = {
            0: "the the the cat sat on the mat",
            1: "the dog ate the homework",
            2: "zebra quark flux",
            3: "the the the the the",
            4: "cat cat dog dog mixed bag of words here",
        }
        df = spark.createDataFrame(
            [(k, " ".join(v.split())) for k, v in texts.items()],
            "doc_id long, text string",
        )
        return texts, df

    @pytest.mark.parametrize("hot_vocab", [1, 3, 100_000])
    def test_matches_reference_for_any_split(self, spark, corpus, hot_vocab):
        from tika_xapian_spark.operators.textstats import unigram_logppl

        texts, df = corpus
        got = {
            r["doc"]: (r["n_tokens"], r["logppl_micro"])
            for r in unigram_logppl(df, "doc_id", hot_vocab=hot_vocab).collect()
        }
        assert got == self.reference(texts)

    def test_plan_has_bounded_broadcasts_no_occurrence_join(self, spark, corpus):
        from tika_xapian_spark.operators.textstats import unigram_logppl

        _, df = corpus
        plan = (
            unigram_logppl(df, "doc_id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # hot inner join + hot anti join are broadcasts (bounded top-K side)
        assert plan.count("BroadcastHashJoin") >= 2, plan
        # the occurrence stream itself is never a join input: tf is
        # run-length encoded map-side, so no Generate/explode feeds a join
        assert "Generate explode" not in plan, plan


class TestC4Signals:
    """C4 rules (Raffel et al. 2020) on crafted multi-line punctuated docs —
    the shapes the synthetic corpus never produces — against hand-computed
    truths, defaults (terminal punct required, 5-sentence floor)."""

    @pytest.fixture(scope="class")
    def c4(self, spark):
        rows = [
            # 3 lines: kept (punct+words), dropped (no terminal punct),
            # dropped (javascript)
            (1, "This line ends properly.\nno terminal punct here\n"
                "enable javascript to continue."),
            # lorem ipsum page + short lines
            (2, "Lorem ipsum dolor sit amet.\nOk line two here."),
            # curly brace page
            (3, "function f() { return 1; }\nA real sentence follows here."),
            # clean passing page: 5 sentences, all lines kept
            (4, "One good sentence here. Another fine sentence too. "
                "A third one lands. Fourth keeps going. Fifth closes it."),
            # too few words per line despite punctuation
            (5, "Too short.\nAlso no."),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {r["doc"]: r for r in T.c4_signals(df, key="doc_id").collect()}

    def test_line_rules(self, c4):
        r = c4[1]
        assert r["n_lines"] == 3 and r["n_kept_lines"] == 1
        # kept chars = len("This line ends properly.") = 24
        total = 24 + len("no terminal punct here") + len(
            "enable javascript to continue.")
        assert r["kept_char_frac_micro"] == round(24 / total * 1_000_000)

    def test_lorem_and_brace_flags(self, c4):
        assert c4[2]["has_lorem"] == 1 and c4[2]["passes"] == 0
        assert c4[3]["has_brace"] == 1 and c4[3]["passes"] == 0

    def test_sentence_floor_and_pass(self, c4):
        assert c4[4]["n_sentences"] == 5 and c4[4]["passes"] == 1
        assert c4[1]["n_sentences"] == 2 and c4[1]["passes"] == 0

    def test_min_line_words(self, c4):
        assert c4[5]["n_kept_lines"] == 0 and c4[5]["passes"] == 0

    def test_badword_tokens(self, spark):
        df = spark.createDataFrame(
            [(1, "the dup word appears here today fine."),
             (2, "a clean sentence with plenty of words here.")],
            "doc_id long, text string",
        )
        out = {
            r["doc"]: r
            for r in T.c4_signals(
                df, key="doc_id", badwords=("dup",), min_sentences=1
            ).collect()
        }
        assert out[1]["n_badword_hits"] == 1 and out[1]["passes"] == 0
        assert out[2]["n_badword_hits"] == 0 and out[2]["passes"] == 1


class TestZipfFit:
    def test_zipfian_corpus_fits_slope_minus_one(self, spark):
        """Counts proportional to 1/rank must fit slope ~ -1 with R^2 ~ 1;
        a uniform corpus must not (that discrimination is the op's point)."""
        from tika_xapian_spark.operators.textstats import zipf_fit

        words = []
        for k in range(1, 51):
            words += [f"w{k:02d}"] * (10_000 // k)
        docs = spark.createDataFrame(
            [(1, " ".join(words))], "doc_id long, text string"
        )
        row = zipf_fit(docs).collect()[0]
        assert row.n_terms == 50
        assert -1_050_000 <= row.slope_micro <= -950_000
        assert row.r2_micro >= 990_000

        uni = spark.createDataFrame(
            [(1, " ".join(f"u{k}" for k in range(1, 51)))],
            "doc_id long, text string",
        )
        urow = zipf_fit(uni).collect()[0]
        assert urow.slope_micro == 0  # all counts equal: flat line


class TestKnBigram:
    def test_hand_computed_kn_probabilities(self, spark):
        """'a b a b a c': P(b|a) = 1.25/3 + .75*(2/3)*(1/3) = 0.583333,
        P(a|b) = 0.75, P(c|a) = 0.25 — the discounted mass shifts to
        continuations in proportion to their novel-context counts."""
        from tika_xapian_spark.operators.textstats import kn_bigram_probs

        docs = spark.createDataFrame(
            [(1, "a b a b a c")], "doc_id long, text string"
        )
        got = {
            (r.w1, r.w2): (r.c, r.prob_micro)
            for r in kn_bigram_probs(docs, key="doc_id").collect()
        }
        assert got == {
            ("a", "b"): (2, 583333),
            ("b", "a"): (2, 750000),
            ("a", "c"): (1, 250000),
        }
