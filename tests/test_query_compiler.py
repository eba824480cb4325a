"""T-query-compile: structural goldens pinned to the reference's three green
query-compilation tests (/root/reference/src/xapian_utils.rs:486-554), plus
operator-keyword folding and love/hate cases. Comparison is structural (our
explain() dump), not string-equal to Xapian's get_description — SURVEY.md
§5.2."""

import pytest

from tika_xapian_spark.operators import search as S
from tika_xapian_spark.operators.index import InvertedIndex
from tika_xapian_spark.plans.query_compiler import (
    Bool,
    Elite,
    Empty,
    NearOp,
    PartialTerm,
    PhraseOp,
    PhraseTerms,
    RangeOp,
    Scale,
    StemTerm,
    Synonym,
    WildcardTerm,
    compile_query,
    explain,
    get_description,
    search,
)


class TestGoldens:
    def test_green_golden_1(self):
        # src/xapian_utils.rs:504-508:
        # title:foo  baz bar author:bob hee tag:rust "hee hee hee"
        # => OR-fold of 6 partial terms + 1 phrase (Q20)
        n = compile_query('title:foo  baz bar author:bob hee tag:rust "hee hee hee"')
        assert explain(n) == (
            "(((((("
            "(WILDCARD Sfoo* OR ZSfoo)"
            " OR (WILDCARD baz* OR Zbaz))"
            " OR (WILDCARD bar* OR Zbar))"
            " OR (WILDCARD Abob* OR ZAbob))"
            " OR (WILDCARD hee* OR Zhee))"
            " OR (WILDCARD Krust* OR ZKrust))"
            " OR (hee PHRASE hee PHRASE hee))"
        )

    def test_green_golden_2(self):
        # src/xapian_utils.rs:526-530: title:"foo bar" author:bob tag:rust
        # A field:word token at end of input (or before a dead char like the
        # golden's literal \n) fails XapianTag::parse in the reference —
        # streaming `word` needs a following byte — and degrades to the
        # unprefixed implicit phrase of its words.
        n = compile_query('title:"foo bar" author:bob tag:rust')
        assert explain(n) == (
            "(((Sfoo PHRASE Sbar)"
            " OR (WILDCARD Abob* OR ZAbob))"
            " OR (tag PHRASE rust))"
        )

    def test_green_golden_3(self):
        # src/xapian_utils.rs:548-552:
        # title:foo "baz bar" author:"bob alice" hee tag:rust "hee hee"
        n = compile_query('title:foo "baz bar" author:"bob alice" hee tag:rust "hee hee"')
        assert explain(n) == (
            "((((("
            "(WILDCARD Sfoo* OR ZSfoo)"
            " OR (baz PHRASE bar))"
            " OR (Abob PHRASE Aalice))"
            " OR (WILDCARD hee* OR Zhee))"
            " OR (WILDCARD Krust* OR ZKrust))"
            " OR (hee PHRASE hee))"
        )


class TestStringGoldens:
    """Literal Xapian get_description equality against the reference's green
    expression tests (src/xapian_utils.rs:486-554), on the UNMODIFIED golden
    inputs — including each input's literal backslash-n tail, which the
    reference's streaming nom lexer discards (goldens 1/3) or which strips
    the whitespace after the last field token so XapianTag::parse fails and
    the token degrades to an unprefixed implicit phrase (golden 2)."""

    def test_golden_1_literal(self):
        n = compile_query(
            'title:foo  baz bar author:bob hee tag:rust "hee hee hee" \\n'
        )
        assert get_description(n) == (
            "Query((((((((WILDCARD SYNONYM Sfoo OR ZSfoo@1)"
            " OR (WILDCARD SYNONYM baz OR Zbaz@1))"
            " OR (WILDCARD SYNONYM bar OR Zbar@1))"
            " OR (WILDCARD SYNONYM Abob OR ZAbob@1))"
            " OR (WILDCARD SYNONYM hee OR Zhee@1))"
            " OR (WILDCARD SYNONYM Krust OR ZKrust@1))"
            " OR (hee@1 PHRASE 3 hee@2 PHRASE 3 hee@3)))"
        )

    def test_golden_2_literal(self):
        # 'tag:rust\n' (literal backslash-n): nom's streaming `word` needs a
        # byte after the value, so XapianTag::parse fails on the extracted
        # 'tag:rust' span (the reference's own tag_no_trailing_whitespace
        # test pins this) and the token falls back to plain parse_query
        # WITHOUT prefix registration — the unprefixed implicit phrase in
        # the reference golden, reproduced byte-for-byte here.
        n = compile_query('title:"foo bar" author:bob tag:rust\\n')
        assert get_description(n) == (
            "Query((((Sfoo@1 PHRASE 2 Sbar@2)"
            " OR (WILDCARD SYNONYM Abob OR ZAbob@1))"
            " OR (tag@1 PHRASE 2 rust@2)))"
        )

    def test_golden_3_literal(self):
        n = compile_query(
            'title:foo "baz bar" author:"bob alice" hee tag:rust "hee hee"\\n'
        )
        assert get_description(n) == (
            "Query(((((((WILDCARD SYNONYM Sfoo OR ZSfoo@1)"
            " OR (baz@1 PHRASE 2 bar@2))"
            " OR (Abob@1 PHRASE 2 Aalice@2))"
            " OR (WILDCARD SYNONYM hee OR Zhee@1))"
            " OR (WILDCARD SYNONYM Krust OR ZKrust@1))"
            " OR (hee@1 PHRASE 2 hee@2)))"
        )

    def test_trailing_field_keeps_prefix_with_whitespace(self):
        # the degrade rule is the lexer artifact, not the intended grammar:
        # with trailing whitespace the field token completes and keeps K
        n = compile_query("title:foo tag:rust ")
        assert get_description(n).endswith(
            "OR (WILDCARD SYNONYM Krust OR ZKrust@1)))"
        )

    def test_op_descriptions(self):
        assert get_description(compile_query("a AND b", partial=False)) == (
            "Query((Za@1 AND Zb@1))"
        )
        assert get_description(compile_query("a NEAR b", partial=False)) == (
            "Query((Za@1 NEAR 11 Zb@1))"
        )
        assert get_description(compile_query("a SCALED 2.5", partial=False)) == (
            "Query(2.5 * Za@1)"
        )


class TestOperatorFold:
    def test_left_assoc_fold(self):
        n = compile_query("a AND b OR c", partial=False)
        assert explain(n) == "((Za AND Zb) OR Zc)"

    def test_and_maybe_longest_match(self):
        n = compile_query("a AND MAYBE b", partial=False)
        assert isinstance(n, Bool) and n.op == "AND_MAYBE"

    def test_and_not(self):
        n = compile_query("a AND NOT b", partial=False)
        assert isinstance(n, Bool) and n.op == "AND_NOT"

    def test_case_insensitive_ops(self):
        n = compile_query("a and b xor c", partial=False)
        assert explain(n) == "((Za AND Zb) XOR Zc)"

    def test_word_boundary_not_substring(self):
        # Q21 fix: 'android' must NOT split on 'and'; 'oregon' not on 'or'
        n = compile_query("android oregon", partial=False)
        assert explain(n) == "(Zandroid OR Zoregon)"

    def test_near_phrase_ops(self):
        n = compile_query("a NEAR b", partial=False)
        assert isinstance(n, NearOp)
        n2 = compile_query("a PHRASE b", partial=False)
        assert isinstance(n2, PhraseOp)

    def test_scaled_factor(self):
        n = compile_query("a SCALED 2.5", partial=False)
        assert isinstance(n, Scale) and n.factor == 2.5

    def test_elite_n(self):
        n = compile_query("a b c ELITE 2", partial=False)
        assert isinstance(n, Elite) and n.n == 2

    def test_synonym(self):
        n = compile_query("a SYNONYM b", partial=False)
        assert isinstance(n, Synonym)

    def test_range(self):
        n = compile_query("date RANGE 2021-01-01 2021-12-31", partial=False)
        assert isinstance(n, RangeOp)
        assert n.fld == "date" and n.lo == "2021-01-01" and n.hi == "2021-12-31"


class TestLoveHate:
    def test_hate_excludes(self):
        n = compile_query("stock -cooking", partial=False)
        assert explain(n) == "(Zstock AND_NOT Zcook)"

    def test_love_requires(self):
        n = compile_query("+spark merge", partial=False)
        assert explain(n) == "(Zspark AND_MAYBE Zmerg)"

    def test_love_only(self):
        n = compile_query("+spark +join", partial=False)
        assert explain(n) == "(Zspark AND Zjoin)"


class TestTokenForms:
    def test_wildcard_token(self):
        n = compile_query("spar*", partial=False)
        assert isinstance(n, WildcardTerm) and n.pattern == "spar"

    def test_hyphen_becomes_phrase(self):
        n = compile_query("simple-example", partial=False)
        assert explain(n) == "(simple PHRASE example)"

    def test_empty_query(self):
        assert isinstance(compile_query("", partial=False), Empty)
        assert isinstance(compile_query("   ", partial=False), Empty)

    def test_unknown_field_prefix_is_plain(self):
        # 'nosuch:' is not a field — xapian would phrase it; we keep the
        # token as a phrase of its word parts
        n = compile_query("nosuch:thing", partial=False)
        assert explain(n) == "(nosuch PHRASE thing)"


CORPUS = [
    (1, "spark join fast"),
    (2, "spark spark merge"),
    (3, "join slow"),
    (4, "merge join spark fast fast"),
]


@pytest.fixture(scope="module")
def sindex(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=True)
    yield idx
    idx.unpersist()


class TestEndToEnd:
    def docs_of(self, df):
        return {r["doc"] for r in df.collect()}

    def test_free_text(self, sindex, spark):
        got = self.docs_of(search(sindex, "spark merge", partial=False))
        assert got == {1, 2, 4}

    def test_boolean(self, sindex):
        got = self.docs_of(search(sindex, "spark AND NOT merge", partial=False))
        assert got == {1}

    def test_phrase_query(self, sindex):
        got = self.docs_of(search(sindex, '"spark join"', partial=False))
        assert got == {1}

    def test_near_query(self, sindex):
        got = self.docs_of(search(sindex, "merge NEAR fast", partial=False))
        assert got == {4}

    def test_incomplete_positional_operator_matches_nothing(self, sindex):
        """A keystroke that ends on NEAR/ADJ/PHRASE leaves an Empty operand;
        like Xapian's AND-like operators over MatchNothing, the query
        matches nothing instead of raising."""
        for q in ("merge NEAR", "merge ADJ", "merge PHRASE", "NEAR merge"):
            for partial in (True, False):
                assert self.docs_of(search(sindex, q, partial=partial)) == set()

    def test_partial_last_word(self, sindex):
        # partial mode: 'spar' matches via wildcard expansion of 'spar*'
        got = self.docs_of(search(sindex, "spar", partial=True))
        assert got == {1, 2, 4}

    def test_hate_e2e(self, sindex):
        got = self.docs_of(search(sindex, "join -slow", partial=False))
        assert got == {1, 4}

    def test_scaled_e2e(self, sindex):
        base = {r["doc"]: r["score"] for r in search(sindex, "slow", partial=False).collect()}
        scaled = {r["doc"]: r["score"] for r in search(sindex, "slow SCALED 3", partial=False).collect()}
        assert scaled[3] == pytest.approx(base[3] * 3, rel=1e-12)


class TestScanFusion:
    def test_or_fusion_equals_unfused(self, sindex):
        from tika_xapian_spark.plans.query_compiler import Executor, compile_query

        node = compile_query("spark merge slow", partial=False)
        fused = {
            r["doc"]: r["score"] for r in Executor(sindex).run(node).collect()
        }
        # manual unfused fold
        from tika_xapian_spark.operators import search as S

        manual = S.op_or(
            S.op_or(
                S.score_terms(sindex, ["Zspark"]), S.score_terms(sindex, ["Zmerg"])
            ),
            S.score_terms(sindex, ["Zslow"]),
        )
        exp = {r["doc"]: r["score"] for r in manual.collect()}
        assert set(fused) == set(exp)
        for d in fused:
            assert fused[d] == pytest.approx(exp[d], rel=1e-12)

    def test_duplicate_words_not_fused(self, sindex):
        # 'slow slow' must stay two OR branches (weights sum), not wqf=2
        from tika_xapian_spark.plans.query_compiler import Executor, compile_query

        single = {
            r["doc"]: r["score"]
            for r in Executor(sindex)
            .run(compile_query("slow", partial=False))
            .collect()
        }
        double = {
            r["doc"]: r["score"]
            for r in Executor(sindex)
            .run(compile_query("slow slow", partial=False))
            .collect()
        }
        for d in double:
            assert double[d] == pytest.approx(single[d] * 2, rel=1e-12)


class TestDigitInitialTerms:
    """should_stem parity: the TermGenerator never Z-stems a term whose
    first codepoint is not a letter (e.g. '2024'), so the compiled query,
    the fused leaf-term paths, and get_description must all use the raw
    term — Z2024 exists nowhere in the index (xapian-core
    termgenerator_internal.cc should_stem; QueryParser renders 2024@1)."""

    @pytest.fixture(scope="class")
    def dindex(self, spark):
        docs = spark.createDataFrame(
            [(1, "report 2024 results"), (2, "older 2023 report"),
             (3, "plans for 2024 and 2025")],
            "doc_id long, text string",
        )
        idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=True)
        yield idx
        idx.unpersist()

    def test_stem_term_executor(self, dindex):
        got = {r["doc"] for r in search(dindex, "2024", partial=False).collect()}
        assert got == {1, 3}

    def test_or_fusion_with_digit_leaf(self, dindex):
        from tika_xapian_spark.plans.query_compiler import Executor

        node = compile_query("2024 report", partial=False)
        plan = Executor(dindex).run(node)._jdf.queryExecution().optimizedPlan().toString()
        assert "IN (2024,Zreport)" in plan and "Z2024" not in plan, plan
        got = {r["doc"] for r in search(dindex, "2024 report", partial=False).collect()}
        assert got == {1, 2, 3}

    def test_and_fusion_with_digit_leaf(self, dindex):
        from tika_xapian_spark.plans.query_compiler import Executor

        node = compile_query("2024 AND report", partial=False)
        plan = Executor(dindex).run(node)._jdf.queryExecution().optimizedPlan().toString()
        assert "IN (2024,Zreport)" in plan and "Z2024" not in plan, plan
        got = {r["doc"] for r in search(dindex, "2024 AND report", partial=False).collect()}
        assert got == {1}

    def test_get_description_renders_raw(self):
        n = compile_query("2024", partial=False)
        assert get_description(n) == "Query(2024@1)"
        assert explain(n) == "2024"

    def test_partial_mode_stem_branch(self, dindex):
        # FLAG_PARTIAL: (WILDCARD 2024*) OR raw-term branch, never Z2024
        n = compile_query("2024", partial=True)
        assert explain(n) == "(WILDCARD 2024* OR 2024)"
        got = {r["doc"] for r in search(dindex, "2024", partial=True).collect()}
        assert got == {1, 3}

    def test_elite_with_digit_term(self, dindex):
        got = {
            r["doc"]
            for r in search(dindex, "report 2024 ELITE 2", partial=False).collect()
        }
        assert got  # lowering must not produce a nonexistent Z2024


class TestGroupingAndAdj:
    """Round-5 grammar extensions (r4 verdict #4): parenthesized grouping,
    NEAR/n width, ADJ / ADJ/n — the lemony sub-grammar the reference
    reaches via parse_query (XC queryparser/queryparser.lemony:1183-1219,
    as_near_query/as_adj_query :1722-1740)."""

    def test_near_width_description(self):
        # width n -> window (n - 1) + n_terms (as_opwindow_query)
        n = compile_query("a NEAR/3 b", partial=False)
        assert isinstance(n, NearOp) and n.width == 3
        assert get_description(n) == "Query((Za@1 NEAR 4 Zb@1))"

    def test_adj_default_description(self):
        # ADJ lowers to OP_PHRASE with NEAR's default sizing: (10-1)+2 = 11
        n = compile_query("a ADJ b", partial=False)
        assert get_description(n) == "Query((Za@1 PHRASE 11 Zb@1))"

    def test_adj_width_description(self):
        n = compile_query("a ADJ/2 b", partial=False)
        assert get_description(n) == "Query((Za@1 PHRASE 3 Zb@1))"

    def test_paren_grouping_description(self):
        n = compile_query("(a OR b) AND c", partial=False)
        assert get_description(n) == "Query(((Za@1 OR Zb@1) AND Zc@1))"

    def test_nested_groups(self):
        n = compile_query("((a OR b) XOR c) AND NOT d", partial=False)
        assert (
            get_description(n)
            == "Query((((Za@1 OR Zb@1) XOR Zc@1) AND_NOT Zd@1))"
        )

    def test_group_both_sides(self):
        n = compile_query("(a OR b) AND (c OR d)", partial=False)
        assert (
            get_description(n)
            == "Query(((Za@1 OR Zb@1) AND (Zc@1 OR Zd@1)))"
        )

    def test_group_scaled(self):
        n = compile_query("(a OR b) SCALED 2", partial=False)
        assert get_description(n) == "Query(2.0 * (Za@1 OR Zb@1))"

    def test_group_juxtaposition_or_folds(self):
        # Q20 convention: adjacent operands with no operator OR-fold
        n = compile_query("(a AND b) c", partial=False)
        assert get_description(n) == "Query(((Za@1 AND Zb@1) OR Zc@1))"

    def test_unbalanced_parens_keep_legacy_behavior(self):
        # the streaming lexer treats '(' as a dead char in the final chunk;
        # a non-final chunk strips it in scan_terms — pre-grouping behavior
        n = compile_query("(a OR b", partial=False)
        assert get_description(n) == "Query((Za@1 OR Zb@1))"
        n2 = compile_query("(", partial=False)
        assert isinstance(n2, Empty)

    def test_adj_requires_order_e2e(self, sindex):
        # corpus doc 1 "spark join fast": spark before join -> ADJ matches;
        # doc 3 "join slow" has no spark; "join ADJ spark" (wrong order for
        # doc 1) matches doc 4 "merge join spark ..." only
        got = {r["doc"] for r in search(sindex, "spark ADJ join", partial=False).collect()}
        assert got == {1}
        got_rev = {r["doc"] for r in search(sindex, "join ADJ spark", partial=False).collect()}
        assert got_rev == {4}

    def test_adj_width_limits_span_e2e(self, sindex):
        # doc 4 "merge join spark fast fast": merge..fast span 3; ADJ/1
        # needs adjacency (window 3 over 2 terms -> span <= 2)
        got = {r["doc"] for r in search(sindex, "merge ADJ/3 fast", partial=False).collect()}
        assert got == {4}
        got_tight = {r["doc"] for r in search(sindex, "merge ADJ/1 fast", partial=False).collect()}
        assert got_tight == set()

    def test_group_e2e(self, sindex):
        # (merge OR slow) AND join: docs with join and either merge/slow
        got = {r["doc"] for r in search(sindex, "(merge OR slow) AND join", partial=False).collect()}
        assert got == {3, 4}


class TestPrefixedGroup:
    """Prefixed subexpressions — lemony's ``title:(fast NEAR food)`` rule
    (queryparser.lemony:1120): the field prefix distributes over every
    unprefixed term leaf of the group."""

    def test_prefix_distributes_over_or(self):
        n = compile_query("title:(spark OR merge)", partial=False)
        assert get_description(n) == "Query((ZSspark@1 OR ZSmerg@1))"

    def test_prefix_distributes_over_near(self):
        n = compile_query("title:(fast NEAR food)", partial=False)
        assert get_description(n) == "Query((ZSfast@1 NEAR 11 ZSfood@1))"

    def test_inner_explicit_prefix_wins(self):
        n = compile_query("title:(spark OR author:smith)", partial=False)
        assert get_description(n) == "Query((ZSspark@1 OR ZAsmith@1))"

    def test_unknown_field_group_stays_plain(self):
        # not a registered prefix: the group compiles unprefixed and the
        # dangling 'nosuch:' text is handled by the normal token path
        n = compile_query("nosuch:(a OR b)", partial=False)
        assert "Za@1 OR Zb@1" in get_description(n)

    def test_prefixed_group_composes(self):
        n = compile_query("title:(spark OR merge) AND join", partial=False)
        assert (
            get_description(n)
            == "Query(((ZSspark@1 OR ZSmerg@1) AND Zjoin@1))"
        )


class TestSignedGroups:
    """Love/hate over parenthesized subqueries: +(...) AND-requires the
    group (AND_MAYBE fold, like +word), -(...) AND_NOTs it."""

    def test_hate_group(self):
        n = compile_query("a -(b OR c)", partial=False)
        assert get_description(n) == "Query((Za@1 AND_NOT (Zb@1 OR Zc@1)))"

    def test_love_group(self):
        n = compile_query("+(a b) c", partial=False)
        assert get_description(n) == "Query(((Za@1 OR Zb@1) AND_MAYBE Zc@1))"

    def test_love_group_alone(self):
        n = compile_query("+(a AND b)", partial=False)
        assert get_description(n) == "Query((Za@1 AND Zb@1))"

    def test_hate_group_alone_is_pure_not_shape(self):
        n = compile_query("-(a b)", partial=False)
        assert get_description(n) == "Query(( AND_NOT (Za@1 OR Zb@1)))"

    def test_signed_prefixed_group(self):
        n = compile_query("spark -title:(draft old)", partial=False)
        assert (
            get_description(n)
            == "Query((Zspark@1 AND_NOT (ZSdraft@1 OR ZSold@1)))"
        )

    def test_hate_group_e2e(self, sindex):
        # CORPUS: doc2 "spark spark merge", doc4 "merge join spark ...";
        # spark docs minus any matching (merge OR slow) leaves doc 1
        got = {r["doc"] for r in search(sindex, "spark -(merge OR slow)", partial=False).collect()}
        assert got == {1}


class TestGroupingEdgeCases:
    """Round-5 review fixes: quoted parens, trailing-chunk lexer parity,
    signed groups after explicit operators."""

    def test_parens_inside_quotes_stay_phrase_text(self):
        # parens inside a quoted phrase must NOT engage grouping: the
        # quote token wins and the parens dissolve in scan_terms
        n = compile_query('"foo (bar)"', partial=False)
        assert get_description(n) == "Query((foo@1 PHRASE 2 bar@2))"

    def test_quoted_parens_alongside_real_group(self):
        n = compile_query('"a (b)" AND (c OR d)', partial=False)
        assert (
            get_description(n)
            == "Query(((a@1 PHRASE 2 b@2) AND (Zc@1 OR Zd@1)))"
        )

    def test_trailing_field_degrade_survives_grouping(self):
        # the flat path's pinned end-of-input rule: a trailing field:word
        # degrades to an unprefixed implicit phrase; adding parens earlier
        # in the query must not change that
        flat = compile_query("x AND tag:rust", partial=False)
        grouped = compile_query("(x) AND tag:rust", partial=False)
        assert get_description(grouped) == get_description(flat)
        assert "PHRASE" in get_description(grouped)  # degraded, unprefixed

    def test_group_innards_keep_prefix(self):
        # ...while INSIDE a group the closing paren means no end-of-input
        n = compile_query("(x AND tag:rust)", partial=False)
        assert "ZKrust" in get_description(n)

    def test_explicit_op_before_love_group_is_kept(self):
        # 'a AND +(b)': + (required) is subsumed by the explicit AND
        n = compile_query("a AND +(b)", partial=False)
        assert get_description(n) == "Query((Za@1 AND Zb@1))"

    def test_explicit_op_before_hate_group_excludes(self):
        # 'a AND -(b)': the exclusion wins (a AND_NOT b)
        n = compile_query("a AND -(b OR c)", partial=False)
        assert get_description(n) == "Query((Za@1 AND_NOT (Zb@1 OR Zc@1)))"


class TestCompilerFuzz:
    """Robustness: compile_query / explain / get_description must never
    raise on arbitrary input — the search surface takes raw user strings.
    Hypothesis drives random strings over the grammar's alphabet (quotes,
    parens, signs, ops, colons, garbage); Spark-free (AST only)."""

    def test_never_raises_on_random_input(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        alphabet = st.sampled_from(
            list("abcdefgh AND OR NOT XOR NEAR ADJ PHRASE +-():\"*/\\#.")
        )
        raw = st.text(alphabet=alphabet, min_size=0, max_size=60)

        from tika_xapian_spark.plans import query_compiler as QC

        @settings(max_examples=300, deadline=None)
        @given(raw)
        def run(qstr):
            for partial in (True, False):
                n = compile_query(qstr, partial=partial)
                assert isinstance(n, QC.Node)
                explain(n)
                get_description(n)

        run()

    def test_pathological_shapes(self):
        for q in [
            "((((((((", "))))))))", "()", "(())", '""', '"""', "+", "-",
            "AND", "OR OR OR", "a AND", "NEAR/", "NEAR/x b", "ADJ/0 b",
            "a NEAR/999999999 b", "title:", ":", "::", "+(-(a))",
            '"unclosed (paren', "a OR (b AND \"c (d)\")",
        ]:
            from tika_xapian_spark.plans import query_compiler as QC

            n = compile_query(q, partial=True)
            assert isinstance(n, QC.Node)
            get_description(n)
