"""BM25 retrieval + the reference's query-operator algebra.

Maps the Xapian match layer (SURVEY.md §2.4 Q1-Q17, §2.5 R1-R11) onto
DataFrame algebra over the InvertedIndex tables. All scoring is JVM-side
column math (whole-stage codegen); the only Python was upstream in the
tokenizer UDF.

BM25 (exact formula of xapian-core-1.4.17.tar.xz!weight/bm25weight.cc):
  init (lines 45-129, no relevance set):
      tw = (N - df + 0.5) / (df + 0.5);  if tw < 2: tw = tw*0.5 + 1
      termweight = ln(tw) * (k3+1)*wqf/(k3+wqf) * (k1+1)
  per-posting (lines 163-174):
      normlen = max(doclen/avg_len, min_normlen)
      score   = termweight * wdf / (k1*(normlen*b + (1-b)) + wdf)
  defaults k1=1, k2=0, k3=1, b=0.5, min_normlen=0.5
  (include/xapian/weight.h:585-587; installed as the default scheme by
  /root/reference/omenquire.cc:565-567).

Weights sum across matched terms (R4); ties break by ascending doc key (R6,
Enquire::ASCENDING — omenquire.cc:524-528); page size 100 matches the
reference's get_mset(0, 100) (/root/reference/src/xapian_utils.rs:700).

Scale notes: every scoring operator is one postings scan
(InvertedIndex.postings_of): a pushed ``term IN`` filter and, over a written
index, a ``term_bucket IN`` partition filter on the buckets the dictionary
holds for those terms, so the scan opens only their bucket directories (a
small index has one). Query-term statistics come from the
index's driver-held term dictionary, so termweights are plan literals — a
literal term -> weight map, no join. A SYNONYM of two or more terms is the
one statistic the dictionary cannot give: its pseudo-term df (docs matching
any member) is a broadcast 1-row aggregate of the same scan. Any query tree
— term, synonym, wildcard, PHRASE, NEAR and ADJ leaves under boolean and
scale operators — is one scan and one groupBy(doc) (match_leaves; the query
compiler's Executor combines the leaves as column math); the join operators
below (op_and ... op_filter) are the registry's algebra and the reference
the lowering is tested against. Top-k is TakeOrderedAndProject — the
distributed analogue of the reference's bounded result heap (XC
matcher/multimatch.cc:794-830).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.porter2 import stem as porter2_stem
from .index import InvertedIndex, sql_string

K1 = 1.0
K2 = 0.0
K3 = 1.0
B = 0.5
MIN_NORMLEN = 0.5
PAGE_SIZE = 100  # get_mset(0, 100)


def stem_query_term(term: str, prefix: str = "") -> str:
    """Free query terms match the Z-stemmed index forms, as the reference's
    QueryParser does with STEM_SOME (golden `Zfoo@1` trees,
    /root/reference/src/xapian_utils.rs:504-508).

    Terms whose first codepoint is not a letter (e.g. ``2024``) are never
    stemmed by the TermGenerator (should_stem), so the index holds no Z-form
    for them — STEM_SOME queries must use the raw ``prefix+term`` or they
    silently match nothing. Prefixed stemmable terms follow the QueryParser
    form ``Z<prefix><stem>``. Every StemTerm-lowering site (Executor,
    explain, get_description, snippet_shapes) routes through here so the
    compiled plan, the debug dump, and the index agree."""
    t = term.lower()
    from ..functions.tokenizer import _should_stem

    return "Z" + prefix + porter2_stem(t) if _should_stem(t) else prefix + t


# Scoring expressions are SQL text: one call into the JVM each, where
# Column composition costs several per operator and dominated a keystroke's
# plan-building time. Doubles ride as repr literals, which round-trip.


def _termweight(df: str, n_docs: int, wqf: int) -> str:
    """BM25's termweight over the SQL df expression ``df``. Over a literal
    df Catalyst folds it, log included, to one double with the JVM's log
    (Python's math.log differs from it in the last place on ~5% of (N, df)
    pairs, so the log stays in the plan)."""
    tw = f"(({float(n_docs)!r}D - {df} + 0.5D) / ({df} + 0.5D))"
    factor = (K3 + 1) * wqf / (K3 + wqf)
    return (
        f"(ln(CASE WHEN {tw} < 2.0D THEN {tw} * 0.5D + 1.0D ELSE {tw} END)"
        f" * {factor!r}D * {K1 + 1!r}D)"
    )


def _bm25(index: InvertedIndex, weight: str, wdf: str) -> str:
    """SQL of the BM25 part of a term with ``weight`` occurring ``wdf``
    times in a doc; doclen rides every postings row."""
    avg_len = index.avg_len if index.avg_len > 0 else 1.0
    norm = (
        f"{K1!r}D * (greatest(doclen / {avg_len!r}D, {MIN_NORMLEN!r}D)"
        f" * {B!r}D + {1 - B!r}D)"
    )
    return f"({weight} * ({wdf} / ({norm} + {wdf})))"


def _weighted_postings(index: InvertedIndex, terms: dict[str, int]) -> DataFrame | None:
    """The postings of the dictionary terms of ``terms`` (the others have no
    postings), each with its BM25 ``part``: one pruned scan, weighted
    through a literal term -> termweight map. None when no term is in the
    dictionary."""
    d = index.term_dictionary()
    weights = {
        t: _termweight(str(stats[0]), index.n_docs, wqf)
        for t, wqf in terms.items()
        if (stats := d.stats(t)) is not None
    }
    if not weights:
        return None
    wmap = ", ".join(f"{sql_string(t)}, {w}" for t, w in weights.items())
    return index.postings_of(list(weights)).withColumn(
        "part", F.expr(_bm25(index, f"map({wmap})[term]", "wdf"))
    )


def score_terms(
    index: InvertedIndex,
    terms: list[str] | dict[str, int],
    with_nsub: bool = False,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """BM25 match set for a bag of index terms -> (doc, score).

    ``terms`` maps term -> wqf (within-query frequency); a list means wqf=1
    each. Terms are index-vocabulary terms (callers pre-stem free text with
    stem_query_term / prefix field terms).

    ``with_nsub=True`` adds an ``n_sub`` column — the number of query terms
    the doc matched — which with_percent() needs for the reference's
    matched-subquery percent scaling (multimatch.cc:913-914). Off by default
    so boolean combinators keep a uniform (doc, score) shape.

    ``candidates``: optional (doc) DataFrame; when given, scoring is
    restricted to these docs via a semi-join on the postings scan (the WAND
    candidate-pruning hook — see top_k_wand).
    """
    if isinstance(terms, list):
        terms = {t: 1 for t in terms}
    parts = _weighted_postings(index, terms)
    if parts is None:
        out = _empty_matches(index)
        return out.withColumn("n_sub", F.lit(0)) if with_nsub else out
    if candidates is not None:
        parts = parts.join(candidates.select("doc"), "doc", "left_semi")
    aggs = [F.sum("part").alias("score")]
    if with_nsub:
        aggs.append(F.count(F.lit(1)).cast("int").alias("n_sub"))
    return parts.groupBy("doc").agg(*aggs)


def score_terms_all(
    index: InvertedIndex, terms: list[str] | dict[str, int]
) -> DataFrame:
    """AND of leaf terms in ONE postings scan: same (doc, score) as folding
    op_and over per-term match sets — score is the sum of per-term BM25
    parts, docs restricted to those matching every term — but the postings
    table is scanned once (filter term IN (...), groupBy doc, HAVING
    count = |terms|) instead of once per term."""
    if isinstance(terms, list):
        terms = {t: 1 for t in terms}
    if not terms:
        return _empty_matches(index)
    scored = score_terms(index, terms, with_nsub=True)
    return scored.filter(F.col("n_sub") == len(terms)).select("doc", "score")


def score_free_text(index: InvertedIndex, text: str) -> DataFrame:
    """Free-text query: tokenize+stem each word, OR-fold (Q13/Q20)."""
    from ..functions.tokenizer import scan_terms

    terms: dict[str, int] = {}
    for t in scan_terms(text):
        zt = stem_query_term(t)
        terms[zt] = terms.get(zt, 0) + 1
    return score_terms(index, terms)


def _empty_matches(index: InvertedIndex) -> DataFrame:
    return index.doc_stats.select("doc", F.lit(0.0).alias("score")).limit(0)


# ---------------------------------------------------------------- boolean ops
# Match sets are (doc, score) DataFrames. Engine semantics per
# XC include/xapian/query.h:84-230 (SURVEY.md §2.4).


def op_and(left: DataFrame, right: DataFrame) -> DataFrame:
    """Q1: intersection, weights summed."""
    r = right.withColumnRenamed("score", "rscore")
    return left.join(r, "doc").select(
        "doc", (F.col("score") + F.col("rscore")).alias("score")
    )


def op_or(left: DataFrame, right: DataFrame) -> DataFrame:
    """Q2: union, weights summed."""
    return (
        left.unionByName(right).groupBy("doc").agg(F.sum("score").alias("score"))
    )


def op_and_not(left: DataFrame, right: DataFrame) -> DataFrame:
    """Q3: left minus right, left weights."""
    return left.join(right, "doc", "left_anti")


def op_xor(left: DataFrame, right: DataFrame) -> DataFrame:
    """Q4: symmetric difference; the surviving side's weight."""
    l = left.select("doc", F.col("score").alias("lscore"))
    r = right.select("doc", F.col("score").alias("rscore"))
    j = l.join(r, "doc", "full_outer")
    return j.filter(
        F.col("lscore").isNull() != F.col("rscore").isNull()
    ).select("doc", F.coalesce("lscore", "rscore").alias("score"))


def op_and_maybe(left: DataFrame, right: DataFrame) -> DataFrame:
    """Q5: docs of left; weight left + right-if-matched."""
    r = right.select("doc", F.col("score").alias("rscore"))
    return left.join(r, "doc", "left_outer").select(
        "doc", (F.col("score") + F.coalesce(F.col("rscore"), F.lit(0.0))).alias("score")
    )


def op_filter(left: DataFrame, right: DataFrame) -> DataFrame:
    """Q6: intersection, weight from left only."""
    return left.join(right.select("doc"), "doc", "left_semi")


def op_scale(m: DataFrame, factor: float) -> DataFrame:
    """Q10: multiply weights."""
    return m.select("doc", (F.col("score") * F.lit(float(factor))).alias("score"))


def op_max(left: DataFrame, right: DataFrame) -> DataFrame:
    """OP_MAX (XC include/xapian/query.h OP_MAX, matcher/maxpostlist.cc):
    union of the match sets, weight = MAX of the matching subqueries'
    weights — the operator modern Xapian uses for wildcard expansion so a
    document matching many expansions isn't over-rewarded. Linked by the
    reference's engine; exposed here as a first-class combinator."""
    return (
        left.unionByName(right).groupBy("doc").agg(F.max("score").alias("score"))
    )


def op_max_terms(index: InvertedIndex, terms: list[str]) -> DataFrame:
    """Multi-way OP_MAX over term leaves in ONE postings scan: union of the
    per-term match sets, weight = MAX single-term BM25 score — an
    alternative combiner Xapian supports for wildcard expansion (the
    queryparser's default for OP_WILDCARD is OP_SYNONYM; OP_MAX is the
    opt-in variant that stops a doc hitting many expansions being
    over-rewarded; XC matcher/maxpostlist.cc). The per-posting BM25 part IS
    the single-term score, so groupBy(doc).max(part) beats folding op_max
    over |expansion| separate scans — scan volume constant in expansion
    width, one shuffle total."""
    parts = _weighted_postings(index, dict.fromkeys(terms, 1))
    if parts is None:
        return _empty_matches(index)
    return parts.groupBy("doc").agg(F.max("part").alias("score"))


def value_weight_matches(
    docs: DataFrame, key: str, value_col: str, scale: float = 1.0
) -> DataFrame:
    """ValueWeightPostingSource (XC api/postingsource.cc ValueWeightPostingSource,
    include/xapian/postingsource.h): a match set whose weight IS a document
    value — every doc whose value casts to a number matches, scored
    scale*value (uncastable/null values drop, the TRY_CAST semantics the
    oracle mirrors). Combined with a text query via AND_MAYBE this is
    Xapian's standard recency/popularity boost; pure map over the docs
    scan, no shuffle."""
    c = F.col(value_col).cast("double")
    return docs.filter(c.isNotNull()).select(
        F.col(key).alias("doc"), (F.lit(float(scale)) * c).alias("score")
    )


def op_pure_not(index: InvertedIndex, m: DataFrame) -> DataFrame:
    """Q17: all docs minus matches, weight 0 (boolean)."""
    return index.doc_stats.select("doc").join(m, "doc", "left_anti").select(
        "doc", F.lit(0.0).alias("score")
    )


# ----------------------------------------------------------- positional ops
# A positional leaf's predicate is SQL text over its terms' position arrays,
# evaluated once per doc in match_leaves' aggregate: one call into the JVM,
# where a lambda composed from Columns costs 1-4 ms of py4j per op.


@dataclass
class Positional:
    """A PHRASE, NEAR or ADJ leaf of match_leaves: index ``terms`` in query
    order (repeats allowed) whose positions must satisfy ``op`` within
    ``window`` (NEAR and ADJ only)."""

    op: str  # PHRASE | NEAR | ADJ
    terms: list[str]
    window: int = 0


def _tagged(ps: list[str], tag: str, tag_of) -> str:
    """The position arrays ``ps`` merged into one sorted array of
    (pos, ``tag``) structs, array i tagged ``tag_of(i)``."""
    return "sort_array(concat({}))".format(", ".join(
        f"transform({p}, x -> named_struct('pos', CAST(x AS BIGINT), "
        f"'{tag}', {tag_of(i)}))"
        for i, p in enumerate(ps)
    ))


def _phrase_hit(ps: list[str], window: int) -> str:
    """Q8 PHRASE (exactphrasepostlist): consecutive positions in order. Term
    k's positions shifted by -k, all intersected with term 0's: each
    pairwise intersect is a hash build over the smaller array, so per-doc
    cost is linear in total positions (the sorted-merge cost profile of
    Xapian's phrase postlist)."""
    inter = ps[0]
    for k, p in enumerate(ps[1:], 1):
        inter = f"array_intersect({inter}, transform({p}, x -> x - {k}))"
    return f"size({inter}) > 0"


def _near_hit(ps: list[str], window: int) -> str:
    """Q7 NEAR (nearpostlist): all terms within a ``window``-wide span, any
    order — max(pos) - min(pos) < window. A sorted-merge sweep, the plan
    Xapian's nearpostlist runs: one aggregate() pass over the merged
    (pos, t) list tracking the last-seen position per term; a span
    [min(last), current] < window at any step means a valid selection
    exists. Linear in total positions."""
    k = len(ps)
    lasts = [f"IF(e.t = {i}, e.pos, acc.l{i})" for i in range(k)]
    seen = " AND ".join(f"{l} IS NOT NULL" for l in lasts)
    hit = f"({seen} AND e.pos - least({', '.join(lasts)}) < {window})"
    init = ", ".join(f"'l{i}', CAST(NULL AS BIGINT)" for i in range(k))
    step = ", ".join(f"'l{i}', {l}" for i, l in enumerate(lasts))
    return (
        f"aggregate({_tagged(ps, 't', str)}, named_struct('found', false, {init}),"
        f" (acc, e) -> named_struct('found', acc.found OR {hit}, {step})).found"
    )


def _adj_hit(ps: list[str], window: int) -> str:
    """ADJ — Xapian lowers it to OP_PHRASE with a widened window
    (queryparser.lemony:1732-1740 as_adj_query), whose matcher semantics
    (XC matcher/phrasepostlist.cc test_doc) are: there exist
    strictly-increasing positions q0 < q1 < ... < q_{k-1}, one per term in
    query order, with q_{k-1} - q0 < window.

    One aggregate() pass over the merged sorted positions tracks, per
    prefix 0..i of the term sequence, m_i: the maximum chain start q0 among
    in-order chains ending before the current position (intermediate gaps
    are unconstrained). Positions ascend, so m_0 is the latest term-0
    position, and m_i <= m_{i-1} always, so a term-i position extends the
    best chain to m_{i-1}. Within a position tie the higher term index
    sorts first (tag rt = k-1-i), so the fold consumes m_{i-1} from
    strictly-earlier positions only and an occurrence never chains with
    itself."""
    k = len(ps)
    m = [f"IF(e.rt = {k - 1}, e.pos, acc.m0)"] + [
        f"IF(e.rt = {k - 1 - i} AND acc.m{i - 1} IS NOT NULL, acc.m{i - 1}, acc.m{i})"
        for i in range(1, k)
    ]
    hit = (
        f"(e.rt = 0 AND acc.m{k - 2} IS NOT NULL"
        f" AND e.pos - acc.m{k - 2} <= {window - 1})"
    )
    init = ", ".join(f"'m{i}', CAST(NULL AS BIGINT)" for i in range(k))
    step = ", ".join(f"'m{i}', {x}" for i, x in enumerate(m))
    merged = _tagged(ps, "rt", lambda i: k - 1 - i)
    return (
        f"aggregate({merged}, named_struct('found', false, {init}),"
        f" (acc, e) -> named_struct('found', acc.found OR {hit}, {step})).found"
    )


# op -> (SQL of the hit over the position arrays, fewest terms)
_POSITIONAL = {
    "PHRASE": (_phrase_hit, 1),
    "NEAR": (_near_hit, 2),
    "ADJ": (_adj_hit, 2),
}


def _one_leaf(index: InvertedIndex, leaf) -> DataFrame:
    """The (doc, score) match set of one match_leaves leaf."""
    fused = match_leaves(index, [leaf])
    if fused is None:
        return _empty_matches(index)
    frame, ((score, matched),) = fused
    return frame.filter(matched).selectExpr("doc", f"{score} AS score")


def match_phrase(index: InvertedIndex, terms: list[str]) -> DataFrame:
    """Q8 PHRASE over ``terms``, scored by the BM25 sum of its distinct
    terms: one leaf of match_leaves (_phrase_hit)."""
    return _one_leaf(index, Positional("PHRASE", terms))


def match_near(
    index: InvertedIndex, terms: list[str], window: int | None = None
) -> DataFrame:
    """Q7 NEAR over ``terms``, scored by the BM25 sum of its distinct terms:
    one leaf of match_leaves (_near_hit). The default window reproduces the
    QueryParser's sizing: "a NEAR b" means "a within 10 terms of b" =
    window 11, plus one per extra term — w = (10-1) + n_terms
    (XC queryparser/queryparser.lemony:1722-1730, as_opwindow_query
    :1655-1658)."""
    if window is None:
        window = 9 + len(terms)
    return _one_leaf(index, Positional("NEAR", terms, window))


def match_adj(
    index: InvertedIndex, terms: list[str], window: int | None = None
) -> DataFrame:
    """ADJ (ordered NEAR) over ``terms``, scored by the BM25 sum of its
    distinct terms: one leaf of match_leaves (_adj_hit). The default window
    mirrors NEAR's sizing: "a ADJ b" = "a at most 10 terms before b" =
    (10 - 1) + n_terms."""
    if window is None:
        window = 9 + len(terms)
    return _one_leaf(index, Positional("ADJ", terms, window))


# ------------------------------------------------------------- synonym/elite


def match_leaves(
    index: InvertedIndex, leaves: list[tuple[list[str], int] | Positional]
) -> tuple[DataFrame, list[tuple[str, str]]] | None:
    """Query leaves in ONE postings scan and ONE groupBy(doc): the per-doc
    frame, and per leaf the SQL of its (score, matched) columns — score 0.0
    where the doc does not match the leaf — so boolean operators combine
    leaves as column math instead of joins and unions of match sets.

    A term leaf is (member terms, wqf). One member is a term weighted by
    its dictionary df; a term in no document matches nothing. Two or more
    are a Q12 SYNONYM (synonympostlist.cc): one pseudo-term whose wdf is the
    members' summed wdf and whose df is the number of docs matching any
    member. That df is the one statistic the dictionary cannot give, so it
    rides the plan as a broadcast 1-row aggregate of the same per-doc frame
    — no eager driver job.

    A Positional leaf matches where its position predicate holds over its
    terms' positions (each distinct term's positions are one aggregate of
    the scan; the predicate is evaluated in the aggregate, once per doc),
    which implies every term is present; it scores the BM25 sum of its
    distinct terms, each at wqf 1. A term in no document matches nothing.

    None when no leaf can match."""
    d = index.term_dictionary()
    terms: list[str] = []
    aggs, syn_dfs, scores = ["max(doclen) AS doclen"], [], []
    for i, leaf in enumerate(leaves):
        if isinstance(leaf, Positional):
            hit_of, fewest = _POSITIONAL[leaf.op]
            if len(leaf.terms) < fewest:
                raise ValueError(f"{leaf.op} needs >= {fewest} terms")
            uniq = list(dict.fromkeys(leaf.terms))
            stats = [d.stats(t) for t in uniq]
            if None in stats:
                scores.append(("0.0D", "false"))
                continue
            positions = {
                t: f"first(CASE WHEN term = {sql_string(t)} THEN positions END, true)"
                for t in uniq
            }
            hit = hit_of([positions[t] for t in leaf.terms], leaf.window)
            aggs.append(f"coalesce({hit}, false) AS _h{i}")
            parts = []
            for j, (t, (df, _)) in enumerate(zip(uniq, stats)):
                aggs.append(f"sum(CASE WHEN term = {sql_string(t)} THEN wdf END) AS _w{i}_{j}")
                weight = _termweight(str(df), index.n_docs, 1)
                parts.append(_bm25(index, weight, f"_w{i}_{j}"))
            terms += uniq
            scores.append(
                (f"(CASE WHEN _h{i} THEN {' + '.join(parts)} ELSE 0.0D END)", f"_h{i}")
            )
            continue
        members, wqf = leaf
        members = list(dict.fromkeys(members))
        if len(members) == 1:
            stats = d.stats(members[0])
            members = members if stats is not None else []
        if not members:
            scores.append(("0.0D", "false"))
            continue
        wdf = f"_w{i}"
        if len(members) == 1:
            weight = _termweight(str(stats[0]), index.n_docs, wqf)
            hit = f"term = {sql_string(members[0])}"
        else:
            weight = _termweight(f"_df{i}", index.n_docs, wqf)
            hit = f"term IN ({', '.join(map(sql_string, members))})"
            syn_dfs.append(f"CAST(count({wdf}) AS DOUBLE) AS _df{i}")
        terms += members
        aggs.append(f"sum(CASE WHEN {hit} THEN wdf END) AS {wdf}")
        scores.append(
            (f"coalesce({_bm25(index, weight, wdf)}, 0.0D)", f"({wdf} IS NOT NULL)")
        )
    if not terms:
        return None
    frame = (
        index.postings_of(list(dict.fromkeys(terms)))
        .groupBy("doc")
        .agg(*map(F.expr, aggs))
    )
    if syn_dfs:
        frame = frame.crossJoin(F.broadcast(frame.agg(*map(F.expr, syn_dfs))))
    return frame, scores


def op_synonym(index: InvertedIndex, terms: list[str], wqf: int = 1) -> DataFrame:
    """Q12 SYNONYM: match like OR but weight as a single pseudo-term whose
    postings are the merged member postings (synonympostlist.cc semantics,
    with df = docs matching any member, wdf summed) — one leaf of
    match_leaves."""
    return _one_leaf(index, (terms, wqf))


def expand_wildcard(index: InvertedIndex, prefix: str, limit: int = 1000) -> list[str]:
    """Q15: term-dictionary expansion of a trailing-* pattern — a bisect
    over the driver-held dictionary, Xapian's seek in the term B-tree.
    Capped at ``limit`` terms by df descending, then term ascending."""
    return index.term_dictionary().expand(prefix, limit)


def elite_terms(index: InvertedIndex, terms: list[str], n: int) -> list[str]:
    """Q11 ELITE's selection: the ``n`` distinct terms with the highest
    max-weight estimate — Xapian ranks elite candidates by each subquery's
    ``get_maxweight()`` (XC api/queryinternal.cc QueryEliteSet::done), which
    for a term is the BM25 ceiling we already store for WAND (the
    dictionary's max_wdf → _term_upper_bounds), NOT raw rarity: a common but
    bursty term (huge max_wdf) can outrank a rare flat one. Ties break by
    term asc for determinism; terms in no document are never kept."""
    ubs = _term_upper_bounds(index, {t: 1 for t in terms})
    return sorted(ubs, key=lambda t: (-ubs[t], t))[:n]


def op_elite_set(index: InvertedIndex, terms: list[str], n: int) -> DataFrame:
    """Q11 ELITE: the OR of the elite_terms."""
    return score_terms(index, elite_terms(index, terms, n))


def spelling_query_fragments(w: str) -> list[str]:
    """Query-side spelling fragments — the probe set
    GlassSpellingTable::open_termlist builds (glass_spelling.cc): the H/T/
    B/M fragments of the word itself, plus for 3-char words the two
    single-transposition middle forms (ABC -> BAC, ACB) and for 2-char
    words the transposed head/tail, so one-transposition misspellings of
    short words still block to their correction. Index-side fragments are
    generated by operators/index.py::_FRAG_EXPR."""
    if len(w) < 2:  # Xapian asserts word.size() > 1
        return []
    frags = {"H" + w[:2], "T" + w[-2:]}
    if len(w) <= 4:
        frags.add("B" + w[0] + w[-1])
    if len(w) > 2:
        for i in range(len(w) - 2):
            frags.add("M" + w[i : i + 3])
    if len(w) == 3:
        frags.add("M" + w[1] + w[0] + w[2])  # ABC -> BAC
        frags.add("M" + w[0] + w[2] + w[1])  # ABC -> ACB
    if len(w) == 2:
        frags.add("H" + w[1] + w[0])
        frags.add("T" + w[1] + w[0])
    return sorted(frags)


def osa_distance(a: str, b: str) -> int:
    """Restricted Damerau-Levenshtein (optimal string alignment): adjacent
    transposition costs 1 — Xapian's spelling metric
    (XC spelling/editdistance.cc), unlike plain levenshtein where a swap
    costs 2 ('teh' -> 'the' is distance 1 here, 2 there)."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    prev2: list[int] = []
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                d = min(d, prev2[j - 2] + 1)
            cur[j] = d
        prev2, prev = prev, cur
    return prev[lb]


def _osa_udf_impl(word, term):
    import pandas as pd

    return pd.Series(
        [osa_distance(w, t) for w, t in zip(word, term)], dtype="int32"
    )


# DataType instance (not a DDL string) so the UDF registers at import time
# without an active SparkSession. Marked non-deterministic although it is
# pure: Catalyst substitutes deterministic expressions through projections,
# so a filter + an aggregate both referencing the distance column would each
# get their own ArrowEvalPython stage (two Python round trips per query);
# the marker pins a single evaluation.
from pyspark.sql.types import IntegerType as _IntegerType  # noqa: E402

_osa_udf = F.pandas_udf(_osa_udf_impl, _IntegerType()).asNondeterministic()


def spelling_suggestions(
    index: InvertedIndex,
    words: list[str],
    max_distance: int = 2,
    min_df: int = 1,
) -> DataFrame:
    """Q19 for real: the reference sets FLAG_SPELLING_CORRECTION but never
    populates a spelling dictionary, so it is a silent no-op
    (SURVEY.md §2.3 K12 / §2.4 Q19). Here the term dictionary IS the
    spelling dictionary: candidate vocabulary terms are blocked by sharing a
    spelling fragment with the query word — xapian's own H/T/B/M fragment
    scheme (glass_spelling.cc: head, tail, bookends for <=4-char words,
    middle trigrams, plus the transposed-form probes open_termlist adds for
    2- and 3-char query words, so 'teh' finds 'the') — then ranked by
    restricted Damerau-Levenshtein distance (transposition costs 1 —
    XC spelling/editdistance.cc, computed by an Arrow-batched pandas UDF
    over the bounded fragment-blocked candidate set), then collection
    frequency.

    Returns (word, suggestion, distance, df): the best suggestion per query
    word (distance <= max_distance, most frequent on ties, lexicographic
    final tie-break). Scales: the fragment table (index.spelling_table(),
    xapian's spelling-B-tree analogue, built and persisted once per index,
    built or reopened) replaces a per-query full-vocabulary explode; the
    query words' fragments are known driver-side, so the probe is a
    frag IN (...) point lookup on the cached table. Everything else is
    JVM-side; the distance UDF only ever sees the fragment-blocked
    candidates.
    """
    spark = index.postings.sparkSession

    qfrags = sorted({f for w in words for f in spelling_query_fragments(w)})
    vocab_frag = index.spelling_table().filter(F.col("frag").isin(qfrags))
    if min_df > 1:
        vocab_frag = vocab_frag.filter(F.col("df") >= min_df)
    # literal relation: an exploded literal array, no driver RDD job
    pairs = F.array(
        *[
            F.struct(F.lit(w).alias("word"), F.lit(f).alias("frag"))
            for w in words
            for f in spelling_query_fragments(w)
        ]
    )
    q_frag = (
        spark.range(1)
        .select(F.explode(pairs).alias("e"))
        .select("e.word", "e.frag")
    )
    # Best suggestion per word as ONE aggregation: min of a sort-key struct
    # (distance asc, df desc via negation, term asc) — lexicographic struct
    # ordering IS the ranking rule, so no distinct (duplicate candidate
    # rows from shared fragments collapse in the min), no window, no extra
    # exchanges: join -> UDF projection -> groupBy(word). An earlier
    # distinct+row_number() shape planned 6 stages and re-evaluated the
    # Arrow UDF in each window pass — 10-20x this plan's serving latency.
    cand = (
        vocab_frag.join(F.broadcast(q_frag), "frag")
        .select("word", "term", "df")
        .withColumn("distance", _osa_udf("word", "term"))
        .filter(
            (F.col("distance") <= max_distance) & (F.col("distance") > 0)
        )
    )
    best = cand.groupBy("word").agg(
        F.min(
            F.struct(
                F.col("distance"),
                (-F.col("df")).alias("neg_df"),
                F.col("term"),
                F.col("df"),
            )
        ).alias("b")
    )
    return best.select(
        "word",
        F.col("b.term").alias("suggestion"),
        F.col("b.distance").alias("distance"),
        F.col("b.df").alias("df"),
    )


# ------------------------------------------------------------------- ranking


def top_k(matches: DataFrame, k: int = PAGE_SIZE, key: str = "doc") -> DataFrame:
    """R5/R6: bounded ranked page; ties break by ascending doc key."""
    return matches.orderBy(F.desc("score"), F.asc(key)).limit(k)


def _term_upper_bounds(index: InvertedIndex, terms: dict[str, int]) -> dict[str, float]:
    """Per-term BM25 score ceiling from the dictionary's max_wdf (the
    WAND max-score bound — Broder et al. CIKM'03; Xapian stores the same
    bound as wdf_upper_bound). The per-posting part is increasing in wdf and
    decreasing in normlen, so the max is at wdf=max_wdf, normlen=MIN_NORMLEN.
    Terms in no document have no bound."""
    import math

    d = index.term_dictionary()
    ubs: dict[str, float] = {}
    for t, wqf in terms.items():
        stats = d.stats(t)
        if stats is None:
            continue
        df, max_wdf = stats
        tw = (index.n_docs - df + 0.5) / (df + 0.5)
        if tw < 2.0:
            tw = tw * 0.5 + 1.0
        termweight = math.log(tw) * ((K3 + 1) * wqf / (K3 + wqf)) * (K1 + 1)
        denom = K1 * (MIN_NORMLEN * B + (1 - B)) + max_wdf
        ubs[t] = termweight * max_wdf / denom
    return ubs


def top_k_wand(
    index: InvertedIndex,
    terms: list[str] | dict[str, int],
    k: int = PAGE_SIZE,
) -> DataFrame:
    """Exact top-k OR query with WAND-style candidate pruning — the batch
    analogue of Xapian's matcher max-weight short-circuiting
    (XC matcher/multimatch.cc min_weight management), using the max_wdf
    bound the index already stores (operators/index.py term_stats).

    Two phases, both exact:
      1. threshold: score ONLY the highest-ceiling term and take its k-th
         best score tau. Every doc's final score >= its partial score, so
         the true k-th best final score >= tau.
      2. prune: order terms by ceiling desc, keep the minimal prefix P with
         sum(ceilings outside P) < tau. A doc matching no term of P scores
         < tau and cannot reach the page; docs matching P are the candidate
         set (semi-join), scored fully over all terms.

    On skewed queries (rare term + stopword-ish terms) this turns the
    groupBy over the stopword's full posting list into one over the rare
    term's candidates.

    No driver round-trip: the ceilings come from the driver-held
    dictionary, and tau rides the plan as a broadcast 1-row aggregate.
    Prefix membership is a per-term constant: in ceiling-descending order,
    term t is in the prune prefix iff ``rest_from[t]`` (the sum of ceilings
    from t onward, a literal term -> value map) ``>= tau - margin``, so
    non-prefix postings die map-side and only prefix-matched docs shuffle.
    When tau resolves to 0 (fewer than k matches) or every ceiling is
    needed, the filter passes everything: the exact OR, no special case."""
    if isinstance(terms, list):
        terms = {t: 1 for t in terms}
    ubs = _term_upper_bounds(index, terms)
    if not ubs:
        return top_k(_empty_matches(index), k)
    live = {t: w for t, w in terms.items() if t in ubs}
    best = max(ubs, key=lambda t: ubs[t])
    order = sorted(ubs, key=lambda t: ubs[t], reverse=True)
    rest_from: dict[str, float] = {}
    rest = sum(ubs.values())
    for t in order:
        rest_from[t] = rest
        rest -= ubs[t]
    # k-th best single-term partial score as a broadcast scalar: a valid
    # lower bound on the true k-th best final score (every doc's final
    # score >= its partial). Fewer than k matches -> tau = 0 (no pruning).
    tau_df = (
        score_terms(index, {best: live[best]})
        .orderBy(F.desc("score"))
        .limit(k)
        .agg(
            F.coalesce(
                F.when(F.count(F.lit(1)) == k, F.min("score")), F.lit(0.0)
            ).alias("_tau")
        )
    )
    rest_of = F.create_map(
        *[x for t in order for x in (F.lit(t), F.lit(float(rest_from[t])))]
    )[F.col("term")]
    # float-accumulation safety margin on the bound, as an expression of tau
    margin = F.lit(1e-9) * (F.lit(1.0) + F.abs(F.col("_tau")))
    cand = (
        index.postings_of(order)
        .select("doc", rest_of.alias("_rest_from"))
        .crossJoin(F.broadcast(tau_df))
        .filter(F.col("_rest_from") >= F.col("_tau") - margin)
        .select("doc")
        .distinct()
    )
    return top_k(score_terms(index, live, candidates=cand), k)


# 100 * DBL_EPSILON — the excess-precision nudge of omenquire.cc:338
_PCT_EPS = 100.0 * 2.220446049250313e-16


def with_percent(matches: DataFrame, total_subqs: int | None = None) -> DataFrame:
    """R8: the reference's exact percent conversion (omenquire.cc:332-347 +
    multimatch.cc:902-916):

        percent_factor = (subqs matched by the top doc / total_subqs)
                         / greatest_wt * 100
        pcent = clamp(int(wt * percent_factor + 100*DBL_EPSILON), 0, 100)
        pcent == 0 and wt > 0  ->  1

    Truncation (floor), not ceil; the top document only reaches 100 if it
    matched every subquery. The matched-subquery fraction needs an ``n_sub``
    column (score_terms(..., with_nsub=True)) and ``total_subqs``; without
    them the fraction is 1 (single-term queries are unaffected).

    Scale: the top row (greatest weight + its n_sub) is a bounded
    TakeOrdered(1) broadcast-cross-joined into the plan — no global window,
    no single-partition shuffle of the match set.
    """
    use_frac = total_subqs and "n_sub" in matches.columns
    top1 = matches.orderBy(F.desc("score"), F.asc("doc")).limit(1)
    if use_frac:
        top1 = top1.select(
            F.col("score").alias("_max_score"),
            (F.col("n_sub").cast("double") / F.lit(float(total_subqs))).alias("_frac"),
        )
    else:
        top1 = top1.select(
            F.col("score").alias("_max_score"), F.lit(1.0).alias("_frac")
        )
    v = (
        F.col("score") * F.lit(100.0) * F.col("_frac") / F.col("_max_score")
        + F.lit(_PCT_EPS)
    )
    pcent = F.least(F.lit(100), F.floor(v).cast("int"))
    pcent = F.when((pcent <= 0) & (F.col("score") > 0), F.lit(1)).otherwise(
        F.greatest(pcent, F.lit(0))
    )
    return (
        matches.crossJoin(F.broadcast(top1))
        .withColumn("percent", pcent)
        .drop("_max_score", "_frac")
    )


def collapse(
    matches: DataFrame, key_col: str, collapse_max: int = 1, salt: int = 0
) -> DataFrame:
    """R9: keep <= collapse_max best docs per key value (collapser.cc).

    ``salt > 0`` enables the skew-safe two-phase form for hot collapse keys
    (one host dominating a crawl slice): phase 1 takes the per-(key, salt)
    top rows — spreading a hot key over ``salt`` partitions — and phase 2
    collapses the <= salt * collapse_max survivors per key. Identical
    results (top-m of a union of per-part top-ms is the global top-m);
    equality is pinned in tests."""
    from pyspark.sql.window import Window

    out = matches
    if salt > 0:
        w1 = Window.partitionBy(key_col, "_salt").orderBy(
            F.desc("score"), F.asc("doc")
        )
        out = (
            out.withColumn(
                "_salt", F.pmod(F.xxhash64("doc"), F.lit(salt)).cast("int")
            )
            .withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") <= collapse_max)
            .drop("_rn", "_salt")
        )
    w = Window.partitionBy(key_col).orderBy(F.desc("score"), F.asc("doc"))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= collapse_max)
        .drop("_rn")
    )


def cutoff(
    matches: DataFrame,
    weight_cutoff: float = 0.0,
    percent_cutoff: int = 0,
    total_subqs: int | None = None,
) -> DataFrame:
    """R11: drop matches below thresholds (percent per with_percent)."""
    out = matches
    if weight_cutoff > 0:
        out = out.filter(F.col("score") >= weight_cutoff)
    if percent_cutoff > 0:
        out = (
            with_percent(out, total_subqs=total_subqs)
            .filter(F.col("percent") >= percent_cutoff)
            .drop("percent")
        )
    return out


def fetch_documents(matches: DataFrame, docs: DataFrame, key: str) -> DataFrame:
    """S6: join the (small) ranked page back to the docs table — Catalyst
    broadcasts the top-k side."""
    return docs.join(F.broadcast(matches), on=docs[key] == matches["doc"]).drop("doc")


def expand_terms(
    index: InvertedIndex,
    rset: DataFrame,
    max_esize: int = 10,
    expand_k: float = 1.0,
    exclude: list[str] | None = None,
    min_wt: float = 0.0,
    scheme: str = "trad",
) -> DataFrame:
    """ESet query expansion — ``Enquire::get_eset`` (XC api/omenquire.cc:
    586-640, expand loop esetinternal.cc:150-210) with BOTH of Xapian's
    expansion schemes, reproduced exactly:

    ``scheme="trad"`` (the default, tradeweight.cc:31-41):
      per relevant doc containing t (expandweight.h ExpandStats::accumulate):
        multiplier += (k+1)*wdf / (k*doclen/avlen + wdf)   [wdf 0 -> 1]
      per candidate term:
        tw = ln( (r+0.5)(N - n - (R-r) + 0.5) / ((n-r+0.5)(R-r+0.5)) )
        wt = multiplier * tw
      r = relevant docs containing t, n = df(t), N = collection size,
      R = |rset|.

    ``scheme="bo1"`` (Bose-Einstein 1, bo1eweight.cc:31-41):
        mean = cf(t) / N
        wt = rcf * log2((1 + mean) / mean) + log2(1 + mean)
      rcf = sum of wdf of t over the relevant docs
      (ExpandStats.rcollection_freq).

    Both: keep wt > min_wt; query terms excluded
    (ExpandDeciderFilterTerms) via ``exclude``.

    The reference links this engine op but never surfaces it in the TUI;
    exposed here as the relevance-feedback operator a retrieval pipeline
    needs. Plan shape: the rset is a broadcast semi-join into one postings
    scan, the aggregation is map-side-combined per term, and the result is
    a bounded top-``max_esize`` — no driver-side iteration over candidates
    (Xapian walks a termlist tree; the DataFrame form is the same math as
    one scan + one groupBy)."""
    rel = F.broadcast(rset.select("doc").distinct())  # RSet semantics: a SET
    # R = |rset| rides the plan as a broadcast 1-row scalar — the op_synonym
    # pattern: no eager driver-synchronized count per query. An empty rset
    # yields an empty contrib/cand chain, hence an empty result.
    rsize_df = rel.agg(F.count(F.lit(1)).cast("double").alias("_rsize"))
    avg_len = index.avg_len if index.avg_len > 0 else 1.0
    wdf_adj = F.greatest(F.col("wdf"), F.lit(1))
    m = (F.lit(expand_k + 1) * wdf_adj) / (
        F.lit(expand_k) * F.col("doclen") / F.lit(avg_len) + wdf_adj
    )
    contrib = index.postings.join(rel, "doc", "left_semi")
    # aggregate only what the chosen scheme reads (a dead crossJoin or
    # aggregate is not pruned by Catalyst once multiplicity changes)
    if scheme == "bo1":
        contrib = contrib.select(
            "term", F.greatest(F.col("wdf"), F.lit(1)).alias("w")
        )
        cand = contrib.groupBy("term").agg(F.sum("w").alias("rcf"))
    elif scheme == "trad":
        contrib = contrib.select("term", m.alias("m"))
        cand = contrib.groupBy("term").agg(
            F.sum("m").alias("multiplier"), F.count(F.lit(1)).alias("r")
        )
    else:
        raise ValueError(f"unknown expansion scheme {scheme!r}")
    if exclude:
        cand = cand.filter(~F.col("term").isin(list(exclude)))
    if scheme == "bo1":
        # log2 via ln(x) * (1/ln 2) with an identical literal on the SQL
        # side: Spark's and DuckDB's log2 intrinsics disagree in the last
        # ulp ~400x more often than their ln does, which matters for the
        # exact-integer micro comparison
        inv_ln2 = 1.4426950408889634
        mean = F.col("cf").cast("double") / F.lit(float(index.n_docs))
        wt_expr = (
            F.col("rcf").cast("double") * (F.log((1.0 + mean) / mean) * inv_ln2)
            + F.log(1.0 + mean) * inv_ln2
        )
        scored = cand.join(index.term_stats.select("term", "cf"), "term")
    else:
        n_col = F.col("df").cast("double")
        r_col = F.col("r").cast("double")
        rel_without = F.col("_rsize") - r_col
        tw = F.log(
            ((r_col + 0.5) * (F.lit(float(index.n_docs)) - n_col - rel_without + 0.5))
            / ((n_col - r_col + 0.5) * (rel_without + 0.5))
        )
        wt_expr = F.col("multiplier") * tw
        scored = cand.join(
            index.term_stats.select("term", "df"), "term"
        ).crossJoin(F.broadcast(rsize_df))
    # top-N by the micro-integerized weight (repo convention: integerize
    # before any cross-engine comparison) with the lexical tie-break — raw
    # double ordering could disagree with the SQL oracle at the cutoff when
    # two candidates' weights differ by less than the rounding grain
    return (
        scored.select("term", wt_expr.alias("wt"))
        .filter(F.col("wt") > F.lit(float(min_wt)))
        .orderBy(F.desc(F.round(F.col("wt") * 1_000_000)), F.asc("term"))
        .limit(max_esize)
    )


def facet_counts(
    matches: DataFrame, docs: DataFrame, key: str, facet_col: str
) -> DataFrame:
    """Faceting over the FULL match set (Xapian ValueCountMatchSpy:
    api/matchspy.cc ValueCountMatchSpy::operator()) — each distinct value of
    ``facet_col`` with the number of matching documents carrying it.

    One semi-join (match set restricts the docs scan; no score shuffle — the
    spy never looks at weights) + one partial-aggregated groupBy on the
    facet value: the plan a 10^12-row corpus wants, since facet cardinality,
    not match count, bounds the final shuffle."""
    matched = docs.join(
        matches.select("doc"), on=docs[key] == matches["doc"], how="left_semi"
    )
    return matched.groupBy(F.col(facet_col).alias("value")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def rrf_fuse(
    ranked: list[tuple[str, DataFrame]],
    k0: int = 60,
    limit: int = 10,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack/Clarke/Buettcher 2009) of BOUNDED
    ranked lists — the standard hybrid-retrieval combiner for a BM25
    keyword ranking and an embedding-ANN ranking. Each input is
    ``(name, df)`` where ``df`` has columns ``(doc_id, rank)`` and is
    already cut to a constant pool (top-POOL rows), so every join side
    here is O(pool), not corpus-scale: the fold of full-outer joins and
    the final sort all run over a few dozen rows regardless of corpus
    size — the expensive work happened inside each retriever.

    Scores are exact integers: contribution = ``10^9 div (k0 + rank)``
    summed over the lists that ranked the doc (missing list -> 0), so the
    fused ordering is engine-independent (no float summation anywhere).
    Output: ``(doc_id, <name>_rank ..., rrf_score)`` by descending fused
    score, ties to the lowest doc_id.

    The fuse itself is ONE union + ONE groupBy(doc_id) over null-padded
    rank columns (max ignores nulls), NOT a fold of full-outer joins: a
    full outer join cannot broadcast either side, so each fused list would
    add a shuffle exchange + an AQE replanning pause — measured ~3s of
    pure stage overhead on the composed hybrid plan for 40 rows of data.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    sides = []
    for i, (_, df) in enumerate(ranked):
        cols = [F.col("doc_id")]
        for j, (n2, _) in enumerate(ranked):
            cols.append(
                (F.col("rank") if j == i else F.lit(None))
                .cast("int")
                .alias(f"{n2}_rank")
            )
        sides.append(df.select(*cols))
    allr = sides[0]
    for side in sides[1:]:
        allr = allr.unionByName(side)
    fused = allr.groupBy("doc_id").agg(
        *[F.max(f"{n}_rank").alias(f"{n}_rank") for n, _ in ranked]
    )
    score = None
    for name, _ in ranked:
        c = F.coalesce(
            F.expr(f"1000000000 div ({k0} + {name}_rank)"), F.lit(0).cast("long")
        )
        score = c if score is None else score + c
    return (
        fused.withColumn("rrf_score", score.cast("long"))
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(limit)
    )
