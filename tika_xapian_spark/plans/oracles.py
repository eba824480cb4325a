"""ANSI-SQL (DuckDB) oracle builders for the driver's correctness gate.

Each oracle replicates, in pure SQL over the raw ``documents`` parquet view,
what the engine computes through its tokenizer UDF + posting tables + BM25
DataFrame algebra. The corpus is plain lowercase space-separated ASCII words,
on which the Xapian tokenizer (SURVEY.md §2.3) reduces exactly to
split-on-space — so SQL tokenization is term-for-term identical.

Stemming cannot be expressed in SQL, but the corpus vocabulary is a fixed
31-word set (the synthetic generator's word list), so the Porter2 stem map is
embedded as a VALUES table computed from our (golden-tested) stemmer. The
oracle therefore independently re-derives postings, Z-postings, document
lengths, collection stats and the full BM25 formula
(xapian-core-1.4.17.tar.xz!weight/bm25weight.cc:45-174) from the raw text.

Scores are compared as ``score_micro = round(score * 1e6) :: BIGINT`` —
integer-stable across engines.
"""

from __future__ import annotations

from ..functions.porter2 import stem as porter2_stem

# The synthetic documents vocabulary (all scale factors share the generator).
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]

K1, K3, B, MIN_NORMLEN = 1.0, 1.0, 0.5, 0.5


def stem_map_values() -> str:
    rows = ", ".join(f"('{w}', '{porter2_stem(w)}')" for w in VOCAB)
    return f"(VALUES {rows})"


def base_ctes() -> str:
    """Shared CTE prelude: tokens, postings (unstemmed + Z-stemmed), doclen,
    collection stats — the SQL mirror of operators/index.py."""
    return f"""
raw_tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS ord
  FROM documents
),
tok AS (
  SELECT doc_id, w AS term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS pos
  FROM raw_tok WHERE w <> ''
),
stem_map(word, stemmed) AS {stem_map_values()},
posting AS (
  SELECT doc_id, term, count(*) AS wdf FROM tok GROUP BY doc_id, term
),
zposting AS (
  SELECT t.doc_id, 'Z' || coalesce(m.stemmed, t.term) AS term, count(*) AS wdf
  FROM tok t LEFT JOIN stem_map m ON m.word = t.term
  GROUP BY t.doc_id, 'Z' || coalesce(m.stemmed, t.term)
),
allpost AS (
  SELECT * FROM posting UNION ALL SELECT * FROM zposting
),
doclen AS (
  SELECT doc_id, sum(wdf)::DOUBLE AS doclen FROM allpost GROUP BY doc_id
),
coll AS (
  SELECT count(*)::DOUBLE AS n, avg(doclen)::DOUBLE AS avg_len FROM doclen
),
tstats AS (
  SELECT term, count(*)::DOUBLE AS df, sum(wdf)::DOUBLE AS cf
  FROM allpost GROUP BY term
)"""


def _score_sql(
    matchset: str | None = None, suffix: str = ""
) -> str:
    """BM25 per-posting part + per-doc sum (R2/R4). ``suffix`` renames the
    emitted ``matches`` CTE (and the default matchset's tweight) so two
    scoring chains can coexist in one WITH."""
    if matchset is None:
        matchset = f"allpost p JOIN tweight{suffix} w USING (term)"
    return f"""
matches{suffix} AS (
  SELECT p.doc_id,
         sum(w.termweight * p.wdf /
             ({K1} * (greatest(d.doclen / c.avg_len, {MIN_NORMLEN}) * {B} + {1 - B}) + p.wdf)
         ) AS score,
         count(*) AS n_sub
  FROM {matchset}
       JOIN doclen d USING (doc_id)
       CROSS JOIN coll c
  GROUP BY p.doc_id
)"""


def _tweight_sql(
    qterms_values: str | None, from_cte: bool = False, suffix: str = ""
) -> str:
    """R1 term weights for a VALUES list of (term, wqf); with
    ``from_cte=True`` a ``qterms{suffix}(term, wqf)`` CTE is assumed
    already in scope (data-dependent query terms, e.g. more-like-this /
    PRF) and only the tweight CTE is emitted. ``suffix`` renames the CTEs
    so two scoring chains can coexist in one WITH (PRF's initial and
    expanded queries)."""
    head = (
        ""
        if from_cte
        else f"qterms{suffix}(term, wqf) AS (VALUES {qterms_values}),"
    )
    return f"""
{head}
tweight{suffix} AS (
  SELECT term,
         ln(CASE WHEN tw < 2 THEN tw * 0.5 + 1 ELSE tw END)
           * (({K3} + 1) * wqf / ({K3} + wqf)) * ({K1} + 1) AS termweight
  FROM (
    SELECT q.term, q.wqf::DOUBLE AS wqf, (c.n - s.df + 0.5) / (s.df + 0.5) AS tw
    FROM qterms{suffix} q JOIN tstats s USING (term) CROSS JOIN coll c
  )
)"""


def zterms(words: list[str]) -> list[str]:
    return ["Z" + porter2_stem(w) for w in words]


def qvalues(terms: list[str], wqf: dict[str, int] | None = None) -> str:
    seen: dict[str, int] = {}
    for t in terms:
        seen[t] = seen.get(t, 0) + 1
    if wqf:
        seen.update(wqf)
    return ", ".join(f"('{t}', {w})" for t, w in seen.items())


TOPK_TAIL = """
SELECT doc_id, CAST(round(score * 1000000) AS BIGINT) AS score_micro
FROM matches
ORDER BY score_micro DESC, doc_id
LIMIT {k}"""


def bm25_topk(words: list[str], k: int = 100) -> str:
    """Free-text OR query (Q2/Q13): stemmed Z-terms, weights summed, top-k."""
    return (
        "WITH " + base_ctes() + "," + _tweight_sql(qvalues(zterms(words)))
        + "," + _score_sql() + TOPK_TAIL.format(k=k)
    )


def _two_sided(words_l: list[str], words_r: list[str]) -> str:
    """CTEs producing lmatch/rmatch scored match sets for boolean ops."""
    lv = qvalues([t + "" for t in zterms(words_l)])
    rv = qvalues(zterms(words_r))
    return f"""WITH {base_ctes()},
lq(term, wqf) AS (VALUES {lv}),
rq(term, wqf) AS (VALUES {rv}),
lw AS (
  SELECT term, ln(CASE WHEN tw < 2 THEN tw*0.5 + 1 ELSE tw END) * 2.0 AS termweight
  FROM (SELECT q.term, (c.n - s.df + 0.5)/(s.df + 0.5) AS tw
        FROM lq q JOIN tstats s USING (term) CROSS JOIN coll c)
),
rw AS (
  SELECT term, ln(CASE WHEN tw < 2 THEN tw*0.5 + 1 ELSE tw END) * 2.0 AS termweight
  FROM (SELECT q.term, (c.n - s.df + 0.5)/(s.df + 0.5) AS tw
        FROM rq q JOIN tstats s USING (term) CROSS JOIN coll c)
),
lmatch AS (
  SELECT p.doc_id, sum(w.termweight * p.wdf /
      (1.0*(greatest(d.doclen/c.avg_len, 0.5)*0.5 + 0.5) + p.wdf)) AS score
  FROM allpost p JOIN lw w USING (term) JOIN doclen d USING (doc_id) CROSS JOIN coll c
  GROUP BY p.doc_id
),
rmatch AS (
  SELECT p.doc_id, sum(w.termweight * p.wdf /
      (1.0*(greatest(d.doclen/c.avg_len, 0.5)*0.5 + 0.5) + p.wdf)) AS score
  FROM allpost p JOIN rw w USING (term) JOIN doclen d USING (doc_id) CROSS JOIN coll c
  GROUP BY p.doc_id
)"""


def bool_op(op: str, words_l: list[str], words_r: list[str], k: int = 100) -> str:
    """Q1/Q3/Q4/Q5/Q6 oracles over two free-text sides."""
    pre = _two_sided(words_l, words_r)
    if op == "and":
        sel = """SELECT l.doc_id, l.score + r.score AS score
                 FROM lmatch l JOIN rmatch r USING (doc_id)"""
    elif op == "and_not":
        sel = """SELECT l.doc_id, l.score FROM lmatch l
                 WHERE NOT EXISTS (SELECT 1 FROM rmatch r WHERE r.doc_id = l.doc_id)"""
    elif op == "and_maybe":
        sel = """SELECT l.doc_id, l.score + coalesce(r.score, 0) AS score
                 FROM lmatch l LEFT JOIN rmatch r USING (doc_id)"""
    elif op == "filter":
        sel = """SELECT l.doc_id, l.score FROM lmatch l
                 WHERE EXISTS (SELECT 1 FROM rmatch r WHERE r.doc_id = l.doc_id)"""
    elif op == "xor":
        sel = """SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
                        coalesce(l.score, r.score) AS score
                 FROM lmatch l FULL OUTER JOIN rmatch r USING (doc_id)
                 WHERE (l.doc_id IS NULL) <> (r.doc_id IS NULL)"""
    elif op == "max":
        sel = """SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
                        greatest(coalesce(l.score, 0), coalesce(r.score, 0)) AS score
                 FROM lmatch l FULL OUTER JOIN rmatch r USING (doc_id)"""
    else:
        raise ValueError(op)
    return (
        pre + f", matches AS ({sel})" + TOPK_TAIL.format(k=k)
    )


def facets(words: list[str], facet_col: str) -> str:
    """Facet counts over the FULL match set of a free-text query
    (ValueCountMatchSpy analogue): facet value -> matching-doc count."""
    return (
        "WITH " + base_ctes() + "," + _tweight_sql(qvalues(zterms(words)))
        + "," + _score_sql()
        + f"""
SELECT d.{facet_col} AS value, count(*) AS n_docs
FROM matches m JOIN documents d ON d.doc_id = m.doc_id
GROUP BY d.{facet_col}
ORDER BY value"""
    )


def eset(
    rel_docs: list[int],
    max_esize: int = 10,
    expand_k: float = 1.0,
    exclude: list[str] | None = None,
    scheme: str = "trad",
) -> str:
    """ESet expansion oracle: exact TradEWeight (tradeweight.cc:31-41) or
    Bo1EWeight (bo1eweight.cc:31-41) + ExpandStats::accumulate over the
    relevant-doc set."""
    rels = ", ".join(f"({d})" for d in rel_docs)
    rsize = len(rel_docs)
    excl = ""
    if exclude:
        terms = ", ".join(f"'{t}'" for t in exclude)
        excl = f"AND term NOT IN ({terms})"
    if scheme == "bo1":
        # same ln * (1/ln2) form and literal as the Spark side — log2
        # intrinsics disagree across engines in the last ulp far more often
        wt_select = """SELECT c2.term,
         c2.rcf * (ln((1.0 + s.cf / co.n) / (s.cf / co.n)) * 1.4426950408889634)
           + ln(1.0 + s.cf / co.n) * 1.4426950408889634 AS wt
  FROM cand c2 JOIN tstats s USING (term) CROSS JOIN coll co"""
    elif scheme == "trad":
        wt_select = f"""SELECT c2.term,
         c2.multiplier * ln(
             ((c2.r + 0.5) * (co.n - s.df - ({rsize} - c2.r) + 0.5))
           / ((s.df - c2.r + 0.5) * (({rsize} - c2.r) + 0.5))) AS wt
  FROM cand c2 JOIN tstats s USING (term) CROSS JOIN coll co"""
    else:
        raise ValueError(scheme)
    return (
        "WITH " + base_ctes() + ","
        + _eset_chain(rels, expand_k, wt_select)
        + f"""
SELECT term, CAST(round(wt * 1000000) AS BIGINT) AS wt_micro
FROM wt WHERE wt > 0 {excl}
ORDER BY wt_micro DESC, term
LIMIT {max_esize}"""
    )


def _eset_chain(
    rels: str, expand_k: float, wt_select: str, rel_cte: str | None = None
) -> str:
    """CTE chain rel -> contrib -> cand -> wt (expects base_ctes in
    scope) — shared by the standalone ESet oracles, more_like_this and
    PRF. ``rel_cte`` overrides the default VALUES relevant-set with an
    arbitrary ``rel(doc_id) AS (...)`` definition (e.g. the top-k of an
    initial query)."""
    rel = rel_cte or f"rel(doc_id) AS (VALUES {rels})"
    return f"""
{rel},
contrib AS (
  SELECT p.term,
         (({expand_k} + 1) * greatest(p.wdf, 1))
           / ({expand_k} * d.doclen / c.avg_len + greatest(p.wdf, 1)) AS m,
         greatest(p.wdf, 1) AS w
  FROM allpost p
       JOIN rel r ON r.doc_id = p.doc_id
       JOIN doclen d ON d.doc_id = p.doc_id
       CROSS JOIN coll c
),
cand AS (
  SELECT term, sum(m) AS multiplier, count(*) AS r, sum(w) AS rcf
  FROM contrib GROUP BY term
),
wt AS (
  {wt_select}
)"""


def value_boost(words: list[str], value_col: str, scale: float, k: int = 100) -> str:
    """ValueWeightPostingSource AND_MAYBE oracle: BM25 matches keep their
    docs, each boosted by scale * value when present."""
    return (
        "WITH " + base_ctes() + "," + _tweight_sql(qvalues(zterms(words)))
        + "," + _score_sql()
        + f""",
boost AS (
  SELECT doc_id, TRY_CAST({value_col} AS DOUBLE) * {scale} AS bscore
  FROM documents WHERE TRY_CAST({value_col} AS DOUBLE) IS NOT NULL
),
combined AS (
  SELECT m.doc_id, m.score + coalesce(b.bscore, 0) AS score
  FROM matches m LEFT JOIN boost b USING (doc_id)
)
SELECT doc_id, CAST(round(score * 1000000) AS BIGINT) AS score_micro
FROM combined
ORDER BY score_micro DESC, doc_id
LIMIT {k}"""
    )


def _scored_in(docset_cte: str) -> str:
    """matches CTE: BM25 sum restricted to docs in ``docset_cte``."""
    return f"""matches AS (
  SELECT p.doc_id,
         sum(w.termweight * p.wdf /
             (1.0 * (greatest(d.doclen / c.avg_len, 0.5) * 0.5 + 0.5) + p.wdf)) AS score
  FROM allpost p JOIN tweight w USING (term)
       JOIN doclen d USING (doc_id)
       CROSS JOIN coll c
  WHERE p.doc_id IN (SELECT doc_id FROM {docset_cte})
  GROUP BY p.doc_id
)"""


def phrase(words: list[str], k: int = 100) -> str:
    """Q8: consecutive unstemmed positions, scored over the member terms."""
    conds = " AND ".join(
        f"EXISTS (SELECT 1 FROM tok t{i} WHERE t{i}.doc_id = ph.doc_id "
        f"AND t{i}.term = '{w}' AND t{i}.pos = ph.pos + {i})"
        for i, w in enumerate(words[1:], start=1)
    )
    uniq = list(dict.fromkeys(words))
    return f"""WITH {base_ctes()},
{_tweight_sql(qvalues(uniq)).lstrip()},
phrase_docs AS (
  SELECT DISTINCT ph.doc_id
  FROM tok ph WHERE ph.term = '{words[0]}' AND {conds}
),
{_scored_in('phrase_docs')}""" + TOPK_TAIL.format(k=k)


def near(words: list[str], window: int = 10, k: int = 100) -> str:
    """Q7 (two-term form): span (max-min) < window, any order."""
    assert len(words) == 2
    w1, w2 = words
    uniq = list(dict.fromkeys(words))
    return f"""WITH {base_ctes()},
{_tweight_sql(qvalues(uniq)).lstrip()},
near_docs AS (
  SELECT DISTINCT a.doc_id
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id
  WHERE a.term = '{w1}' AND b.term = '{w2}'
    AND abs(a.pos - b.pos) < {window}
),
{_scored_in('near_docs')}""" + TOPK_TAIL.format(k=k)


def adj(words: list[str], window: int = 10, k: int = 100) -> str:
    """ADJ (two-term form): IN-ORDER within window — phrasepostlist's
    window-bounded chain semantics (b strictly after a, span < window), scored
    over the member terms like phrase/near."""
    assert len(words) == 2
    w1, w2 = words
    uniq = list(dict.fromkeys(words))
    return f"""WITH {base_ctes()},
{_tweight_sql(qvalues(uniq)).lstrip()},
adj_docs AS (
  SELECT DISTINCT a.doc_id
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id
  WHERE a.term = '{w1}' AND b.term = '{w2}'
    AND b.pos > a.pos AND b.pos - a.pos < {window}
),
{_scored_in('adj_docs')}""" + TOPK_TAIL.format(k=k)


def synonym(members: list[str], k: int = 100) -> str:
    """Q12: merged postings scored as one pseudo-term (df = matching docs)."""
    in_list = ", ".join(f"'{m}'" for m in members)
    return f"""WITH {base_ctes()},
merged AS (
  SELECT doc_id, sum(wdf) AS wdf FROM allpost
  WHERE term IN ({in_list}) GROUP BY doc_id
),
syn_df AS (SELECT count(*)::DOUBLE AS df FROM merged),
syn_w AS (
  SELECT ln(CASE WHEN tw < 2 THEN tw*0.5 + 1 ELSE tw END) * 2.0 AS termweight
  FROM (SELECT (c.n - s.df + 0.5)/(s.df + 0.5) AS tw FROM syn_df s CROSS JOIN coll c)
),
matches AS (
  SELECT m.doc_id,
         w.termweight * m.wdf /
           (1.0 * (greatest(d.doclen / c.avg_len, 0.5) * 0.5 + 0.5) + m.wdf) AS score
  FROM merged m CROSS JOIN syn_w w
       JOIN doclen d ON d.doc_id = m.doc_id
       CROSS JOIN coll c
)""" + TOPK_TAIL.format(k=k)


def wildcard_max(prefix: str, k: int = 100) -> str:
    """Q15 + OP_MAX: expand unstemmed vocabulary by prefix; weight = MAX
    single-expansion BM25 score per doc (an alternative wildcard combiner
    Xapian supports — its queryparser default is OP_SYNONYM; mirror of
    operators/search.py::op_max_terms)."""
    return f"""WITH {base_ctes()},
expanded AS (
  SELECT term FROM posting GROUP BY term HAVING term LIKE '{prefix}%'
),
tweight AS (
  SELECT term,
         ln(CASE WHEN tw < 2 THEN tw*0.5 + 1 ELSE tw END) * 2.0 AS termweight
  FROM (SELECT e.term, (c.n - s.df + 0.5)/(s.df + 0.5) AS tw
        FROM expanded e JOIN tstats s USING (term) CROSS JOIN coll c)
),
matches AS (
  SELECT p.doc_id,
         max(w.termweight * p.wdf /
             ({K1} * (greatest(d.doclen / c.avg_len, {MIN_NORMLEN}) * {B} + {1 - B}) + p.wdf)
         ) AS score
  FROM posting p JOIN tweight w USING (term)
       JOIN doclen d USING (doc_id)
       CROSS JOIN coll c
  GROUP BY p.doc_id
)""" + TOPK_TAIL.format(k=k)


def wildcard(prefix: str, k: int = 100) -> str:
    """Q15: expand unstemmed vocabulary by prefix, then synonym-score."""
    return f"""WITH {base_ctes()},
expanded AS (
  SELECT term FROM posting GROUP BY term HAVING term LIKE '{prefix}%'
),
merged AS (
  SELECT doc_id, sum(wdf) AS wdf FROM posting
  WHERE term IN (SELECT term FROM expanded) GROUP BY doc_id
),
syn_df AS (SELECT count(*)::DOUBLE AS df FROM merged),
syn_w AS (
  SELECT ln(CASE WHEN tw < 2 THEN tw*0.5 + 1 ELSE tw END) * 2.0 AS termweight
  FROM (SELECT (c.n - s.df + 0.5)/(s.df + 0.5) AS tw FROM syn_df s CROSS JOIN coll c)
),
matches AS (
  SELECT m.doc_id,
         w.termweight * m.wdf /
           (1.0 * (greatest(d.doclen / c.avg_len, 0.5) * 0.5 + 0.5) + m.wdf) AS score
  FROM merged m CROSS JOIN syn_w w
       JOIN doclen d ON d.doc_id = m.doc_id
       CROSS JOIN coll c
)""" + TOPK_TAIL.format(k=k)


def elite(words: list[str], n: int, k: int = 100) -> str:
    """Q11: keep the n candidates with the highest BM25 max-weight bound
    (termweight * max_wdf / (K1*(MIN_NORMLEN*B + 1-B) + max_wdf)) — the SQL
    mirror of operators/search.py::_term_upper_bounds, matching Xapian's
    elite selection by get_maxweight()."""
    in_list = ", ".join(f"'{t}'" for t in zterms(words))
    denom_const = K1 * (MIN_NORMLEN * B + (1 - B))
    return f"""WITH {base_ctes()},
maxw AS (
  SELECT term, max(wdf)::DOUBLE AS max_wdf FROM allpost
  WHERE term IN ({in_list}) GROUP BY term
),
kept AS (
  SELECT term, 1 AS wqf FROM (
    SELECT term,
           ln(CASE WHEN tw < 2 THEN tw*0.5 + 1 ELSE tw END) * 2.0
             * max_wdf / ({denom_const} + max_wdf) AS ub
    FROM (SELECT s.term, m.max_wdf, (c.n - s.df + 0.5)/(s.df + 0.5) AS tw
          FROM tstats s JOIN maxw m USING (term) CROSS JOIN coll c)
  ) ORDER BY ub DESC, term ASC LIMIT {n}
),
tweight AS (
  SELECT term,
         ln(CASE WHEN tw < 2 THEN tw*0.5 + 1 ELSE tw END) * 2.0 AS termweight
  FROM (SELECT q.term, (c.n - s.df + 0.5)/(s.df + 0.5) AS tw
        FROM kept q JOIN tstats s USING (term) CROSS JOIN coll c)
),
{_score_sql()[1:]}""" + TOPK_TAIL.format(k=k)


def scaled(words: list[str], factor: float, k: int = 100) -> str:
    """Q10 OP_SCALE_WEIGHT: subquery weights multiplied by ``factor``
    (src/xapian_utils.rs:58; query.h:166)."""
    return (
        "WITH " + base_ctes() + "," + _tweight_sql(qvalues(zterms(words)))
        + "," + _score_sql()
        + f"""
SELECT doc_id, CAST(round(score * {factor} * 1000000) AS BIGINT) AS score_micro
FROM matches
ORDER BY score_micro DESC, doc_id
LIMIT {k}"""
    )


def lovehate(love: list[str], others: list[str], hate: list[str], k: int = 100) -> str:
    """Q16 FLAG_LOVEHATE: ``+love others -hate`` ==
    (love AND_MAYBE others) AND_NOT hate (queryparser.lemony:972-984)."""
    assert len(love) == 1 and len(others) == 1 and len(hate) == 1
    pre = _two_sided(love, others)
    hate_t = zterms(hate)[0]
    return f"""{pre},
hated AS (SELECT DISTINCT doc_id FROM allpost WHERE term = '{hate_t}'),
matches AS (
  SELECT l.doc_id, l.score + coalesce(r.score, 0) AS score
  FROM lmatch l LEFT JOIN rmatch r USING (doc_id)
  WHERE l.doc_id NOT IN (SELECT doc_id FROM hated)
)""" + TOPK_TAIL.format(k=k)


def fielded_ctes() -> str:
    """CTE prelude for the *fielded* documents index: ``source`` indexed as
    the A (author) field at position 1, ``lang`` as a K tag at position 2,
    body text from position 3 — mirroring the reference field order and the
    shared position counter (src/main.rs:123-133, K8) as implemented by
    functions/tokenizer.py::index_document. STEM_SOME emits Z<prefix><stem>
    for field terms; every source/lang value stems to itself, so the
    stem-map fallback (coalesce to the raw word) is exact."""
    return f"""
raw_tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS ord
  FROM documents
),
tok0 AS (
  SELECT doc_id, 'A' AS prefix, source AS w, 1::BIGINT AS pos FROM documents
  UNION ALL
  SELECT doc_id, 'K' AS prefix, lang AS w, 2::BIGINT AS pos FROM documents
  UNION ALL
  SELECT doc_id, '' AS prefix, w,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) + 2 AS pos
  FROM raw_tok WHERE w <> ''
),
stem_map(word, stemmed) AS {stem_map_values()},
posting AS (
  SELECT doc_id, prefix || w AS term, count(*) AS wdf
  FROM tok0 GROUP BY doc_id, prefix || w
),
zposting AS (
  SELECT t.doc_id, 'Z' || t.prefix || coalesce(m.stemmed, t.w) AS term,
         count(*) AS wdf
  FROM tok0 t LEFT JOIN stem_map m ON m.word = t.w
  GROUP BY t.doc_id, 'Z' || t.prefix || coalesce(m.stemmed, t.w)
),
allpost AS (
  SELECT * FROM posting UNION ALL SELECT * FROM zposting
),
doclen AS (
  SELECT doc_id, sum(wdf)::DOUBLE AS doclen FROM allpost GROUP BY doc_id
),
coll AS (
  SELECT count(*)::DOUBLE AS n, avg(doclen)::DOUBLE AS avg_len FROM doclen
),
tstats AS (
  SELECT term, count(*)::DOUBLE AS df, sum(wdf)::DOUBLE AS cf
  FROM allpost GROUP BY term
)"""


def fielded_topk(terms: list[str], k: int = 100) -> str:
    """Q14 field-prefixed OR query over the fielded documents index; ``terms``
    are full index terms (e.g. 'ZAsrc3', 'Zspark')."""
    return (
        "WITH " + fielded_ctes() + "," + _tweight_sql(qvalues(terms))
        + "," + _score_sql() + TOPK_TAIL.format(k=k)
    )


def partial(prefix: str, k: int = 100) -> str:
    """Q15 FLAG_PARTIAL (incremental last-word query): the reference goldens
    show ``WILDCARD SYNONYM <w> OR Z<stem(w)>`` (src/xapian_utils.rs:506,
    528,550) — a wildcard-synonym score OR-summed with the stem-term score."""
    stem_t = zterms([prefix])[0]
    return f"""WITH {base_ctes()},
expanded AS (
  SELECT term FROM posting GROUP BY term HAVING term LIKE '{prefix}%'
),
merged AS (
  SELECT doc_id, sum(wdf) AS wdf FROM posting
  WHERE term IN (SELECT term FROM expanded) GROUP BY doc_id
),
syn_df AS (SELECT count(*)::DOUBLE AS df FROM merged),
syn_w AS (
  SELECT ln(CASE WHEN tw < 2 THEN tw*0.5 + 1 ELSE tw END) * 2.0 AS termweight
  FROM (SELECT (c.n - s.df + 0.5)/(s.df + 0.5) AS tw FROM syn_df s CROSS JOIN coll c)
),
wc_match AS (
  SELECT m.doc_id,
         w.termweight * m.wdf /
           (1.0 * (greatest(d.doclen / c.avg_len, 0.5) * 0.5 + 0.5) + m.wdf) AS score
  FROM merged m CROSS JOIN syn_w w
       JOIN doclen d ON d.doc_id = m.doc_id
       CROSS JOIN coll c
),
st_w AS (
  SELECT term, ln(CASE WHEN tw < 2 THEN tw*0.5 + 1 ELSE tw END) * 2.0 AS termweight
  FROM (SELECT s.term, (c.n - s.df + 0.5)/(s.df + 0.5) AS tw
        FROM tstats s CROSS JOIN coll c WHERE s.term = '{stem_t}')
),
st_match AS (
  SELECT p.doc_id, sum(w.termweight * p.wdf /
      (1.0*(greatest(d.doclen/c.avg_len, 0.5)*0.5 + 0.5) + p.wdf)) AS score
  FROM allpost p JOIN st_w w USING (term)
       JOIN doclen d USING (doc_id) CROSS JOIN coll c
  GROUP BY p.doc_id
),
matches AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         coalesce(a.score, 0) + coalesce(b.score, 0) AS score
  FROM wc_match a FULL OUTER JOIN st_match b USING (doc_id)
)""" + TOPK_TAIL.format(k=k)


def pure_not(words: list[str], k: int = 100) -> str:
    """Q17: all docs minus matches, weight 0."""
    in_list = ", ".join(f"'{t}'" for t in zterms(words))
    return f"""WITH {base_ctes()},
matched AS (SELECT DISTINCT doc_id FROM allpost WHERE term IN ({in_list})),
matches AS (
  SELECT d.doc_id, 0.0 AS score FROM doclen d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM matched)
)""" + TOPK_TAIL.format(k=k)


def more_like_this(
    seed_doc: int, n_terms: int = 5, k: int = 10, expand_k: float = 1.0
) -> str:
    """More-like-this oracle: TradEWeight ESet over rset={seed} picks the
    top expansion terms (micro-integerized BEFORE the cutoff, the ESet
    rule), which then run as a wqf=1 OR query through the standard BM25
    chain, the seed itself excluded from the results."""
    rsize = 1
    wt_select = f"""SELECT c2.term,
         c2.multiplier * ln(
             ((c2.r + 0.5) * (co.n - s.df - ({rsize} - c2.r) + 0.5))
           / ((s.df - c2.r + 0.5) * (({rsize} - c2.r) + 0.5))) AS wt
  FROM cand c2 JOIN tstats s USING (term) CROSS JOIN coll co"""
    return (
        "WITH " + base_ctes() + ","
        + _eset_chain(f"({seed_doc})", expand_k, wt_select)
        + f""",
mlt_terms AS (
  SELECT term, CAST(round(wt * 1000000) AS BIGINT) AS wt_micro
  FROM wt WHERE wt > 0
  ORDER BY wt_micro DESC, term
  LIMIT {n_terms}
),
qterms(term, wqf) AS (SELECT term, 1 FROM mlt_terms),"""
        + _tweight_sql(None, from_cte=True)
        + ","
        + _score_sql()
        + f"""
SELECT doc_id, CAST(round(score * 1000000) AS BIGINT) AS score_micro
FROM matches WHERE doc_id <> {seed_doc}
ORDER BY score_micro DESC, doc_id
LIMIT {k}"""
    )


def prf(
    words: list[str],
    fb_docs: int = 5,
    fb_terms: int = 3,
    k: int = 10,
    expand_k: float = 1.0,
) -> str:
    """Pseudo-relevance-feedback oracle (Rocchio-style, Xapian's
    get_eset-over-the-top-hits recipe): the initial query's top ``fb_docs``
    BY THE INTEGERIZED SCORE act as the relevant set, TradEWeight picks
    ``fb_terms`` expansion terms (original terms excluded), and the final
    ranking runs original + expansion terms all at wqf = 1. Two complete
    scoring chains coexist via the suffix-renamed CTEs."""
    zt = zterms(words)
    # R = the ACTUAL relevant-set size (the engine's expand_terms counts
    # its rset frame) — a literal fb_docs would diverge whenever the
    # initial query matches fewer than fb_docs documents
    rsize = "(SELECT count(*) FROM rel)"
    wt_select = f"""SELECT c2.term,
         c2.multiplier * ln(
             ((c2.r + 0.5) * (co.n - s.df - ({rsize} - c2.r) + 0.5))
           / ((s.df - c2.r + 0.5) * (({rsize} - c2.r) + 0.5))) AS wt
  FROM cand c2 JOIN tstats s USING (term) CROSS JOIN coll co"""
    excl = ", ".join(f"'{t}'" for t in zt)
    rel_cte = f"""prf_top AS (
  SELECT doc_id, CAST(round(score * 1000000) AS BIGINT) AS score_micro
  FROM matches ORDER BY score_micro DESC, doc_id LIMIT {fb_docs}
),
rel(doc_id) AS (SELECT doc_id FROM prf_top)"""
    return (
        "WITH " + base_ctes()
        + "," + _tweight_sql(qvalues(zt))
        + "," + _score_sql()
        + "," + _eset_chain("", expand_k, wt_select, rel_cte=rel_cte)
        + f""",
prf_terms AS (
  SELECT term, CAST(round(wt * 1000000) AS BIGINT) AS wt_micro
  FROM wt WHERE wt > 0 AND term NOT IN ({excl})
  ORDER BY wt_micro DESC, term
  LIMIT {fb_terms}
),
qterms2(term, wqf) AS (
  SELECT term, 1 FROM prf_terms
  UNION ALL
  SELECT unnest([{excl}]), 1
),"""
        + _tweight_sql(None, from_cte=True, suffix="2")
        + "," + _score_sql(suffix="2")
        + f"""
SELECT doc_id, CAST(round(score * 1000000) AS BIGINT) AS score_micro
FROM matches2
ORDER BY score_micro DESC, doc_id
LIMIT {k}"""
    )
