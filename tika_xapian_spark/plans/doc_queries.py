"""Driver-facing query registry over the synthetic ``documents`` table.

Each entry here is a real engine path — tokenizer UDF -> posting tables ->
BM25 DataFrame algebra (operators/index.py, operators/search.py) — paired
with a pure-SQL DuckDB oracle from plans/oracles.py. Column names and the
``score_micro`` integerized score are aligned on both sides so the driver's
order-insensitive value-hash comparison is byte-stable.

The index for a given sf_dir is built once per Spark session and input
(plans/workdirs.py::memo) — the driver invokes every query callable in one
session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import search as S
from ..operators.index import InvertedIndex
from ..sources.scan import DEFAULT_SPREAD_MIN_ROWS, read_spread
from . import oracles
from .workdirs import memo

K = 100


def get_index(spark: SparkSession, sf_dir: str) -> InvertedIndex:
    path = f"{sf_dir}/documents.parquet"

    def build() -> InvertedIndex:
        # read_spread: the persisted postings carrier inherits the scan's
        # partitioning, and a single-row-group file pins it (and with it the
        # postings scan of EVERY search query) at 1 partition (sources/scan.py)
        docs = read_spread(spark, path, "doc_id")
        return InvertedIndex.build_from_body(docs, key="doc_id")

    return memo(spark, "index_body", path, build)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table for light-to-moderate per-row work (metadata
    filters, page fetch, most analytics folds): size-gated, so small tables
    stay raw because the exchange tax beats the parallelism
    (sources/scan.py)."""
    return read_spread(
        spark, f"{sf_dir}/documents.parquet", "doc_id",
        min_rows=DEFAULT_SPREAD_MIN_ROWS,
    )


def _finalize(matches: DataFrame, k: int = K) -> DataFrame:
    out = matches.select(
        F.col("doc").alias("doc_id"),
        F.round(F.col("score") * 1_000_000).cast("long").alias("score_micro"),
    )
    return out.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(k)


def _zt(words: list[str]) -> list[str]:
    return oracles.zterms(words)


# ---------------------------------------------------------------- queries


def q_search_or(spark, sf_dir):
    """Q2/Q13: free-text OR over stemmed terms."""
    idx = get_index(spark, sf_dir)
    return _finalize(S.score_terms(idx, _zt(["spark", "merge"])))


def q_search_and(spark, sf_dir):
    """Q1 fused: AND of leaf terms in ONE postings scan (score_terms_all)
    instead of two per-term subplans joined — identical results, half the
    scan volume; the same oracle SQL applies."""
    idx = get_index(spark, sf_dir)
    return _finalize(S.score_terms_all(idx, _zt(["spark", "merge"])))


def q_search_and_not(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    return _finalize(
        S.op_and_not(
            S.score_terms(idx, _zt(["spark"])), S.score_terms(idx, _zt(["merge"]))
        )
    )


def q_search_xor(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    return _finalize(
        S.op_xor(S.score_terms(idx, _zt(["spark"])), S.score_terms(idx, _zt(["slow"])))
    )


def q_search_max(spark, sf_dir):
    """OP_MAX (query.h): union of the sides, weight = max subquery weight —
    the combinator modern Xapian uses for wildcard expansion."""
    idx = get_index(spark, sf_dir)
    return _finalize(
        S.op_max(S.score_terms(idx, _zt(["spark"])), S.score_terms(idx, _zt(["slow"])))
    )


def q_search_facets(spark, sf_dir):
    """Faceting over the FULL match set (ValueCountMatchSpy analogue):
    matching-doc count per lang value for a free-text query."""
    idx = get_index(spark, sf_dir)
    matches = S.score_terms(idx, _zt(["spark", "merge"]))
    return (
        S.facet_counts(matches, _docs(spark, sf_dir), "doc_id", "lang")
        .orderBy("value")
    )


def q_search_snippets(spark, sf_dir):
    """MSet::snippet per hit of the ranked page (the TUI's result
    rendering): top-5 docs for spark/merge with <b>-highlighted best-window
    snippets at length 120. The snippet algorithm (sliding DECAY window,
    sentence/punctuation heuristics, background model) is not
    SQL-expressible, so the oracle is a literal VALUES table of the
    expected rows per deterministic corpus (see oracle_sqls); the
    algorithm's own parity gate is string-equality against xapian-core's
    api_snippets.cc goldens in tests/test_snippets.py."""
    from ..operators.snippet import snippets_for_page

    idx = get_index(spark, sf_dir)
    zts = _zt(["spark", "merge"])
    top = S.top_k(S.score_terms(idx, zts), k=5)
    page = S.fetch_documents(top, _docs(spark, sf_dir), key="doc_id")
    return snippets_for_page(
        idx, page, "doc_id", "text", loose_terms=zts, length=120
    ).orderBy("doc_id")


ESET_REL_DOCS = [1, 2, 3, 5, 8]
ESET_EXCLUDE = ["Zspark", "Zmerg"]


MLT_SEED = 0
MLT_TERMS = 5


def q_search_more_like_this(spark, sf_dir):
    """More-like-this: find documents similar to a seed document — the
    ESet relevance-feedback machinery (rset = {seed}) picks the seed's
    top 5 expansion terms, which then run as an ordinary wqf=1 OR query,
    seed excluded. Xapian ships exactly this composition as its
    similarity search (get_eset -> query from ESet terms); it is the
    "find related pages" feature of every Xapian deployment. The 5
    selected terms cross the driver as bounded scalars (the WAND-tau
    discipline) because the second stage's query plan is term-literal by
    design — corpus data never does."""
    idx = get_index(spark, sf_dir)
    rset = spark.range(1).select(F.lit(MLT_SEED).cast("long").alias("doc"))
    terms = [
        r["term"]
        for r in S.expand_terms(idx, rset, max_esize=MLT_TERMS).collect()
    ]
    matches = S.score_terms(idx, terms).filter(F.col("doc") != MLT_SEED)
    return _finalize(matches, k=10)


PRF_WORDS = ["spark"]
PRF_DOCS = 5
PRF_TERMS = 3


def q_search_prf(spark, sf_dir):
    """Pseudo-relevance feedback (Rocchio / Xapian's blind feedback
    recipe): run the query, treat its top-5 hits as relevant, expand with
    their top-3 ESet terms, re-rank with the widened query. Unlike
    more_like_this the relevant set is DATA (the first ranking's top-k, a
    fully distributed frame fed straight into expand_terms — no ids cross
    the driver); only the 3 chosen expansion terms do, as bounded
    scalars, because the second ranking's plan is term-literal. The
    feedback cut uses the integerized score (the ESet cutoff rule) so
    both engines pick the identical relevant set."""
    idx = get_index(spark, sf_dir)
    zt = _zt(PRF_WORDS)
    rset = _finalize(S.score_terms(idx, zt), k=PRF_DOCS).select(
        F.col("doc_id").alias("doc")
    )
    exp_terms = [
        r["term"]
        for r in S.expand_terms(
            idx, rset, max_esize=PRF_TERMS, exclude=zt
        ).collect()
    ]
    return _finalize(S.score_terms(idx, zt + exp_terms), k=10)


def q_search_eset(spark, sf_dir):
    """ESet relevance-feedback expansion (Enquire::get_eset, TradEWeight
    exact): the top expansion terms suggested by 5 marked-relevant docs,
    with the original query's terms excluded (ExpandDeciderFilterTerms)."""
    idx = get_index(spark, sf_dir)
    rset = spark.createDataFrame([(d,) for d in ESET_REL_DOCS], "doc long")
    out = S.expand_terms(idx, rset, max_esize=10, exclude=ESET_EXCLUDE)
    return out.select(
        "term", F.round(F.col("wt") * 1_000_000).cast("long").alias("wt_micro")
    ).orderBy(F.desc("wt_micro"), F.asc("term"))


def q_search_eset_bo1(spark, sf_dir):
    """The same ESet expansion under Xapian's alternative Bo1 scheme
    (Bose-Einstein 1, bo1eweight.cc): wt = rcf*log2((1+mean)/mean) +
    log2(1+mean), mean = cf/N."""
    idx = get_index(spark, sf_dir)
    rset = spark.createDataFrame([(d,) for d in ESET_REL_DOCS], "doc long")
    out = S.expand_terms(
        idx, rset, max_esize=10, exclude=ESET_EXCLUDE, scheme="bo1"
    )
    return out.select(
        "term", F.round(F.col("wt") * 1_000_000).cast("long").alias("wt_micro")
    ).orderBy(F.desc("wt_micro"), F.asc("term"))


def q_search_value_boost(spark, sf_dir):
    """ValueWeightPostingSource pattern (postingsource.h): text relevance
    AND_MAYBE a document-value weight — Xapian's standard recency/popularity
    boost, here boosting by n_chars * 0.001."""
    idx = get_index(spark, sf_dir)
    boost = S.value_weight_matches(
        _docs(spark, sf_dir), key="doc_id", value_col="n_chars", scale=0.001
    )
    return _finalize(S.op_and_maybe(S.score_terms(idx, _zt(["spark"])), boost))


def q_search_and_maybe(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    return _finalize(
        S.op_and_maybe(
            S.score_terms(idx, _zt(["join"])), S.score_terms(idx, _zt(["merge"]))
        )
    )


def q_search_filter(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    return _finalize(
        S.op_filter(
            S.score_terms(idx, _zt(["join"])), S.score_terms(idx, _zt(["spark"]))
        )
    )


def q_search_phrase(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    return _finalize(S.match_phrase(idx, ["group", "order"]))


def q_search_near(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    return _finalize(S.match_near(idx, ["hash", "join"], window=10))


def q_search_adj(spark, sf_dir):
    """ADJ surface syntax ("hash ADJ/9 join"): ordered NEAR — Xapian lowers
    ADJ to OP_PHRASE with a widened window (queryparser.lemony
    as_adj_query), matched with phrasepostlist's in-order-within-window
    chain. Window = width - 1 + n_terms = 9 - 1 + 2 = 10, the same span as
    search_near's — the result differs from NEAR exactly on docs where the
    pair only occurs in the wrong order."""
    idx = get_index(spark, sf_dir)
    return _finalize(S.match_adj(idx, ["hash", "join"], window=10))


def q_search_synonym(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    return _finalize(S.op_synonym(idx, _zt(["merge", "slow"])))


def q_search_wildcard(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    expanded = [
        t for t in S.expand_wildcard(idx, "sp") if not t.startswith("Z")
    ]
    return _finalize(S.op_synonym(idx, expanded))


def q_search_wildcard_max(spark, sf_dir):
    """Q15 + OP_MAX: wildcard expansion combined with OP_MAX (an
    alternative combiner Xapian supports for wildcard expansion; the
    queryparser default is OP_SYNONYM) — weight = best single-expansion
    score instead of the reference parser's WILDCARD-SYNONYM fold."""
    idx = get_index(spark, sf_dir)
    expanded = [
        t for t in S.expand_wildcard(idx, "sp") if not t.startswith("Z")
    ]
    return _finalize(S.op_max_terms(idx, expanded))


def q_search_elite(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    return _finalize(S.op_elite_set(idx, _zt(["spark", "merge", "slow"]), 2))


def q_search_pure_not(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    return _finalize(S.op_pure_not(idx, S.score_terms(idx, _zt(["spark"]))))


def q_search_wand(spark, sf_dir):
    """R5 through the WAND max-weight bound (term_stats.max_wdf, SURVEY §4's
    optional optimization): exact top-k where the common term's postings are
    pruned to the rare term's candidate docs. Same results as the naive
    plan — the oracle is the plain BM25 top-k SQL."""
    idx = get_index(spark, sf_dir)
    return _finalize(S.top_k_wand(idx, _zt(["the", "slow"]), k=K))


def q_metadata_range(spark, sf_dir):
    """Q9: metadata-filtered retrieval (the range op the reference surfaces
    but never wires — we implement it for real, SURVEY.md §2.4 Q9)."""
    return (
        _docs(spark, sf_dir)
        .filter((F.col("n_chars") >= 100) & (F.col("n_chars") <= 300))
        .filter(F.col("lang") == "en")
        .select("doc_id", "n_chars", "lang")
        .orderBy("doc_id")
        .limit(K)
    )


def q_collapse_best_per_source(spark, sf_dir):
    """R9 collapse: best match per source key (host-dedup analogue)."""
    idx = get_index(spark, sf_dir)
    m = S.score_terms(idx, _zt(["spark"]))
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("doc"), "source")
    joined = m.join(docs, "doc")
    best = S.collapse(joined, "source", 1)
    return best.select(
        "source",
        F.col("doc").alias("doc_id"),
        F.round(F.col("score") * 1_000_000).cast("long").alias("score_micro"),
    ).orderBy("source")


def q_search_percent(spark, sf_dir):
    """R8: reference-exact percents (floor + 100*DBL_EPSILON nudge, scaled by
    the top doc's matched-subquery fraction — omenquire.cc:338,
    multimatch.cc:913-914) for a two-term OR."""
    idx = get_index(spark, sf_dir)
    m = S.with_percent(
        S.score_terms(idx, _zt(["spark", "slow"]), with_nsub=True), total_subqs=2
    )
    return (
        m.select(
            F.col("doc").alias("doc_id"),
            F.round(F.col("score") * 1_000_000).cast("long").alias("score_micro"),
            F.col("percent").cast("int").alias("percent"),
        )
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(K)
    )


def q_fetch_documents(spark, sf_dir):
    """S6: join the ranked page back to the docs table (broadcast the top-k
    side) — the reverse scan of SURVEY.md §2.1."""
    idx = get_index(spark, sf_dir)
    top = S.top_k(S.score_terms(idx, _zt(["spark", "slow"])), k=25)
    docs = _docs(spark, sf_dir)
    return (
        S.fetch_documents(top, docs, key="doc_id")
        .select(
            "doc_id",
            F.round(F.col("score") * 1_000_000).cast("long").alias("score_micro"),
            "source",
            "n_chars",
        )
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
    )


def q_search_count(spark, sf_dir):
    """R7: match-count (exact — cheap in Spark, replacing the engine's
    lower/est/upper bounds; SURVEY.md §2.5 R7)."""
    idx = get_index(spark, sf_dir)
    m = S.score_terms(idx, _zt(["spark", "merge"]))
    return m.agg(F.count(F.lit(1)).cast("long").alias("n_matches"))


def q_search_sort_by_meta(spark, sf_dir):
    """R10: sort by metadata value, then relevance (Enquire sort_by_value_
    then_relevance — omenquire.cc:878-939)."""
    idx = get_index(spark, sf_dir)
    m = S.score_terms(idx, _zt(["spark"]))
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("doc"), "source")
    return (
        m.join(docs, "doc")
        .select(
            "source",
            F.col("doc").alias("doc_id"),
            F.round(F.col("score") * 1_000_000).cast("long").alias("score_micro"),
        )
        .orderBy(F.asc("source"), F.desc("score_micro"), F.asc("doc_id"))
        .limit(K)
    )


def q_search_cutoff(spark, sf_dir):
    """R11: percent cutoff — drop matches under 60% of the best score."""
    idx = get_index(spark, sf_dir)
    m = S.cutoff(
        S.score_terms(idx, _zt(["spark"]), with_nsub=True),
        percent_cutoff=60,
        total_subqs=1,
    )
    return _finalize(m, k=K)


def q_search_partial(spark, sf_dir):
    """Q15 FLAG_PARTIAL through the compiler: the last word of an
    incremental query acts as (WILDCARD SYNONYM w* OR Zstem(w)) — reference
    goldens src/xapian_utils.rs:506,528,550. Prefix 'a' exercises both
    branches: wildcard expands to {a, agg}, stem side is Za."""
    from . import query_compiler as qc

    idx = get_index(spark, sf_dir)
    node = qc.compile_query("a", partial=True)
    return _finalize(qc.Executor(idx).run(node))


def q_search_scaled(spark, sf_dir):
    """Q10 OP_SCALE_WEIGHT: subquery score multiplied by a constant factor
    (src/xapian_utils.rs:58; xapian query.h:166)."""
    idx = get_index(spark, sf_dir)
    return _finalize(S.op_scale(S.score_terms(idx, _zt(["merge"])), 2.5))


def q_search_lovehate(spark, sf_dir):
    """Q16 FLAG_LOVEHATE through the full query compiler: ``+group table
    -slow`` == (group AND_MAYBE table) AND_NOT slow (queryparser.lemony:
    972-984; compiled by plans/query_compiler.py::_chunk_to_node)."""
    from . import query_compiler as qc

    idx = get_index(spark, sf_dir)
    node = qc.compile_query("+group table -slow", partial=False)
    return _finalize(qc.Executor(idx).run(node))


def get_fielded_index(spark: SparkSession, sf_dir: str) -> InvertedIndex:
    """Documents indexed with field prefixes: source as the A (author)
    field, lang as a K tag, text as the body — the reference field order
    with the shared position counter (src/main.rs:123-133, K8)."""

    def build() -> InvertedIndex:
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.col("source").alias("author"),
            F.lit(None).cast("string").alias("date"),
            F.lit(None).cast("string").alias("filename"),
            F.lit(None).cast("string").alias("full_path"),
            F.lit(None).cast("string").alias("title"),
            F.lit(None).cast("string").alias("subtitle"),
            F.array(F.col("lang")).alias("tags"),
            F.col("text").alias("body"),
            F.lit("ok").alias("status"),
        )
        return InvertedIndex.build_from_extracted(docs, key="doc_id")

    return memo(spark, "index_fielded", f"{sf_dir}/documents.parquet", build)


def q_search_field(spark, sf_dir):
    """Q14 prefix-restricted field query through the compiler: ``author:src3
    spark`` OR-folds (Q20) an A-prefixed stem term with a free body term."""
    from . import query_compiler as qc

    idx = get_fielded_index(spark, sf_dir)
    node = qc.compile_query("author:src3 spark", partial=False)
    return _finalize(qc.Executor(idx).run(node))


def q_search_metadata_filtered(spark, sf_dir):
    """The TUI's combined core op (BASELINE.json: 'keyword search over
    postings and metadata-filtered retrieval'): BM25 free-text ranking
    FILTERed (Q6: no weight contribution) by a metadata predicate (Q9)."""
    idx = get_index(spark, sf_dir)
    meta = (
        _docs(spark, sf_dir)
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("doc"), F.lit(0.0).alias("score"))
    )
    return _finalize(
        S.op_filter(S.score_terms(idx, _zt(["spark", "merge"])), meta)
    )


def q_spelling_suggest(spark, sf_dir):
    """Q19 implemented for real: suggestions for misspelled corpus words."""
    idx = get_index(spark, sf_dir)
    # total order via one partition, not orderBy: a global sort plans a
    # range-partitioning SAMPLING job that re-executes the whole upstream
    # (UDF stages included) just to pick bounds for a handful of rows —
    # measured 20x the query itself
    return (
        S.spelling_suggestions(
            idx, ["sprak", "merg", "window", "qery"], max_distance=2
        )
        .coalesce(1)
        .sortWithinPartitions("word")
    )


QUERIES = {
    "search_or": q_search_or,
    "fetch_documents": q_fetch_documents,
    "search_count": q_search_count,
    "search_sort_by_meta": q_search_sort_by_meta,
    "search_cutoff": q_search_cutoff,
    "spelling_suggest": q_spelling_suggest,
    "search_and": q_search_and,
    "search_and_not": q_search_and_not,
    "search_xor": q_search_xor,
    "search_max": q_search_max,
    "search_facets": q_search_facets,
    "search_eset": q_search_eset,
    "search_more_like_this": q_search_more_like_this,
    "search_prf": q_search_prf,
    "search_eset_bo1": q_search_eset_bo1,
    "search_value_boost": q_search_value_boost,
    "search_snippets": q_search_snippets,
    "search_and_maybe": q_search_and_maybe,
    "search_filter": q_search_filter,
    "search_phrase": q_search_phrase,
    "search_near": q_search_near,
    "search_adj": q_search_adj,
    "search_synonym": q_search_synonym,
    "search_wildcard": q_search_wildcard,
    "search_wildcard_max": q_search_wildcard_max,
    "search_elite": q_search_elite,
    "search_pure_not": q_search_pure_not,
    "search_partial": q_search_partial,
    "search_wand": q_search_wand,
    "search_scaled": q_search_scaled,
    "search_lovehate": q_search_lovehate,
    "search_field": q_search_field,
    "metadata_range": q_metadata_range,
    "search_metadata_filtered": q_search_metadata_filtered,
    "collapse_best_per_source": q_collapse_best_per_source,
    "search_percent": q_search_percent,
}


def oracle_sqls() -> dict[str, str]:
    zt = oracles.zterms
    fetch_sql = (
        "WITH "
        + oracles.base_ctes()
        + ","
        + oracles._tweight_sql(oracles.qvalues(zt(["spark", "slow"])))
        + ","
        + oracles._score_sql()
        + """,
topk AS (
  SELECT doc_id, CAST(round(score * 1000000) AS BIGINT) AS score_micro
  FROM matches ORDER BY score_micro DESC, doc_id LIMIT 25
)
SELECT t.doc_id, t.score_micro, d.source, d.n_chars
FROM topk t JOIN documents d USING (doc_id)
ORDER BY t.score_micro DESC, t.doc_id"""
    )
    count_sql = (
        "WITH "
        + oracles.base_ctes()
        + ","
        + oracles._tweight_sql(oracles.qvalues(zt(["spark", "merge"])))
        + ","
        + oracles._score_sql()
        + "\nSELECT count(*)::BIGINT AS n_matches FROM matches"
    )
    sort_meta_sql = (
        "WITH "
        + oracles.base_ctes()
        + ","
        + oracles._tweight_sql(oracles.qvalues(zt(["spark"])))
        + ","
        + oracles._score_sql()
        + f"""
SELECT d.source, m.doc_id,
       CAST(round(m.score * 1000000) AS BIGINT) AS score_micro
FROM matches m JOIN documents d USING (doc_id)
ORDER BY d.source ASC, score_micro DESC, m.doc_id ASC
LIMIT {K}"""
    )
    cutoff_sql = (
        "WITH "
        + oracles.base_ctes()
        + ","
        + oracles._tweight_sql(oracles.qvalues(zt(["spark"])))
        + ","
        + oracles._score_sql()
        + f"""
, top1 AS (
  SELECT score AS max_score, n_sub::DOUBLE / 1 AS frac
  FROM matches ORDER BY score DESC, doc_id ASC LIMIT 1
),
with_pct AS (
  SELECT doc_id, score,
         least(100, greatest(CASE WHEN score > 0 THEN 1 ELSE 0 END,
           floor(score * 100.0 * t.frac / t.max_score + 2.220446049250313e-14)
         )) AS pct
  FROM matches CROSS JOIN top1 t
)
SELECT doc_id, CAST(round(score * 1000000) AS BIGINT) AS score_micro
FROM with_pct WHERE pct >= 60
ORDER BY score_micro DESC, doc_id
LIMIT {K}"""
    )
    spelling_words = ["sprak", "merg", "window", "qery"]
    word_frag_values = ", ".join(
        f"('{w}', '{f}')"
        for w in spelling_words
        for f in S.spelling_query_fragments(w)
    )
    # vocab side mirrors operators/index.py::_FRAG_EXPR (xapian's H/T/B/M
    # fragment scheme); word side is the open_termlist probe set, inlined
    # from the same Python helper the Spark path uses. Distance is DuckDB's
    # damerau_levenshtein (its unrestricted variant agrees with the engine's
    # restricted OSA on every fragment-blocked pair at distance <= 2 — an
    # equivalence PINNED, not assumed, by tests/test_oracle_parity.py::
    # test_spelling_metrics_agree_where_it_matters over the full probe ×
    # vocab cross product, so corpus/probe drift fails loudly there first).
    spelling_sql = f"""
WITH {oracles.base_ctes()},
vocab AS (
  SELECT term, count(*)::BIGINT AS df FROM posting
  WHERE length(term) >= 2 GROUP BY term
),
vocab_frag AS (
  SELECT DISTINCT term, df,
         unnest(
           ['H' || substr(term, 1, 2),
            'T' || substr(term, length(term) - 1, 2)]
           || CASE WHEN length(term) <= 4
                   THEN ['B' || substr(term, 1, 1)
                             || substr(term, length(term), 1)]
                   ELSE [] END
           || CASE WHEN length(term) > 2
                   THEN list_transform(range(1, length(term) - 1),
                                       i -> 'M' || substr(term, i, 3))
                   ELSE [] END
         ) AS frag
  FROM vocab
),
word_frag(word, frag) AS (VALUES {word_frag_values}),
cand AS (
  SELECT DISTINCT w.word, v.term, v.df,
         damerau_levenshtein(w.word, v.term) AS distance
  FROM word_frag w JOIN vocab_frag v USING (frag)
),
ranked AS (
  SELECT word, term AS suggestion, distance::INT AS distance, df,
         row_number() OVER (PARTITION BY word
                            ORDER BY distance ASC, df DESC, term ASC) AS rn
  FROM cand WHERE distance BETWEEN 1 AND 2
)
SELECT word, suggestion, distance, df FROM ranked WHERE rn = 1 ORDER BY word"""
    # search_snippets: the snippet algorithm (sliding DECAY window,
    # punctuation heuristics, background model) is not SQL-expressible, so
    # the oracle is the expected rows themselves, pinned as literals —
    # derived ONCE from the golden-tested renderer (string-equal against 22
    # xapian api_snippets.cc goldens in tests/test_snippets.py) over each
    # deterministic corpus, keyed by sum(length(text)) so the right literal
    # is selected per sf and an unknown corpus yields zero rows (loud
    # rowcount mismatch, never a silent pass).
    snip_a = [  # sf0.001: sum(length(text)) = 153156
        (96, "<b>spark</b> <b>spark</b> part line group <b>spark</b> row <b>merge</b> value window small sort data sort big vector key value small a agg part <b>merge</b>..."),
        (135, "...<b>merge</b> <b>merge</b> sort data <b>merge</b> table key stream window <b>spark</b> table <b>merge</b> a <b>spark</b> scan fast order window slow window <b>spark</b>..."),
        (206, "...part <b>spark</b> a stream key query <b>merge</b> sort window part window <b>spark</b> batch data slow <b>spark</b> a hash part <b>merge</b> key key <b>spark</b>..."),
        (457, "...<b>merge</b> order stream batch small data order slow join <b>spark</b> <b>merge</b> fast slow scan fast group the small small small <b>spark</b>..."),
        (481, "...agg the <b>spark</b> the line line query <b>spark</b> scan scan agg hash data big <b>merge</b> agg part join big key <b>merge</b> scan vector <b>merge</b>..."),
    ]
    snip_b = [  # sf0.01: sum(length(text)) = 149174
        (97, "...window fast order <b>spark</b> <b>merge</b> vector big small small <b>spark</b> join join vector <b>spark</b> scan <b>merge</b> table fast window <b>spark</b>..."),
        (319, "...vector scan table batch <b>spark</b> table <b>spark</b> group stream join small <b>merge</b> scan <b>merge</b> stream slow customer key key <b>spark</b>..."),
        (321, "...<b>merge</b> small order agg <b>spark</b> order big line filter order line <b>spark</b> <b>spark</b> order vector customer row stream stream <b>merge</b>..."),
        (395, "...part customer column fast <b>spark</b> stream table stream <b>merge</b> <b>spark</b> <b>spark</b> <b>merge</b> batch group big small column filter <b>merge</b>"),
        (498, "...column <b>merge</b> <b>spark</b> part <b>merge</b> query join group big window slow <b>merge</b> group join filter data <b>merge</b> customer a <b>spark</b> <b>spark</b>..."),
    ]

    def _vals(rows):
        return ", ".join(f"({d}, '{s}')" for d, s in rows)

    snippets_sql = f"""
WITH corpus AS (SELECT sum(length(text)) AS tot FROM documents),
exp_a(doc_id, snippet) AS (VALUES {_vals(snip_a)}),
exp_b(doc_id, snippet) AS (VALUES {_vals(snip_b)})
SELECT doc_id::BIGINT AS doc_id, snippet FROM exp_a
WHERE (SELECT tot FROM corpus) = 153156
UNION ALL
SELECT doc_id::BIGINT AS doc_id, snippet FROM exp_b
WHERE (SELECT tot FROM corpus) = 149174
ORDER BY doc_id"""
    return {
        "search_or": oracles.bm25_topk(["spark", "merge"]),
        "fetch_documents": fetch_sql,
        "spelling_suggest": spelling_sql,
        "search_snippets": snippets_sql,
        "search_count": count_sql,
        "search_sort_by_meta": sort_meta_sql,
        "search_cutoff": cutoff_sql,
        "search_and": oracles.bool_op("and", ["spark"], ["merge"]),
        "search_and_not": oracles.bool_op("and_not", ["spark"], ["merge"]),
        "search_xor": oracles.bool_op("xor", ["spark"], ["slow"]),
        "search_max": oracles.bool_op("max", ["spark"], ["slow"]),
        "search_facets": oracles.facets(["spark", "merge"], "lang"),
        "search_eset": oracles.eset(ESET_REL_DOCS, 10, exclude=ESET_EXCLUDE),
        "search_more_like_this": oracles.more_like_this(MLT_SEED, MLT_TERMS, 10),
        "search_prf": oracles.prf(PRF_WORDS, PRF_DOCS, PRF_TERMS, 10),
        "search_eset_bo1": oracles.eset(ESET_REL_DOCS, 10, exclude=ESET_EXCLUDE, scheme="bo1"),
        "search_value_boost": oracles.value_boost(["spark"], "n_chars", 0.001),
        "search_and_maybe": oracles.bool_op("and_maybe", ["join"], ["merge"]),
        "search_filter": oracles.bool_op("filter", ["join"], ["spark"]),
        "search_phrase": oracles.phrase(["group", "order"]),
        "search_near": oracles.near(["hash", "join"], window=10),
        "search_adj": oracles.adj(["hash", "join"], window=10),
        "search_synonym": oracles.synonym(zt(["merge", "slow"])),
        "search_wildcard": oracles.wildcard("sp"),
        "search_wildcard_max": oracles.wildcard_max("sp"),
        "search_elite": oracles.elite(["spark", "merge", "slow"], 2),
        "search_pure_not": oracles.pure_not(["spark"]),
        "search_partial": oracles.partial("a"),
        "search_wand": oracles.bm25_topk(["the", "slow"]),
        "search_scaled": oracles.scaled(["merge"], 2.5),
        "search_lovehate": oracles.lovehate(["group"], ["table"], ["slow"]),
        "search_field": oracles.fielded_topk(["ZAsrc3", "Zspark"]),
        "metadata_range": f"""
            SELECT doc_id, n_chars, lang FROM documents
            WHERE n_chars BETWEEN 100 AND 300 AND lang = 'en'
            ORDER BY doc_id LIMIT {K}""",
        "search_metadata_filtered": (
            "WITH "
            + oracles.base_ctes()
            + ","
            + oracles._tweight_sql(oracles.qvalues(zt(["spark", "merge"])))
            + ","
            + oracles._score_sql()
            + f"""
SELECT doc_id, CAST(round(score * 1000000) AS BIGINT) AS score_micro
FROM matches
WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
ORDER BY score_micro DESC, doc_id
LIMIT {K}"""
        ),
        "collapse_best_per_source": _collapse_oracle(),
        "search_percent": _percent_oracle(),
    }


def _collapse_oracle() -> str:
    tw = oracles._tweight_sql(oracles.qvalues(oracles.zterms(["spark"])))
    sc = oracles._score_sql()
    return f"""WITH {oracles.base_ctes()},{tw},{sc},
ranked AS (
  SELECT d.source, m.doc_id, m.score,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY m.score DESC, m.doc_id ASC) AS rn
  FROM matches m JOIN documents d USING (doc_id)
)
SELECT source, doc_id, CAST(round(score * 1000000) AS BIGINT) AS score_micro
FROM ranked WHERE rn = 1 ORDER BY source"""


def _percent_oracle() -> str:
    # Reference-exact: floor(wt * 100 * frac / max_wt + 100*DBL_EPSILON),
    # frac = top doc's matched subqueries / total (2 here); 0 -> 1 if wt > 0.
    tw = oracles._tweight_sql(oracles.qvalues(oracles.zterms(["spark", "slow"])))
    sc = oracles._score_sql()
    return f"""WITH {oracles.base_ctes()},{tw},{sc},
top1 AS (
  SELECT score AS max_score, n_sub::DOUBLE / 2 AS frac
  FROM matches ORDER BY score DESC, doc_id ASC LIMIT 1
)
SELECT doc_id,
       CAST(round(score * 1000000) AS BIGINT) AS score_micro,
       CAST(least(100, greatest(CASE WHEN score > 0 THEN 1 ELSE 0 END,
            floor(score * 100.0 * t.frac / t.max_score + 2.220446049250313e-14)
       )) AS INT) AS percent
FROM matches CROSS JOIN top1 t
ORDER BY score_micro DESC, doc_id
LIMIT {K}"""
