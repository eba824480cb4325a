"""Training-data-pipeline query registry: dedup, similarity search, text
analysis, corpus curation — each paired with a DuckDB SQL oracle over the
same parquet views (documents, embeddings).

Comparison conventions match doc_queries: integerized micro scores, explicit
ORDER BY with doc-id tie-breaks, column names aligned on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import bpe as B
from ..operators import dedup as D
from ..operators import packing as P
from ..operators import similarity as SIM
from ..operators import sketches as SK
from ..operators import textstats as T
from ..sources.scan import DEFAULT_SPREAD_MIN_ROWS, read_spread
from .curation import (
    GATES,
    JACCARD_MIN,
    QUALITY_MIN,
    TOP2_MAX,
    curate_docs,
    gate_signals,
)
from .doc_queries import _docs
from .workdirs import memo

# ------------------------------------------------------------------ helpers

_TOK_CTE = """
tok AS (
  SELECT doc_id, w AS term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS pos
  FROM (
    SELECT doc_id,
           unnest(string_split(lower(text), ' ')) AS w,
           generate_subscripts(string_split(lower(text), ' '), 1) AS ord
    FROM documents
  ) WHERE w <> ''
)"""


def _docs_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs reader for HEAVY per-row folds (char-trigram entropy, gopher
    run-length stats, shingle/gram explode): always spread — these win
    from full parallelism even on a 5k-row table (see sources/scan.py)."""
    return read_spread(spark, f"{sf_dir}/documents.parquet", "doc_id")


def _shingles(spark: SparkSession, sf_dir: str, k: int = D.SHINGLE_K) -> DataFrame:
    """Persisted (doc, shingle) index, built once per (session, input, k)
    and shared across invocations — it feeds three consumers inside one
    query (signatures + both sides of the Jaccard verify) and repeated
    driver/bench calls; re-persisting per call would recompute the explode
    every time and leak a cached copy per invocation."""
    return memo(
        spark, f"shingles_k{k}", f"{sf_dir}/documents.parquet",
        lambda: D.shingles_df(
            _docs_hot(spark, sf_dir), key="doc_id", k=k
        ).persist(),
    )


def _minhash_candidates(spark: SparkSession, sf_dir: str, **lsh) -> DataFrame:
    """Persisted LSH candidate pairs over the shingle index, one per
    (session, input, ``lsh_candidates`` options): exact_jaccard references
    the set twice (intersection join + left-outer fill), and without a
    persist the whole signature -> band -> self-join chain re-executes per
    reference."""
    purpose = "minhash_cand" + "".join(f"_{k}{v}" for k, v in sorted(lsh.items()))
    return memo(
        spark, purpose, f"{sf_dir}/documents.parquet",
        lambda: D.lsh_candidates(
            D.band_buckets(D.minhash_signatures(_shingles(spark, sf_dir))), **lsh
        ).persist(),
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_spread(
        spark, f"{sf_dir}/embeddings.parquet", "vec_id",
        min_rows=DEFAULT_SPREAD_MIN_ROWS,
    )


def _emb_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-spread embeddings reader for heavy per-vector work (the
    SemDeDup assignment fold) — wins even at 2k vectors."""
    return read_spread(spark, f"{sf_dir}/embeddings.parquet", "vec_id")


# ------------------------------------------------------------------- dedup


def _ordered_perdoc(df, *cols):
    """Deterministic result order for per-doc signal queries WITHOUT the
    global-sort range-sampling job: a zero-shuffle query has no
    materialized stage for the sampler to reuse, so ``orderBy`` re-executes
    the entire upstream (measured 2x on gopher_repetition). repartition(1)
    keeps the compute parallel, moves only the (small) result through one
    exchange, and sorts it in place. The ordering is a driver-gate/display
    nicety — at 10^12 rows a per-doc signal table would not be
    total-ordered at all."""
    return df.repartition(1).sortWithinPartitions(*cols)


def q_dedup_exact(spark, sf_dir):
    return (
        D.exact_duplicates(_docs(spark, sf_dir), key="doc_id")
        .select(
            F.col("doc").alias("doc_id"), "content_hash", "canonical_id", "group_size"
        )
        .orderBy("doc_id")
    )


ORACLE_DEDUP_EXACT = """
WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
g AS (
  SELECT content_hash, min(doc_id) AS canonical_id, count(*) AS group_size
  FROM h GROUP BY content_hash
)
SELECT h.doc_id, h.content_hash, g.canonical_id, g.group_size
FROM h JOIN g USING (content_hash)
ORDER BY h.doc_id"""


def q_dedup_minhash_signature(spark, sf_dir):
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 20)
    sh = D.shingles_df(docs, key="doc_id")
    return (
        D.minhash_signatures(sh)
        .select(F.col("doc").alias("doc_id"), "seed", "minhash")
        .orderBy("doc_id", "seed")
    )


ORACLE_MINHASH_SIG = f"""
WITH {_TOK_CTE},
toks AS (
  SELECT doc_id, list(term ORDER BY pos) AS ts FROM tok
  WHERE doc_id < 20 GROUP BY doc_id
),
sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(ts) - 2, 1) + 1),
           i -> array_to_string(list_slice(ts, i, i + 2), ' ')
         )) AS shingle
  FROM toks
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE shingle <> ''),
seeds AS (SELECT unnest(range(0, 16)) AS seed),
sig AS (
  SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
  FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
)
SELECT doc_id, seed::INT AS seed, minhash FROM sig ORDER BY doc_id, seed"""


def q_dedup_minhash_pairs(spark, sf_dir):
    return D.exact_jaccard(
        _minhash_candidates(spark, sf_dir), _shingles(spark, sf_dir)
    ).orderBy("doc_a", "doc_b")


def q_dedup_minhash_calibration(spark, sf_dir):
    """MinHash error measurement: per banded pair, the signature-agreement
    estimate vs exact shingle Jaccard and the absolute gap
    (operators/dedup.py::minhash_calibration)."""
    return D.minhash_calibration(_shingles(spark, sf_dir)).orderBy(
        "doc_a", "doc_b"
    )


_PAIRS_TAIL = """SELECT c.doc_a, c.doc_b,
       CAST(round(coalesce(i.n_inter, 0) * 1000000.0 /
            (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0))) AS BIGINT) AS jaccard_micro
FROM cand c
LEFT JOIN inter i USING (doc_a, doc_b)
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
ORDER BY c.doc_a, c.doc_b"""

_CALIB_TAIL = """, ex AS (
  SELECT c.doc_a, c.doc_b,
         CAST(round(coalesce(i.n_inter, 0) * 1000000.0 /
              (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0))) AS BIGINT)
           AS jaccard_micro
  FROM cand c
  LEFT JOIN inter i USING (doc_a, doc_b)
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
),
est AS (
  SELECT c.doc_a, c.doc_b,
         CAST(round(count(*) FILTER (WHERE a2.minhash = b2.minhash)
              * 1000000.0 / 16) AS BIGINT) AS est_jaccard_micro
  FROM cand c
  JOIN sig a2 ON a2.doc_id = c.doc_a
  JOIN sig b2 ON b2.doc_id = c.doc_b AND b2.seed = a2.seed
  GROUP BY 1, 2
)
SELECT ex.doc_a, ex.doc_b, est.est_jaccard_micro, ex.jaccard_micro,
       abs(est.est_jaccard_micro - ex.jaccard_micro) AS abs_err_micro
FROM ex JOIN est USING (doc_a, doc_b)
ORDER BY doc_a, doc_b"""


def _oracle_minhash_calibration() -> str:
    """ORACLE_MINHASH_PAIRS with its final select swapped for the
    estimate-vs-exact comparison (same CTE chain, independently derived
    estimate from the sig table)."""
    assert _PAIRS_TAIL in ORACLE_MINHASH_PAIRS, "pairs tail text drifted"
    return ORACLE_MINHASH_PAIRS.replace(_PAIRS_TAIL, _CALIB_TAIL, 1)


MINHASH_CAP = 2  # max bucket at sf0.001 is 4 docs, at sf0.01 is 3 — a cap
# of 2 excludes real buckets at BOTH oracle scales, so the gate actually
# exercises the exclusion path


def q_dedup_minhash_pairs_capped(spark, sf_dir):
    """The jumbo-bucket-capped variant of dedup_minhash_pairs — the form a
    web-scale run uses (operators/dedup.py::lsh_candidates max_bucket_size):
    buckets holding more docs than the cap are skipped before the
    quadratic self-join. Cap=2 here so the exclusion is live at the oracle
    scales. Curation star-pairs jumbo buckets instead (plans/curation.py):
    a cap keeps every doc of a skipped cluster."""
    return D.exact_jaccard(
        _minhash_candidates(spark, sf_dir, max_bucket_size=MINHASH_CAP),
        _shingles(spark, sf_dir),
    ).orderBy("doc_a", "doc_b")


_CAND_CTE = """cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),"""


def _oracle_minhash_pairs_capped() -> str:
    """Derived from ORACLE_MINHASH_PAIRS by swapping in the capped cand
    CTE — single source of truth for everything except the cap itself."""
    assert _CAND_CTE in ORACLE_MINHASH_PAIRS, "cand CTE text drifted"
    return ORACLE_MINHASH_PAIRS.replace(_CAND_CTE, _CAND_CTE_CAPPED, 1)


_CAND_CTE_CAPPED = f"""bsize AS (
  SELECT band, band_key FROM bands
  GROUP BY band, band_key HAVING count(*) <= {MINHASH_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  JOIN bsize s ON s.band = a.band AND s.band_key = a.band_key
  WHERE a.doc_id < b.doc_id
),"""


def q_dedup_minhash_pairs_star(spark, sf_dir):
    """Star-pairing for jumbo LSH buckets — the form that still DEDUPES a
    giant boilerplate cluster at linear cost (operators/dedup.py::
    lsh_candidates star_above): buckets above the threshold pair every
    member against the bucket min instead of all-pairs. Threshold=2 here
    so starring is live at the oracle scales (buckets of 3-4 exist);
    production default is 100 (plans/curation.py)."""
    return D.exact_jaccard(
        _minhash_candidates(spark, sf_dir, star_above=MINHASH_CAP),
        _shingles(spark, sf_dir),
    ).orderBy("doc_a", "doc_b")


_CAND_CTE_STAR = f"""bstat AS (
  SELECT band, band_key, count(*) AS n, min(doc_id) AS min_doc
  FROM bands GROUP BY band, band_key
),
cand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
    JOIN bstat s ON s.band = a.band AND s.band_key = a.band_key
    WHERE s.n <= {MINHASH_CAP} AND a.doc_id < b.doc_id
    UNION ALL
    SELECT s.min_doc AS doc_a, b.doc_id AS doc_b
    FROM bands b JOIN bstat s ON s.band = b.band AND s.band_key = b.band_key
    WHERE s.n > {MINHASH_CAP} AND b.doc_id <> s.min_doc
  )
),"""


def _oracle_minhash_pairs_star() -> str:
    """ORACLE_MINHASH_PAIRS with the star-aware cand CTE spliced in."""
    assert _CAND_CTE in ORACLE_MINHASH_PAIRS, "cand CTE text drifted"
    return ORACLE_MINHASH_PAIRS.replace(_CAND_CTE, _CAND_CTE_STAR, 1)


ORACLE_MINHASH_PAIRS = f"""
WITH {_TOK_CTE},
toks AS (SELECT doc_id, list(term ORDER BY pos) AS ts FROM tok GROUP BY doc_id),
sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(ts) - 2, 1) + 1),
           i -> array_to_string(list_slice(ts, i, i + 2), ' ')
         )) AS shingle
  FROM toks
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE shingle <> ''),
seeds AS (SELECT unnest(range(0, 16)) AS seed),
sig AS (
  SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
  FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, (seed // 4)::INT AS band,
         md5(string_agg(lpad(seed::VARCHAR, 2, '0') || ':' || minhash, '|'
             ORDER BY lpad(seed::VARCHAR, 2, '0') || ':' || minhash)) AS band_key
  FROM sig GROUP BY doc_id, seed // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b,
       CAST(round(coalesce(i.n_inter, 0) * 1000000.0 /
            (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0))) AS BIGINT) AS jaccard_micro
FROM cand c
LEFT JOIN inter i USING (doc_a, doc_b)
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
ORDER BY c.doc_a, c.doc_b"""


def q_dedup_ngram_pairs(spark, sf_dir):
    return D.ngram_jaccard_top_pairs(
        _docs(spark, sf_dir), key="doc_id", k=2, top=20,
        shingles=_shingles(spark, sf_dir, k=2),
    )


ORACLE_NGRAM_PAIRS = f"""
WITH {_TOK_CTE},
toks AS (SELECT doc_id, list(term ORDER BY pos) AS ts FROM tok GROUP BY doc_id),
sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(ts) - 1, 1) + 1),
           i -> array_to_string(list_slice(ts, i, i + 1), ' ')
         )) AS shingle
  FROM toks
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE shingle <> ''),
sdf AS (SELECT shingle, count(*) AS c FROM sh GROUP BY shingle),
pruned AS (
  SELECT sh.* FROM sh JOIN sdf USING (shingle) WHERE sdf.c <= 10000
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
SELECT i.doc_a, i.doc_b,
       CAST(round(i.n_inter * 1000000.0 / (sa.n_sh + sb.n_sh - i.n_inter)) AS BIGINT)
         AS jaccard_micro
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
ORDER BY jaccard_micro DESC, i.doc_a, i.doc_b
LIMIT 20"""


def q_dedup_containment_pairs(spark, sf_dir):
    """Directed shingle containment (operators/dedup.py::
    containment_top_pairs) — the quote/subset detector Jaccard can't
    express. k=3 shingles (the minhash default, sharing ITS persisted
    shingle frame): on this 31-word vocab, bigrams are so dense that the
    shared-shingle pair join is sum(df^2) ~ 40M rows (measured 34s at
    sf0.1), while trigrams spread the same occurrences over ~30x more
    keys and the identical plan runs in ~1s."""
    return D.containment_top_pairs(
        _docs(spark, sf_dir), key="doc_id", k=3, top=20,
        max_shingle_df=1000,
        shingles=_shingles(spark, sf_dir, k=3),
    )


ORACLE_CONTAINMENT_PAIRS = f"""
WITH {_TOK_CTE},
toks AS (SELECT doc_id, list(term ORDER BY pos) AS ts FROM tok GROUP BY doc_id),
sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(ts) - 2, 1) + 1),
           i -> array_to_string(list_slice(ts, i, i + 2), ' ')
         )) AS shingle
  FROM toks
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE shingle <> ''),
sdf AS (SELECT shingle, count(*) AS c FROM sh GROUP BY shingle),
pruned AS (
  SELECT sh.* FROM sh JOIN sdf USING (shingle) WHERE sdf.c <= 1000
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
directed AS (
  SELECT doc_a AS src_doc, doc_b AS dst_doc, n_inter FROM inter
  UNION ALL
  SELECT doc_b AS src_doc, doc_a AS dst_doc, n_inter FROM inter
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
SELECT d.src_doc, d.dst_doc,
       CAST((d.n_inter * 1000000) // s.n_sh AS BIGINT) AS containment_micro
FROM directed d JOIN sizes s ON s.doc_id = d.src_doc
ORDER BY containment_micro DESC, d.src_doc, d.dst_doc
LIMIT 20"""


def q_text_simhash(spark, sf_dir):
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    return (
        D.simhash(docs, key="doc_id")
        .select(F.col("doc").alias("doc_id"), "simhash")
        .orderBy("doc_id")
    )


ORACLE_SIMHASH = f"""
WITH {_TOK_CTE},
tf AS (
  SELECT doc_id, term, count(*) AS tf,
         ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
  FROM tok WHERE doc_id < 50 GROUP BY doc_id, term
),
bits AS (SELECT unnest(range(0, 60)) AS b),
contrib AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b::INT) & 1 = 1 THEN tf ELSE -tf END) AS s
  FROM tf CROSS JOIN bits GROUP BY doc_id, b
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << b::INT) ELSE 0 END)::BIGINT AS simhash
FROM contrib GROUP BY doc_id ORDER BY doc_id"""


# -------------------------------------------------------------- similarity


def _query_vec(spark, sf_dir) -> list[float]:
    row = (
        _emb(spark, sf_dir).filter(F.col("vec_id") == 0).select("embedding").collect()
    )
    return [float(x) for x in row[0]["embedding"]]


_COS_CTE = """
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
             i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na,
         sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))) AS nq
  FROM embeddings e CROSS JOIN q
)"""


def q_ann_cosine_topk(spark, sf_dir):
    qv = _query_vec(spark, sf_dir)
    return SIM.cosine_topk(_emb(spark, sf_dir), qv, k=25)


ORACLE_ANN_COSINE = f"""
WITH {_COS_CTE}
SELECT vec_id, CAST(round(dot / (na * nq) * 1000000) AS BIGINT) AS cos_micro
FROM pairs
ORDER BY cos_micro DESC, vec_id
LIMIT 25"""


RRF_POOL = 20  # per-retriever pool size fed into the fusion
RRF_K0 = 60  # the canonical RRF smoothing constant
RRF_LIMIT = 10


def q_search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: the BM25 keyword top-20 and the embedding-cosine
    top-20 fused by Reciprocal Rank Fusion (operators/search.py::rrf_fuse)
    — the modern search stack's default combiner, and the query a user of
    the reference's keyword-only TUI gains by switching. Each retriever's
    pool is a bounded TakeOrderedAndProject (corpus-scale work stays inside
    the retriever); ranking, fusion joins, and the final sort are all over
    the constant 20-row pools, and the fused score is an exact integer sum
    (10^9 div (k0 + rank)) so the ordering is engine-independent."""
    from pyspark.sql.window import Window

    from ..operators import search as S
    from . import oracles
    from .doc_queries import get_index

    idx = get_index(spark, sf_dir)
    kw = (
        S.score_terms(idx, oracles.zterms(["spark", "merge"]))
        .select(
            F.col("doc").alias("doc_id"),
            F.round(F.col("score") * 1_000_000).cast("long").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(RRF_POOL)
    )
    # row_number over the already-bounded pool: single-partition window,
    # but over RRF_POOL rows — constant, never corpus-scale
    kw_ranked = kw.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score_micro"), F.asc("doc_id")))
        .alias("rank"),
    )
    ann = SIM.cosine_topk(_emb(spark, sf_dir), _query_vec(spark, sf_dir), k=RRF_POOL)
    ann_ranked = ann.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cos_micro"), F.asc("vec_id")))
        .alias("rank"),
    )
    return S.rrf_fuse(
        [("kw", kw_ranked), ("ann", ann_ranked)], k0=RRF_K0, limit=RRF_LIMIT
    )


def _hybrid_rrf_oracle() -> str:
    from . import oracles

    return (
        "WITH "
        + oracles.base_ctes()
        + ","
        + oracles._tweight_sql(oracles.qvalues(oracles.zterms(["spark", "merge"])))
        + ","
        + oracles._score_sql()
        + ","
        + _COS_CTE.strip()
        + f""",
rrf_kw AS (
  SELECT doc_id, CAST(round(score * 1000000) AS BIGINT) AS score_micro
  FROM matches ORDER BY score_micro DESC, doc_id LIMIT {RRF_POOL}
),
rrf_kwr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score_micro DESC, doc_id) AS kw_rank
  FROM rrf_kw
),
rrf_ann AS (
  SELECT vec_id, CAST(round(dot / (na * nq) * 1000000) AS BIGINT) AS cos_micro
  FROM pairs ORDER BY cos_micro DESC, vec_id LIMIT {RRF_POOL}
),
rrf_annr AS (
  SELECT vec_id,
         row_number() OVER (ORDER BY cos_micro DESC, vec_id) AS ann_rank
  FROM rrf_ann
)
SELECT coalesce(k.doc_id, a.vec_id) AS doc_id,
       CAST(k.kw_rank AS INT) AS kw_rank,
       CAST(a.ann_rank AS INT) AS ann_rank,
       CAST(coalesce(1000000000 // ({RRF_K0} + k.kw_rank), 0)
            + coalesce(1000000000 // ({RRF_K0} + a.ann_rank), 0) AS BIGINT)
         AS rrf_score
FROM rrf_kwr k FULL OUTER JOIN rrf_annr a ON k.doc_id = a.vec_id
ORDER BY rrf_score DESC, doc_id LIMIT {RRF_LIMIT}"""
    )


def _ann_index(spark, sf_dir):
    """Build-once written ANN index for this corpus (operators/ann_index.py):
    the bucket/cell assignments are materialized as partition columns at
    ingest — queries probe with partition-pruned scans instead of
    recomputing per-row hash math per query. The on-disk table is cached per
    input fingerprint (plans/workdirs.py) and the opened handle per session
    (so partition discovery runs once, like a catalog's metadata cache) —
    the local stand-in for a written catalog table."""
    import os

    from ..operators.ann_index import AnnIndex
    from .workdirs import _MARKER, cached_build

    d = cached_build(
        "ann_index", f"{sf_dir}/embeddings.parquet",
        lambda out: AnnIndex.build(_emb(spark, sf_dir), out),
    )
    # the build marker is the handle's fingerprinted input: if the dir was
    # rebuilt since the handle was opened (input changed, or a sibling-GC +
    # rebuild when alternating corpora in one session), the stale handle's
    # cached file listing would point at deleted part-files — reopen instead
    return memo(
        spark, "ann_index", os.path.join(d, _MARKER), lambda: AnnIndex.read(spark, d)
    )


def q_ann_lsh_topk(spark, sf_dir):
    qv = _query_vec(spark, sf_dir)
    return _ann_index(spark, sf_dir).lsh_topk(qv, k=25)


def _bucket_sql(col: str, dims: tuple[int, ...] = SIM.LSH_DIMS) -> str:
    terms = [
        f"(CASE WHEN {col}[{d + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i, d in enumerate(dims)
    ]
    return " + ".join(terms)


ORACLE_ANN_LSH = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qb AS (SELECT ({_bucket_sql('qv')}) AS qbucket FROM q),
in_bucket AS (
  SELECT e.* FROM embeddings e CROSS JOIN qb
  WHERE ({_bucket_sql('e.embedding')}) = qb.qbucket
),
pairs AS (
  SELECT e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
             i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na,
         sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))) AS nq
  FROM in_bucket e CROSS JOIN q
)
SELECT vec_id, CAST(round(dot / (na * nq) * 1000000) AS BIGINT) AS cos_micro
FROM pairs
ORDER BY cos_micro DESC, vec_id
LIMIT 25"""


def q_ann_multiprobe_topk(spark, sf_dir):
    """Multi-probe random-hyperplane LSH ANN (Charikar'02 buckets + Lv'07
    probing) over the WRITTEN index table: the probe is a partition-pruned
    IN-list over the hbucket partition column ((1+n_probe)/2^n_planes of the
    files), exact cosine within. Oracle recomputes the identical
    planes/probes in pure SQL over the raw embeddings."""
    qv = _query_vec(spark, sf_dir)
    return _ann_index(spark, sf_dir).multiprobe_topk(qv, k=25)


def _multiprobe_oracle(dim: int = 64) -> str:
    planes = SIM.hyperplanes(SIM.N_PLANES, dim)
    plane_rows = ", ".join(
        f"({i}, {p})" for i, p in enumerate(planes)
    )
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
planes(pi, pv) AS (VALUES {plane_rows}),
qproj AS (
  SELECT pi, list_sum(list_transform(range(1, {dim} + 1),
      j -> q.qv[j]::DOUBLE * pv[j]::DOUBLE)) AS proj
  FROM q CROSS JOIN planes
),
qb AS (
  SELECT sum(CASE WHEN proj >= 0 THEN (1::BIGINT << pi) ELSE 0 END)::BIGINT AS b
  FROM qproj
),
flips AS (SELECT pi FROM qproj ORDER BY abs(proj) ASC, pi ASC LIMIT {SIM.N_PROBE}),
probes AS (
  SELECT b FROM qb
  UNION ALL
  SELECT xor(qb.b, (1::BIGINT << f.pi)) FROM qb CROSS JOIN flips f
),
ebucket AS (
  SELECT e.vec_id, e.embedding,
         sum(CASE WHEN list_sum(list_transform(range(1, {dim} + 1),
                 j -> e.embedding[j]::DOUBLE * p.pv[j]::DOUBLE)) >= 0
             THEN (1::BIGINT << p.pi) ELSE 0 END)::BIGINT AS b
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id, e.embedding
),
cand AS (
  SELECT vec_id, embedding FROM ebucket WHERE b IN (SELECT b FROM probes)
),
pairs AS (
  SELECT c.vec_id,
         list_sum(list_transform(range(1, len(c.embedding) + 1),
             j -> c.embedding[j]::DOUBLE * q.qv[j]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na,
         sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))) AS nq
  FROM cand c CROSS JOIN q
)
SELECT vec_id, CAST(round(dot / (na * nq) * 1000000) AS BIGINT) AS cos_micro
FROM pairs
ORDER BY cos_micro DESC, vec_id
LIMIT 25"""


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-flat ANN over the WRITTEN index table: data-derived deterministic
    coarse quantizer (each log2(n_list)-bit sign-bucket's min-id row is a
    centroid), probe the 4 nearest cells as a partition-pruned IN-list over
    the cell partition column, exact cosine within. The oracle reconstructs
    the identical quantizer in SQL (GROUP BY bucket, min(vec_id))."""
    qv = _query_vec(spark, sf_dir)
    return _ann_index(spark, sf_dir).ivf_topk(qv, k=25)


def _ivf_oracle(dim: int = 64) -> str:
    seed_bucket = _bucket_sql("embedding", SIM.ivf_seed_dims(SIM.IVF_N_LIST))
    d2 = (
        "list_sum(list_transform(range(1, {d} + 1), "
        "j -> ({a}[j]::DOUBLE - {b}[j]::DOUBLE) * ({a}[j]::DOUBLE - {b}[j]::DOUBLE)))"
    )
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
wb AS (SELECT vec_id, embedding, ({seed_bucket}) AS sb FROM embeddings),
seed AS (SELECT sb, min(vec_id) AS scid FROM wb GROUP BY sb),
cents AS (
  SELECT w.vec_id AS cid, w.embedding AS cv
  FROM wb w JOIN seed s ON w.vec_id = s.scid
),
dists AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {d2.format(d=dim, a='e.embedding', b='c.cv')} AS d2
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, embedding, cid AS cell
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2 ASC, cid ASC) AS rn
    FROM dists
  )
  WHERE rn = 1
),
qprobe AS (
  SELECT c.cid FROM cents c CROSS JOIN q
  ORDER BY {d2.format(d=dim, a='q.qv', b='c.cv')} ASC, c.cid ASC
  LIMIT {SIM.IVF_N_PROBE}
),
cand AS (
  SELECT vec_id, embedding FROM assign WHERE cell IN (SELECT cid FROM qprobe)
),
pairs AS (
  SELECT c.vec_id,
         list_sum(list_transform(range(1, len(c.embedding) + 1),
             j -> c.embedding[j]::DOUBLE * q.qv[j]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na,
         sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))) AS nq
  FROM cand c CROSS JOIN q
)
SELECT vec_id, CAST(round(dot / (na * nq) * 1000000) AS BIGINT) AS cos_micro
FROM pairs
ORDER BY cos_micro DESC, vec_id
LIMIT 25"""


def q_embedding_top_pairs(spark, sf_dir):
    """Most-similar in-bucket embedding pairs (near-dup path, top-20)."""
    pairs = SIM.pairwise_cosine_dedup(_emb(spark, sf_dir), threshold_micro=-2_000_000)
    return pairs.orderBy(F.desc("cos_micro"), "id_a", "id_b").limit(20)


# banded mirror of SIM.pairwise_cosine_dedup: one bucket expression per
# band (SIM.EMB_PAIR_BANDS dims), candidates = union over bands of per-band
# equi-joins, multi-band duplicates folded by GROUP BY before the top-k
_EMB_BAND_SELECTS = "\n  UNION ALL ".join(
    f"SELECT vec_id, embedding, {i} AS band, "
    f"({_bucket_sql('embedding', dims)}) AS bval FROM embeddings"
    for i, dims in enumerate(SIM.EMB_PAIR_BANDS)
)

ORACLE_EMB_PAIRS = f"""
WITH banded AS (
  {_EMB_BAND_SELECTS}
),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
             i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na,
         sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))) AS nb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT id_a, id_b,
         max(CAST(round(dot / (na * nb) * 1000000) AS BIGINT)) AS cos_micro
  FROM cand GROUP BY id_a, id_b
)
SELECT id_a, id_b, cos_micro
FROM pairs
ORDER BY cos_micro DESC, id_a, id_b
LIMIT 20"""


def q_embedding_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining: per anchor, the most similar
    DIFFERENT-label vector among its banded sign-LSH candidates
    (operators/similarity.py::hard_negatives)."""
    return SIM.hard_negatives(_emb(spark, sf_dir))


ORACLE_HARD_NEGATIVES = f"""
WITH hn_banded AS (
  {"  UNION ALL ".join(
      f"SELECT vec_id, label, embedding, {i} AS band, "
      f"({_bucket_sql('embedding', dims)}) AS bval FROM embeddings "
      for i, dims in enumerate(SIM.EMB_PAIR_BANDS)
  )}
),
hn_cand AS (
  SELECT a.vec_id AS vid, a.label AS label,
         b.vec_id AS neg_id, b.label AS neg_label,
         CAST(round(
           list_sum(list_transform(range(1, len(a.embedding) + 1),
               i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))
           * 1000000) AS BIGINT) AS cos_micro
  FROM hn_banded a JOIN hn_banded b
    ON a.band = b.band AND a.bval = b.bval
   AND a.vec_id <> b.vec_id AND a.label <> b.label
),
hn_rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY vid ORDER BY cos_micro DESC, neg_id ASC) AS rn
  FROM (SELECT DISTINCT vid, label, neg_id, neg_label, cos_micro FROM hn_cand)
)
SELECT vid AS vec_id, label, neg_id, neg_label, cos_micro
FROM hn_rk WHERE rn = 1 ORDER BY vec_id"""


BITEXT_KNN = 4
BITEXT_MIN_MARGIN = 1_000_000  # ratio margin >= 1.0


def q_bitext_margin_pairs(spark, sf_dir):
    """Cross-lingual bitext mining (operators/similarity.py::bitext_margin):
    per English vector, the best German candidate by the Artetxe-Schwenk
    ratio margin over banded sign-LSH candidates, margins exact in int64.
    The lang labels ride in from documents on vec_id = doc_id."""
    lang_of = _docs(spark, sf_dir).select(F.col("doc_id").alias("vec_id"), "lang")
    return SIM.bitext_margin(
        _emb(spark, sf_dir),
        lang_of,
        "en",
        "de",
        knn=BITEXT_KNN,
        min_margin_micro=BITEXT_MIN_MARGIN,
    )


_BX_COS = (
    "CAST(round("
    "list_sum(list_transform(range(1, len(a.embedding) + 1),"
    " i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))"
    " / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))"
    " * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))"
    " * 1000000) AS BIGINT)"
)

ORACLE_BITEXT_MARGIN = f"""
WITH bx_banded AS (
  {"  UNION ALL ".join(
      f"SELECT e.vec_id, d.lang, e.embedding, {i} AS band, "
      f"({_bucket_sql('e.embedding', dims)}) AS bval "
      f"FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id "
      for i, dims in enumerate(SIM.EMB_PAIR_BANDS)
  )}
),
bx_cand AS (
  SELECT a.vec_id AS sid, b.vec_id AS tid, max({_BX_COS}) AS cos_micro
  FROM bx_banded a JOIN bx_banded b
    ON a.band = b.band AND a.bval = b.bval
  WHERE a.lang = 'en' AND b.lang = 'de'
  GROUP BY a.vec_id, b.vec_id
  HAVING max({_BX_COS}) > 0
),
bx_s AS (
  SELECT sid, sum(cos_micro)::BIGINT AS s_sum, count(*)::BIGINT AS s_k
  FROM (SELECT *, row_number() OVER (PARTITION BY sid
          ORDER BY cos_micro DESC, tid) AS rn FROM bx_cand)
  WHERE rn <= {BITEXT_KNN} GROUP BY sid
),
bx_t AS (
  SELECT tid, sum(cos_micro)::BIGINT AS t_sum, count(*)::BIGINT AS t_k
  FROM (SELECT *, row_number() OVER (PARTITION BY tid
          ORDER BY cos_micro DESC, sid) AS rn FROM bx_cand)
  WHERE rn <= {BITEXT_KNN} GROUP BY tid
),
bx_scored AS (
  SELECT c.sid, c.tid, c.cos_micro,
         CAST((2 * c.cos_micro * 1000000 * s.s_k * t.t_k)
              // (s.s_sum * t.t_k + t.t_sum * s.s_k) AS BIGINT) AS margin_micro
  FROM bx_cand c JOIN bx_s s USING (sid) JOIN bx_t t USING (tid)
),
bx_best AS (
  SELECT sid, tid, cos_micro, margin_micro,
         row_number() OVER (PARTITION BY sid
           ORDER BY margin_micro DESC, tid) AS rn
  FROM bx_scored
)
SELECT sid AS vec_id, tid AS match_id, cos_micro, margin_micro
FROM bx_best WHERE rn = 1 AND margin_micro >= {BITEXT_MIN_MARGIN}
ORDER BY vec_id"""


# --------------------------------------------------------------- textstats


def q_text_langid(spark, sf_dir):
    return (
        T.lang_id(_docs(spark, sf_dir), key="doc_id")
        .select(F.col("doc").alias("doc_id"), "predicted_lang", "lang_hits")
        .transform(lambda d: _ordered_perdoc(d, "doc_id"))
    )


def _langid_oracle() -> str:
    score_cols = []
    for lang, words in sorted(T.LANG_PROFILES.items()):
        in_list = ", ".join(f"'{w}'" for w in words)
        score_cols.append(
            f"count(*) FILTER (WHERE term IN ({in_list})) AS s_{lang}"
        )
    langs = sorted(T.LANG_PROFILES)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    pred = "'und'"
    for lang in reversed(langs):
        pred = f"CASE WHEN s_{lang} = best THEN '{lang}' ELSE {pred} END"
    return f"""
WITH {_TOK_CTE.lstrip()},
scores AS (
  SELECT d.doc_id, {', '.join(score_cols)}
  FROM documents d LEFT JOIN tok ON tok.doc_id = d.doc_id
  GROUP BY d.doc_id
),
with_best AS (SELECT *, {best} AS best FROM scores)
SELECT doc_id,
       CASE WHEN best > 0 THEN {pred} ELSE 'und' END AS predicted_lang,
       best::INT AS lang_hits
FROM with_best ORDER BY doc_id"""


def q_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix: predicted vs labeled language with
    doc counts — the eval table a pipeline owner reads before trusting the
    classifier as a corpus gate. The label rides through the classifier as
    a carry column (no join back on doc), so the whole op is one algebraic
    groupBy on the (actual, predicted) pair."""
    return (
        T.lang_id(_docs(spark, sf_dir), "doc_id", "text", "und", "lang")
        .groupBy(
            F.col("lang").alias("actual_lang"), F.col("predicted_lang")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual_lang", "predicted_lang")
    )


def _langid_confusion_oracle() -> str:
    return f"""
WITH perdoc AS ({_langid_oracle()})
SELECT d.lang AS actual_lang, p.predicted_lang,
       count(*)::BIGINT AS n_docs
FROM perdoc p JOIN documents d USING (doc_id)
GROUP BY 1, 2
ORDER BY 1, 2"""


def q_text_quality(spark, sf_dir):
    return (
        T.quality_features(_docs_hot(spark, sf_dir), key="doc_id")
        .select(
            F.col("doc").alias("doc_id"),
            "n_chars",
            "n_tokens",
            "mean_word_len_micro",
            "stopword_ratio_micro",
            "alnum_ratio_micro",
            "quality_micro",
        )
        .transform(lambda d: _ordered_perdoc(d, "doc_id"))
    )


def _quality_oracle() -> str:
    en = ", ".join(f"'{w}'" for w in T.LANG_PROFILES["en"])
    return f"""
WITH {_TOK_CTE.lstrip()},
agg AS (
  SELECT d.doc_id,
         length(d.text) AS n_chars,
         count(tok.term) AS n_tokens,
         coalesce(sum(length(tok.term)), 0) AS token_chars,
         count(*) FILTER (WHERE tok.term IN ({en})) AS stops,
         length(d.text) - length(regexp_replace(d.text, '[a-zA-Z0-9]', '', 'g'))
           AS alnum_chars
  FROM documents d LEFT JOIN tok ON tok.doc_id = d.doc_id
  GROUP BY d.doc_id, d.text
),
feat AS (
  SELECT doc_id, n_chars, n_tokens,
         CASE WHEN n_tokens > 0 THEN token_chars::DOUBLE / n_tokens ELSE 0 END AS mean_wl,
         CASE WHEN n_tokens > 0 THEN stops::DOUBLE / n_tokens ELSE 0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN alnum_chars::DOUBLE / n_chars ELSE 0 END AS alnum_ratio
  FROM agg
)
SELECT doc_id, n_chars::BIGINT AS n_chars, n_tokens::BIGINT AS n_tokens,
       CAST(round(mean_wl * 1000000) AS BIGINT) AS mean_word_len_micro,
       CAST(round(stop_ratio * 1000000) AS BIGINT) AS stopword_ratio_micro,
       CAST(round(alnum_ratio * 1000000) AS BIGINT) AS alnum_ratio_micro,
       CAST(round((least(n_tokens / 100.0, 1.0) * 0.4
                 + least(stop_ratio * 5.0, 1.0) * 0.3
                 + least(mean_wl / 8.0, 1.0) * 0.3) * 1000000) AS BIGINT)
         AS quality_micro
FROM feat ORDER BY doc_id"""


def q_gopher_repetition(spark, sf_dir):
    """Gopher repetition signals (Rae et al. 2021 Table A1): duplicate-line
    fractions and n-gram character coverage — per-row linear folds over
    sorted arrays, zero shuffle (operators/textstats.py)."""
    return (
        T.gopher_repetition(_docs_hot(spark, sf_dir), key="doc_id")
        .select(
            F.col("doc").alias("doc_id"),
            "n_lines",
            "dup_line_frac_micro",
            "dup_line_char_frac_micro",
            "top_2gram_char_frac_micro",
            "dup_5gram_char_frac_micro",
        )
        .transform(lambda d: _ordered_perdoc(d, "doc_id"))
    )


ORACLE_GOPHER_REP = f"""
WITH {_TOK_CTE.lstrip()},
rep_lns AS (
  SELECT doc_id, l
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM documents)
  WHERE length(trim(l)) > 0
),
line_groups AS (
  SELECT doc_id, l, count(*) AS cnt, length(l) AS len
  FROM rep_lns GROUP BY doc_id, l
),
line_stats AS (
  SELECT doc_id,
         sum(cnt)::BIGINT AS n_lines,
         sum(cnt - 1)::BIGINT AS extra_count,
         sum((cnt - 1) * len)::BIGINT AS extra_chars,
         sum(cnt * len)::BIGINT AS line_chars
  FROM line_groups GROUP BY doc_id
),
g2 AS (
  SELECT doc_id, term || ' ' || lead(term) OVER w AS gram
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
g2_stats AS (
  SELECT doc_id, max(cnt * length(gram))::BIGINT AS top_cover
  FROM (SELECT doc_id, gram, count(*) AS cnt FROM g2
        WHERE gram IS NOT NULL GROUP BY doc_id, gram)
  GROUP BY doc_id
),
g5 AS (
  SELECT doc_id,
         term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w
              || ' ' || lead(term, 3) OVER w || ' ' || lead(term, 4) OVER w
           AS gram
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
g5_stats AS (
  SELECT doc_id, sum(cnt * length(gram)) FILTER (WHERE cnt > 1)::BIGINT
           AS dup_cover
  FROM (SELECT doc_id, gram, count(*) AS cnt FROM g5
        WHERE gram IS NOT NULL GROUP BY doc_id, gram)
  GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(ls.n_lines, 0)::BIGINT AS n_lines,
       CAST(round(CASE WHEN coalesce(ls.n_lines, 0) > 0
            THEN least(ls.extra_count::DOUBLE / ls.n_lines, 1.0) ELSE 0 END
            * 1000000) AS BIGINT) AS dup_line_frac_micro,
       CAST(round(CASE WHEN coalesce(ls.line_chars, 0) > 0
            THEN least(ls.extra_chars::DOUBLE / ls.line_chars, 1.0) ELSE 0 END
            * 1000000) AS BIGINT) AS dup_line_char_frac_micro,
       CAST(round(CASE WHEN length(d.text) > 0
            THEN least(coalesce(g2_stats.top_cover, 0)::DOUBLE
                       / length(d.text), 1.0) ELSE 0 END
            * 1000000) AS BIGINT) AS top_2gram_char_frac_micro,
       CAST(round(CASE WHEN length(d.text) > 0
            THEN least(coalesce(g5_stats.dup_cover, 0)::DOUBLE
                       / length(d.text), 1.0) ELSE 0 END
            * 1000000) AS BIGINT) AS dup_5gram_char_frac_micro
FROM documents d
LEFT JOIN line_stats ls ON ls.doc_id = d.doc_id
LEFT JOIN g2_stats ON g2_stats.doc_id = d.doc_id
LEFT JOIN g5_stats ON g5_stats.doc_id = d.doc_id
ORDER BY d.doc_id"""


def q_gopher_quality(spark, sf_dir):
    """Gopher quality-filter rules (word-count band, mean word length,
    symbol ratio, bullet/ellipsis line fractions, alpha-word fraction,
    stopword floor) + the composite pass flag."""
    return (
        # min_stop=1: the synthetic vocabulary carries exactly one Gopher
        # stopword ('the'), so the paper's >=2 floor would zero the flag
        # corpus-wide; the parameterized floor keeps the composite rule
        # discriminating here while the default stays Gopher's 2
        T.gopher_quality(_docs_hot(spark, sf_dir), key="doc_id", min_stop=1)
        .select(
            F.col("doc").alias("doc_id"),
            "n_words",
            "mean_word_len_micro",
            "symbol_ratio_micro",
            "bullet_line_frac_micro",
            "ellipsis_line_frac_micro",
            "alpha_word_frac_micro",
            "n_stop_hits",
            "passes",
        )
        .transform(lambda d: _ordered_perdoc(d, "doc_id"))
    )


def _gopher_quality_oracle(
    min_words: int = 50, max_words: int = 100_000, min_stop: int = 1
) -> str:
    stops = ", ".join(f"'{w}'" for w in T.GOPHER_STOPWORDS)
    return f"""
WITH {_TOK_CTE.lstrip()},
gq_lns AS (
  SELECT doc_id, l
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM documents)
  WHERE length(trim(l)) > 0
),
line_agg AS (
  SELECT doc_id, count(*) AS n_lines,
         count(*) FILTER (WHERE trim(l) LIKE '- %' OR trim(l) LIKE '* %'
                             OR trim(l) LIKE '•%') AS bullets,
         count(*) FILTER (WHERE rtrim(l) LIKE '%...') AS ellipsis_ends
  FROM gq_lns GROUP BY doc_id
),
tok_agg AS (
  SELECT d.doc_id,
         count(tok.term) AS n_words,
         coalesce(sum(length(tok.term)), 0) AS token_chars,
         count(*) FILTER (WHERE regexp_matches(tok.term, '[a-z]')) AS alpha_words,
         count(DISTINCT tok.term) FILTER (WHERE tok.term IN ({stops}))
           AS n_stop,
         length(d.text) - length(replace(d.text, '#', '')) AS n_hash,
         len(string_split(d.text, '...')) - 1 AS n_ellipsis
  FROM documents d LEFT JOIN tok ON tok.doc_id = d.doc_id
  GROUP BY d.doc_id, d.text
),
gq_feat AS (
  SELECT t.doc_id, t.n_words, t.n_stop,
         CASE WHEN t.n_words > 0 THEN t.token_chars::DOUBLE / t.n_words
              ELSE 0 END AS mean_wl,
         CASE WHEN t.n_words > 0
              THEN (t.n_hash + t.n_ellipsis)::DOUBLE / t.n_words
              ELSE 0 END AS symbol_ratio,
         CASE WHEN coalesce(l.n_lines, 0) > 0
              THEN l.bullets::DOUBLE / l.n_lines ELSE 0 END AS bullet_frac,
         CASE WHEN coalesce(l.n_lines, 0) > 0
              THEN l.ellipsis_ends::DOUBLE / l.n_lines ELSE 0 END
           AS ellipsis_frac,
         CASE WHEN t.n_words > 0 THEN t.alpha_words::DOUBLE / t.n_words
              ELSE 0 END AS alpha_frac
  FROM tok_agg t LEFT JOIN line_agg l ON l.doc_id = t.doc_id
)
SELECT doc_id, n_words::BIGINT AS n_words,
       CAST(round(mean_wl * 1000000) AS BIGINT) AS mean_word_len_micro,
       CAST(round(symbol_ratio * 1000000) AS BIGINT) AS symbol_ratio_micro,
       CAST(round(bullet_frac * 1000000) AS BIGINT) AS bullet_line_frac_micro,
       CAST(round(ellipsis_frac * 1000000) AS BIGINT)
         AS ellipsis_line_frac_micro,
       CAST(round(alpha_frac * 1000000) AS BIGINT) AS alpha_word_frac_micro,
       n_stop::BIGINT AS n_stop_hits,
       CAST((n_words >= {min_words} AND n_words <= {max_words}
         AND mean_wl >= 3.0 AND mean_wl <= 10.0
         AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
         AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
         AND n_stop >= {min_stop}) AS INT) AS passes
FROM gq_feat ORDER BY doc_id"""


DECONTAM_PROBE_DOCS = 3  # doc_id < 3 stands in for "the eval set"


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (n-gram-overlap rule, GPT-3 appx C style):
    the probe set is every 3-gram shingle of the 'eval' docs (modeled as
    doc_id < 3); any corpus doc sharing one is flagged with its distinct-hit
    count and first matching shingle. Probe side broadcasts (eval sets are
    tiny next to the corpus); corpus side reuses the persisted shingle
    index."""
    docs = _docs(spark, sf_dir)
    corpus_sh = _shingles(spark, sf_dir)
    probe_sh = D.shingles_df(
        docs.filter(F.col("doc_id") < DECONTAM_PROBE_DOCS), key="doc_id"
    )
    return (
        D.contamination_hits(corpus_sh, probe_sh)
        .select(F.col("doc").alias("doc_id"), "n_probe_hits", "first_hit")
        .orderBy("doc_id")
    )


def q_decontaminate_bloom(spark, sf_dir):
    """Same decontamination result through a BLOOM prefilter
    (operators/bloom.py): the corpus shingle stream is tested against the
    probe set's ~2-byte-per-key bitmap via k broadcast word-joins (map-side
    only), and only survivors reach the exact verify join — the scale path
    for probe sets too large to broadcast as a string hash relation. The
    verify join removes bloom false positives, so the oracle is
    ORACLE_DECONTAM verbatim."""
    from ..operators.bloom import contamination_hits_bloom

    docs = _docs(spark, sf_dir)
    corpus_sh = _shingles(spark, sf_dir)
    probe_sh = D.shingles_df(
        docs.filter(F.col("doc_id") < DECONTAM_PROBE_DOCS), key="doc_id"
    )
    return (
        contamination_hits_bloom(corpus_sh, probe_sh)
        .select(F.col("doc").alias("doc_id"), "n_probe_hits", "first_hit")
        .orderBy("doc_id")
    )


def _shingle_cte(k: int = D.SHINGLE_K) -> str:
    """(doc_id, shingle) CTE for k-word shingles — SQL mirror of
    operators/dedup.py::shingles_df."""
    return f"""{_TOK_CTE},
toks AS (
  SELECT doc_id, list(term ORDER BY pos) AS ts FROM tok GROUP BY doc_id
),
sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(ts) - {k - 1}, 1) + 1),
           i -> array_to_string(list_slice(ts, i, i + {k - 1}), ' ')
         )) AS shingle
  FROM toks
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE shingle <> '')"""


_SHINGLE_CTE = _shingle_cte()


ORACLE_DECONTAM = f"""
WITH {_SHINGLE_CTE},
probes AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id < {DECONTAM_PROBE_DOCS}
)
SELECT s.doc_id,
       count(DISTINCT s.shingle)::BIGINT AS n_probe_hits,
       min(s.shingle) AS first_hit
FROM sh s JOIN probes p USING (shingle)
GROUP BY s.doc_id
ORDER BY s.doc_id"""


BOILERPLATE_MIN_FRAC = 0.05
BOILERPLATE_K = 2  # bigrams: on this corpus 3-grams never reach 5% df, so a
# 3-gram profile is an empty (vacuously green) result — the bigram profile
# is a real top-50 at every sf


def q_decontaminate_overlap(spark, sf_dir):
    """Graded decontamination: per-doc fraction of distinct shingles shared
    with the eval probe set — the distribution a removal threshold cuts on
    (operators/dedup.py::contamination_overlap). Zero-hit docs included."""
    docs = _docs(spark, sf_dir)
    corpus_sh = _shingles(spark, sf_dir)
    probe_sh = D.shingles_df(
        docs.filter(F.col("doc_id") < DECONTAM_PROBE_DOCS), key="doc_id"
    )
    return _ordered_perdoc(
        D.contamination_overlap(corpus_sh, probe_sh).withColumnRenamed(
            "doc", "doc_id"
        ),
        "doc_id",
    )


ORACLE_DECONTAM_OVERLAP = f"""
WITH {_SHINGLE_CTE},
probes AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id < {DECONTAM_PROBE_DOCS}
),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM sh GROUP BY doc_id),
hit AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_probe_hits
  FROM sh s JOIN probes USING (shingle) GROUP BY s.doc_id
)
SELECT t.doc_id, t.n_grams,
       CAST(coalesce(h.n_probe_hits, 0) AS BIGINT) AS n_probe_hits,
       CAST(round(coalesce(h.n_probe_hits, 0) * 1000000.0 / t.n_grams)
            AS BIGINT) AS overlap_micro
FROM tot t LEFT JOIN hit h USING (doc_id)
ORDER BY t.doc_id"""


def q_boilerplate_ngrams(spark, sf_dir):
    """Boilerplate profile: bigram shingles present in >= 5% of documents
    (template text surfaces here before any pair looks duplicated; these are
    the shingles the stop-shingle df cap prunes)."""
    return D.boilerplate_shingles(
        _docs(spark, sf_dir),
        key="doc_id",
        k=BOILERPLATE_K,
        min_frac=BOILERPLATE_MIN_FRAC,
    ).select("shingle", "df", "frac_micro")


ORACLE_BOILERPLATE = f"""
WITH {_shingle_cte(BOILERPLATE_K)},
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
prof AS (
  SELECT shingle, count(*)::BIGINT AS df FROM sh GROUP BY shingle
)
SELECT shingle, df,
       CAST(round(df / n.n_docs * 1000000) AS BIGINT) AS frac_micro
FROM prof CROSS JOIN n
WHERE df >= {BOILERPLATE_MIN_FRAC} * n.n_docs
ORDER BY df DESC, shingle ASC
LIMIT 50"""


def q_dedup_components(spark, sf_dir):
    """Near-dup CONNECTED COMPONENTS — the step after pair generation in a
    production dedup flow: minhash-LSH verified pairs (jaccard >= 0.5) form
    an undirected graph; every document maps to the min doc id of its
    component (its canonical representative; singletons map to themselves).
    Iterative min-label propagation in Spark (operators/dedup.py); the
    oracle recomputes the identical components with a recursive CTE over
    the same spliced pair SQL."""
    pairs = q_dedup_minhash_pairs(spark, sf_dir).filter(
        F.col("jaccard_micro") >= JACCARD_MIN
    )
    comps = D.connected_components(pairs, _docs(spark, sf_dir).select("doc_id"))
    return comps.select(
        F.col("v").alias("doc_id"), F.col("component").alias("canonical_id")
    ).orderBy("doc_id")


def _components_oracle(j_thresh: int = JACCARD_MIN) -> str:
    """Spliced from ORACLE_MINHASH_PAIRS (single source of truth) + a
    recursive reachability CTE: reach(v, w) = w reachable from v over the
    symmetric edge set; component = min(w) per v."""
    tokc = _TOK_CTE.strip()
    rest = ORACLE_MINHASH_PAIRS.split(tokc, 1)[1].lstrip(",\n")
    mh_ctes, sel = rest.rsplit("\nSELECT c.doc_a,", 1)
    mh_sel = ("SELECT c.doc_a," + sel).rsplit("ORDER BY", 1)[0]
    return f"""
WITH RECURSIVE {_TOK_CTE.lstrip()},
{mh_ctes.rstrip().rstrip(",")},
jac AS ({mh_sel}),
edge AS (SELECT doc_a AS u, doc_b AS v FROM jac WHERE jaccard_micro >= {j_thresh}),
sym AS (SELECT u, v FROM edge UNION SELECT v AS u, u AS v FROM edge),
reach(v, w) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.v, s.v FROM reach r JOIN sym s ON s.u = r.w
)
SELECT v AS doc_id, CAST(min(w) AS BIGINT) AS canonical_id
FROM reach GROUP BY v ORDER BY doc_id"""


def q_dedup_cluster_histogram(spark, sf_dir):
    """Near-dup cluster-size distribution — the dedup pass's headline
    report (how much of the corpus is singletons vs template clusters,
    and how many docs deduplication removes = sum (size-1)*n). Two
    bounded aggregations over the already-oracle-checked component map;
    output is bounded by the DISTINCT cluster sizes, never the corpus.
    Catalyst's EliminateSorts drops the reused component frame's ORDER BY
    under the aggregation."""
    sizes = (
        q_dedup_components(spark, sf_dir)
        .groupBy("canonical_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def _cluster_histogram_oracle() -> str:
    return f"""
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
FROM (
  SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM ({_components_oracle()}) GROUP BY canonical_id
) GROUP BY cluster_size ORDER BY cluster_size"""


def _curated(spark, sf_dir, gate: str, *cols: str) -> DataFrame:
    """The registry face of curation.curate_docs: its kept doc ids with the
    gate signals a query reports, ordered by doc_id."""
    return (
        curate_docs(_docs(spark, sf_dir), gate=gate)
        .select("doc_id", *cols)
        .orderBy("doc_id")
    )


def q_curate_corpus(spark, sf_dir):
    """End-to-end training-data curation — the composition a 100 TB corpus
    pipeline actually runs (plans/curation.py, gate 'classic'): language
    filter (en) -> quality floor -> exact-dup canonical only -> near-dup
    removal (minhash-LSH pairs at jaccard >= 0.5, keep the lower doc id).
    Every stage is an already-oracle-checked operator; the composed oracle
    is assembled from the same SQL fragments, so the stages cannot drift
    from their standalone driver queries."""
    return _curated(spark, sf_dir, "classic", "quality_micro")


def _split_oracle_parts(sql: str, select_marker: str):
    """Split a standalone oracle's SQL into (cte_chain, final_select) for
    CTE-splicing into a composed oracle — the single definition all
    curate_* compositions share: everything after the shared _TOK_CTE up
    to the final select becomes reusable CTE text; the final select loses
    its ORDER BY (the composed oracle orders once at the end)."""
    tokc = _TOK_CTE.strip()
    rest = sql.split(tokc, 1)[1].lstrip(",\n")
    ctes, sel = rest.rsplit(select_marker, 1)
    sel = (select_marker.lstrip("\n") + sel).rsplit("ORDER BY", 1)[0]
    return ctes.rstrip().rstrip(","), sel


def _curate_oracle(
    q_thresh: int = QUALITY_MIN, j_thresh: int = JACCARD_MIN
) -> str:
    """Composed from the published standalone oracle texts (langid, quality,
    minhash pairs) by splitting out their CTE chains — single source of
    truth; if a stage oracle changes, this one follows."""
    split_parts = _split_oracle_parts
    lang_ctes, lang_sel = split_parts(_langid_oracle(), "\nSELECT doc_id,")
    q_ctes, q_sel = split_parts(_quality_oracle(), "\nSELECT doc_id,")
    mh_ctes, mh_sel = split_parts(ORACLE_MINHASH_PAIRS, "\nSELECT c.doc_a,")
    return f"""
WITH {_TOK_CTE.lstrip()},
{lang_ctes},
lang AS ({lang_sel}),
{q_ctes},
qual AS ({q_sel}),
exact_h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
exact_g AS (
  SELECT content_hash, min(doc_id) AS canonical_id
  FROM exact_h GROUP BY content_hash
),
{mh_ctes},
jac AS ({mh_sel}),
nd_drop AS (
  SELECT DISTINCT doc_b AS doc_id FROM jac WHERE jaccard_micro >= {j_thresh}
)
SELECT d.doc_id, q.quality_micro
FROM documents d
JOIN lang l ON l.doc_id = d.doc_id
JOIN qual q ON q.doc_id = d.doc_id
JOIN exact_h h ON h.doc_id = d.doc_id
JOIN exact_g g ON g.content_hash = h.content_hash
WHERE l.predicted_lang = 'en'
  AND q.quality_micro >= {q_thresh}
  AND g.canonical_id = d.doc_id
  AND d.doc_id NOT IN (SELECT doc_id FROM nd_drop)
ORDER BY d.doc_id"""


def q_curate_corpus_clf(spark, sf_dir):
    """Curation v4 — model-based filtering (GPT-3/LLaMA style;
    plans/curation.py, gate 'clf'): language filter (en) -> classifier
    margin >= 0 (hashed linear stand-in for the trained quality model) ->
    exact-dup canonical only -> near-dup removal. The composed oracle
    splices the standalone stage oracles' own CTE text."""
    return _curated(spark, sf_dir, "clf", "clf_margin_micro")


def _curate_clf_oracle(j_thresh: int = JACCARD_MIN) -> str:
    """Spliced from the standalone langid / classifier / minhash oracle
    texts — same machinery as _curate_oracle (single source of truth)."""
    split_parts = _split_oracle_parts
    lang_ctes, lang_sel = split_parts(_langid_oracle(), "\nSELECT doc_id,")
    clf_ctes, clf_sel = split_parts(
        _quality_classifier_oracle(), "\nSELECT d.doc_id,"
    )
    mh_ctes, mh_sel = split_parts(ORACLE_MINHASH_PAIRS, "\nSELECT c.doc_a,")
    return f"""
WITH {_TOK_CTE.lstrip()},
{lang_ctes},
lang AS ({lang_sel}),
{clf_ctes},
clf AS ({clf_sel}),
exact_h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
exact_g AS (
  SELECT content_hash, min(doc_id) AS canonical_id
  FROM exact_h GROUP BY content_hash
),
{mh_ctes},
jac AS ({mh_sel}),
nd_drop AS (
  SELECT DISTINCT doc_b AS doc_id FROM jac WHERE jaccard_micro >= {j_thresh}
)
SELECT d.doc_id, c.clf_margin_micro
FROM documents d
JOIN lang l ON l.doc_id = d.doc_id
JOIN clf c ON c.doc_id = d.doc_id
JOIN exact_h h ON h.doc_id = d.doc_id
JOIN exact_g g ON g.content_hash = h.content_hash
WHERE l.predicted_lang = 'en'
  AND c.clf_score >= 0
  AND g.canonical_id = d.doc_id
  AND d.doc_id NOT IN (SELECT doc_id FROM nd_drop)
ORDER BY d.doc_id"""


def q_sample_weighted(spark, sf_dir):
    """Efraimidis–Spirakis weighted sampling without replacement: top-20
    per language by u^(1/w) rank keys, w = quality score + 1 — the
    deterministic quality-proportional mixture draw
    (operators/sampling.py::weighted_sample)."""
    from ..operators import sampling as SA

    docs = _docs(spark, sf_dir)
    qual = T.quality_features(docs, key="doc_id").select(
        F.col("doc").alias("doc_id"), "quality_micro"
    )
    return SA.weighted_sample(
        docs.select("doc_id", "lang").join(qual, "doc_id"),
        key="doc_id",
        strata_col="lang",
        weight_col="quality_micro",
    )


def _sample_weighted_oracle(k: int = 20, seed: str = "esample") -> str:
    q_ctes, q_sel = _split_oracle_parts(_quality_oracle(), "\nSELECT doc_id,")
    return f"""
WITH {_TOK_CTE.lstrip()},
{q_ctes},
qual AS ({q_sel}),
es AS (
  SELECT d.doc_id, d.lang AS stratum, q.quality_micro AS weight,
         CAST(floor(
           ln((((('0x' || substr(md5('{seed}:' || d.doc_id::VARCHAR), 1, 15))::BIGINT)
                % 1000000) + 0.5) / 1000000.0)
           / (q.quality_micro + 1.0) * 1000000000) AS BIGINT) AS es_key_nano
  FROM documents d JOIN qual q ON q.doc_id = d.doc_id
)
SELECT doc_id, stratum, weight, es_key_nano, rank
FROM (SELECT *, row_number() OVER (PARTITION BY stratum
        ORDER BY es_key_nano DESC, doc_id ASC) AS rank FROM es)
WHERE rank <= {k} ORDER BY stratum, rank"""


def q_quality_gate_matrix(spark, sf_dir):
    """Per-doc agreement matrix of all four curation gates
    (plans/curation.py::gate_signals: classic composite, Gopher rules +
    repetition cap, CCNet perplexity tercile, classifier margin) — the
    ensemble view a Dolma-style pipeline consults before picking its filter
    stack: which docs do the gates agree on, and how many gates does each
    doc pass."""
    docs = _docs(spark, sf_dir)
    gates = [gate_signals(docs, g) for g in GATES]
    matrix = gates[0][0]
    for sig, _ in gates[1:]:
        matrix = matrix.join(sig, "doc_id")
    passes = [f"passes_{g}" for g in GATES]
    n = sum(F.col(c) for c in passes)
    return (
        matrix.select(
            "doc_id",
            *[keep.cast("int").alias(c) for c, (_, keep) in zip(passes, gates)],
        )
        .select(
            "doc_id",
            *passes,
            n.cast("long").alias("n_gates_passed"),
            (n == len(GATES)).cast("int").alias("all_pass"),
        )
        .transform(lambda d: _ordered_perdoc(d, "doc_id"))
    )


def _gate_matrix_oracle() -> str:
    """All four gate conditions spliced from the standalone stage oracle
    texts (single source of truth, same machinery as the curate_*
    compositions)."""
    split_parts = _split_oracle_parts
    q_ctes, q_sel = split_parts(_quality_oracle(), "\nSELECT doc_id,")
    g_ctes, g_sel = split_parts(_gopher_quality_oracle(), "\nSELECT doc_id,")
    r_ctes, r_sel = split_parts(ORACLE_GOPHER_REP, "\nSELECT d.doc_id,")
    p_ctes, p_sel = split_parts(ORACLE_PPL_BUCKETS, "\nSELECT lp.doc_id,")
    c_ctes, c_sel = split_parts(
        _quality_classifier_oracle(), "\nSELECT d.doc_id,"
    )
    n = (
        "((q.quality_micro >= {qmin})::INT + (g.passes = 1 AND"
        " r.top_2gram_char_frac_micro <= {top2})::INT +"
        " (p.bucket <> 'tail')::INT + (c.clf_score >= 0)::INT)"
    ).format(qmin=QUALITY_MIN, top2=TOP2_MAX)
    return f"""
WITH {_TOK_CTE.lstrip()},
{q_ctes},
qual AS ({q_sel}),
{g_ctes},
gq AS ({g_sel}),
{r_ctes},
grep AS ({r_sel}),
{p_ctes},
pplb AS ({p_sel}),
{c_ctes},
clf AS ({c_sel})
SELECT q.doc_id,
       (q.quality_micro >= {QUALITY_MIN})::INT AS passes_classic,
       (g.passes = 1 AND r.top_2gram_char_frac_micro <= {TOP2_MAX})::INT
         AS passes_gopher,
       (p.bucket <> 'tail')::INT AS passes_ccnet,
       (c.clf_score >= 0)::INT AS passes_clf,
       {n}::BIGINT AS n_gates_passed,
       ({n} = 4)::INT AS all_pass
FROM qual q
JOIN gq g ON g.doc_id = q.doc_id
JOIN grep r ON r.doc_id = q.doc_id
JOIN pplb p ON p.doc_id = q.doc_id
JOIN clf c ON c.doc_id = q.doc_id
ORDER BY q.doc_id"""


def q_curate_corpus_gopher(spark, sf_dir):
    """Curation v2 — the Gopher-gated composition (plans/curation.py, gate
    'gopher'): language filter (en) -> Gopher quality-rule pass ->
    repetition cap (top-2-gram char coverage <= 25%) -> exact-dup canonical
    only -> near-dup removal. The composed oracle splices the standalone
    stage oracles' own CTE text."""
    return _curated(spark, sf_dir, "gopher", "top_2gram_char_frac_micro")


def _curate_gopher_oracle(
    top2_max: int = TOP2_MAX, j_thresh: int = JACCARD_MIN
) -> str:
    """Spliced from the standalone langid / gopher_quality /
    gopher_repetition / minhash-pairs oracle texts (same machinery as
    _curate_oracle)."""
    split_parts = _split_oracle_parts
    lang_ctes, lang_sel = split_parts(_langid_oracle(), "\nSELECT doc_id,")
    gq_ctes, gq_sel = split_parts(_gopher_quality_oracle(), "\nSELECT doc_id,")
    rep_ctes, rep_sel = split_parts(ORACLE_GOPHER_REP, "\nSELECT d.doc_id,")
    mh_ctes, mh_sel = split_parts(ORACLE_MINHASH_PAIRS, "\nSELECT c.doc_a,")
    return f"""
WITH {_TOK_CTE.lstrip()},
{lang_ctes},
lang AS ({lang_sel}),
{gq_ctes},
gq AS ({gq_sel}),
{rep_ctes},
rep AS ({rep_sel}),
exact_h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
exact_g AS (
  SELECT content_hash, min(doc_id) AS canonical_id
  FROM exact_h GROUP BY content_hash
),
{mh_ctes},
jac AS ({mh_sel}),
nd_drop AS (
  SELECT DISTINCT doc_b AS doc_id FROM jac WHERE jaccard_micro >= {j_thresh}
)
SELECT d.doc_id, r.top_2gram_char_frac_micro
FROM documents d
JOIN lang l ON l.doc_id = d.doc_id
JOIN gq ON gq.doc_id = d.doc_id
JOIN rep r ON r.doc_id = d.doc_id
JOIN exact_h h ON h.doc_id = d.doc_id
JOIN exact_g g ON g.content_hash = h.content_hash
WHERE l.predicted_lang = 'en'
  AND gq.passes = 1
  AND r.top_2gram_char_frac_micro <= {top2_max}
  AND g.canonical_id = d.doc_id
  AND d.doc_id NOT IN (SELECT doc_id FROM nd_drop)
ORDER BY d.doc_id"""


def q_text_unigram_logppl(spark, sf_dir):
    """CCNet-style perplexity signal with a transparent corpus-unigram LM:
    per-doc mean bits-per-token (operators/textstats.py)."""
    return (
        T.unigram_logppl(_docs(spark, sf_dir), key="doc_id")
        .select(F.col("doc").alias("doc_id"), "n_tokens", "logppl_micro")
        .orderBy("doc_id")
    )


ORACLE_UNIGRAM_LOGPPL = f"""
WITH {_TOK_CTE.lstrip()},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
tot AS (SELECT sum(tf)::DOUBLE AS n FROM tf),
cnt AS (SELECT term, sum(tf) AS c FROM tf GROUP BY term)
SELECT t.doc_id,
       CAST(sum(t.tf) AS BIGINT) AS n_tokens,
       CAST(round(sum(t.tf * (log2(tot.n) - log2(cnt.c))) / sum(t.tf)
                  * 1000000) AS BIGINT) AS logppl_micro
FROM tf t JOIN cnt USING (term) CROSS JOIN tot
GROUP BY t.doc_id
ORDER BY t.doc_id"""


def q_text_bigram_logppl(spark, sf_dir):
    """Order-sensitive perplexity: per-doc mean bits-per-bigram under the
    corpus-own bigram LM (operators/textstats.py::bigram_logppl — map-side
    bigram RLE, hot/cold skew-split count joins)."""
    return (
        T.bigram_logppl(_docs(spark, sf_dir), key="doc_id")
        .select(F.col("doc").alias("doc_id"), "n_bigrams", "logppl2_micro")
        .orderBy("doc_id")
    )


ORACLE_BIGRAM_LOGPPL = f"""
WITH {_TOK_CTE.lstrip()},
tl AS (SELECT doc_id, list(term ORDER BY pos) AS ts FROM tok GROUP BY doc_id),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts)),
                               i -> array_to_string(list_slice(ts, i, i + 1), ' ')))
           AS bigram
  FROM tl WHERE len(ts) >= 2
),
btf AS (SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY 1, 2),
bc AS (SELECT bigram, sum(tf) AS c FROM btf GROUP BY 1),
ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, sum(c) AS cc FROM bc GROUP BY 1)
SELECT t.doc_id,
       CAST(sum(t.tf) AS BIGINT) AS n_bigrams,
       CAST(round(sum(t.tf * (log2(ctx.cc::DOUBLE) - log2(bc.c::DOUBLE)))
                  / sum(t.tf) * 1000000) AS BIGINT) AS logppl2_micro
FROM btf t
JOIN bc USING (bigram)
JOIN ctx ON split_part(t.bigram, ' ', 1) = ctx.w1
GROUP BY t.doc_id
ORDER BY t.doc_id"""


def q_text_kn_bigram(spark, sf_dir):
    """Interpolated Kneser-Ney bigram probabilities for the corpus's top
    bigrams (operators/textstats.py::kn_bigram_probs) — exact rational
    with D = 3/4, one per-row double expression, vocabulary-bounded
    stats."""
    return T.kn_bigram_probs(_docs(spark, sf_dir), key="doc_id", top=20)


ORACLE_KN_BIGRAM = f"""
WITH {_TOK_CTE},
kn_tl AS (SELECT doc_id, list(term ORDER BY pos) AS ts FROM tok GROUP BY doc_id),
kn_bg AS (
  SELECT unnest(list_transform(range(1, len(ts)),
           i -> array_to_string(list_slice(ts, i, i + 1), ' '))) AS bigram
  FROM kn_tl WHERE len(ts) >= 2
),
kn_bc AS (
  SELECT split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2,
         CAST(count(*) AS BIGINT) AS c
  FROM kn_bg GROUP BY 1, 2
),
kn_s1 AS (
  SELECT w1, CAST(sum(c) AS BIGINT) AS cctx, CAST(count(*) AS BIGINT) AS n1p
  FROM kn_bc GROUP BY 1
),
kn_s2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS dl FROM kn_bc GROUP BY 1),
kn_t AS (SELECT CAST(count(*) AS BIGINT) AS t FROM kn_bc),
kn_top AS (SELECT * FROM kn_bc ORDER BY c DESC, w1, w2 LIMIT 20)
SELECT b.w1, b.w2, b.c,
       CAST(round((CAST(4*b.c - 3 AS DOUBLE) * CAST(t.t AS DOUBLE)
            + CAST(3*s1.n1p*s2.dl AS DOUBLE)) * 1000000
            / (CAST(4*s1.cctx AS DOUBLE) * CAST(t.t AS DOUBLE))) AS BIGINT)
         AS prob_micro
FROM kn_top b JOIN kn_s1 s1 USING (w1) JOIN kn_s2 s2 USING (w2)
CROSS JOIN kn_t t
ORDER BY b.c DESC, b.w1, b.w2"""


TRUNC_MAX_LEN = 48  # context length L for the truncation-loss table
# lost_micro = floor(tokens_lost * 1e6 / tokens_total) <= 1e6; the product
# runs in DECIMAL(38,0) so it stays exact where BIGINT would overflow
# (tokens_lost >= 2**63 / 1e6, ~9.2e12)
TRUNC_LOST_MICRO_SQL = (
    "CAST(CAST(tokens_lost AS DECIMAL(38,0)) * 1000000 div tokens_total"
    " AS BIGINT)"
)


def q_text_truncation_stats(spark, sf_dir):
    """Context-length truncation loss at L=48 tokens, per source — the
    "what do we lose if we train at context length L" table that picks a
    sequence length before packing: docs over L, tokens cut, and the
    exact integer loss fraction. Pure map-side column math (one token
    count per row) into one dict-bounded groupBy; the alternative to
    LOSING those tokens is pack_sequences' concat-and-chunk manifest —
    this table is how you decide whether to care."""
    staged = _docs(spark, sf_dir).select(
        "source", F.size(D.tokens_col("text")).cast("long").alias("n_tok")
    )
    return (
        staged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("n_tok") > TRUNC_MAX_LEN).cast("long")).alias(
                "n_truncated"
            ),
            F.sum("n_tok").cast("long").alias("tokens_total"),
            F.sum(F.greatest(F.col("n_tok") - TRUNC_MAX_LEN, F.lit(0)))
            .cast("long")
            .alias("tokens_lost"),
        )
        .select(
            "*",
            F.expr(TRUNC_LOST_MICRO_SQL).alias("lost_micro"),
        )
        .orderBy("source")
    )


ORACLE_TRUNCATION_STATS = f"""
WITH tr_tok AS (
  SELECT source,
         CAST(len(list_filter(string_split(lower(text), ' '), w -> w <> ''))
              AS BIGINT) AS n_tok
  FROM documents
),
tr_agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(*) FILTER (WHERE n_tok > {TRUNC_MAX_LEN}) AS BIGINT)
           AS n_truncated,
         CAST(sum(n_tok) AS BIGINT) AS tokens_total,
         CAST(sum(greatest(n_tok - {TRUNC_MAX_LEN}, 0)) AS BIGINT)
           AS tokens_lost
  FROM tr_tok GROUP BY source
)
SELECT source, n_docs, n_truncated, tokens_total, tokens_lost,
       CAST(tokens_lost::HUGEINT * 1000000 // tokens_total AS BIGINT)
         AS lost_micro
FROM tr_agg ORDER BY source"""


VOCAB_OVERLAP_TOP = 15


def q_source_vocab_overlap(spark, sf_dir):
    """Between-source vocabulary Jaccard — the corpus-comparison rollup
    that flags mirror/syndicated domains (near-identical vocabularies)
    before any doc-level dedup runs. One distinct (source, term) shuffle;
    the pair join is keyed on term and bounded per term by the SOURCE
    count (each term contributes at most |sources|^2/2 pairs — a dict
    bound, never corpus-quadratic); sizes join back dict-level; exact
    integer Jaccard; bounded top-k."""
    vocab = (
        _docs(spark, sf_dir)
        .select("source", F.explode(D.tokens_col("text")).alias("term"))
        .distinct()
    )
    a = vocab.select(F.col("source").alias("src_a"), "term")
    b = vocab.select(F.col("source").alias("src_b"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n_terms"))
    return (
        inter.join(
            sizes.select(F.col("source").alias("src_a"), F.col("n_terms").alias("n_a")),
            "src_a",
        )
        .join(
            sizes.select(F.col("source").alias("src_b"), F.col("n_terms").alias("n_b")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.expr(
                "CAST((n_inter * 1000000) div (n_a + n_b - n_inter) AS BIGINT)"
            ).alias("jaccard_micro"),
        )
        .orderBy(F.desc("jaccard_micro"), "src_a", "src_b")
        .limit(VOCAB_OVERLAP_TOP)
    )


ORACLE_SOURCE_VOCAB_OVERLAP = f"""
WITH sv AS (
  SELECT DISTINCT source, w AS term FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS w FROM documents
  ) WHERE w <> ''
),
sv_inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
  FROM sv a JOIN sv b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
),
sv_sizes AS (SELECT source, count(*) AS n_terms FROM sv GROUP BY source)
SELECT i.src_a, i.src_b,
       CAST((i.n_inter * 1000000) // (sa.n_terms + sb.n_terms - i.n_inter)
            AS BIGINT) AS jaccard_micro
FROM sv_inter i
JOIN sv_sizes sa ON sa.source = i.src_a
JOIN sv_sizes sb ON sb.source = i.src_b
ORDER BY jaccard_micro DESC, i.src_a, i.src_b
LIMIT {VOCAB_OVERLAP_TOP}"""


def q_source_quality_profile(spark, sf_dir):
    """Domain-level rollup: per-source doc counts, exact-integer average
    quality, high-quality share, bottom-decile flag
    (operators/textstats.py::source_profile)."""
    return (
        T.source_profile(_docs(spark, sf_dir), key="doc_id")
        .orderBy("source")
    )


def _source_profile_oracle() -> str:
    quality_sql = _quality_oracle()
    # splice: reuse the per-doc quality oracle verbatim as a CTE, then
    # roll it up per source exactly like the engine
    return f"""
WITH perdoc AS ({quality_sql}),
per AS (
  SELECT d.source,
         count(*) AS n_docs,
         CAST(sum(p.n_chars) AS BIGINT) AS total_chars,
         CAST(round(sum(p.quality_micro)::DOUBLE / count(*)) AS BIGINT)
           AS avg_quality_micro,
         CAST(count(*) FILTER (WHERE p.quality_micro >= 500000) AS BIGINT)
           AS n_high_quality
  FROM perdoc p JOIN documents d USING (doc_id)
  GROUP BY d.source
)
SELECT source, n_docs::BIGINT AS n_docs, total_chars, avg_quality_micro,
       n_high_quality,
       CAST(avg_quality_micro <=
            (SELECT CAST(round(quantile_cont(avg_quality_micro::DOUBLE, 0.1))
                    AS BIGINT) FROM per)
            AS INT) AS low_quality
FROM per ORDER BY source"""


PACK_BUDGET = 128


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing manifest: which docs land in
    which fixed-128-token training chunk, where, with how many tokens
    (operators/packing.py — two-level distributed prefix sum, no
    single-task global window)."""
    # raw read (measured 4.2s vs 5.0s spread at sf1.0): the per-doc work is
    # one size(tokens) projection and the two-level prefix-sum chain pays
    # the spread's per-stage task tax across its window/checkpoint stages
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        P.pack_sequences(
            docs, key="doc_id", budget=PACK_BUDGET
        )
        .withColumnRenamed("doc", "doc_id")
        .orderBy("chunk_id", "chunk_offset")
    )


ORACLE_PACK_SEQUENCES = f"""
WITH {_TOK_CTE.lstrip()},
counts AS (SELECT doc_id, count(*)::BIGINT AS n FROM tok GROUP BY doc_id),
cum AS (
  SELECT doc_id, n,
         sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cend
  FROM counts WHERE n > 0
),
spans AS (SELECT doc_id, n, cend - n AS cstart, cend FROM cum),
chunked AS (
  SELECT doc_id, cstart, cend,
         unnest(range(CAST(cstart // {PACK_BUDGET} AS BIGINT),
                      CAST((cend - 1) // {PACK_BUDGET} + 1 AS BIGINT)))
           AS chunk_id
  FROM spans
)
SELECT chunk_id::BIGINT AS chunk_id, doc_id,
       CAST(greatest(cstart, chunk_id * {PACK_BUDGET})
            - chunk_id * {PACK_BUDGET} AS BIGINT) AS chunk_offset,
       CAST(least(cend, (chunk_id + 1) * {PACK_BUDGET})
            - greatest(cstart, chunk_id * {PACK_BUDGET}) AS BIGINT)
         AS n_tokens_in_chunk
FROM chunked
ORDER BY chunk_id, chunk_offset"""


def q_text_char_entropy(spark, sf_dir):
    """Character-trigram Shannon entropy per doc — the gibberish/blob
    hygiene signal; zero-shuffle linear fold
    (operators/textstats.py::char_ngram_entropy)."""
    return _ordered_perdoc(
        T.char_ngram_entropy(_docs_hot(spark, sf_dir), key="doc_id")
        .withColumnRenamed("doc", "doc_id"),
        "doc_id",
    )


ORACLE_CHAR_ENTROPY = """
WITH grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 2, 0) + 1),
                               i -> substr(text, i::INT, 3))) AS g
  FROM documents
),
cnt AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
per AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
         sum(c * log2(c)) AS s
  FROM cnt GROUP BY 1
)
SELECT d.doc_id,
       coalesce(p.n_ngrams, 0) AS n_ngrams,
       CAST(round(CASE WHEN coalesce(p.n_ngrams, 0) > 0
            THEN (log2(p.n_ngrams) - p.s / p.n_ngrams) * 1000000
            ELSE 0 END) AS BIGINT) AS entropy_micro
FROM documents d LEFT JOIN per p USING (doc_id)
ORDER BY d.doc_id"""


def q_curate_corpus_ccnet(spark, sf_dir):
    """Curation v3 — the CCNet composition (Wenzek et al. 2020;
    plans/curation.py, gate 'ccnet'): language filter (en) -> exact-dup
    canonical only -> keep the head/middle perplexity terciles of the
    corpus-own unigram LM (drop the tail, CCNet's quality cut). No minhash
    stage — CCNet's dedup is exact (paragraph hashes). Terciles are
    computed over the FULL corpus (the standalone ``text_ppl_buckets``
    semantics), so the composed oracle splices the standalone oracle
    texts."""
    return _curated(spark, sf_dir, "ccnet", "logppl_micro", "bucket")


def _curate_ccnet_oracle() -> str:
    """Spliced from the standalone langid / ppl-bucket oracle texts (same
    machinery as _curate_oracle — single source of truth)."""
    split_parts = _split_oracle_parts
    lang_ctes, lang_sel = split_parts(_langid_oracle(), "\nSELECT doc_id,")
    ppl_ctes, ppl_sel = split_parts(ORACLE_PPL_BUCKETS, "\nSELECT lp.doc_id,")
    return f"""
WITH {_TOK_CTE.lstrip()},
{lang_ctes},
lang AS ({lang_sel}),
{ppl_ctes},
ppl AS ({ppl_sel}),
exact_h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
exact_g AS (
  SELECT content_hash, min(doc_id) AS canonical_id
  FROM exact_h GROUP BY content_hash
)
SELECT d.doc_id, p.logppl_micro, p.bucket
FROM documents d
JOIN lang l ON l.doc_id = d.doc_id
JOIN ppl p ON p.doc_id = d.doc_id
JOIN exact_h h ON h.doc_id = d.doc_id
JOIN exact_g g ON g.content_hash = h.content_hash
WHERE l.predicted_lang = 'en'
  AND g.canonical_id = d.doc_id
  AND p.bucket <> 'tail'
ORDER BY d.doc_id"""


# -------------------------------------------------- within-doc line dedup
# documents is single-line, so the driver query synthesizes within-doc
# repetition deterministically: line 3 always repeats line 1, line 4
# repeats line 2's NORMALIZED form on even doc_ids ('dup line' vs 'Dup
# Line!' — exercising the normalizer), and every third doc gains two
# empty lines (always kept). The oracle mirrors the dedup itself
# structurally (first-occurrence window), not the synthesis.


def _repeat_docs(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    txt = F.concat(
        F.col("text"),
        F.lit("\nDup Line!\n"),
        F.col("text"),
        F.when(did % 2 == 0, F.lit("\ndup line")).otherwise(
            F.concat(F.lit("\nunique "), did.cast("string"))
        ),
        F.when(did % 3 == 0, F.lit("\n\n")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", txt.alias("text"))


def q_dedup_within_doc_lines(spark, sf_dir):
    """Within-document repetition removal (Gopher/Dolma in-doc pass):
    repeated normalized lines drop, first occurrences keep, order
    preserved — one zero-shuffle per-row fold (operators/dedup.py
    within_doc_line_dedup)."""
    return _ordered_perdoc(
        D.within_doc_line_dedup(_repeat_docs(spark, sf_dir), key="doc_id")
        .withColumnRenamed("doc", "doc_id"),
        "doc_id",
    )


ORACLE_WITHIN_DOC_LINES = """
WITH aug AS (
  SELECT doc_id,
         text || chr(10) || 'Dup Line!' || chr(10) || text
         || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'dup line'
                 ELSE chr(10) || 'unique ' || doc_id END
         || CASE WHEN doc_id % 3 = 0 THEN chr(10) || chr(10) ELSE '' END
           AS text
  FROM documents
),
lines AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, chr(10)), 1) AS BIGINT) AS pos,
         unnest(string_split(text, chr(10))) AS line
  FROM aug
),
normed AS (
  SELECT doc_id, pos, line,
         trim(regexp_replace(regexp_replace(lower(line), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS norm
  FROM lines
),
kept AS (
  SELECT doc_id, pos, line FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id, norm ORDER BY pos) AS rn
    FROM normed
  ) WHERE norm = '' OR rn = 1
),
tot AS (SELECT doc_id, count(*)::BIGINT AS n_lines FROM lines GROUP BY 1),
reb AS (
  SELECT doc_id, count(*)::BIGINT AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_clean
  FROM kept GROUP BY 1
)
SELECT t.doc_id, t.n_lines, r.n_kept,
       t.n_lines - r.n_kept AS n_dropped, r.text_clean
FROM tot t JOIN reb r USING (doc_id)
ORDER BY t.doc_id"""


def q_embedding_label_similarity(spark, sf_dir):
    """Pairwise cosine between per-label embedding centroids
    (operators/similarity.py label_centroid_similarity — exact-integer
    centroid micros, one groupBy(label) shuffle, O(k²) broadcast
    self-join)."""
    return SIM.label_centroid_similarity(_emb(spark, sf_dir))


def _label_sim_oracle(dim: int = 64) -> str:
    d = range(1, dim + 1)
    cols = ",\n       ".join(
        f"CAST(round(sum(CAST(round(CAST(embedding[{i}] AS DOUBLE) * 1000000)"
        f" AS BIGINT)) / count(*)) AS BIGINT) AS c{i}"
        for i in d
    )
    dot = " + ".join(f"(a.c{i} * b.c{i})" for i in d)
    na2 = " + ".join(f"(a.c{i} * a.c{i})" for i in d)
    nb2 = " + ".join(f"(b.c{i} * b.c{i})" for i in d)
    return f"""
WITH cent AS (SELECT label, {cols} FROM embeddings GROUP BY label)
SELECT a.label AS label_a, b.label AS label_b,
       CAST(round(CAST({dot} AS DOUBLE) /
            (sqrt(CAST({na2} AS DOUBLE)) * sqrt(CAST({nb2} AS DOUBLE)))
            * 1000000) AS BIGINT) AS cos_micro
FROM cent a JOIN cent b ON a.label < b.label
ORDER BY label_a, label_b"""


_THIRD, _TWO_THIRDS = 1 / 3, 2 / 3


def q_text_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity terciles over the corpus's own
    unigram LM (operators/textstats.py ppl_buckets): the stratification
    CCNet applies to Common Crawl before quality-weighted sampling."""
    return (
        T.ppl_buckets(_docs(spark, sf_dir), key="doc_id")
        .select(
            F.col("doc").alias("doc_id"), "n_tokens", "logppl_micro", "bucket"
        )
        .orderBy("doc_id")
    )


ORACLE_PPL_BUCKETS = f"""
WITH {_TOK_CTE.lstrip()},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
tot AS (SELECT sum(tf)::DOUBLE AS n FROM tf),
cnt AS (SELECT term, sum(tf) AS c FROM tf GROUP BY term),
lp AS (
  SELECT t.doc_id,
         CAST(sum(t.tf) AS BIGINT) AS n_tokens,
         CAST(round(sum(t.tf * (log2(tot.n) - log2(cnt.c))) / sum(t.tf)
                    * 1000000) AS BIGINT) AS logppl_micro
  FROM tf t JOIN cnt USING (term) CROSS JOIN tot
  GROUP BY t.doc_id
),
thr AS (
  SELECT CAST(round(quantile_cont(logppl_micro::DOUBLE, {_THIRD!r})) AS BIGINT) AS t1,
         CAST(round(quantile_cont(logppl_micro::DOUBLE, {_TWO_THIRDS!r})) AS BIGINT) AS t2
  FROM lp
)
SELECT lp.doc_id, lp.n_tokens, lp.logppl_micro,
       CASE WHEN lp.logppl_micro <= thr.t1 THEN 'head'
            WHEN lp.logppl_micro <= thr.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM lp CROSS JOIN thr
ORDER BY lp.doc_id"""


TFIDF_TOP_K = 3


def q_tfidf_top_terms(spark, sf_dir):
    """Per-doc top-3 TF-IDF keywords (operators/textstats.py
    tfidf_top_terms — map-side tf, hot/cold-split df join, rank on the
    rounded integer score)."""
    return (
        T.tfidf_top_terms(_docs(spark, sf_dir), key="doc_id", k=TFIDF_TOP_K)
        .select(
            F.col("doc").alias("doc_id"), "token", "tf", "tfidf_micro", "rank"
        )
        .orderBy("doc_id", "rank")
    )


ORACLE_TFIDF = f"""
WITH {_TOK_CTE.lstrip()},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.term AS token, CAST(t.tf AS BIGINT) AS tf,
         CAST(round(t.tf * (log2(nd.n) - log2(dfc.df)) * 1000000) AS BIGINT)
           AS tfidf_micro
  FROM tf t JOIN dfc USING (term) CROSS JOIN nd
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY tfidf_micro DESC, token) AS INT) AS rank
  FROM scored
)
SELECT doc_id, token, tf, tfidf_micro, rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}
ORDER BY doc_id, rank"""


BLOCKLIST_SEED = "blocklist"
BLOCKLIST_FRAC_MICRO = 200_000  # ~20% of hosts land on the drop-list


def q_url_blocklist_filter(spark, sf_dir):
    """Host-blocklist pass (the UT1/adult-domains drop every web-corpus
    pipeline runs) over the synthesized crawl URLs: the blocklist is a
    deterministic ~20% of hosts (hash-draw, so the oracle derives
    membership structurally), compressed to a bloom bitmap; pages whose
    host bloom-misses keep map-side, bloom-hits take the exact anti-join
    (operators/weburl.py host_blocklist_filter). Output: per-host kept
    page counts."""
    from ..operators import weburl as W
    from ..operators.sampling import sample_hash_micro

    urls = _synth_urls(spark, sf_dir)
    block = (
        urls.select(W.host_of("url").alias("host"))
        .distinct()
        .filter(
            sample_hash_micro("host", BLOCKLIST_SEED) < BLOCKLIST_FRAC_MICRO
        )
    )
    return (
        W.host_blocklist_filter(urls, block)
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pages"))
        .orderBy("host")
    )


ORACLE_URL_BLOCKLIST = f"""
WITH hosts AS (
  SELECT doc_id, source || '.example.com' AS host FROM documents
)
SELECT host, count(*)::BIGINT AS n_pages
FROM hosts
WHERE ('0x' || substr(md5('{BLOCKLIST_SEED}:' || host), 1, 15))::BIGINT
      % 1000000 >= {BLOCKLIST_FRAC_MICRO}
GROUP BY host
ORDER BY host"""


SUBSTR_WIDTH = 8


def q_dedup_substring_spans(spark, sf_dir):
    """ExactSubstr (Lee et al. 2022) relationally: maximal verbatim token
    spans >= 8 tokens shared between doc pairs — window-gram inverted index
    + gaps-and-islands diagonal merge (operators/dedup.py)."""
    return D.shared_substring_spans(
        _docs_hot(spark, sf_dir), key="doc_id", width=SUBSTR_WIDTH, top=50
    )


ORACLE_SUBSTR_SPANS = f"""
WITH {_TOK_CTE.lstrip()},
toks AS (SELECT doc_id, list(term ORDER BY pos) AS ts FROM tok GROUP BY doc_id),
gr AS (
  SELECT doc_id,
         unnest(range(1, greatest(len(ts) - {SUBSTR_WIDTH} + 1, 0) + 1)) AS i,
         ts
  FROM toks
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(list_slice(ts, i, i + {SUBSTR_WIDTH} - 1), ' ')) AS g
  FROM gr
),
rare AS (
  SELECT g FROM (
    SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY g
  ) WHERE df <= 1000
),
gp AS (SELECT grams.* FROM grams JOIN rare USING (g)),
hits AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
         b.pos - a.pos AS diag
  FROM gp a JOIN gp b ON a.g = b.g AND a.doc_id < b.doc_id
),
runs AS (
  SELECT *, pa - row_number() OVER (
    PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS run
  FROM hits
),
spans AS (
  SELECT doc_a, doc_b, min(pa)::BIGINT AS start_a, min(pb)::BIGINT AS start_b,
         (count(*) + {SUBSTR_WIDTH} - 1)::BIGINT AS span_tokens
  FROM runs GROUP BY doc_a, doc_b, diag, run
)
SELECT doc_a, doc_b, start_a, start_b, span_tokens
FROM spans WHERE span_tokens >= {SUBSTR_WIDTH}
ORDER BY span_tokens DESC, doc_a, doc_b, start_a
LIMIT 50"""


# --------------------------------------------------------------- web URLs
# documents carries no URL column, so the driver queries synthesize one
# DETERMINISTICALLY from (source, doc_id) — messy in exactly the ways real
# crawl URLs are (www + default port + trailing slash + tracking params +
# fragments) — and the oracle derives the expected canonical form
# STRUCTURALLY from the same (source, doc_id), independent of the
# engine's regex implementation; a normalization bug cannot cancel out.

def _synth_urls(spark, sf_dir):
    # raw read, not _docs: the URL family projects only (doc_id, source)
    # (the scan prunes `text` entirely) and its per-row work is a cheap
    # concat, so the read_spread exchange is pure overhead here — measured
    # +0.4-1.0s per url_*/crawl_*/pagerank query at sf1.0 with no
    # compensating parallel win.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.concat(
        F.lit("HTTPS://www."),
        F.col("source"),
        F.lit(".example.com"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/dir/p"),
        (F.col("doc_id") % 7).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("?utm_source=x&b=2&a=1")
        )
        .when(F.col("doc_id") % 3 == 1, F.lit("?a=1&b=2"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", url.alias("url"))


_URL_SYNTH_SQL = """
urls AS (
  SELECT doc_id,
         'HTTPS://www.' || source || '.example.com'
         || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
         || '/dir/p' || (doc_id % 7)
         || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&b=2&a=1'
                 WHEN doc_id % 3 = 1 THEN '?a=1&b=2' ELSE '' END
         || CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END AS url,
         'https://' || source || '.example.com/dir/p' || (doc_id % 7)
         || CASE WHEN doc_id % 3 IN (0, 1) THEN '?a=1&b=2' ELSE '' END
           AS canonical_url
  FROM documents
)"""


def q_url_robots_filter(spark, sf_dir):
    """Robots-exclusion evaluation (RFC 9309 longest-match semantics) of
    every distinct crawl URL against a per-host rule table synthesized
    deterministically from the source id: each host disallows the
    '/dir/p{h}' prefix (h = numeric source suffix mod 7) but re-allows the
    longer '/dir/p{h}?' query variant — so the allow-override, the
    longest-match tie-break, and the default-allow path all discriminate."""
    from ..operators import weburl as W

    src = _docs(spark, sf_dir).select("source").distinct()
    h = (F.substring(F.col("source"), 4, 10).cast("int") % 7).cast("string")
    host = F.concat(F.col("source"), F.lit(".example.com"))
    rules = src.select(
        host.alias("host"),
        F.concat(F.lit("/dir/p"), h).alias("path_prefix"),
        F.lit(False).alias("allow"),
    ).unionByName(
        src.select(
            host.alias("host"),
            F.concat(F.lit("/dir/p"), h, F.lit("?")).alias("path_prefix"),
            F.lit(True).alias("allow"),
        )
    )
    return W.robots_filter(
        _synth_urls(spark, sf_dir).select("url").distinct(), "url", rules
    )


ORACLE_URL_ROBOTS = f"""
WITH {_URL_SYNTH_SQL.strip()},
rb_du AS (
  SELECT url, canonical_url,
         split_part(substr(canonical_url, 9), '/', 1) AS host,
         substr(substr(canonical_url, 9),
                length(split_part(substr(canonical_url, 9), '/', 1)) + 1)
           AS path_q
  FROM (SELECT DISTINCT url, canonical_url FROM urls)
),
rb_src AS (SELECT DISTINCT source FROM documents),
rb_rules AS (
  SELECT source || '.example.com' AS host,
         '/dir/p' || (substr(source, 4)::INT % 7) AS path_prefix,
         FALSE AS allow
  FROM rb_src
  UNION ALL
  SELECT source || '.example.com',
         '/dir/p' || (substr(source, 4)::INT % 7) || '?', TRUE
  FROM rb_src
),
rb_m AS (
  SELECT d.url, d.canonical_url, d.host, r.path_prefix, r.allow
  FROM rb_du d
  LEFT JOIN rb_rules r
    ON r.host = d.host AND starts_with(d.path_q, r.path_prefix)
),
rb_rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY url
    ORDER BY (path_prefix IS NOT NULL) DESC, length(path_prefix) DESC,
             allow::INT DESC, path_prefix DESC) AS rn
  FROM rb_m
)
SELECT url, canonical_url, host,
       coalesce(path_prefix, '') AS matched_prefix,
       CASE WHEN path_prefix IS NULL THEN 1 ELSE allow::INT END AS allowed
FROM rb_rk WHERE rn = 1 ORDER BY url"""


def q_url_dedup(spark, sf_dir):
    """Exact URL dedup on the canonical form over synthesized crawl-messy
    URLs (operators/weburl.py)."""
    from ..operators import weburl as W

    return (
        W.url_duplicates(_synth_urls(spark, sf_dir), "url")
        .orderBy("url", "canonical_url")
    )


ORACLE_URL_DEDUP = f"""
WITH {_URL_SYNTH_SQL.strip()},
groups AS (
  SELECT canonical_url, min(url) AS canonical_of_group,
         count(*)::BIGINT AS group_size
  FROM urls GROUP BY canonical_url
)
SELECT u.url, u.canonical_url, g.canonical_of_group, g.group_size
FROM urls u JOIN groups g USING (canonical_url)
ORDER BY u.url, u.canonical_url"""


def q_url_host_profile(spark, sf_dir):
    """Per-host page counts / corpus share / skew flag over the same
    synthesized URLs — the salting input for url-keyed shuffles."""
    from ..operators import weburl as W

    return W.host_profile(_synth_urls(spark, sf_dir), "url", skew_share=0.05)


CRAWL_PROBE_WAVES = tuple(2**i for i in range(20))


def q_crawl_schedule_profile(spark, sf_dir):
    """Politeness-crawl progress at power-of-two waves (operators/
    weburl.py::crawl_schedule_profile): makespan is the biggest host —
    host skew as wall-clock."""
    from ..operators import weburl as W

    return W.crawl_schedule_profile(
        _synth_urls(spark, sf_dir), "url", probe_waves=CRAWL_PROBE_WAVES
    )


ORACLE_CRAWL_SCHEDULE = f"""
WITH cs_sizes AS (
  SELECT source || '.example.com' AS host, CAST(count(*) AS BIGINT) AS sz
  FROM documents GROUP BY 1
),
cs_probes AS (
  SELECT unnest([{", ".join(str(w) for w in CRAWL_PROBE_WAVES)}]::BIGINT[])
    AS wave
),
cs_total AS (SELECT CAST(sum(sz) AS BIGINT) AS total FROM cs_sizes)
SELECT p.wave,
       CAST(count(*) FILTER (WHERE s.sz >= p.wave) AS BIGINT) AS active_hosts,
       CAST(sum(least(s.sz, p.wave)) AS BIGINT) AS done_urls,
       CAST(sum(least(s.sz, p.wave)) * 1000000 // t.total AS BIGINT)
         AS done_micro
FROM cs_probes p CROSS JOIN cs_sizes s CROSS JOIN cs_total t
GROUP BY p.wave, t.total
ORDER BY p.wave"""


ORACLE_URL_HOSTS = f"""
WITH {_URL_SYNTH_SQL.strip()},
hosts AS (SELECT source || '.example.com' AS host FROM documents),
tot AS (SELECT count(*)::DOUBLE AS n FROM hosts)
SELECT host, count(*)::BIGINT AS n_pages,
       CAST(round(count(*) * 1000000.0 / tot.n) AS BIGINT) AS share_micro,
       CAST(count(*) / tot.n > 0.05 AS INT) AS skewed
FROM hosts CROSS JOIN tot
GROUP BY host, tot.n
ORDER BY n_pages DESC, host"""


def q_url_latest_snapshot(spark, sf_dir):
    """Latest-crawl-wins snapshot dedup: one row per CANONICAL url keeping
    the newest (warc_ts, id) snapshot (operators/weburl.py). Crawl
    timestamps are synthesized deterministically from doc_id so several
    doc_ids share a canonical url at different crawl times."""
    from ..operators import weburl as W

    pages = _synth_urls(spark, sf_dir).withColumn(
        "warc_ts",
        F.expr(
            "timestampadd(HOUR, int(doc_id % 264),"
            " timestamp_ntz'2024-01-01 00:00:00')"
        ),
    )
    return (
        W.latest_snapshot(pages, "url", "warc_ts", "doc_id")
        .orderBy("canonical_url")
    )


ORACLE_URL_LATEST = f"""
WITH {_URL_SYNTH_SQL.strip()},
snaps AS (
  SELECT canonical_url, doc_id,
         TIMESTAMP '2024-01-01' + INTERVAL ((doc_id % 264)) HOUR AS warc_ts
  FROM urls
),
ranked AS (
  SELECT canonical_url, doc_id, warc_ts,
         row_number() OVER (PARTITION BY canonical_url
                            ORDER BY warc_ts DESC, doc_id DESC) AS rn,
         count(*) OVER (PARTITION BY canonical_url) AS n
  FROM snaps
)
SELECT canonical_url, n::BIGINT AS n_snapshots,
       doc_id AS kept_id, warc_ts AS kept_ts
FROM ranked WHERE rn = 1
ORDER BY canonical_url"""


# ------------------------------------------------------------ link graph
# documents carries no link table, so the driver queries synthesize a
# deterministic host-level web graph from doc_id arithmetic (one out-link
# per doc, from the doc's own source-host to a doc_id-derived host) and a
# page-level anchor table (anchor = the doc's first word; docs with even
# id emit a second link with the second word). Both engines derive the
# graph from the same arithmetic, so a graph-construction bug cannot
# cancel against the oracle.


def _synth_edges(spark, sf_dir):
    # raw read — same rationale as _synth_urls: (doc_id, source) only,
    # host-level graph, iterative consumer; the spread exchange only adds
    # per-round task overhead
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat("source", F.lit(".example.com")).alias("src"),
        F.concat(
            F.lit("src"),
            ((F.col("doc_id") * 7 + 3) % 20).cast("string"),
            F.lit(".example.com"),
        ).alias("dst"),
        F.lit(1).alias("w"),
    )


_EDGE_SYNTH_SQL = """
e AS (
  SELECT src, dst, count(*)::BIGINT AS w FROM (
    SELECT source || '.example.com' AS src,
           'src' || ((doc_id * 7 + 3) % 20) || '.example.com' AS dst
    FROM documents
  ) GROUP BY src, dst
)"""


def q_web_pagerank(spark, sf_dir):
    """Fixed-5-iteration integer PageRank over the synthesized host graph
    (operators/linkgraph.py) — scaled-micro floor arithmetic end to end so
    the ranks are bit-identical across engines and partition orders."""
    from ..operators import linkgraph as LG

    return (
        LG.pagerank(_synth_edges(spark, sf_dir), n_iter=5)
        .orderBy(F.desc("rank_micro"), "host")
    )


def _pagerank_oracle(
    n_iter: int = 5,
    damping_pct: int = 85,
    edge_sql: str | None = None,
    tail: str | None = None,
) -> str:
    """Unrolled CTE chain mirroring linkgraph.pagerank round for round.
    ``edge_sql`` must end in a CTE named ``e(src, dst, w)``; ``tail``
    replaces the default final SELECT (referencing r{n_iter})."""
    base = f"{(100 - damping_pct) * 1_000_000} // (100 * n.n_nodes)"
    ctes = [
        (edge_sql or _EDGE_SYNTH_SQL).strip(),
        "nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e)",
        "outw AS (SELECT src, sum(w) AS out_w FROM e GROUP BY src)",
        "n AS (SELECT count(*)::BIGINT AS n_nodes FROM nodes)",
        "r0 AS (SELECT host, CAST(1000000 // n_nodes AS BIGINT)"
        " AS rank_micro FROM nodes, n)",
    ]
    for k in range(1, n_iter + 1):
        ctes.append(f"""r{k} AS (
  SELECT nd.host,
         CAST({base} + {damping_pct} * coalesce(s.c, 0) // 100 AS BIGINT)
           AS rank_micro
  FROM nodes nd CROSS JOIN n
  LEFT JOIN (
    SELECT e.dst AS host, sum((r.rank_micro * e.w) // o.out_w) AS c
    FROM e JOIN r{k - 1} r ON e.src = r.host JOIN outw o ON o.src = e.src
    GROUP BY e.dst) s ON nd.host = s.host
)""")
    final = tail or (
        f"SELECT host, rank_micro FROM r{n_iter}"
        "\nORDER BY rank_micro DESC, host"
    )
    return "WITH " + ",\n".join(ctes) + "\n" + final


TEXTRANK_TOP = 15


def q_text_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau 2004): integer
    PageRank over the word co-occurrence graph — nodes are words, an
    undirected edge joins each ADJACENT token pair, weighted by
    co-occurrence count. Reuses linkgraph.pagerank verbatim (the graph is
    different, the operator is not): 5 integer rank rounds over a
    vocabulary-bounded edge list built map-side from the same zipped-slice
    bigrams as the bigram LM — corpus-scale work is one bigram-count
    shuffle; every rank round shuffles the VOCAB-sized graph only."""
    from ..operators import linkgraph as LG

    bt = T.doc_bigram_tf(_docs(spark, sf_dir), key="doc_id")
    dirp = bt.select(F.split("token", " ").alias("p"), F.col("tf").alias("w")).select(
        F.col("p")[0].alias("src"), F.col("p")[1].alias("dst"), "w"
    )
    edges = dirp.unionByName(
        dirp.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).filter(F.col("src") != F.col("dst"))
    return (
        LG.pagerank(edges, n_iter=5)
        .select(F.col("host").alias("word"), "rank_micro")
        .orderBy(F.desc("rank_micro"), "word")
        .limit(TEXTRANK_TOP)
    )


_TEXTRANK_EDGE_SQL = f"""{_TOK_CTE.lstrip()},
tr_tl AS (SELECT doc_id, list(term ORDER BY pos) AS ts FROM tok GROUP BY doc_id),
tr_bg AS (
  SELECT unnest(list_transform(range(1, len(ts)),
           i -> array_to_string(list_slice(ts, i, i + 1), ' '))) AS bigram
  FROM tr_tl WHERE len(ts) >= 2
),
tr_dir AS (
  SELECT split_part(bigram, ' ', 1) AS src,
         split_part(bigram, ' ', 2) AS dst FROM tr_bg
  UNION ALL
  SELECT split_part(bigram, ' ', 2), split_part(bigram, ' ', 1) FROM tr_bg
),
e AS (
  SELECT src, dst, count(*)::BIGINT AS w FROM tr_dir
  WHERE src <> dst GROUP BY src, dst
)"""


def _synth_links(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    dst = lambda mul, add: F.concat(  # noqa: E731
        F.lit("https://src"),
        ((F.col("doc_id") * mul + add) % 20).cast("string"),
        F.lit(".example.com/p"),
        ((F.col("doc_id") * 3) % 7).cast("string"),
    )
    first = docs.select(
        F.col("doc_id").alias("src"),
        dst(13, 1).alias("dst_url"),
        F.split("text", " ")[0].alias("anchor"),
    )
    second = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("src"),
        dst(5, 2).alias("dst_url"),
        F.split("text", " ")[1].alias("anchor"),
    )
    return first.unionByName(second)


_LINK_SYNTH_SQL = """
links AS (
  SELECT doc_id AS src,
         'https://src' || ((doc_id * 13 + 1) % 20) || '.example.com/p'
           || ((doc_id * 3) % 7) AS dst_url,
         split_part(text, ' ', 1) AS anchor
  FROM documents
  UNION ALL
  SELECT doc_id,
         'https://src' || ((doc_id * 5 + 2) % 20) || '.example.com/p'
           || ((doc_id * 3) % 7),
         split_part(text, ' ', 2)
  FROM documents WHERE doc_id % 2 = 0
)"""


def q_web_anchor_profile(spark, sf_dir):
    """Per-target anchor-text rollup over the synthesized link table
    (operators/linkgraph.py): in-link count, distinct anchors, top anchor
    (ties -> lexicographically greatest, struct-max rule)."""
    from ..operators import linkgraph as LG

    return (
        LG.anchor_profile(_synth_links(spark, sf_dir))
        .orderBy(F.desc("n_links"), "dst_url")
    )


def q_cap_per_host(spark, sf_dir):
    """Domain-balancing cap (keep <= 7 docs per host, deterministic
    hash-ranked pick) over the synthesized crawl urls
    (operators/sampling.py::cap_per_group) — exact two-level salted
    top-k, no single-reducer host window. The oracle derives hosts
    STRUCTURALLY and ranks with one plain window (correct at oracle
    scale), so a bug in either the host parse or the salted selection
    cannot cancel."""
    from ..operators import weburl as W
    from ..operators.sampling import cap_per_group

    pages = _synth_urls(spark, sf_dir).select(
        "doc_id", W.host_of("url").alias("host")
    )
    return _ordered_perdoc(
        cap_per_group(pages, "doc_id", "host", k=7).select(
            F.col("key").alias("doc_id"), F.col("grp").alias("host"),
            "rnk", "kept",
        ),
        "doc_id",
    )


ORACLE_CAP_PER_HOST = """
WITH h AS (
  SELECT doc_id, source || '.example.com' AS host FROM documents
),
r AS (
  SELECT doc_id, host,
         ('0x' || substr(md5('cap:' || doc_id), 1, 15))::BIGINT % 1000000
           AS hm,
         row_number() OVER (PARTITION BY host
                            ORDER BY ('0x' || substr(md5('cap:' || doc_id),
                                      1, 15))::BIGINT % 1000000, doc_id)
           AS trn
  FROM h
)
SELECT doc_id, host,
       CAST(least(trn, 8) AS INT) AS rnk,
       CAST(CASE WHEN trn <= 7 THEN 1 ELSE 0 END AS INT) AS kept
FROM r ORDER BY doc_id"""


def q_crawl_delta(spark, sf_dir):
    """Recrawl snapshot delta (operators/weburl.py::snapshot_delta) over
    two synthesized crawl snapshots: new drops doc_id%7==3 (gone),
    rewrites doc_id%5==0 (modified), and adds a page per doc_id%9==4.
    The oracle derives every expected status STRUCTURALLY from the same
    arithmetic — the engine's digest-join path cannot cancel against it."""
    from ..operators.weburl import snapshot_delta

    docs = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/d"),
        F.col("doc_id").cast("string"),
    )
    old = docs.select(url.alias("url"), "text")
    surviving = docs.filter(F.col("doc_id") % 7 != 3).select(
        url.alias("url"),
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" v2")).otherwise(F.lit("")),
        ).alias("text"),
    )
    added = docs.filter(F.col("doc_id") % 9 == 4).select(
        F.concat(url, F.lit("/new")).alias("url"),
        F.concat(F.lit("fresh "), F.col("doc_id").cast("string")).alias("text"),
    )
    return snapshot_delta(old, surviving.unionByName(added)).orderBy("url")


ORACLE_CRAWL_DELTA = """
SELECT 'https://' || source || '.example.com/d' || doc_id AS url,
       CASE WHEN doc_id % 7 = 3 THEN 'gone'
            WHEN doc_id % 5 = 0 THEN 'modified'
            ELSE 'unchanged' END AS status
FROM documents
UNION ALL
SELECT 'https://' || source || '.example.com/d' || doc_id || '/new', 'added'
FROM documents WHERE doc_id % 9 = 4
ORDER BY url"""


def q_token_budget(spark, sf_dir):
    """Largest-remainder apportionment of a 9973-token training budget
    across sources (operators/sampling.py::token_budget_allocation) —
    quotas sum EXACTLY to the budget; prime budget so remainders bite."""
    from ..operators.sampling import token_budget_allocation

    return token_budget_allocation(
        _docs(spark, sf_dir), "source", budget=9973
    ).orderBy("stratum")


ORACLE_TOKEN_BUDGET = """
WITH t AS (
  SELECT stratum, count(*)::BIGINT AS n_tokens FROM (
    SELECT source AS stratum, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY stratum
),
n AS (SELECT sum(n_tokens) AS nt FROM t),
b AS (
  SELECT stratum, n_tokens,
         CAST(9973 * n_tokens // n.nt AS BIGINT) AS base_quota,
         CAST(9973 * n_tokens % n.nt AS BIGINT) AS rem
  FROM t, n
),
l AS (SELECT 9973 - sum(base_quota) AS lft FROM b),
r AS (SELECT b.*, row_number() OVER (ORDER BY rem DESC, stratum) AS rk FROM b)
SELECT stratum, n_tokens, base_quota,
       CAST(CASE WHEN rk <= l.lft THEN 1 ELSE 0 END AS INT) AS extra,
       CAST(base_quota + CASE WHEN rk <= l.lft THEN 1 ELSE 0 END AS BIGINT)
         AS quota
FROM r, l ORDER BY stratum"""


def q_shard_rebalance_profile(spark, sf_dir):
    """Rendezvous-hash shard manifest at 8 -> 9 shards: per-shard doc
    count and rows-leaving count (operators/sharding.py). Map-side argmax
    over per-shard draws; one rollup shuffle."""
    from ..operators.sharding import shard_assignment

    return (
        shard_assignment(_docs(spark, sf_dir), "doc_id", n_shards=8)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("moved").cast("bigint").alias("n_moved"),
        )
        .orderBy("shard")
    )


ORACLE_SHARD_REBALANCE = """
WITH h8 AS (
  SELECT doc_id,
         max({'h': ('0x' || substr(md5('shard:' || sh || ':' || doc_id),
                    1, 15))::BIGINT, 's': sh})['s'] AS shard
  FROM documents, (SELECT unnest(range(8)) AS sh)
  GROUP BY doc_id
),
h9 AS (
  SELECT doc_id,
         max({'h': ('0x' || substr(md5('shard:' || sh || ':' || doc_id),
                    1, 15))::BIGINT, 's': sh})['s'] AS shard_next
  FROM documents, (SELECT unnest(range(9)) AS sh)
  GROUP BY doc_id
)
SELECT CAST(h8.shard AS INT) AS shard, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN h8.shard <> h9.shard_next THEN 1 ELSE 0 END)::BIGINT
         AS n_moved
FROM h8 JOIN h9 USING (doc_id)
GROUP BY h8.shard ORDER BY shard"""


# ------------------------------------------------------- NFC normalization
# documents text is pure ASCII, so the driver query appends deterministic
# decomposed/singleton sequences from doc_id arithmetic (combining acute,
# combining ring, OHM SIGN singleton, and an fi-ligature that NFC must NOT
# touch); the oracle re-derives the same augmented text and normalizes it
# with DuckDB's utf8proc — an independent implementation of the same
# Unicode standard as Python's unicodedata, so bugs cannot cancel.


def _synth_unicode(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        # explicit escapes: combining acute / combining ring (DECOMPOSED),
        # OHM SIGN singleton, fi-ligature (NFC-invariant control case)
        F.when(did % 2 == 0, F.lit(" e\u0301test")).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.lit(" A\u030a")).otherwise(F.lit("")),
        F.when(did % 5 == 2, F.lit(" \u2126")).otherwise(F.lit("")),
        F.when(did % 7 == 1, F.lit(" fi \ufb01")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", aug.alias("text"))


def q_text_nfc_profile(spark, sf_dir):
    """NFC normalization profile over decomposed-unicode-augmented docs
    (operators/unicode_norm.py) — Arrow-batched map-only pass."""
    from ..operators.unicode_norm import nfc_profile

    return nfc_profile(_synth_unicode(spark, sf_dir)).orderBy("doc_id")


ORACLE_NFC_PROFILE = """
WITH aug AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 2 = 0 THEN ' e' || chr(769) || 'test' ELSE '' END
    || CASE WHEN doc_id % 3 = 0 THEN ' A' || chr(778) ELSE '' END
    || CASE WHEN doc_id % 5 = 2 THEN ' ' || chr(8486) ELSE '' END
    || CASE WHEN doc_id % 7 = 1 THEN ' fi ' || chr(64257) ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       CAST(nfc_normalize(t) <> t AS INT) AS changed,
       length(t)::BIGINT AS chars_before,
       length(nfc_normalize(t))::BIGINT AS chars_after,
       nfc_normalize(t) AS norm_text
FROM aug ORDER BY doc_id"""


ORACLE_ANCHOR_PROFILE = f"""
WITH {_LINK_SYNTH_SQL.strip()},
per_anchor AS (
  SELECT dst_url, anchor, count(*)::BIGINT AS cnt
  FROM links GROUP BY dst_url, anchor
)
SELECT dst_url, sum(cnt)::BIGINT AS n_links, count(*)::BIGINT AS n_anchors,
       max({{'cnt': cnt, 'anchor': anchor}})['anchor'] AS top_anchor,
       max({{'cnt': cnt, 'anchor': anchor}})['cnt'] AS top_anchor_links
FROM per_anchor
GROUP BY dst_url
ORDER BY n_links DESC, dst_url"""


# --------------------------------------------------------------- PII scrub
# documents carries no PII (fixed lowercase vocab), so the driver query
# appends deterministic PII from doc_id arithmetic — one email always, a
# second on doc_id%3==0, a phone except on doc_id%5==0, an IPv4 always —
# and the oracle builds the EXPECTED scrubbed text structurally from the
# same arithmetic (no SQL regex at all): a regex bug in the engine cannot
# cancel against the oracle.


def _synth_pii(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    s = lambda c: c.cast("string")  # noqa: E731
    did = F.col("doc_id")
    pii = F.concat(
        F.col("text"),
        F.lit(" Contact p"), s(did),
        F.lit("@m"), s(did % 7), F.lit(".example.org"),
        F.when(did % 3 == 0, F.concat(F.lit(" cc q"), s(did), F.lit("@n.example.net"))).otherwise(F.lit("")),
        F.when(did % 5 != 0, F.concat(F.lit(" or 555-"), F.lpad(s(did % 10000), 4, "0"))).otherwise(F.lit("")),
        F.lit(" from 10."), s(did % 254), F.lit("."), s(did % 253), F.lit("."), s(did % 252), F.lit("."),
    )
    return docs.select("doc_id", pii.alias("text"))


def q_text_pii_scrub(spark, sf_dir):
    """Email/phone/IPv4 redaction with per-kind counts over synthesized
    PII-bearing documents (operators/pii.py) — map-only JVM regex pass."""
    from ..operators.pii import pii_scrub

    return _ordered_perdoc(
        pii_scrub(_synth_pii(spark, sf_dir), "text")
        .select("doc_id", "n_emails", "n_ips", "n_phones", "scrubbed"),
        "doc_id",
    )


ORACLE_PII_SCRUB = """
SELECT doc_id,
       (1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_emails,
       1::BIGINT AS n_ips,
       (CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_phones,
       text || ' Contact <EMAIL>'
            || CASE WHEN doc_id % 3 = 0 THEN ' cc <EMAIL>' ELSE '' END
            || CASE WHEN doc_id % 5 <> 0 THEN ' or <PHONE>' ELSE '' END
            || ' from <IP>.' AS scrubbed
FROM documents
ORDER BY doc_id"""


def q_ann_range_search(spark, sf_dir):
    """Cosine RANGE search (all vectors with cos >= 0.15 of the query) —
    the radius dual of top-k; scan+filter, no bounded heap
    (operators/similarity.py cosine_range)."""
    qv = _query_vec(spark, sf_dir)
    return _ordered_perdoc(
        SIM.cosine_range(_emb(spark, sf_dir), qv, min_cos_micro=150_000),
        F.desc("cos_micro"), F.asc("vec_id"),
    )


ORACLE_ANN_RANGE = f"""
WITH {_COS_CTE.strip()}
SELECT vec_id, CAST(round(dot / (na * nq) * 1000000) AS BIGINT) AS cos_micro
FROM pairs
WHERE CAST(round(dot / (na * nq) * 1000000) AS BIGINT) >= 150000
ORDER BY cos_micro DESC, vec_id"""


def q_token_count(spark, sf_dir):
    return (
        T.token_counts(_docs(spark, sf_dir), key="doc_id")
        .select(F.col("doc").alias("doc_id"), "ws_tokens", "subword_est")
        .transform(lambda d: _ordered_perdoc(d, "doc_id"))
    )


ORACLE_TOKEN_COUNT = f"""
WITH {_TOK_CTE}
SELECT d.doc_id,
       count(tok.term)::BIGINT AS ws_tokens,
       coalesce(sum(ceil(length(tok.term) / 4.0)), 0)::BIGINT AS subword_est
FROM documents d LEFT JOIN tok ON tok.doc_id = d.doc_id
GROUP BY d.doc_id ORDER BY d.doc_id"""


def q_doc_length_quantiles(spark, sf_dir):
    """Corpus length-distribution profile — the summary a curation run
    reports before picking its Gopher word-count band: exact interpolated
    percentiles of per-doc token counts. ``F.percentile`` (exact, linear
    interpolation — the same definition as DuckDB's quantile_cont) rather
    than percentile_approx: approx sketches are the right call at 10^12
    rows but their outputs are engine-specific, so the oracle-gated form
    is the exact one; at scale swap in percentile_approx with a documented
    error bound. One row out, so the final aggregation collapses to a
    single partition after the per-doc count shuffle."""
    counts = T.token_counts(_docs(spark, sf_dir), key="doc_id").select(
        F.col("ws_tokens").cast("double").alias("n")
    )
    qs = {"p25": 0.25, "p50": 0.5, "p75": 0.75, "p90": 0.9}
    return counts.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.round(F.percentile("n", F.lit(p)) * 1_000_000)
            .cast("long")
            .alias(f"{name}_micro")
            for name, p in qs.items()
        ],
    )


ORACLE_DOC_LENGTH_QUANTILES = f"""
WITH {_TOK_CTE},
counts AS (
  SELECT d.doc_id, count(tok.term)::DOUBLE AS n
  FROM documents d LEFT JOIN tok ON tok.doc_id = d.doc_id
  GROUP BY d.doc_id
)
SELECT count(*) AS n_docs,
       CAST(round(quantile_cont(n, 0.25) * 1000000) AS BIGINT) AS p25_micro,
       CAST(round(quantile_cont(n, 0.5)  * 1000000) AS BIGINT) AS p50_micro,
       CAST(round(quantile_cont(n, 0.75) * 1000000) AS BIGINT) AS p75_micro,
       CAST(round(quantile_cont(n, 0.9)  * 1000000) AS BIGINT) AS p90_micro
FROM counts"""


def q_doc_fingerprint(spark, sf_dir):
    return (
        T.fingerprints(_docs(spark, sf_dir), key="doc_id")
        .select(F.col("doc").alias("doc_id"), "fp_full", "fp_shape", "fp_bucket")
        .transform(lambda d: _ordered_perdoc(d, "doc_id"))
    )


ORACLE_FINGERPRINT = f"""
WITH {_TOK_CTE},
norm AS (
  SELECT doc_id,
         string_agg(term, ' ' ORDER BY pos) AS norm_text
  FROM tok GROUP BY doc_id
),
shape AS (
  SELECT doc_id, array_to_string(list_sort(list(DISTINCT term)), ' ') AS shape_text
  FROM tok GROUP BY doc_id
)
SELECT n.doc_id, md5(n.norm_text) AS fp_full, md5(s.shape_text) AS fp_shape,
       ('0x' || substr(md5(n.norm_text), 1, 15))::BIGINT AS fp_bucket
FROM norm n JOIN shape s USING (doc_id)
ORDER BY n.doc_id"""


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: banded 60-bit signatures (4 x 15-bit LSH
    bands) -> candidate equi-join -> bit_count(xor) hamming verify <= 3."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    sims = D.simhash(docs, key="doc_id")
    return (
        D.simhash_near_pairs(sims)
        .select(F.col("doc_a").alias("doc_a"), "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


ORACLE_SIMHASH_PAIRS = f"""
WITH {_TOK_CTE},
tf AS (
  SELECT doc_id, term, count(*) AS tf,
         ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
  FROM tok WHERE doc_id < 500 GROUP BY doc_id, term
),
bits AS (SELECT unnest(range(0, 60)) AS b),
contrib AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b::INT) & 1 = 1 THEN tf ELSE -tf END) AS s
  FROM tf CROSS JOIN bits GROUP BY doc_id, b
),
sim AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << b::INT) ELSE 0 END)::BIGINT AS simhash
  FROM contrib GROUP BY doc_id
),
bands AS (
  SELECT doc_id, simhash, band,
         (simhash >> (band::INT * 15)) & 32767 AS band_val
  FROM sim CROSS JOIN (SELECT unnest(range(0, 4)) AS band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sh_a, b.simhash AS sh_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b))::INT AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
ORDER BY doc_a, doc_b"""


# --------------------------------------------- corpus line dedup + sampling

_BOILER_HEADER = "Shared Cookie Banner -- Accept ALL cookies!"
LINE_DEDUP_MAX_DF = 5


def _boiler_docs(spark, sf_dir):
    """documents wrapped in deterministic synthetic boilerplate (a global
    header line + a per-source footer line) — the corpus is single-line
    per doc, so the line-dedup signal is synthesized identically in both
    engines (the url-ops pattern): header df = n_docs, footer df = docs
    per source, body df = 1."""
    return _docs(spark, sf_dir).selectExpr(
        "doc_id",
        f"concat('{_BOILER_HEADER}', chr(10), text, chr(10), "
        "'footer of ', source) AS text",
    )


def q_dedup_lines(spark, sf_dir):
    """CCNet-style corpus-level boilerplate-line removal (Wenzek et al.
    2020): lines recurring in > LINE_DEDUP_MAX_DF distinct docs drop,
    documents are stitched back in order (operators/dedup.py:
    line_dedup_corpus — hot/cold skew-split frequency join)."""
    return (
        D.line_dedup_corpus(
            _boiler_docs(spark, sf_dir), key="doc_id",
            max_line_df=LINE_DEDUP_MAX_DF,
        )
        .select(
            F.col("doc").alias("doc_id"),
            "n_lines", "n_kept", "n_dropped", "text_clean",
        )
        .orderBy("doc_id")
    )


ORACLE_DEDUP_LINES = f"""
WITH aug AS (
  SELECT doc_id,
         '{_BOILER_HEADER}' || chr(10) || text || chr(10)
           || 'footer of ' || source AS text
  FROM documents
),
lines AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, chr(10)), 1) AS BIGINT) AS pos,
         unnest(string_split(text, chr(10))) AS line
  FROM aug
),
normed AS (
  SELECT doc_id, pos, line,
         trim(regexp_replace(regexp_replace(lower(line), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS norm
  FROM lines
),
dfreq AS (
  SELECT norm, count(DISTINCT doc_id) AS df FROM normed
  WHERE norm != '' GROUP BY norm
),
kept AS (
  SELECT n.doc_id, n.pos, n.line
  FROM normed n LEFT JOIN dfreq USING (norm)
  WHERE n.norm = '' OR dfreq.df <= {LINE_DEDUP_MAX_DF}
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT a.doc_id,
       CAST(len(string_split(a.text, chr(10))) AS BIGINT) AS n_lines,
       CAST(coalesce(g.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(len(string_split(a.text, chr(10))) - coalesce(g.n_kept, 0) AS BIGINT)
         AS n_dropped,
       coalesce(g.text_clean, '') AS text_clean
FROM aug a LEFT JOIN agg g USING (doc_id)
ORDER BY a.doc_id"""


SAMPLE_FRACTIONS = {"en": 0.25, "de": 0.5, "fr": 0.1, "zh": 1.0}
SAMPLE_DEFAULT = 0.02
SAMPLE_SEED = "mix-v1"


def q_sample_stratified(spark, sf_dir):
    """Deterministic hash-Bernoulli stratified sample by lang — the
    reproducible training-mixture primitive (operators/sampling.py):
    membership is a pure function of (doc_id, seed, fractions), zero
    shuffles, identical in every engine/run/partitioning."""
    from ..operators.sampling import stratified_sample

    return (
        stratified_sample(
            _docs(spark, sf_dir), key="doc_id", strata_col="lang",
            fractions=SAMPLE_FRACTIONS, default_fraction=SAMPLE_DEFAULT,
            seed=SAMPLE_SEED,
        )
        .select("doc_id", "lang", "source", "sample_hash_micro")
        .orderBy("doc_id")
    )


SPLIT_TRAIN_FRAC = 0.9
SPLIT_SEED = "split"


def q_split_train_holdout(spark, sf_dir):
    """Leakage-aware train/holdout split by SOURCE (the host analog on
    this corpus): every doc of a source lands on the same side, so
    near-duplicate pages within a site can't straddle the split
    (operators/sampling.py group_holdout_split — map-side, zero shuffle,
    reproducible across engines and re-executed tasks)."""
    from ..operators.sampling import group_holdout_split

    return _ordered_perdoc(
        group_holdout_split(
            _docs(spark, sf_dir), group_col="source",
            train_frac=SPLIT_TRAIN_FRAC, seed=SPLIT_SEED,
        ).select("doc_id", "source", "split"),
        "doc_id",
    )


ORACLE_SPLIT = f"""
SELECT doc_id, source,
       CASE WHEN ('0x' || substr(md5('{SPLIT_SEED}:' || source), 1, 15))::BIGINT
                 % 1000000 < {int(SPLIT_TRAIN_FRAC * 1_000_000)}
            THEN 'train' ELSE 'holdout' END AS split
FROM documents
ORDER BY doc_id"""


# ------------------------------------------------------- encoding anomalies
# documents is pure-ASCII by construction, so the driver query appends
# deterministic anomalies from doc_id arithmetic — U+FFFD pairs, a BEL
# control char, a mojibake 'Ã©tÃ©' run, a legitimate non-ASCII word — and
# the oracle computes the expected counters STRUCTURALLY from the same
# arithmetic (the PII-scrub pattern: an engine regex bug cannot cancel).


def _synth_encoding(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    noisy = F.concat(
        F.col("text"),
        F.when(did % 4 == 0, F.lit(" ��")).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit("\x07")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit(" Ã©tÃ©")).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.lit(" naïve")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", noisy.alias("text"))


def q_text_encoding_anomaly(spark, sf_dir):
    """Encoding-anomaly profile (replacement chars, control chars,
    UTF-8-as-Latin-1 mojibake pairs, non-ASCII rate) over synthesized
    anomaly-bearing docs — map-only JVM regexp_count passes
    (operators/textstats.py encoding_anomalies)."""
    return _ordered_perdoc(
        T.encoding_anomalies(_synth_encoding(spark, sf_dir), key="doc_id")
        .withColumnRenamed("doc", "doc_id"),
        "doc_id",
    )


ORACLE_ENCODING = """
SELECT doc_id,
       (CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END)::BIGINT AS n_replacement,
       (CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_control,
       (CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END)::BIGINT AS n_mojibake,
       (CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END
        + CASE WHEN doc_id % 5 = 0 THEN 4 ELSE 0 END
        + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_nonascii,
       (CASE WHEN doc_id % 4 <> 0 AND doc_id % 7 <> 0 AND doc_id % 5 <> 0
             THEN 1 ELSE 0 END)::INT AS clean
FROM documents
ORDER BY doc_id"""


def _sample_oracle() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {int(round(v * 1_000_000))}"
        for k, v in sorted(SAMPLE_FRACTIONS.items())
    )
    return f"""
WITH hashed AS (
  SELECT doc_id, lang, source,
         ('0x' || substr(md5('{SAMPLE_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS sample_hash_micro
  FROM documents
)
SELECT doc_id, lang, source, sample_hash_micro
FROM hashed
WHERE sample_hash_micro <
      (CASE lang {cases} ELSE {int(round(SAMPLE_DEFAULT * 1_000_000))} END)
ORDER BY doc_id"""


def q_embedding_quantize(spark, sf_dir):
    """Per-vector int8 quantization profile (scale, saturation count, L2
    reconstruction error) — zero-shuffle map pass
    (operators/similarity.py::quantize_int8)."""
    emb = _emb(spark, sf_dir)
    return _ordered_perdoc(SIM.quantize_int8(emb), "vec_id")


ORACLE_QUANTIZE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
),
m AS (
  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS ma FROM v
)
SELECT vec_id,
  CAST(round(ma / 127 * 1000000) AS BIGINT) AS scale_micro,
  CAST(len(list_filter(e, x ->
    abs(CASE WHEN ma = 0 THEN 0
             ELSE CAST(round(x / ma * 127) AS BIGINT) END) = 127))
    AS BIGINT) AS n_saturated,
  CAST(round(sqrt(list_sum(list_transform(e, x ->
    power(x - (CASE WHEN ma = 0 THEN 0
               ELSE CAST(round(x / ma * 127) AS BIGINT) END) * ma / 127, 2))))
    * 1000000) AS BIGINT) AS l2_err_micro
FROM m ORDER BY vec_id"""


PMI_WINDOW = 3
PMI_MIN_COUNT = 5
PMI_TOP_K = 20


def q_cooccurrence_pmi(spark, sf_dir):
    """Top-k word-pair PMI over a +-3 window — the co-occurrence-matrix
    construction under count-based embeddings and collocation detection
    (operators/textstats.py::cooccurrence_pmi)."""
    return T.cooccurrence_pmi(
        _docs(spark, sf_dir),
        key="doc_id",
        window=PMI_WINDOW,
        min_count=PMI_MIN_COUNT,
        top_k=PMI_TOP_K,
    )


ORACLE_PMI = f"""
WITH {_TOK_CTE.lstrip()},
pr AS (
  SELECT CASE WHEN a.term <= b.term THEN a.term || ' ' || b.term
              ELSE b.term || ' ' || a.term END AS pair
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + {PMI_WINDOW}
),
pc AS (
  SELECT pair, CAST(count(*) AS BIGINT) AS c_ab
  FROM pr GROUP BY pair HAVING count(*) >= {PMI_MIN_COUNT}
),
np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pr),
uni AS (SELECT term AS w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY term),
nu AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni)
SELECT p.pair, p.c_ab, ua.c AS c_a, ub.c AS c_b,
  CAST(round(log2((p.c_ab::DOUBLE / np.n)
                  / ((ua.c::DOUBLE / nu.n) * (ub.c::DOUBLE / nu.n)))
             * 1000000) AS BIGINT) AS pmi_micro
FROM pc p
JOIN uni ua ON ua.w = string_split(p.pair, ' ')[1]
JOIN uni ub ON ub.w = string_split(p.pair, ' ')[2]
CROSS JOIN np CROSS JOIN nu
ORDER BY pmi_micro DESC, pair
LIMIT {PMI_TOP_K}"""


def q_embedding_kmeans_step(spark, sf_dir):
    """One exact Lloyd iteration from the IVF seed quantizer: broadcast
    argmin assignment + a single wide centroid-update aggregate
    (operators/similarity.py::kmeans_step)."""
    emb = _emb(spark, sf_dir)
    return (
        SIM.kmeans_step(emb)
        .repartition(1)
        .sortWithinPartitions("cluster", "dim")
    )


def _kmeans_oracle(dim: int = 64) -> str:
    """Mirrors the assignment CTE of the IVF oracle, then recomputes the
    codebook from exact integer milli sums."""
    seed_bucket = _bucket_sql("embedding", SIM.ivf_seed_dims(SIM.IVF_N_LIST))
    d2 = (
        "list_sum(list_transform(range(1, {d} + 1), "
        "j -> ({a}[j]::DOUBLE - {b}[j]::DOUBLE) * ({a}[j]::DOUBLE - {b}[j]::DOUBLE)))"
    )
    return f"""
WITH wb AS (SELECT vec_id, embedding, ({seed_bucket}) AS sb FROM embeddings),
seed AS (SELECT sb, min(vec_id) AS scid FROM wb GROUP BY sb),
cents AS (
  SELECT w.vec_id AS cid, w.embedding AS cv
  FROM wb w JOIN seed s ON w.vec_id = s.scid
),
dists AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {d2.format(d=dim, a='e.embedding', b='c.cv')} AS d2
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, embedding, cid AS cluster
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2 ASC, cid ASC) AS rn
    FROM dists
  )
  WHERE rn = 1
),
m AS (
  SELECT cluster,
         unnest(list_transform(embedding,
                x -> CAST(round(x::DOUBLE * 1000) AS BIGINT))) AS v,
         generate_subscripts(embedding, 1) AS d
  FROM assign
),
n AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members FROM assign GROUP BY cluster)
SELECT m.cluster, n.n_members, CAST(m.d - 1 AS INT) AS dim,
       CAST(sum(m.v) AS BIGINT) AS sum_milli,
       CAST(round(CAST(sum(m.v) AS DOUBLE) / n.n_members) AS BIGINT)
         AS centroid_milli
FROM m JOIN n USING (cluster)
GROUP BY m.cluster, n.n_members, m.d
ORDER BY cluster, dim"""


def q_text_bigram_novelty(spark, sf_dir):
    """Per-doc fraction of distinct bigrams first seen in this doc — the
    template-echo screen (operators/textstats.py::bigram_novelty)."""
    return _ordered_perdoc(
        T.bigram_novelty(_docs(spark, sf_dir), key="doc_id")
        .withColumnRenamed("doc", "doc_id"),
        "doc_id",
    )


ORACLE_BIGRAM_NOVELTY = f"""
WITH {_TOK_CTE.lstrip()},
bg AS (
  SELECT DISTINCT a.doc_id, a.term || ' ' || b.term AS bg
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
f AS (SELECT bg, min(doc_id) AS first_doc FROM bg GROUP BY bg)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(round(sum(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END)
                  * 1000000.0 / count(*)) AS BIGINT) AS novelty_micro
FROM bg b JOIN f USING (bg)
GROUP BY b.doc_id
ORDER BY b.doc_id"""


def q_embedding_power_iteration(spark, sf_dir):
    """Dominant principal direction of the embedding matrix — two exact
    integer power-iteration steps, two global aggregates total
    (operators/similarity.py::power_iteration_component)."""
    emb = _emb(spark, sf_dir)
    return SIM.power_iteration_component(emb).repartition(1).sortWithinPartitions("dim")


ORACLE_POWER_ITERATION = """
WITH a AS (
  SELECT vec_id,
         unnest(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS v,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings
),
u1 AS (SELECT vec_id, CAST(sum(v) AS BIGINT) AS u FROM a GROUP BY vec_id),
z1 AS (
  SELECT d, CAST(sum(a.v * u1.u) AS BIGINT) AS z
  FROM a JOIN u1 USING (vec_id) GROUP BY d
),
z1s AS (SELECT d, CAST(floor(z / 1000000.0) AS BIGINT) AS zs FROM z1),
u2 AS (
  SELECT a.vec_id, CAST(sum(a.v * z1s.zs) AS BIGINT) AS u
  FROM a JOIN z1s USING (d) GROUP BY a.vec_id
),
z2 AS (
  SELECT d, CAST(sum(a.v * u2.u) AS BIGINT) AS comp
  FROM a JOIN u2 USING (vec_id) GROUP BY d
)
SELECT CAST(d - 1 AS INT) AS dim, comp AS component FROM z2 ORDER BY dim"""


def q_mix_sources(spark, sf_dir):
    """Uniform source-mixing manifest: every source downsampled to the
    smallest source's size in expectation, membership by deterministic
    hash (operators/sampling.py::balance_strata)."""
    from ..operators.sampling import balance_strata

    return (
        balance_strata(_docs(spark, sf_dir), key="doc_id", strata_col="source")
        .repartition(1)
        .sortWithinPartitions("source")
    )


ORACLE_MIX_SOURCES = """
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_total FROM documents GROUP BY source
),
t AS (SELECT min(n_total) AS target FROM per),
rates AS (
  SELECT source, n_total,
         CAST(round(t.target * 1000000.0 / n_total) AS BIGINT) AS rate_micro
  FROM per, t
),
kept AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
  FROM documents d JOIN rates r USING (source)
  WHERE ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        % 1000000 < r.rate_micro
  GROUP BY d.source
)
SELECT r.source, r.n_total, r.rate_micro,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
FROM rates r LEFT JOIN kept k USING (source)
ORDER BY r.source"""


def q_vocab_coverage(spark, sf_dir):
    """Top-k vocabulary coverage curve — what fraction of token
    occurrences the k most frequent terms cover
    (operators/textstats.py::vocab_coverage)."""
    return T.vocab_coverage(_docs(spark, sf_dir), key="doc_id")


ORACLE_VOCAB_COVERAGE = """
WITH t AS (
  SELECT w FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
  ) WHERE w <> ''
),
c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY w),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
r AS (
  SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS k,
         CAST(sum(cnt) OVER (ORDER BY cnt DESC, w
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM c
)
SELECT k, w AS kth_term, cum_tokens,
       CAST(round(CAST(cum_tokens AS DOUBLE) * 1000000 / tot.n) AS BIGINT)
         AS covered_micro
FROM r, tot WHERE k IN (1, 2, 4, 8, 16, 32) ORDER BY k"""


def q_text_zipf_fit(spark, sf_dir):
    """Zipf slope/R^2 of the unigram distribution (operators/textstats.py::
    zipf_fit) — decimal-exact OLS sums, float only in the final
    divisions."""
    # raw read — vocabulary-bounded word counts partial-aggregate map-side
    # (the bpe_merges rationale); measured 1.05s raw vs 1.18s spread at sf1.0
    return T.zipf_fit(spark.read.parquet(f"{sf_dir}/documents.parquet"))


ORACLE_ZIPF_FIT = """
WITH zt AS (
  SELECT w FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
  ) WHERE w <> ''
),
zc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM zt GROUP BY w),
zr AS (SELECT row_number() OVER (ORDER BY cnt DESC, w) AS k, cnt FROM zc),
zp AS (
  SELECT CAST(round(ln(k::DOUBLE) * 1000000) AS BIGINT) AS x,
         CAST(round(ln(cnt::DOUBLE) * 1000000) AS BIGINT) AS y
  FROM zr
),
za AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM zp
),
zs AS (
  SELECT CAST(n AS BIGINT) AS n_terms,
         CAST(n * sxy - sx * sy AS DOUBLE) AS num,
         CAST(n * sxx - sx * sx AS DOUBLE) AS den,
         CAST(n * syy - sy * sy AS DOUBLE) AS deny,
         sx::DOUBLE AS sxd, sy::DOUBLE AS syd, n::DOUBLE AS nd
  FROM za
)
SELECT n_terms,
       CASE WHEN den = 0 THEN NULL
            ELSE CAST(round(num / den * 1000000) AS BIGINT) END AS slope_micro,
       CASE WHEN den = 0 THEN NULL
            ELSE CAST(round((syd - (num / den) * sxd) / nd) AS BIGINT)
       END AS intercept_micro,
       CASE WHEN den = 0 THEN NULL
            WHEN deny = 0 THEN CAST(1000000 AS BIGINT)
            ELSE CAST(round(num * num / (den * deny) * 1000000) AS BIGINT)
       END AS r2_micro
FROM zs"""


def q_bpe_merges(spark, sf_dir):
    """First six BPE merge rules learned from the corpus word-frequency
    dict (Sennrich et al. 2016) — the tokenizer-training stage that touches
    the full corpus is the single word-count shuffle; every merge round runs
    on the vocabulary-bounded dict (operators/bpe.py)."""
    # raw read (measured 3.6s vs 4.5s spread at sf1.0): the single corpus
    # pass partial-aggregates map-side into the vocabulary-bounded word
    # dict, so the spread exchange buys little and taxes the 6 dict-level
    # merge-round stages that follow
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return B.bpe_merges(docs, key="doc_id", n_merges=B.N_MERGES)


def q_bpe_encode(spark, sf_dir):
    """Encode the corpus with its own trained BPE merges and report
    per-doc subword counts (operators/bpe.py::bpe_encode) — the word dict
    doubles as the word -> n_subwords lookup, joined back through the
    hot/cold skew split."""
    return _ordered_perdoc(
        B.bpe_encode(_docs(spark, sf_dir), key="doc_id",
                     n_merges=B.N_MERGES),
        "doc",
    )


def _bpe_encode_oracle(n_merges: int = B.N_MERGES) -> str:
    """Mirror of bpe_encode: the training chain with the word carried
    through every rewrite (wfw1..wfw{n+1}), then an occurrence-level join
    (fine at oracle scale) and the same integer floor arithmetic."""
    ctes = [
        """toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
  ) WHERE w <> ''
)""",
        """wfw1 AS (
  SELECT w, '||' || array_to_string(string_split(w, ''), '||') || '||' AS s,
         CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY w
)""",
    ]
    for r in range(1, n_merges + 1):
        ctes.append(f"""pr{r} AS (
  SELECT list_extract(t.syms, u.i) AS l, list_extract(t.syms, u.i + 1) AS r,
         CAST(sum(t.cnt) AS BIGINT) AS pc
  FROM (SELECT string_split(trim(s, '|'), '||') AS syms, cnt FROM wfw{r}) t,
       unnest(range(1, len(t.syms))) AS u(i)
  GROUP BY 1, 2
)""")
        ctes.append(
            f"best{r} AS (SELECT l, r, pc FROM pr{r} ORDER BY pc DESC, l, r LIMIT 1)"
        )
        ctes.append(f"""wfw{r + 1} AS (
  SELECT t.w, replace(t.s, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS s, t.cnt AS cnt
  FROM wfw{r} t, best{r} b
)""")
    ctes.append(f"""vocab AS (
  SELECT w, CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS n_sub
  FROM wfw{n_merges + 1}
)""")
    return (
        "WITH " + ",\n".join(ctes)
        + """
SELECT t.doc_id AS doc, count(*)::BIGINT AS n_words,
       CAST(sum(v.n_sub) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(v.n_sub) * 1000000 // count(*) AS BIGINT)
         AS tokens_per_word_micro
FROM toks t JOIN vocab v USING (w)
GROUP BY t.doc_id ORDER BY doc"""
    )


def _bpe_oracle(n_merges: int = B.N_MERGES) -> str:
    """Chained-CTE mirror of the merge loop: per round, pair counts from
    the double-pipe symbol strings, deterministic argmax (count desc, pair
    asc), then the same left-to-right non-overlapping ``replace``."""
    ctes = [
        """toks AS (
  SELECT w FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
  ) WHERE w <> ''
)""",
        """wf1 AS (
  SELECT '||' || array_to_string(string_split(w, ''), '||') || '||' AS s,
         CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY w
)""",
    ]
    for r in range(1, n_merges + 1):
        ctes.append(f"""pr{r} AS (
  SELECT list_extract(t.syms, u.i) AS l, list_extract(t.syms, u.i + 1) AS r,
         CAST(sum(t.cnt) AS BIGINT) AS pc
  FROM (SELECT string_split(trim(s, '|'), '||') AS syms, cnt FROM wf{r}) t,
       unnest(range(1, len(t.syms))) AS u(i)
  GROUP BY 1, 2
)""")
        ctes.append(
            f"best{r} AS (SELECT l, r, pc FROM pr{r} ORDER BY pc DESC, l, r LIMIT 1)"
        )
        if r < n_merges:
            ctes.append(f"""wf{r + 1} AS (
  SELECT replace(t.s, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS s, t.cnt AS cnt
  FROM wf{r} t, best{r} b
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS merge_rank, l AS lhs, r AS rhs, pc AS pair_count FROM best{r}"
        for r in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT * FROM (\n{union}\n) ORDER BY merge_rank"


def q_quality_classifier(spark, sf_dir):
    """fasttext-style hashed linear quality classifier: score every doc
    map-side (zero shuffles), keep = score >= 0. The GPT-3/LLaMA-style
    model-based filter stage with a deterministic weight stand-in."""
    return (
        T.quality_classifier(_docs_hot(spark, sf_dir), key="doc_id")
        .select(
            F.col("doc").alias("doc_id"),
            "n_tokens",
            "clf_score",
            "clf_margin_micro",
            "keep",
        )
        .transform(lambda d: _ordered_perdoc(d, "doc_id"))
    )


def _quality_classifier_oracle(n_buckets: int = T.CLF_BUCKETS) -> str:
    return f"""
WITH {_TOK_CTE.lstrip()},
clf_w AS (
  SELECT doc_id,
         ((('0x' || substr(md5('w' ||
             ((('0x' || substr(md5(term), 1, 15))::BIGINT % {n_buckets})::VARCHAR)
           ), 1, 8))::BIGINT % {T.CLF_WEIGHT_MOD}) - 1000) AS wt
  FROM tok
),
clf_agg AS (
  SELECT doc_id, count(*) AS n_tokens, sum(wt) AS clf_score
  FROM clf_w GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(a.clf_score, 0)::BIGINT AS clf_score,
       CASE WHEN coalesce(a.n_tokens, 0) > 0
            THEN CAST(floor(a.clf_score * 1000000.0 / a.n_tokens) AS BIGINT)
            ELSE 0 END AS clf_margin_micro,
       (coalesce(a.clf_score, 0) >= 0)::INT AS keep
FROM documents d LEFT JOIN clf_agg a ON a.doc_id = d.doc_id
ORDER BY d.doc_id"""


def q_dsir_importance(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): hashed-bigram importance
    of every doc vs the lang='en' target slice — the importance-resampling
    scorer for domain-targeted data selection."""
    return (
        T.dsir_importance(
            _docs(spark, sf_dir), key="doc_id", target=F.col("lang") == "en"
        )
        .withColumnRenamed("doc", "doc_id")
        .transform(lambda d: _ordered_perdoc(d, "doc_id"))
    )


def _dsir_oracle(n_buckets: int = T.DSIR_BUCKETS) -> str:
    return f"""
WITH {_TOK_CTE.lstrip()},
dsir_big AS (
  SELECT t1.doc_id,
         ('0x' || substr(md5(t1.term || ' ' || t2.term), 1, 15))::BIGINT
           % {n_buckets} AS bucket
  FROM tok t1 JOIN tok t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
),
dsir_feats AS (
  SELECT doc_id, bucket, count(*)::BIGINT AS tf
  FROM dsir_big GROUP BY doc_id, bucket
),
dsir_cr AS (SELECT bucket, sum(tf) AS c_r FROM dsir_feats GROUP BY bucket),
dsir_ct AS (
  SELECT f.bucket, sum(f.tf) AS c_t
  FROM dsir_feats f JOIN documents d ON d.doc_id = f.doc_id
  WHERE d.lang = 'en' GROUP BY f.bucket
),
dsir_tot AS (
  SELECT (SELECT coalesce(sum(c_r), 0) FROM dsir_cr) AS r_tot,
         (SELECT coalesce(sum(c_t), 0) FROM dsir_ct) AS t_tot
),
dsir_lr AS (
  SELECT b.bucket,
         CAST(round((log2(coalesce(ct.c_t, 0) + 1) - log2(t.t_tot + {n_buckets})
           - log2(coalesce(cr.c_r, 0) + 1) + log2(t.r_tot + {n_buckets}))
           * 1000000000) AS BIGINT) AS w_nano
  FROM (SELECT unnest(range({n_buckets})) AS bucket) b
  LEFT JOIN dsir_cr cr ON cr.bucket = b.bucket
  LEFT JOIN dsir_ct ct ON ct.bucket = b.bucket, dsir_tot t
)
SELECT f.doc_id,
       sum(f.tf)::BIGINT AS n_feats,
       CAST(round(sum(f.tf * l.w_nano) / 1000.0) AS BIGINT)
         AS dsir_logw_micro,
       CAST(round(sum(f.tf * l.w_nano) / (1000.0 * sum(f.tf))) AS BIGINT)
         AS dsir_per_feat_micro
FROM dsir_feats f JOIN dsir_lr l ON l.bucket = f.bucket
GROUP BY f.doc_id ORDER BY f.doc_id"""


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters: corpus token counts through a
    3x32 CMS (constant-size summary of a 10^12-token stream) vs the exact
    truth column; CMS never undercounts."""
    return SK.cms_heavy_hitters(_docs(spark, sf_dir), key="doc_id")


def _cms_oracle(
    depth: int = SK.CMS_DEPTH, width: int = SK.CMS_WIDTH, top_k: int = 20
) -> str:
    return f"""
WITH {_TOK_CTE.lstrip()},
cms_upd AS (
  SELECT rr.r,
         ('0x' || substr(md5(rr.r::VARCHAR || ':' || t.term), 1, 15))::BIGINT
           % {width} AS bucket
  FROM tok t CROSS JOIN (SELECT unnest(range({depth})) AS r) rr
),
cms_cells AS (
  SELECT r, bucket, count(*)::BIGINT AS cell
  FROM cms_upd GROUP BY r, bucket
),
cms_exact AS (
  SELECT term AS token, count(*)::BIGINT AS exact_count FROM tok GROUP BY term
),
cms_est AS (
  SELECT e.token, e.exact_count, min(c.cell) AS cms_count
  FROM cms_exact e
  CROSS JOIN (SELECT unnest(range({depth})) AS r) rr
  JOIN cms_cells c
    ON c.r = rr.r
   AND c.bucket = ('0x' || substr(md5(rr.r::VARCHAR || ':' || e.token), 1, 15))::BIGINT
         % {width}
  GROUP BY e.token, e.exact_count
)
SELECT token, exact_count, cms_count::BIGINT AS cms_count,
       (cms_count - exact_count)::BIGINT AS overcount
FROM cms_est ORDER BY exact_count DESC, token LIMIT {top_k}"""


def q_embedding_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): cluster-then-pairwise semantic dedup —
    within-cluster cosine above tau drops the higher id."""
    return SIM.semdedup(_emb_hot(spark, sf_dir))


def _semdedup_oracle(
    k: int = SIM.SEMDEDUP_K, tau: int = SIM.SEMDEDUP_TAU_MICRO
) -> str:
    return f"""
WITH sd_iv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) AS v
  FROM embeddings
),
sd_el AS (
  SELECT vec_id, generate_subscripts(v, 1) AS d, unnest(v) AS x FROM sd_iv
),
sd_ce AS (
  SELECT vec_id AS cid, generate_subscripts(v, 1) AS d, unnest(v) AS x
  FROM sd_iv WHERE vec_id < {k}
),
sd_d AS (
  SELECT e.vec_id, c.cid, sum((e.x - c.x) * (e.x - c.x)) AS d2
  FROM sd_el e JOIN sd_ce c USING (d) GROUP BY e.vec_id, c.cid
),
sd_asg AS (
  SELECT vec_id, cid AS cluster
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2 ASC, cid ASC) AS rn
        FROM sd_d)
  WHERE rn = 1
),
sd_n2 AS (SELECT vec_id, sum(x * x) AS n2 FROM sd_el GROUP BY vec_id),
sd_pairs AS (
  SELECT bb.vec_id AS vid, sum(ea.x * eb.x) AS dot,
         any_value(na.n2) AS na2, any_value(nb.n2) AS nb2,
         aa.vec_id AS ida
  FROM sd_asg aa
  JOIN sd_asg bb ON bb.cluster = aa.cluster AND aa.vec_id < bb.vec_id
  JOIN sd_el ea ON ea.vec_id = aa.vec_id
  JOIN sd_el eb ON eb.vec_id = bb.vec_id AND eb.d = ea.d
  JOIN sd_n2 na ON na.vec_id = aa.vec_id
  JOIN sd_n2 nb ON nb.vec_id = bb.vec_id
  GROUP BY aa.vec_id, bb.vec_id
),
sd_cos AS (
  SELECT vid,
         CAST(round(dot::DOUBLE / (sqrt(na2::DOUBLE) * sqrt(nb2::DOUBLE))
              * 1000000) AS BIGINT) AS cos_micro
  FROM sd_pairs
),
sd_dup AS (
  SELECT vid AS vec_id, max(cos_micro) AS mx,
         count(*) FILTER (WHERE cos_micro >= {tau}) AS nd
  FROM sd_cos GROUP BY vid
)
SELECT a.vec_id, a.cluster::BIGINT AS cluster,
       coalesce(d.mx, -1)::BIGINT AS max_lower_cos_micro,
       coalesce(d.nd, 0)::BIGINT AS n_dups_lower,
       (coalesce(d.nd, 0) = 0)::INT AS keep
FROM sd_asg a LEFT JOIN sd_dup d ON d.vec_id = a.vec_id
ORDER BY a.vec_id"""


def q_text_readability(spark, sf_dir):
    """Flesch reading-ease per doc (vowel-group syllables, [.!?]+ sentence
    runs) — the complexity prior for mix stratification."""
    return (
        T.readability(_docs(spark, sf_dir), key="doc_id")
        .withColumnRenamed("doc", "doc_id")
        .transform(lambda d: _ordered_perdoc(d, "doc_id"))
    )


ORACLE_READABILITY = f"""
WITH {_TOK_CTE.lstrip()},
rd_w AS (SELECT doc_id, count(*)::BIGINT AS n_words FROM tok GROUP BY doc_id),
rd_f AS (
  SELECT d.doc_id,
         coalesce(w.n_words, 0) AS n_words,
         greatest(len(regexp_extract_all(d.text, '[.!?]+')), 1)::BIGINT
           AS n_sentences,
         len(regexp_extract_all(lower(d.text), '[aeiouy]+'))::BIGINT
           AS n_syllables
  FROM documents d LEFT JOIN rd_w w ON w.doc_id = d.doc_id
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 THEN CAST(round(
         (206.835 - 1.015 * (n_words::DOUBLE / n_sentences)
                  - 84.6 * (n_syllables::DOUBLE / n_words)) * 1000000)
         AS BIGINT) ELSE 0 END AS flesch_micro
FROM rd_f ORDER BY doc_id"""


def q_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility per language under the corpus-trained BPE:
    subwords/word and chars/subword per lang slice — the multilingual
    vocab-budget review table."""
    return B.bpe_fertility(
        _docs(spark, sf_dir), key="doc_id", group_col="lang",
        n_merges=B.N_MERGES,
    )


def _bpe_fertility_oracle(n_merges: int = B.N_MERGES) -> str:
    """Reuses the bpe_encode oracle's trained-vocab CTE chain verbatim
    (single source of truth), swapping only the final rollup select."""
    base = _bpe_encode_oracle(n_merges)
    ctes = base.rsplit("\nSELECT t.doc_id AS doc,", 1)[0]
    return (
        ctes
        + """
SELECT d.lang, count(*)::BIGINT AS n_words,
       CAST(sum(v.n_sub) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(length(t.w)) AS BIGINT) AS n_chars,
       CAST(sum(v.n_sub) * 1000000 // count(*) AS BIGINT)
         AS subwords_per_word_micro,
       CAST(sum(length(t.w)) * 1000000 // sum(v.n_sub) AS BIGINT)
         AS chars_per_subword_micro
FROM toks t JOIN vocab v USING (w) JOIN documents d ON d.doc_id = t.doc_id
GROUP BY d.lang ORDER BY d.lang"""
    )


def q_ann_recall_eval(spark, sf_dir):
    """ANN quality evaluation: recall@k of the sign-LSH bucket probe
    against brute-force cosine truth at k in {5, 10, 25} — the index
    deployment's quality report (recall here is a DATA property of the
    near-isotropic synthetic embeddings; the clustered-data floor is
    pinned in test_similarity)."""
    qv = _query_vec(spark, sf_dir)
    truth = SIM.cosine_topk(_emb(spark, sf_dir), qv, k=25)
    approx = _ann_index(spark, sf_dir).lsh_topk(qv, k=25)
    return SIM.recall_table(truth, approx)


def q_ann_pq_codes(spark, sf_dir):
    """Product-quantization codes + asymmetric (ADC) distance to the
    query vector (operators/similarity.py::pq_assign): 4 subspaces x 16
    dims, data-derived sign-seeded codebooks, explicit s-order ADC sum."""
    qv = _query_vec(spark, sf_dir)
    return SIM.pq_assign(_emb(spark, sf_dir), qv)


def _pq_oracle(n_sub: int = SIM.PQ_N_SUB, sub_dim: int = SIM.PQ_SUB_DIM) -> str:
    d2 = (
        "list_sum(list_transform(range(1, {d} + 1), "
        "j -> ({a}[j]::DOUBLE - {b}[j]::DOUBLE)"
        " * ({a}[j]::DOUBLE - {b}[j]::DOUBLE)))"
    )
    sign = " + ".join(
        f"(CASE WHEN v[{d + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i, d in enumerate(SIM.PQ_SIGN_LOCAL)
    )
    codes = ",\n       ".join(
        f"max(CASE WHEN s = {s} THEN cvid END) AS c{s}" for s in range(n_sub)
    )
    adc = f"max(CASE WHEN s = 0 THEN d2q END)"
    for s in range(1, n_sub):
        adc = f"({adc} + max(CASE WHEN s = {s} THEN d2q END))"
    return f"""
WITH pq_q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
pq_sub AS (
  SELECT vec_id, CAST(ss.s AS INT) AS s,
         list_transform(
           list_slice(embedding, ss.s * {sub_dim} + 1,
                      ss.s * {sub_dim} + {sub_dim}),
           x -> x::DOUBLE) AS v
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, {n_sub})) AS s) ss
),
pq_bkt AS (SELECT vec_id, s, v, ({sign}) AS b FROM pq_sub),
pq_seed AS (SELECT s, b, min(vec_id) AS cvid FROM pq_bkt GROUP BY s, b),
pq_cent AS (
  SELECT p.s, d.cvid, p.v AS cv
  FROM pq_bkt p JOIN pq_seed d ON p.vec_id = d.cvid AND p.s = d.s
),
pq_centq AS (
  SELECT c.s, c.cvid, c.cv,
         {d2.format(d=sub_dim, a="c.cv",
                    b=f"list_slice(q.qv, c.s * {sub_dim} + 1,"
                      f" c.s * {sub_dim} + {sub_dim})")} AS d2q
  FROM pq_cent c CROSS JOIN pq_q q
),
pq_asn AS (
  SELECT b.vec_id, b.s, c.cvid, c.d2q,
         row_number() OVER (PARTITION BY b.vec_id, b.s
           ORDER BY {d2.format(d=sub_dim, a="b.v", b="c.cv")} ASC,
                    c.cvid ASC) AS rn
  FROM pq_bkt b JOIN pq_centq c ON c.s = b.s
)
SELECT vec_id,
       {codes},
       CAST(round({adc} * 1000000) AS BIGINT) AS adc_micro
FROM pq_asn WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id"""


KC_K = 4  # k-center seed count


def q_embedding_kcenter_seeds(spark, sf_dir):
    """Greedy k-center diverse-seed selection (operators/similarity.py::
    kcenter_seeds): k-1 bounded single-row driver round-trips, each one
    shuffle-free distance scan; the radius sequence is the output."""
    return SIM.kcenter_seeds(_emb(spark, sf_dir), k=KC_K)


def _kcenter_oracle(k: int = KC_K, dim: int = 64) -> str:
    d2 = (
        "list_sum(list_transform(range(1, {d} + 1), "
        "j -> ({a}[j]::DOUBLE - {b}[j]::DOUBLE)"
        " * ({a}[j]::DOUBLE - {b}[j]::DOUBLE)))"
    )
    ctes = [
        "kc_c0 AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 1)",
        "kc_v0 AS (SELECT e.embedding AS v FROM embeddings e"
        " JOIN kc_c0 c ON e.vec_id = c.vec_id)",
        f"kc_d1 AS (SELECT e.vec_id,"
        f" {d2.format(d=dim, a='e.embedding', b='v0.v')} AS md"
        f" FROM embeddings e CROSS JOIN kc_v0 v0)",
    ]
    for i in range(1, k):
        ctes.append(
            f"kc_c{i} AS (SELECT vec_id,"
            f" CAST(round(md * 1000000) AS BIGINT) AS md_micro"
            f" FROM kc_d{i} ORDER BY md DESC, vec_id LIMIT 1)"
        )
        if i < k - 1:
            ctes.append(
                f"kc_v{i} AS (SELECT e.embedding AS v FROM embeddings e"
                f" JOIN kc_c{i} c ON e.vec_id = c.vec_id)"
            )
            ctes.append(
                f"kc_d{i + 1} AS (SELECT d.vec_id, least(d.md,"
                f" {d2.format(d=dim, a='e.embedding', b=f'v{i}.v')}) AS md"
                f" FROM kc_d{i} d JOIN embeddings e ON e.vec_id = d.vec_id"
                f" CROSS JOIN kc_v{i} v{i})"
            )
    selects = [
        "SELECT CAST(0 AS INT) AS step, vec_id, CAST(0 AS BIGINT) AS d2_micro"
        " FROM kc_c0"
    ]
    for i in range(1, k):
        selects.append(
            f"SELECT CAST({i} AS INT), vec_id, md_micro FROM kc_c{i}"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL ".join(selects)
        + "\nORDER BY step"
    )


MK_DIM = 16  # matryoshka prefix length evaluated against the full 64 dims


def q_ann_matryoshka_eval(spark, sf_dir):
    """Matryoshka truncation evaluation: recall@k of cosine retrieval over
    the FIRST 16 embedding dimensions against full-64-dim truth — the
    measurement behind MRL-style "store a prefix, rerank with the tail"
    deployments (a 4x smaller index is only viable if prefix recall holds;
    this table is the evidence either way). Both retrievers are bounded
    top-25 scans; the truncation is a map-side slice, so the eval costs
    two TakeOrderedAndProject passes over the corpus and nothing else."""
    qv = _query_vec(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    truth = SIM.cosine_topk(emb, qv, k=25)
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, MK_DIM).alias("embedding")
    )
    approx = SIM.cosine_topk(trunc, qv[:MK_DIM], k=25)
    return SIM.recall_table(truth, approx)


_MK_COS = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
mk_pairs AS (
  SELECT e.vec_id,
         list_sum(list_transform(range(1, {MK_DIM} + 1),
             i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(list_slice(e.embedding, 1, {MK_DIM}),
             x -> x::DOUBLE * x::DOUBLE))) AS na,
         sqrt(list_sum(list_transform(list_slice(q.qv, 1, {MK_DIM}),
             x -> x::DOUBLE * x::DOUBLE))) AS nq
  FROM embeddings e CROSS JOIN q
)
SELECT vec_id, CAST(round(dot / (na * nq) * 1000000) AS BIGINT) AS cos_micro
FROM mk_pairs
ORDER BY cos_micro DESC, vec_id
LIMIT 25"""

ORACLE_ANN_MATRYOSHKA = f"""
WITH mk_truth AS (
  SELECT vec_id, row_number() OVER (ORDER BY cos_micro DESC, vec_id) AS tr
  FROM ({ORACLE_ANN_COSINE})
),
mk_approx AS (
  SELECT vec_id, row_number() OVER (ORDER BY cos_micro DESC, vec_id) AS ar
  FROM ({_MK_COS})
),
mk_j AS (
  SELECT coalesce(t.vec_id, a.vec_id) AS vec_id, t.tr, a.ar
  FROM mk_truth t FULL OUTER JOIN mk_approx a ON t.vec_id = a.vec_id
),
mk_ks(k) AS (VALUES (5), (10), (25))
SELECT k,
       CAST(count(*) FILTER (WHERE tr IS NOT NULL AND tr <= k) AS BIGINT)
         AS n_truth,
       CAST(count(*) FILTER (WHERE ar IS NOT NULL AND ar <= k) AS BIGINT)
         AS n_approx,
       CAST(count(*) FILTER (WHERE tr IS NOT NULL AND tr <= k
            AND ar IS NOT NULL AND ar <= k) AS BIGINT) AS n_hits,
       CAST(count(*) FILTER (WHERE tr IS NOT NULL AND tr <= k
            AND ar IS NOT NULL AND ar <= k) * 1000000 // k AS BIGINT)
         AS recall_micro
FROM mk_j CROSS JOIN mk_ks GROUP BY k ORDER BY k"""


def q_ann_ndcg_eval(spark, sf_dir):
    """nDCG@k of the sign-LSH probe ranking vs brute-force truth — the
    position-aware companion to ann_recall_eval over the same two bounded
    ranked frames (operators/similarity.py::ndcg_table)."""
    qv = _query_vec(spark, sf_dir)
    truth = SIM.cosine_topk(_emb(spark, sf_dir), qv, k=25)
    approx = _ann_index(spark, sf_dir).lsh_topk(qv, k=25)
    return SIM.ndcg_table(truth, approx)


ORACLE_ANN_NDCG = f"""
WITH nd_truth AS (
  SELECT vec_id, row_number() OVER (ORDER BY cos_micro DESC, vec_id) AS tr
  FROM ({{cosine}})
),
nd_approx AS (
  SELECT vec_id, row_number() OVER (ORDER BY cos_micro DESC, vec_id) AS ar
  FROM ({{lsh}})
),
nd_j AS (
  SELECT a.ar, CASE WHEN t.tr IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM nd_approx a LEFT JOIN nd_truth t ON t.vec_id = a.vec_id
),
nd_ks(k) AS (VALUES (5), (10), (25)),
nd_g AS (
  SELECT k, CAST(sum(rel) AS BIGINT) AS n_rel,
         sum(rel / log2(ar + 1)) AS dcg,
         sum(1.0 / log2(ar + 1)) AS idcg
  FROM nd_j CROSS JOIN nd_ks WHERE ar <= k GROUP BY k
)
SELECT k, n_rel,
       CAST(round(dcg * 1000000) AS BIGINT) AS dcg_micro,
       CAST(round(dcg / idcg * 1000000) AS BIGINT) AS ndcg_micro
FROM nd_g ORDER BY k"""


ORACLE_ANN_RECALL = f"""
WITH ar_truth AS (
  SELECT vec_id, row_number() OVER (ORDER BY cos_micro DESC, vec_id) AS tr
  FROM ({ORACLE_ANN_COSINE})
),
ar_approx AS (
  SELECT vec_id, row_number() OVER (ORDER BY cos_micro DESC, vec_id) AS ar
  FROM ({ORACLE_ANN_LSH})
),
ar_j AS (
  SELECT coalesce(t.vec_id, a.vec_id) AS vec_id, t.tr, a.ar
  FROM ar_truth t FULL OUTER JOIN ar_approx a ON t.vec_id = a.vec_id
),
ar_ks(k) AS (VALUES (5), (10), (25))
SELECT k,
       CAST(count(*) FILTER (WHERE tr IS NOT NULL AND tr <= k) AS BIGINT)
         AS n_truth,
       CAST(count(*) FILTER (WHERE ar IS NOT NULL AND ar <= k) AS BIGINT)
         AS n_approx,
       CAST(count(*) FILTER (WHERE tr IS NOT NULL AND tr <= k
            AND ar IS NOT NULL AND ar <= k) AS BIGINT) AS n_hits,
       CAST(count(*) FILTER (WHERE tr IS NOT NULL AND tr <= k
            AND ar IS NOT NULL AND ar <= k) * 1000000 // k AS BIGINT)
         AS recall_micro
FROM ar_j CROSS JOIN ar_ks GROUP BY k ORDER BY k"""


MIX_BUDGET_TOKENS = 1_000_000


def q_mix_token_budget(spark, sf_dir):
    """Epoch plan for a 1M-token budget under the alpha=0.5 temperature
    mixture (operators/sampling.py::token_budget_plan): exact integer
    target/ceil-epoch arithmetic on the largest-remainder weights."""
    from ..operators.dedup import tokens_col
    from ..operators.sampling import token_budget_plan

    return token_budget_plan(
        _docs(spark, sf_dir),
        strata_col="source",
        tokens_expr=F.size(tokens_col("text")).cast("long"),
        budget=MIX_BUDGET_TOKENS,
        alpha=0.5,
    ).repartition(1).sortWithinPartitions("stratum")


def _mix_token_budget_oracle() -> str:
    return f"""
WITH mb_tok AS (
  SELECT source AS stratum, CAST(count(*) AS BIGINT) AS tokens_avail
  FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS w FROM documents
  ) WHERE w <> '' GROUP BY source
),
mb_mix AS (SELECT * FROM ({ORACLE_MIX_TEMPERATURE}))
SELECT m.stratum, m.n_docs, m.weight_micro, t.tokens_avail,
       CAST({MIX_BUDGET_TOKENS} * m.weight_micro // 1000000 AS BIGINT)
         AS target_tokens,
       CAST(CASE WHEN {MIX_BUDGET_TOKENS} * m.weight_micro // 1000000 = 0
                 THEN 0
                 ELSE ({MIX_BUDGET_TOKENS} * m.weight_micro // 1000000
                       + t.tokens_avail - 1) // t.tokens_avail END AS BIGINT)
         AS epochs
FROM mb_mix m JOIN mb_tok t USING (stratum)
ORDER BY m.stratum"""


def q_mix_temperature(spark, sf_dir):
    """Temperature-scaled source mixture (alpha=0.5 multinomial smoothing,
    XLM-R/mT5 rule) with the 1e6 probability mass apportioned exactly by
    largest remainder."""
    from ..operators.sampling import temperature_mix

    return (
        temperature_mix(_docs(spark, sf_dir), strata_col="source", alpha=0.5)
        .repartition(1)
        .sortWithinPartitions("stratum")
    )


ORACLE_MIX_TEMPERATURE = """
WITH mt_per AS (
  SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
mt_scored AS (
  SELECT stratum, n_docs,
         CAST(round(sqrt(n_docs::DOUBLE) * 1000000) AS BIGINT) AS score_micro
  FROM mt_per
),
mt_tot AS (
  SELECT CAST(sum(score_micro) AS BIGINT) AS s,
         CAST(sum(n_docs) AS BIGINT) AS n
  FROM mt_scored
),
mt_based AS (
  SELECT stratum, n_docs, score_micro,
         CAST(score_micro * 1000000 // t.s AS BIGINT) AS base,
         CAST(score_micro * 1000000 % t.s AS BIGINT) AS rem,
         t.n AS n_total
  FROM mt_scored, mt_tot t
),
mt_left AS (SELECT 1000000 - CAST(sum(base) AS BIGINT) AS lft FROM mt_based),
mt_rk AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, stratum ASC) AS rk
  FROM mt_based
)
SELECT stratum, n_docs, score_micro,
       CAST(base + CASE WHEN rk <= l.lft THEN 1 ELSE 0 END AS BIGINT)
         AS weight_micro,
       CAST((base + CASE WHEN rk <= l.lft THEN 1 ELSE 0 END) * n_total
            // n_docs AS BIGINT) AS boost_micro
FROM mt_rk, mt_left l ORDER BY stratum"""


WINNOW_K = 5
WINNOW_W = 4


def q_dedup_winnow_pairs(spark, sf_dir):
    """Winnowing (MOSS) near-dup candidates: pairs sharing >= 2 selected
    fingerprints, strongest first — the 2/(w+1)-density substring-dedup
    candidate generator."""
    return D.winnow_pairs(
        _docs(spark, sf_dir), key="doc_id", k=WINNOW_K, w=WINNOW_W
    )


ORACLE_WINNOW_PAIRS = f"""
WITH {_TOK_CTE.lstrip()},
wtoks AS (SELECT doc_id, list(term ORDER BY pos) AS ts FROM tok GROUP BY doc_id),
wgr AS (
  SELECT doc_id,
         unnest(range(1, greatest(len(ts) - {WINNOW_K} + 1, 0) + 1)) AS i, ts
  FROM wtoks
),
wgrams AS (
  SELECT doc_id, i,
         md5(array_to_string(list_slice(ts, i, i + {WINNOW_K} - 1), ' ')) AS h
  FROM wgr
),
whl AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM wgrams GROUP BY doc_id),
wwin AS (
  SELECT doc_id,
         unnest(range(1, greatest(len(hs) - {WINNOW_W} + 1, 0) + 1)) AS i, hs
  FROM whl
),
wfps AS (
  SELECT DISTINCT doc_id, list_min(list_slice(hs, i, i + {WINNOW_W} - 1)) AS fp
  FROM wwin
),
wrare AS (
  SELECT fp FROM (
    SELECT fp, count(DISTINCT doc_id) AS df FROM wfps GROUP BY fp
  ) WHERE df <= 1000
),
wfr AS (SELECT wfps.* FROM wfps JOIN wrare USING (fp)),
wpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM wfr a JOIN wfr b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2
)
SELECT doc_a, doc_b, n_shared::BIGINT AS n_shared
FROM wpairs ORDER BY n_shared DESC, doc_a, doc_b LIMIT 100"""


# Corpus parameterization of the C4 rules (the gopher_quality min_stop
# precedent): the synthetic documents carry no punctuation and no newlines,
# so the terminal-punctuation and sentence-count rules are degenerate here —
# they are disabled (require_terminal_punct=False, min_sentences=0) and the
# discriminating rules are the badword blocklist ('dup' stands in for the
# paper's list; ~14% of docs are badword-free at these lengths) and the
# >=3-words-per-line floor.
C4_DRIVER_BADWORDS = ("dup",)


def q_c4_quality_filter(spark, sf_dir):
    """C4 cleaning heuristics (Raffel et al. 2020): kept-line counts under
    the terminal-punct/min-words/line-badword rules plus the page-level
    lorem-ipsum / curly-brace / badword / sentence-count flags."""
    return (
        T.c4_signals(
            _docs(spark, sf_dir),
            key="doc_id",
            badwords=C4_DRIVER_BADWORDS,
            min_sentences=0,
            require_terminal_punct=False,
        )
        .withColumnRenamed("doc", "doc_id")
        .transform(lambda d: _ordered_perdoc(d, "doc_id"))
    )


def _c4_oracle(
    badwords: tuple[str, ...] = C4_DRIVER_BADWORDS,
    line_badwords: tuple[str, ...] = T.C4_LINE_BADWORDS,
    min_line_words: int = 3,
    min_sentences: int = 0,
    require_terminal_punct: bool = False,
) -> str:
    conds = []
    if require_terminal_punct:
        conds.append("regexp_matches(rtrim(l), '[.!?\"]$')")
    conds.append(
        f"len(string_split_regex(trim(l), ' +')) >= {min_line_words}"
    )
    for w in line_badwords:
        conds.append(f"NOT contains(lower(l), '{w}')")
    cond = " AND ".join(conds)
    bads = ", ".join(f"'{w}'" for w in badwords)
    return f"""
WITH {_TOK_CTE.lstrip()},
c4_ln AS (
  SELECT doc_id, l
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM documents)
  WHERE length(trim(l)) > 0
),
c4_ln_agg AS (
  SELECT doc_id, count(*) AS n_lines,
         count(*) FILTER (WHERE {cond}) AS n_kept,
         coalesce(sum(length(l)), 0) AS total_chars,
         coalesce(sum(length(l)) FILTER (WHERE {cond}), 0) AS kept_chars
  FROM c4_ln GROUP BY doc_id
),
c4_bad AS (
  SELECT doc_id, count(DISTINCT term) AS n_bad
  FROM tok WHERE term IN ({bads}) GROUP BY doc_id
),
c4_feat AS (
  SELECT d.doc_id,
         coalesce(ln.n_lines, 0) AS n_lines,
         coalesce(ln.n_kept, 0) AS n_kept,
         coalesce(ln.total_chars, 0) AS total_chars,
         coalesce(ln.kept_chars, 0) AS kept_chars,
         len(regexp_extract_all(d.text, '[.!?]+')) AS n_sentences,
         contains(lower(d.text), 'lorem ipsum') AS has_lorem,
         contains(d.text, '{{') AS has_brace,
         coalesce(b.n_bad, 0) AS n_bad
  FROM documents d
  LEFT JOIN c4_ln_agg ln ON ln.doc_id = d.doc_id
  LEFT JOIN c4_bad b ON b.doc_id = d.doc_id
)
SELECT doc_id, n_lines::BIGINT AS n_lines, n_kept::BIGINT AS n_kept_lines,
       CAST(round(CASE WHEN total_chars > 0
            THEN kept_chars::DOUBLE / total_chars ELSE 0 END * 1000000)
         AS BIGINT) AS kept_char_frac_micro,
       n_sentences::BIGINT AS n_sentences,
       has_lorem::INT AS has_lorem, has_brace::INT AS has_brace,
       n_bad::BIGINT AS n_badword_hits,
       CAST((n_sentences >= {min_sentences} AND NOT has_lorem
         AND NOT has_brace AND n_bad = 0 AND n_kept > 0) AS INT) AS passes
FROM c4_feat ORDER BY doc_id"""


DATA_QUERIES = {
    "c4_quality_filter": q_c4_quality_filter,
    "dedup_winnow_pairs": q_dedup_winnow_pairs,
    "mix_temperature": q_mix_temperature,
    "mix_token_budget": q_mix_token_budget,
    "ann_recall_eval": q_ann_recall_eval,
    "ann_ndcg_eval": q_ann_ndcg_eval,
    "ann_matryoshka_eval": q_ann_matryoshka_eval,
    "embedding_kcenter_seeds": q_embedding_kcenter_seeds,
    "ann_pq_codes": q_ann_pq_codes,
    "bpe_merges": q_bpe_merges,
    "bpe_encode": q_bpe_encode,
    "vocab_coverage": q_vocab_coverage,
    "text_zipf_fit": q_text_zipf_fit,
    "mix_sources": q_mix_sources,
    "embedding_power_iteration": q_embedding_power_iteration,
    "embedding_kmeans_step": q_embedding_kmeans_step,
    "embedding_quantize": q_embedding_quantize,
    "cooccurrence_pmi": q_cooccurrence_pmi,
    "text_bigram_novelty": q_text_bigram_novelty,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_signature": q_dedup_minhash_signature,
    "dedup_minhash_pairs": q_dedup_minhash_pairs,
    "dedup_minhash_pairs_capped": q_dedup_minhash_pairs_capped,
    "dedup_minhash_pairs_star": q_dedup_minhash_pairs_star,
    "dedup_components": q_dedup_components,
    "dedup_cluster_histogram": q_dedup_cluster_histogram,
    "decontaminate": q_decontaminate,
    "decontaminate_bloom": q_decontaminate_bloom,
    "decontaminate_overlap": q_decontaminate_overlap,
    "boilerplate_ngrams": q_boilerplate_ngrams,
    "dedup_ngram_pairs": q_dedup_ngram_pairs,
    "dedup_containment_pairs": q_dedup_containment_pairs,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "text_simhash": q_text_simhash,
    "ann_cosine_topk": q_ann_cosine_topk,
    "search_hybrid_rrf": q_search_hybrid_rrf,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_multiprobe_topk": q_ann_multiprobe_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "embedding_top_pairs": q_embedding_top_pairs,
    "text_langid": q_text_langid,
    "text_quality": q_text_quality,
    "gopher_repetition": q_gopher_repetition,
    "gopher_quality": q_gopher_quality,
    "curate_corpus": q_curate_corpus,
    "curate_corpus_gopher": q_curate_corpus_gopher,
    "url_dedup": q_url_dedup,
    "url_host_profile": q_url_host_profile,
    "crawl_schedule_profile": q_crawl_schedule_profile,
    "url_latest_snapshot": q_url_latest_snapshot,
    "web_pagerank": q_web_pagerank,
    "text_textrank_keywords": q_text_textrank_keywords,
    "web_anchor_profile": q_web_anchor_profile,
    "text_nfc_profile": q_text_nfc_profile,
    "cap_per_host": q_cap_per_host,
    "shard_rebalance_profile": q_shard_rebalance_profile,
    "token_budget": q_token_budget,
    "crawl_delta": q_crawl_delta,
    "dedup_substring_spans": q_dedup_substring_spans,
    "text_unigram_logppl": q_text_unigram_logppl,
    "token_count": q_token_count,
    "doc_length_quantiles": q_doc_length_quantiles,
    "doc_fingerprint": q_doc_fingerprint,
    "dedup_lines": q_dedup_lines,
    "sample_stratified": q_sample_stratified,
    "text_pii_scrub": q_text_pii_scrub,
    "ann_range_search": q_ann_range_search,
    "split_train_holdout": q_split_train_holdout,
    "text_encoding_anomaly": q_text_encoding_anomaly,
    "text_ppl_buckets": q_text_ppl_buckets,
    "tfidf_top_terms": q_tfidf_top_terms,
    "url_blocklist_filter": q_url_blocklist_filter,
    "dedup_within_doc_lines": q_dedup_within_doc_lines,
    "embedding_label_similarity": q_embedding_label_similarity,
    "curate_corpus_ccnet": q_curate_corpus_ccnet,
    "text_bigram_logppl": q_text_bigram_logppl,
    "text_kn_bigram": q_text_kn_bigram,
    "source_quality_profile": q_source_quality_profile,
    "source_vocab_overlap": q_source_vocab_overlap,
    "text_truncation_stats": q_text_truncation_stats,
    "pack_sequences": q_pack_sequences,
    "dedup_minhash_calibration": q_dedup_minhash_calibration,
    "langid_confusion": q_langid_confusion,
    "text_char_entropy": q_text_char_entropy,
    "quality_classifier_score": q_quality_classifier,
    "dsir_importance": q_dsir_importance,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    "embedding_semdedup": q_embedding_semdedup,
    "url_robots_filter": q_url_robots_filter,
    "text_readability": q_text_readability,
    "curate_corpus_clf": q_curate_corpus_clf,
    "bpe_fertility": q_bpe_fertility,
    "embedding_hard_negatives": q_embedding_hard_negatives,
    "bitext_margin_pairs": q_bitext_margin_pairs,
    "quality_gate_matrix": q_quality_gate_matrix,
    "sample_weighted": q_sample_weighted,
}


def data_oracle_sqls() -> dict[str, str]:
    return {
        "c4_quality_filter": _c4_oracle(),
        "dedup_winnow_pairs": ORACLE_WINNOW_PAIRS,
        "mix_temperature": ORACLE_MIX_TEMPERATURE,
        "mix_token_budget": _mix_token_budget_oracle(),
        "ann_recall_eval": ORACLE_ANN_RECALL,
        "ann_ndcg_eval": ORACLE_ANN_NDCG.format(
            cosine=ORACLE_ANN_COSINE, lsh=ORACLE_ANN_LSH
        ),
        "ann_matryoshka_eval": ORACLE_ANN_MATRYOSHKA,
        "embedding_kcenter_seeds": _kcenter_oracle(),
        "ann_pq_codes": _pq_oracle(),
        "bpe_merges": _bpe_oracle(),
        "bpe_encode": _bpe_encode_oracle(),
        "vocab_coverage": ORACLE_VOCAB_COVERAGE,
        "text_zipf_fit": ORACLE_ZIPF_FIT,
        "mix_sources": ORACLE_MIX_SOURCES,
        "embedding_power_iteration": ORACLE_POWER_ITERATION,
        "embedding_kmeans_step": _kmeans_oracle(),
        "embedding_quantize": ORACLE_QUANTIZE,
        "cooccurrence_pmi": ORACLE_PMI,
        "text_bigram_novelty": ORACLE_BIGRAM_NOVELTY,
        "dedup_exact": ORACLE_DEDUP_EXACT,
        "dedup_minhash_signature": ORACLE_MINHASH_SIG,
        "dedup_minhash_pairs": ORACLE_MINHASH_PAIRS,
        "dedup_minhash_pairs_capped": _oracle_minhash_pairs_capped(),
        "dedup_minhash_pairs_star": _oracle_minhash_pairs_star(),
        "dedup_components": _components_oracle(),
        "dedup_cluster_histogram": _cluster_histogram_oracle(),
        "decontaminate": ORACLE_DECONTAM,
        "decontaminate_bloom": ORACLE_DECONTAM,
        "decontaminate_overlap": ORACLE_DECONTAM_OVERLAP,
        "boilerplate_ngrams": ORACLE_BOILERPLATE,
        "dedup_ngram_pairs": ORACLE_NGRAM_PAIRS,
        "dedup_containment_pairs": ORACLE_CONTAINMENT_PAIRS,
        "dedup_simhash_pairs": ORACLE_SIMHASH_PAIRS,
        "text_simhash": ORACLE_SIMHASH,
        "ann_cosine_topk": ORACLE_ANN_COSINE,
        "search_hybrid_rrf": _hybrid_rrf_oracle(),
        "ann_lsh_topk": ORACLE_ANN_LSH,
        "ann_multiprobe_topk": _multiprobe_oracle(),
        "ann_ivf_topk": _ivf_oracle(),
        "embedding_top_pairs": ORACLE_EMB_PAIRS,
        "text_langid": _langid_oracle(),
        "text_quality": _quality_oracle(),
        "gopher_repetition": ORACLE_GOPHER_REP,
        "gopher_quality": _gopher_quality_oracle(),
        "quality_classifier_score": _quality_classifier_oracle(),
        "dsir_importance": _dsir_oracle(),
        "cms_heavy_hitters": _cms_oracle(),
        "embedding_semdedup": _semdedup_oracle(),
        "url_robots_filter": ORACLE_URL_ROBOTS,
        "text_readability": ORACLE_READABILITY,
        "curate_corpus_clf": _curate_clf_oracle(),
        "bpe_fertility": _bpe_fertility_oracle(),
        "embedding_hard_negatives": ORACLE_HARD_NEGATIVES,
        "bitext_margin_pairs": ORACLE_BITEXT_MARGIN,
        "quality_gate_matrix": _gate_matrix_oracle(),
        "sample_weighted": _sample_weighted_oracle(),
        "curate_corpus": _curate_oracle(),
        "curate_corpus_gopher": _curate_gopher_oracle(),
        "url_dedup": ORACLE_URL_DEDUP,
        "url_host_profile": ORACLE_URL_HOSTS,
        "crawl_schedule_profile": ORACLE_CRAWL_SCHEDULE,
        "url_latest_snapshot": ORACLE_URL_LATEST,
        "web_pagerank": _pagerank_oracle(),
        "text_textrank_keywords": _pagerank_oracle(
            edge_sql=_TEXTRANK_EDGE_SQL,
            tail=f"SELECT host AS word, rank_micro FROM r5"
                 f"\nORDER BY rank_micro DESC, word LIMIT {TEXTRANK_TOP}",
        ),
        "web_anchor_profile": ORACLE_ANCHOR_PROFILE,
        "text_nfc_profile": ORACLE_NFC_PROFILE,
        "cap_per_host": ORACLE_CAP_PER_HOST,
        "shard_rebalance_profile": ORACLE_SHARD_REBALANCE,
        "token_budget": ORACLE_TOKEN_BUDGET,
        "crawl_delta": ORACLE_CRAWL_DELTA,
        "dedup_substring_spans": ORACLE_SUBSTR_SPANS,
        "text_unigram_logppl": ORACLE_UNIGRAM_LOGPPL,
        "token_count": ORACLE_TOKEN_COUNT,
        "doc_length_quantiles": ORACLE_DOC_LENGTH_QUANTILES,
        "doc_fingerprint": ORACLE_FINGERPRINT,
        "dedup_lines": ORACLE_DEDUP_LINES,
        "sample_stratified": _sample_oracle(),
        "text_pii_scrub": ORACLE_PII_SCRUB,
        "ann_range_search": ORACLE_ANN_RANGE,
        "split_train_holdout": ORACLE_SPLIT,
        "text_encoding_anomaly": ORACLE_ENCODING,
        "text_ppl_buckets": ORACLE_PPL_BUCKETS,
        "tfidf_top_terms": ORACLE_TFIDF,
        "url_blocklist_filter": ORACLE_URL_BLOCKLIST,
        "dedup_within_doc_lines": ORACLE_WITHIN_DOC_LINES,
        "embedding_label_similarity": _label_sim_oracle(),
        "curate_corpus_ccnet": _curate_ccnet_oracle(),
        "text_bigram_logppl": ORACLE_BIGRAM_LOGPPL,
        "text_kn_bigram": ORACLE_KN_BIGRAM,
        "source_quality_profile": _source_profile_oracle(),
        "source_vocab_overlap": ORACLE_SOURCE_VOCAB_OVERLAP,
        "text_truncation_stats": ORACLE_TRUNCATION_STATS,
        "pack_sequences": ORACLE_PACK_SEQUENCES,
        "dedup_minhash_calibration": _oracle_minhash_calibration(),
        "langid_confusion": _langid_confusion_oracle(),
        "text_char_entropy": ORACLE_CHAR_ENTROPY,
    }
