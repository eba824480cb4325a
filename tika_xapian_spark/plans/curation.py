"""Path-agnostic corpus-curation chain — the one chain behind CLI
``curate`` and the registry's oracle-gated ``curate_corpus*`` and
``quality_gate_matrix`` queries (plans/data_queries.py).

Stages (each an independently oracle-checked operator):

  language filter (en)
    -> quality gate (``gate_signals``: 'classic' composite score, 'gopher'
       rule set + top-2-gram repetition cap, 'ccnet' perplexity tercile,
       or 'clf' classifier margin)
    -> exact-duplicate canonical only (md5 groups, min-id canonical)
    -> near-duplicate removal, every gate but 'ccnet' (minhash-LSH banded
       candidates over the exact-dedup canonicals — provably the same kept
       set, see the inline note — with STAR pairing for buckets above
       STAR_ABOVE docs, exact Jaccard verify, drop the higher doc id of
       each pair)

Jumbo buckets (boilerplate-template clusters) emit linear star pairs
(member vs bucket-min) instead of the quadratic all-pairs join, so a
36k-doc template cluster costs 36k verified candidates, not 6*10^8 —
and still gets DEDUPED down to its representative (a hard bucket drop
would silently keep the whole cluster; measured on the 600k-page corpus,
it kept all 75 000 gate survivors). Starring never fires at the oracle
scales (the largest bucket is 4 docs at sf0.001), so there the oracles'
all-pairs candidates keep the same ids.

Returns the KEPT rows of the input frame, all original columns intact,
plus the gate's signal columns, so the output parquet is a drop-in
curated corpus and a query can project the signals without recomputing
the gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import textstats as T

QUALITY_MIN = 450_000
JACCARD_MIN = 500_000
TOP2_MAX = 250_000  # drop docs whose top 2-gram covers > 25% of chars


STAR_ABOVE = 100

GATES = ("classic", "gopher", "ccnet", "clf")


def gate_signals(
    docs: DataFrame,
    gate: str,
    key: str = "doc_id",
    text_col: str = "text",
    min_stop: int = 1,
    quality_min: int = QUALITY_MIN,
    top2_max: int = TOP2_MAX,
) -> tuple[DataFrame, Column]:
    """One gate over every doc: (key + the signal columns, the predicate
    over them that keeps a doc)."""
    def signal(df: DataFrame, *cols: str) -> DataFrame:
        return df.select(F.col("doc").alias(key), *cols)

    args = dict(key=key, text_col=text_col)
    if gate == "classic":
        sig = signal(T.quality_features(docs, **args), "quality_micro")
        return sig, F.col("quality_micro") >= quality_min
    if gate == "gopher":
        gq = signal(T.gopher_quality(docs, min_stop=min_stop, **args), "passes")
        rep = signal(
            T.gopher_repetition(docs, **args), "top_2gram_char_frac_micro"
        )
        return gq.join(rep, key), (F.col("passes") == 1) & (
            F.col("top_2gram_char_frac_micro") <= top2_max
        )
    if gate == "ccnet":
        # CCNet (Wenzek et al. 2020): keep the head/middle perplexity
        # terciles of the corpus-own unigram LM, terciles over the FULL
        # input (the standalone ppl_buckets semantics)
        sig = signal(T.ppl_buckets(docs, **args), "logppl_micro", "bucket")
        return sig, F.col("bucket") != "tail"
    if gate == "clf":
        # model-based filter (GPT-3/LLaMA style): hashed linear classifier
        # score >= 0 stands in for the trained quality model's margin
        sig = signal(
            T.quality_classifier(docs, **args), "clf_score", "clf_margin_micro"
        )
        return sig, F.col("clf_score") >= 0
    raise ValueError(f"gate must be one of {', '.join(GATES)}, got {gate!r}")


def curate_docs(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    gate: str = "gopher",
    min_stop: int = 1,
    quality_min: int = QUALITY_MIN,
    jaccard_min: int = JACCARD_MIN,
    top2_max: int = TOP2_MAX,
    star_above: int | None = STAR_ABOVE,
) -> DataFrame:
    sig, keep = gate_signals(
        docs, gate, key=key, text_col=text_col, min_stop=min_stop,
        quality_min=quality_min, top2_max=top2_max,
    )
    lang = T.lang_id(docs, key=key, text_col=text_col).select(
        F.col("doc").alias(key), "predicted_lang"
    )
    exact = D.exact_duplicates(docs, key=key, text_col=text_col).select(
        F.col("doc").alias(key), "canonical_id"
    )
    kept = (
        docs.join(lang, key)
        .filter(F.col("predicted_lang") == "en")
        .drop("predicted_lang")
        .join(sig, key)
        .filter(keep)
        .join(exact, key)
        .filter(F.col(key) == F.col("canonical_id"))
        .drop("canonical_id")
    )
    if gate == "ccnet":  # no minhash stage: CCNet's dedup is exact
        return kept
    # Near-dup runs over exact-dedup CANONICALS only — provably the same
    # kept set as running it over all docs: if a non-canonical a < b is a
    # near-dup of b, a's canonical a' <= a < b has *identical* text, hence
    # identical shingles, identical minhash signature and the same band
    # buckets, so the pair (a', b) is generated with the same jaccard and
    # still drops b. What the restriction buys is that an identical-text
    # cluster of 10k docs contributes ONE bucket row instead of 10k —
    # at 600k synthetic pages the unrestricted self-join emitted ~10^10
    # pair rows (7 clusters of ~10.7k docs each) and filled the disk.
    canon = docs.join(
        exact.filter(F.col(key) == F.col("canonical_id")).select(key), key
    )
    # localCheckpoint, not persist: both frames have multiple consumers
    # (exact_jaccard reads sh twice, cand twice), but a per-call persist in
    # a reusable library entry leaks cached partitions for the session's
    # lifetime — checkpoint blocks are released when the RDD is GC'd
    sh = D.shingles_df(canon, key=key, text_col=text_col).localCheckpoint()
    cand = D.lsh_candidates(
        D.band_buckets(D.minhash_signatures(sh)), star_above=star_above
    ).localCheckpoint()
    nd_drop = (
        D.exact_jaccard(cand, sh)
        .filter(F.col("jaccard_micro") >= jaccard_min)
        .select(F.col("doc_b").alias(key))
        .distinct()
    )
    return kept.join(nd_drop, key, "left_anti")
