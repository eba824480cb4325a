"""Sequence packing for LLM training pipelines: concat-and-chunk.

Training corpora are served to the trainer as fixed-length token
sequences. The standard preprocessing step (GPT-2/3 style, also used by
most open pipelines) concatenates every document's tokens in a stable
corpus order and slices the stream into ``budget``-token chunks, letting
documents straddle chunk boundaries. The output here is the *packing
manifest*: which docs land in which chunk, where, and with how many
tokens — the table a downstream tokenizer-writer joins against to emit
the actual token arrays.

The hard part at 10^12 documents is the GLOBAL running offset (each
doc's start position in the concatenated stream). A naive
``Window.orderBy(doc)`` with no partition key pushes the whole corpus
through ONE task — the classic global-prefix-sum trap. This operator
uses the two-level scan:

1. docs are bucketed by an order-preserving integer key
   (``bucket = doc DIV bucket_span`` — floor division keeps bucket
   order == doc order even with gaps);
2. a per-bucket window computes the LOCAL running sum and the bucket
   total in one partitioning (same hash exchange feeds both window
   frames — no second shuffle);
3. the bucket totals collapse to one row per bucket (bounded:
   n_docs / bucket_span), a tiny cross-bucket prefix window turns them
   into bucket offsets, and the offsets broadcast-join back.

Every stage is declarative DataFrame algebra — no collect, no Python on
the data path; the only single-partition work is the bucket-level prefix
(10^6 rows at 10^12 docs with span 10^6; recurse the same trick if that
ever grows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import tokens_col


def pack_sequences(
    docs: DataFrame,
    key: str,
    text_col: str = "text",
    budget: int = 128,
    bucket_span: int = 1024,
) -> DataFrame:
    """(chunk_id, doc, chunk_offset, n_tokens_in_chunk): the concat-and-
    chunk packing manifest over ``budget``-token training sequences.

    ``key`` must be an integer column defining the corpus order; docs with
    zero tokens are skipped (they contribute nothing to the stream).
    Every chunk except the last sums to exactly ``budget`` tokens, offsets
    within a chunk tile it contiguously, and each doc's token count is
    preserved across its chunk rows (property-tested)."""
    toks = docs.select(
        F.col(key).alias("doc"),
        F.size(tokens_col(text_col)).cast("long").alias("n_tokens"),
        (F.col(key).cast("long") - (F.col(key).cast("long") % bucket_span))
        .alias("bucket"),  # floor to the bucket origin: order-preserving
    ).filter(F.col("n_tokens") > 0)
    w_run = (
        Window.partitionBy("bucket")
        .orderBy("doc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("bucket")
    local = toks.select(
        "doc",
        "n_tokens",
        "bucket",
        F.sum("n_tokens").over(w_run).alias("cum_in"),
        F.sum("n_tokens").over(w_all).alias("bucket_total"),
    ).localCheckpoint(eager=False)  # consumers: bucket-offset agg + span join
    # bounded bucket-level prefix: one row per bucket, offset = sum of all
    # PRECEDING bucket totals
    w_pfx = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        local.groupBy("bucket")
        .agg(F.max("bucket_total").alias("_bt"))
        .select(
            "bucket",
            F.coalesce(F.sum("_bt").over(w_pfx), F.lit(0)).alias("_off"),
        )
    )
    spans = local.join(F.broadcast(offsets), "bucket").select(
        "doc",
        "n_tokens",
        (F.col("_off") + F.col("cum_in") - F.col("n_tokens")).alias("_start"),
        (F.col("_off") + F.col("cum_in")).alias("_end"),
    )
    b = F.lit(int(budget))
    chunked = spans.select(
        "doc",
        "n_tokens",
        "_start",
        "_end",
        F.explode(
            F.sequence(
                F.expr(f"_start DIV {int(budget)}"),
                F.expr(f"(_end - 1) DIV {int(budget)}"),
            )
        ).alias("chunk_id"),
    )
    lo = F.greatest(F.col("_start"), F.col("chunk_id") * b)
    hi = F.least(F.col("_end"), (F.col("chunk_id") + 1) * b)
    return chunked.select(
        "chunk_id",
        "doc",
        (lo - F.col("chunk_id") * b).cast("long").alias("chunk_offset"),
        (hi - lo).cast("long").alias("n_tokens_in_chunk"),
    )
