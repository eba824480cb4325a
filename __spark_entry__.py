"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: extract+index+search end-to-end at sf0.001.
``queries()`` / ``oracle_sql()`` — operator registry vs DuckDB oracles
(see tika_xapian_spark/plans/doc_queries.py and plans/oracles.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full pages pipeline end-to-end — deterministic synthetic
    CC-style pages -> extraction with the per-file error channel (S2/S3) ->
    stemmed posting index -> ranked free-text search (the reference TUI's
    core operation). The quarantine channel is driver-visible: every result
    row carries n_ok / n_quarantined (the synthetic corpus's no-frontmatter
    and malformed cases land in quarantine, so n_quarantined > 0 by
    construction)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from tika_xapian_spark.operators import search as S
    from tika_xapian_spark.operators.index import (
        InvertedIndex,
        extract_index_carrier,
    )
    from tika_xapian_spark.sources.pages import synth_pages

    # ONE fused extract+tokenize pass: the quarantine counts ride the same
    # carrier via observe (no second aggregation subplan re-running the
    # extraction UDF), and the carrier is persisted by from_fused_carrier so
    # its one stats action materializes it exactly once for everything the
    # returned plan references — the resume.py lineage pattern.
    obs = Observation("entry_counts")
    carrier = extract_index_carrier(synth_pages(spark, 2000)).observe(
        obs,
        F.sum((F.col("status") == "ok").cast("long")).alias("n_ok"),
        F.sum((F.col("status") != "ok").cast("long")).alias("n_quarantined"),
    )
    idx = InvertedIndex.from_fused_carrier(carrier)  # runs the stats action
    counts = spark.createDataFrame(
        [(obs.get["n_ok"], obs.get["n_quarantined"])],
        "n_ok long, n_quarantined long",
    )
    hits = S.top_k(S.score_free_text(idx, "markdown syntax"))
    return (
        hits.select(
            F.col("doc").alias("url"),
            F.round(F.col("score") * 1_000_000).cast("long").alias("score_micro"),
        )
        .crossJoin(F.broadcast(counts))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from tika_xapian_spark.plans.data_queries import DATA_QUERIES
    from tika_xapian_spark.plans.doc_queries import QUERIES

    return {**QUERIES, **DATA_QUERIES}


def oracle_sql() -> dict[str, str]:
    from tika_xapian_spark.plans.data_queries import data_oracle_sqls
    from tika_xapian_spark.plans.doc_queries import oracle_sqls

    return {**oracle_sqls(), **data_oracle_sqls()}
