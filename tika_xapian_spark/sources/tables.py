"""Table-format seam for the index sink (SURVEY.md §1.3/§4).

The engine's contract is Iceberg: bucket-partitioned posting tables with
snapshot-isolated atomic commits and ``MERGE INTO`` row-level upserts
(the Spark analogue of the reference's single durable ``db.commit()``,
/root/reference/src/main.rs:102, and its ``replace_document`` upsert,
src/main.rs:138-140). This sandbox ships no Iceberg runtime, so the default
store is a parquet stand-in with the same layout and bucket-level commit
granularity. Everything that writes or upserts index tables goes through
this seam, so the Iceberg path is a constructor argument on a real cluster,
not a rewrite.

Atomicity gap of the stand-in (documented, by design): ParquetDirStore
commits are per-directory rename swaps with recovery markers — readers can
observe a bucket mid-swap on a non-atomic-rename filesystem, where Iceberg
readers always see a consistent snapshot. IcebergStore has none of these
caveats; its writes are single-snapshot commits.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema


class ParquetDirStore:
    """Directory-of-parquet stand-in, layout-compatible with the Iceberg
    tables (hash-bucket partition columns -> partition pruning on point
    lookups)."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir

    def path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def write_table(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        """The table, its schema read from one footer with pyarrow instead
        of by Spark's schema-inference job; partition columns are still
        discovered from the directory names."""
        from .scan import _data_files

        reader = spark.read
        files = _data_files(self.path(name))
        if files:
            reader = reader.schema(from_arrow_schema(pq.read_schema(files[0])))
        return reader.parquet(self.path(name))

    def read_arrow(self, spark: SparkSession, name: str) -> pa.Table:
        """A small table, read on the driver with pyarrow: no Spark job."""
        return pq.read_table(self.path(name))

    def row_count(self, spark: SparkSession, name: str) -> int:
        """Rows of a table, from its parquet footers: no Spark job."""
        from .scan import parquet_rows

        return parquet_rows(self.path(name))


class IcebergStore:
    """The real table format (requires an Iceberg-enabled Spark session:
    spark.sql.catalog.<catalog> = org.apache.iceberg.spark.SparkCatalog).

    write_table is a single-snapshot ``createOrReplace`` commit; ``merge``
    is row-level ``MERGE INTO`` — the semantics upsert_postings emulates
    per-bucket on the parquet stand-in."""

    def __init__(self, catalog: str, namespace: str = "idx"):
        self.catalog = catalog
        self.namespace = namespace

    def _check(self, spark: SparkSession) -> None:
        conf = f"spark.sql.catalog.{self.catalog}"
        if spark.conf.get(conf, None) is None:
            raise RuntimeError(
                f"IcebergStore needs an Iceberg catalog: set {conf} to "
                "org.apache.iceberg.spark.SparkCatalog (plus its warehouse "
                "conf) and ship the iceberg-spark-runtime jar. This sandbox "
                "has no Iceberg runtime — use ParquetDirStore here; the "
                "engine's plans are identical either way."
            )

    def qualified(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def write_table(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        self._check(df.sparkSession)
        w = df.writeTo(self.qualified(name)).using("iceberg")
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        self._check(spark)
        return spark.read.table(self.qualified(name))

    def read_arrow(self, spark: SparkSession, name: str) -> pa.Table:
        return self.read_table(spark, name).toArrow()

    def row_count(self, spark: SparkSession, name: str) -> int:
        return self.read_table(spark, name).count()

    def merge_sql(self, name: str, source_view: str, key_cols: list[str]) -> str:
        """The MERGE INTO statement for a replace-document upsert: delete the
        target rows of any doc present in the source, insert the fresh rows.
        (Postings are replaced wholesale per doc — matching the reference's
        replace_document — so matched rows update and absent rows insert.)"""
        on = " AND ".join(f"t.{c} = s.{c}" for c in key_cols)
        return (
            f"MERGE INTO {self.qualified(name)} t\n"
            f"USING {source_view} s\n"
            f"ON {on}\n"
            "WHEN MATCHED THEN UPDATE SET *\n"
            "WHEN NOT MATCHED THEN INSERT *"
        )

    def upsert(self, fresh: DataFrame, name: str, key_cols: list[str]) -> None:
        """Row-level upsert via MERGE INTO. For full replace-document
        semantics callers MERGE first and then delete the docs' stale
        (doc, term) rows — that order fails safe: a crash between the two
        commits leaves a findable superset, never a vanished doc. See
        resume.upsert_postings for the doc-level variant."""
        spark = fresh.sparkSession
        self._check(spark)
        view = f"_merge_src_{name}"
        fresh.createOrReplaceTempView(view)
        spark.sql(self.merge_sql(name, view, key_cols))
