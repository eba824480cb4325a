"""Table-format seam: the parquet stand-in roundtrips, and the Iceberg path
is a real drop-in (correct MERGE statement, clear failure without a runtime).
"""

import pytest

from tika_xapian_spark.sources.tables import IcebergStore, ParquetDirStore


def test_parquet_store_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1, 0), ("b", 2, 1)], "doc string, wdf int, bucket int"
    )
    store = ParquetDirStore(str(tmp_path))
    store.write_table(df, "postings", partition_by=["bucket"])
    back = store.read_table(spark, "postings")
    assert {(r["doc"], r["wdf"]) for r in back.collect()} == {("a", 1), ("b", 2)}


def test_iceberg_store_requires_catalog(spark):
    store = IcebergStore("icecat")
    df = spark.range(1).selectExpr("'x' AS doc", "1 AS wdf")
    with pytest.raises(RuntimeError, match="spark.sql.catalog.icecat"):
        store.write_table(df, "postings")
    with pytest.raises(RuntimeError, match="Iceberg"):
        store.read_table(spark, "postings")


def test_iceberg_merge_sql_shape():
    store = IcebergStore("cat", "ns")
    sql = store.merge_sql("postings", "src_view", ["doc", "term"])
    assert sql == (
        "MERGE INTO cat.ns.postings t\n"
        "USING src_view s\n"
        "ON t.doc = s.doc AND t.term = s.term\n"
        "WHEN MATCHED THEN UPDATE SET *\n"
        "WHEN NOT MATCHED THEN INSERT *"
    )


def test_index_write_routes_through_store(spark, tmp_path):
    from tika_xapian_spark.operators.index import InvertedIndex

    docs = spark.createDataFrame(
        [(1, "spark join"), (2, "merge join")], "doc_id long, text string"
    )
    idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=False)
    try:
        calls = []

        class SpyStore(ParquetDirStore):
            def write_table(self, df, name, partition_by=None):
                calls.append((name, tuple(partition_by or ())))
                super().write_table(df, name, partition_by)

        idx.write(str(tmp_path), store=SpyStore(str(tmp_path)))
        assert calls == [
            ("postings", ("term_bucket",)),
            ("doc_stats", ()),
            ("term_stats", ()),
        ]
        back = InvertedIndex.read(spark, str(tmp_path))
        assert back.n_docs == 2
    finally:
        idx.unpersist()
