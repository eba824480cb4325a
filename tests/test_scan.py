"""sources/scan.py: the footer peek that gates read_spread — nested
(partitioned) layouts, empty listings, rewritten files — the plan it
yields on a layout that already feeds every core, and read_table's
footer-read schema."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from tika_xapian_spark.sources import scan


def _write_partitioned(base, n_files, rows_per_file=3):
    """``base/k=<i%2>/part-<i>.parquet``, one row group per file."""
    for i in range(n_files):
        d = os.path.join(base, f"k={i % 2}")
        os.makedirs(d, exist_ok=True)
        ids = list(range(i * rows_per_file, (i + 1) * rows_per_file))
        pq.write_table(
            pa.table({"doc_id": ids, "text": [f"t{x}" for x in ids]}),
            os.path.join(d, f"part-{i}.parquet"),
        )


def test_nested_layout_counts_every_file(tmp_path):
    _write_partitioned(str(tmp_path), 5)
    open(tmp_path / "_SUCCESS", "w").close()
    assert scan._table_meta(str(tmp_path)) == (5, 15)


def test_empty_listing_reads_as_splittable(tmp_path):
    assert scan._table_meta(str(tmp_path)) == scan._SPLITTABLE


def test_rewritten_file_is_seen(tmp_path):
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2, 3]}), p)
    assert scan._table_meta(p) == (1, 3)
    pq.write_table(pa.table({"doc_id": [1]}), p)
    assert scan._table_meta(p) == (1, 1)


def test_nested_layout_with_enough_row_groups_is_not_spread(spark, tmp_path):
    base = str(tmp_path / "docs")
    _write_partitioned(base, scan.spread_parallelism(spark))
    df = scan.read_spread(spark, base, "doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_read_table_takes_schema_from_one_footer(spark, tmp_path):
    # the partitioned table round-trips, its partition column discovered
    # from the directory names, and opening it runs no Spark job
    base = str(tmp_path / "t")
    _write_partitioned(base, 4)
    sc = spark.sparkContext
    sc.setJobGroup("read_table", "open")
    try:
        df = scan.read_table(spark, base)
        assert sc.statusTracker().getJobIdsForGroup("read_table") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert df.columns == ["doc_id", "text", "k"]
    assert sorted((r["doc_id"], r["k"]) for r in df.collect()) == [
        (i, (i // 3) % 2) for i in range(12)
    ]
