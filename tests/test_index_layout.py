"""Index storage layout and scale-behavior checks: term-bucketed write/read
roundtrip, partition pruning on term lookups, carrier equivalence and
key types, and plan shape (pushed filters, broadcast joins)."""

import pytest
from pyspark.sql import functions as F

from tika_xapian_spark.operators import search as S
from tika_xapian_spark.operators.index import InvertedIndex

CORPUS = [(i, f"spark join word{i % 7} merge") for i in range(1, 101)]


@pytest.fixture(scope="module")
def written_index(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("idx"))
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=True)
    idx.write(base)
    yield base, idx
    idx.unpersist()


def test_roundtrip(spark, written_index):
    base, idx = written_index
    postings = spark.read.parquet(f"{base}/postings")
    assert postings.count() == idx.postings.count()
    doc_stats = spark.read.parquet(f"{base}/doc_stats")
    assert doc_stats.count() == idx.n_docs


def test_term_lookup_prunes_partitions(spark, written_index):
    base, _ = written_index
    [bucket] = InvertedIndex.read(spark, base).term_dictionary().buckets(["Zspark"])
    postings = spark.read.parquet(f"{base}/postings")
    # the dictionary's bucket is the partition value -> pruning at scan
    pruned = postings.filter(
        (F.col("term_bucket") == bucket) & (F.col("term") == "Zspark")
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(term_bucket" in plan, plan
    assert f"= {bucket})]" in plan.split("PartitionFilters:")[1], plan
    assert pruned.count() == 100  # every doc contains spark


def test_query_plan_is_one_scan_and_topk(spark, written_index):
    _, idx = written_index
    df = S.top_k(S.score_terms(idx, ["Zspark", "Zmerg"]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # literal termweights: no join of any kind
    assert "Join" not in plan


def test_fused_carrier_equals_two_stage_pipeline(spark):
    """extract_index_carrier (extraction fused with tokenization) builds the
    same index as build_from_extracted over extract_pages' columns."""
    from tika_xapian_spark.operators.extract import extract_pages
    from tika_xapian_spark.operators.index import extract_index_carrier
    from tika_xapian_spark.sources.pages import synth_pages

    def rows(idx):
        postings = {
            (r["doc"], r["term"], r["wdf"], tuple(r["positions"] or []), r["doclen"])
            for r in idx.postings.collect()
        }
        return postings, sorted(tuple(r) for r in idx.doc_stats.collect())

    pages = synth_pages(spark, 400)
    carrier = extract_index_carrier(pages)
    docs = extract_pages(pages)
    fused = InvertedIndex.from_fused_carrier(carrier)
    two_stage = InvertedIndex.build_from_extracted(docs, key="url")
    try:
        assert rows(fused) == rows(two_stage)
        assert (fused.n_docs, fused.avg_len) == (two_stage.n_docs, two_stage.avg_len)
        # the quarantine channel survives fusion
        assert (
            carrier.filter("status <> 'ok'").count()
            == docs.filter("status <> 'ok'").count()
        )
    finally:
        fused.unpersist()
        two_stage.unpersist()


def test_build_from_body_keeps_long_doc_key(written_index):
    _, idx = written_index
    assert idx.postings.schema["doc"].dataType.typeName() == "long"
    assert idx.doc_stats.schema["doc"].dataType.typeName() == "long"


def test_write_lays_out_three_tables(spark, tmp_path):
    # postings partitioned by term_bucket, flat doc_stats and term_stats
    # (each term's bucket a column); a reopen reads n_docs back
    import os

    docs = spark.createDataFrame(
        [(1, "spark join"), (2, "merge join")], "doc_id long, text string"
    )
    idx = InvertedIndex.build_from_body(docs, key="doc_id", stem=False)
    try:
        idx.write(str(tmp_path))
    finally:
        idx.unpersist()
    assert sorted(os.listdir(tmp_path)) == ["doc_stats", "postings", "term_stats"]
    buckets = [
        d for d in os.listdir(tmp_path / "postings") if not d.startswith(("_", "."))
    ]
    assert buckets == ["term_bucket=0"]
    for flat in ("doc_stats", "term_stats"):
        assert all(
            not os.path.isdir(tmp_path / flat / d) for d in os.listdir(tmp_path / flat)
        )
    assert "term_bucket" in spark.read.parquet(str(tmp_path / "term_stats")).columns
    back = InvertedIndex.read(spark, str(tmp_path))
    assert back.n_docs == 2
    assert {r["term"] for r in back.term_stats.collect()} == {"spark", "join", "merge"}
