"""The batch CLI end to end: ``index`` then ``query`` on synthetic pages
prints what ``search`` ranks over the same postings; ``curate`` writes the
docs the DuckDB oracle keeps."""

import json

import duckdb
from pyspark.sql import SparkSession

from tests.test_oracle_parity import SF_DIR
from tika_xapian_spark.__main__ import main
from tika_xapian_spark.operators.index import InvertedIndex
from tika_xapian_spark.plans.data_queries import _curate_gopher_oracle
from tika_xapian_spark.plans.query_compiler import search
from tika_xapian_spark.sources.pages import synth_pages
from tika_xapian_spark.streaming.resume import read_postings


def test_index_then_query_prints_search_ranking(spark, tmp_path, capsys, monkeypatch):
    # main() stops the session it get_spark()'d — the shared test session
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    pages, out = str(tmp_path / "pages"), str(tmp_path / "idx")
    synth_pages(spark, 128).write.parquet(pages)

    assert main(["index", "--pages", pages, "--out", out, "--buckets", "4"]) == 0
    assert '"processed": [0, 1, 2, 3]' in capsys.readouterr().out

    q = "markdown syntax"
    assert main(["query", "--index", out, q, "-k", "5", "--no-partial"]) == 0
    printed = capsys.readouterr().out.splitlines()

    idx = InvertedIndex.from_postings(read_postings(spark, out))
    try:
        want = [
            f"{r['score']:.6f}\t{r['doc']}"
            for r in search(idx, q, k=5, partial=False).collect()
        ]
    finally:
        idx.unpersist()
    assert len(want) == 5
    assert printed == want


def test_curate_writes_the_oracle_kept_docs(spark, tmp_path, capsys, monkeypatch):
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    docs, out = f"{SF_DIR}/documents.parquet", str(tmp_path / "curated")

    assert main(["curate", "--docs", docs, "--out", out, "--gate", "gopher"]) == 0
    printed = json.loads(capsys.readouterr().out)

    written = spark.read.parquet(out)
    assert printed["n_kept"] == written.count()
    assert set(spark.read.parquet(docs).columns) <= set(written.columns)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    want = [r[0] for r in con.execute(_curate_gopher_oracle()).fetchall()]
    assert sorted(r["doc_id"] for r in written.collect()) == want
