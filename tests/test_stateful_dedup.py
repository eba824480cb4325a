"""Cross-batch stateful streaming dedup (applyInPandasWithState): first-seen
docs emitted exactly once; re-delivered content suppressed via checkpointed
state."""

from pyspark.sql import functions as F

from tika_xapian_spark.streaming import stateful as ST


def _write_pages(spark, path, rows, mode="overwrite"):
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    df.write.mode(mode).parquet(path)


def _page(url, body: bytes):
    return (url, None, bytearray(body), body.decode(), "en")


def test_streaming_dedup_cross_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")

    # batch 1: two distinct contents, one duplicated within the batch
    _write_pages(
        spark,
        src,
        [
            _page("https://a/1", b"content alpha"),
            _page("https://a/2", b"content alpha"),
            _page("https://b/1", b"content beta"),
        ],
    )
    ST.streaming_dedup(spark, src, out)
    u1 = {r["content_hash"]: r for r in ST.read_unique(spark, out).collect()}
    assert len(u1) == 2
    alpha = [r for r in u1.values() if r["url"] == "https://a/1"]
    assert alpha and alpha[0]["n_duplicates_so_far"] == 1  # a/2 was a dup

    # batch 2: re-delivered alpha (mirror) + one new content
    _write_pages(
        spark,
        src,
        [
            _page("https://mirror/alpha", b"content alpha"),
            _page("https://c/1", b"content gamma"),
        ],
        mode="append",
    )
    ST.streaming_dedup(spark, src, out)
    rows = ST.read_unique(spark, out).collect()
    # alpha must NOT be re-emitted; gamma appears once
    assert len(rows) == 3
    urls = {r["url"] for r in rows}
    assert "https://mirror/alpha" not in urls
    assert "https://c/1" in urls


def test_streaming_dedup_deterministic_representative(spark, tmp_path):
    src = str(tmp_path / "s2")
    out = str(tmp_path / "o2")
    _write_pages(
        spark,
        src,
        [
            _page("https://z/9", b"same bytes"),
            _page("https://a/1", b"same bytes"),
            _page("https://m/5", b"same bytes"),
        ],
    )
    ST.streaming_dedup(spark, src, out)
    rows = ST.read_unique(spark, out).collect()
    assert len(rows) == 1
    assert rows[0]["url"] == "https://a/1"  # lexicographically smallest
    assert rows[0]["n_duplicates_so_far"] == 2
