"""Upsert/re-index semantics: replace_document parity — re-indexing a url
replaces its postings; untouched buckets are not rewritten."""

import os

import pytest
from pyspark.sql import functions as F

from tika_xapian_spark.sources.pages import synth_pages
from tika_xapian_spark.streaming import resume as R

N = 128
N_BUCKETS = 8


def _terms_of(spark, out, url):
    df = R.read_postings(spark, out).filter(F.col("doc") == url)
    return {r["term"] for r in df.collect()}


def test_upsert_replaces_changed_docs(spark, tmp_path):
    out = str(tmp_path / "u")
    pages = synth_pages(spark, N)
    R.index_resumable(spark, pages, out, N_BUCKETS)
    before_total = R.read_postings(spark, out).count()

    # re-index one known url with different body content
    victim = pages.filter(F.col("url").contains("fm-basic")).limit(1).collect()[0]
    url = victim["url"]
    old_terms = _terms_of(spark, out, url)
    assert "Zmarkdown" in old_terms  # original body mentions Markdown

    new_payload = (
        b"---\nauthor: A\ndate: 2021-06-22T12:48:16-0400\ntags: tika\n"
        b"title: replaced\n---\ncompletely different zebra content\n"
    )
    new_pages = spark.createDataFrame(
        [(url, victim["warc_ts"], bytearray(new_payload), new_payload.decode(), "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    summary = R.upsert_postings(spark, out, new_pages, N_BUCKETS)
    assert len(summary["rewritten_buckets"]) == 1  # only the victim's bucket

    new_terms = _terms_of(spark, out, url)
    assert "Zzebra" in new_terms
    assert "Zmarkdown" not in new_terms

    # all other docs untouched
    others = R.read_postings(spark, out).filter(F.col("doc") != url)
    assert others.select("doc").distinct().count() == N - N // 8 - 1


def test_upsert_inserts_new_docs(spark, tmp_path):
    out = str(tmp_path / "v")
    R.index_resumable(spark, synth_pages(spark, N), out, N_BUCKETS)
    n0 = R.read_postings(spark, out).select("doc").distinct().count()

    payload = (
        b"---\nauthor: A\ndate: 2021-06-22T12:48:16-0400\ntags: tika\n"
        b"title: brand new\n---\nfresh insert body\n"
    )
    new_pages = spark.createDataFrame(
        [("https://hostXX.example/new/noteX.md", None, bytearray(payload), payload.decode(), "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    R.upsert_postings(spark, out, new_pages, N_BUCKETS)
    n1 = R.read_postings(spark, out).select("doc").distinct().count()
    assert n1 == n0 + 1


def test_read_recovers_mid_swap_crash(spark, tmp_path):
    # crash between the two renames: bucket dir moved aside, new not yet in
    # place — read_postings must roll back and serve the original data,
    # and crash leftovers in _staging must never appear as live partitions
    import os

    from tika_xapian_spark.sources.pages import synth_pages

    out = str(tmp_path / "out")
    pages = synth_pages(spark, 64)
    R.index_resumable(spark, pages, out, 2)
    before = {
        (r["doc"], r["term"], r["wdf"]) for r in R.read_postings(spark, out).collect()
    }
    bucket = os.path.join(out, "postings", "bucket=0")
    tmp_p, old_p = R._staging_paths(out, 0)
    os.rename(bucket, old_p)  # the mid-swap crash state
    after = {
        (r["doc"], r["term"], r["wdf"]) for r in R.read_postings(spark, out).collect()
    }
    assert after == before
    assert os.path.isdir(bucket) and not os.path.exists(old_p)


def test_upsert_takes_bucket_count_from_markers(spark, tmp_path):
    # the build's 4 buckets come from its markers: re-indexing a url
    # replaces its postings in its own bucket, where a count of 16 would
    # hash it into a new bucket and leave the old postings in place
    out = str(tmp_path / "four")
    pages = synth_pages(spark, 64)
    R.index_resumable(spark, pages, out, 4)
    victim = pages.filter(F.col("url").contains("fm-basic")).limit(1)
    url = victim.collect()[0]["url"]
    rows = R.read_postings(spark, out).filter(F.col("doc") == url).count()
    assert rows > 0

    summary = R.upsert_postings(spark, out, victim)
    assert len(summary["rewritten_buckets"]) == 1
    assert sorted(os.listdir(os.path.join(out, "postings"))) == [
        f"bucket={b}" for b in range(4)
    ]
    assert R.read_postings(spark, out).filter(F.col("doc") == url).count() == rows
    with pytest.raises(ValueError, match="n_buckets=16"):
        R.upsert_postings(spark, out, victim, 16)
