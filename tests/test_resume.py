"""T-resume: kill/restart mid-index — completed buckets are skipped and the
final postings equal a clean run (SURVEY.md §5.2)."""

import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from tika_xapian_spark.operators.index import bucket_col
from tika_xapian_spark.sources.pages import synth_pages
from tika_xapian_spark.streaming import resume as R

N = 256
N_BUCKETS = 8


@pytest.fixture()
def outdirs(tmp_path):
    return str(tmp_path / "partial"), str(tmp_path / "clean")


def _postings_set(spark, out_dir):
    df = R.read_postings(spark, out_dir)
    return {
        (r["doc"], r["term"], r["wdf"], tuple(r["positions"] or []))
        for r in df.collect()
    }


def test_resume_skips_completed_and_matches_clean(spark, outdirs):
    partial_dir, clean_dir = outdirs
    pages = synth_pages(spark, N)

    # clean run
    summary_clean = R.index_resumable(spark, pages, clean_dir, N_BUCKETS)
    assert summary_clean["skipped"] == []
    assert sorted(summary_clean["processed"]) == list(range(N_BUCKETS))

    # simulate a crash: run, then delete the markers of the last 5 buckets
    # AND their data (as if they never committed)
    R.index_resumable(spark, pages, partial_dir, N_BUCKETS)
    for b in range(3, N_BUCKETS):
        os.remove(R._marker(partial_dir, b))
        shutil.rmtree(
            os.path.join(partial_dir, "postings", f"bucket={b}"), ignore_errors=True
        )

    # restart: buckets 0-2 skipped, 3-7 reprocessed
    summary = R.index_resumable(spark, pages, partial_dir, N_BUCKETS)
    assert summary["skipped"] == [0, 1, 2]
    assert summary["processed"] == list(range(3, N_BUCKETS))

    assert _postings_set(spark, partial_dir) == _postings_set(spark, clean_dir)
    # one lineage record per bucket, the redone buckets' included: the
    # markers are the only lineage store and count each page once
    assert sorted(os.listdir(partial_dir)) == ["_checkpoints", "postings"]
    markers = R.read_markers(partial_dir)
    assert sorted(markers) == list(range(N_BUCKETS))
    assert sum(m["n_pages"] for m in markers.values()) == N


def test_metrics_lineage(spark, tmp_path):
    out = str(tmp_path / "m")
    pages = synth_pages(spark, N)
    R.index_resumable(spark, pages, out, 4)
    rows = R.read_markers(out)
    assert set(rows) == {0, 1, 2, 3}
    assert all(r["unit"] == b and r["n_buckets"] == 4 for b, r in rows.items())
    assert sum(r["n_pages"] for r in rows.values()) == N
    # every 8th synthetic page is the error case
    assert sum(r["n_error"] for r in rows.values()) == N // 8
    assert all(r["n_postings"] > 0 for r in rows.values())


def test_noop_on_fully_complete(spark, tmp_path):
    out = str(tmp_path / "full")
    pages = synth_pages(spark, N)
    R.index_resumable(spark, pages, out, 4)
    summary = R.index_resumable(spark, pages, out, 4)
    assert summary["processed"] == []
    assert summary["skipped"] == [0, 1, 2, 3]


def test_new_pages_arrive_through_upsert(spark, tmp_path):
    # new pages reach a resumable index through upsert_postings (the
    # reference's replace_document path): the result equals a clean build
    # over old + new pages, and only the new pages' buckets are rewritten.
    # The three new pages include a quarantined one (no front matter).
    pages = synth_pages(spark, 128)
    is_new = F.col("url").rlike(r"/note4[036]\.")
    old, new = pages.filter(~is_new), pages.filter(is_new)
    out = str(tmp_path / "upserted")
    R.index_resumable(spark, old, out, N_BUCKETS)
    summary = R.upsert_postings(spark, out, new, N_BUCKETS)

    want = sorted(
        r["b"]
        for r in new.select(bucket_col("url", N_BUCKETS).alias("b"))
        .distinct()
        .collect()
    )
    assert 0 < len(want) < N_BUCKETS
    assert summary["rewritten_buckets"] == want

    clean = str(tmp_path / "clean")
    R.index_resumable(spark, old.unionByName(new), clean, N_BUCKETS)
    assert _postings_set(spark, out) == _postings_set(spark, clean)


def test_resume_runs_one_job_per_bucket(spark, tmp_path):
    # Lineage counts ride the single write action as CollectMetrics
    # (df.observe) and land in the bucket's marker file: per bucket exactly
    # 1 job runs, the postings write. The round-1 implementation ran 5
    # (extract re-executed by docs.count(), ok.count(), and an output
    # re-read).
    pages = synth_pages(spark, N)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    R.index_resumable(spark, pages, str(tmp_path / "jobs"), n_buckets=4)
    n_jobs = len(tracker.getJobIdsForGroup(None)) - before
    assert n_jobs <= 4, n_jobs


def test_restart_with_other_bucket_count_raises(spark, tmp_path):
    # a restart hashing urls with another count would skip the marked
    # buckets and index their pages a second time elsewhere
    out = str(tmp_path / "mismatch")
    pages = synth_pages(spark, N)
    R.index_resumable(spark, pages, out, 4)
    before = _postings_set(spark, out)
    with pytest.raises(ValueError, match="n_buckets=4"):
        R.index_resumable(spark, pages, out, 8)
    assert _postings_set(spark, out) == before


def test_marker_without_bucket_count_raises(spark, tmp_path):
    out = str(tmp_path / "old")
    pages = synth_pages(spark, 32)
    R.index_resumable(spark, pages, out, 2)
    with open(R._marker(out, 0)) as f:
        row = json.load(f)
    del row["n_buckets"]
    with open(R._marker(out, 0), "w") as f:
        json.dump(row, f)
    with pytest.raises(ValueError, match=re.escape(out)):
        R.index_resumable(spark, pages, out, 2)
    with pytest.raises(ValueError, match=re.escape(out)):
        R.upsert_postings(spark, out, pages.limit(1))


def test_build_reads_each_input_row_once(spark, tmp_path):
    # The pending pages are extracted once into a persisted carrier that
    # every bucket's write filters: a counting pass-through over the input
    # sees each row once, not once per bucket.
    seen = spark.sparkContext.accumulator(0)

    def count(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    pages = synth_pages(spark, N)
    counted = pages.mapInPandas(count, pages.schema)
    summary = R.index_resumable(spark, counted, str(tmp_path / "once"), 4)
    assert summary["processed"] == [0, 1, 2, 3]
    assert seen.value == N
