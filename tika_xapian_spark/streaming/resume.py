"""Resumable, checkpointed index construction with per-partition lineage
metrics (north rule: "resumable from checkpoint with per-partition lineage +
metrics"; SURVEY.md §2.1 S5, §5.2 T-resume).

One write path, restartable at bucket granularity:

  bucketed batch (index_resumable)
      Work is sharded by url-hash bucket (the same bucket(url) layout the
      docs table is partitioned by at scale, so each unit prunes to its own
      files). Each bucket commits atomically: postings parquet first, then a
      _done marker; a restart skips every marked bucket, so the job is
      idempotent under kill/retry — the DataFrame analogue of the
      reference's single durable db.commit() (src/main.rs:102), except
      commits are per-shard to bound re-work.

  re-index (upsert_postings)
      New and changed pages reach the same layout through the reference's
      replace_document upsert: only the buckets holding their urls are
      rewritten, swapped in through ``_staging`` so a crash at any step
      leaves a recoverable bucket (``recover_postings``).

Lineage: the marker ``<out>/_checkpoints/bucket_NNNNN.done`` is the one
record per bucket, a JSON row (unit, n_buckets, n_pages, n_ok, n_error,
n_postings, wall_sec) — enough to audit which input slice produced which
output files, and to spot skew (a hot host inflates one bucket's wall_sec).
It is written only after the bucket's postings land, so a bucket redone
after a crash still has exactly one. ``n_buckets`` is the build's bucket
count: a url hashed with any other count lands in the wrong bucket, so both
writers refuse a count that differs from the markers'.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.index import (
    bucket_col,
    explode_fused_carrier,
    extract_index_carrier,
)


def _marker(out_dir: str, bucket: int) -> str:
    return os.path.join(out_dir, "_checkpoints", f"bucket_{bucket:05d}.done")


def read_markers(out_dir: str) -> dict[int, dict]:
    """Bucket -> its lineage row, for every committed bucket of ``out_dir``."""
    ckpt = os.path.join(out_dir, "_checkpoints")
    markers = {}
    for name in sorted(os.listdir(ckpt)) if os.path.isdir(ckpt) else []:
        if name.startswith("bucket_") and name.endswith(".done"):
            with open(os.path.join(ckpt, name)) as f:
                markers[int(name[len("bucket_"):-len(".done")])] = json.load(f)
    return markers


def _bucket_count(out_dir: str, markers: dict[int, dict], n_buckets: int | None):
    """The build's bucket count as ``markers`` record it (None when there
    are none), checked against an explicit ``n_buckets``."""
    counts = {row.get("n_buckets") for row in markers.values()}
    if None in counts:  # written before markers recorded the count
        raise ValueError(f"{out_dir}: checkpoint markers have no n_buckets; rebuild the index")
    if n_buckets is not None and counts - {n_buckets}:
        raise ValueError(
            f"{out_dir}: built with n_buckets={max(counts)}, called with n_buckets={n_buckets}"
        )
    return max(counts, default=None)


def index_resumable(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
) -> dict:
    """Extract+index ``pages`` into ``out_dir/postings/bucket=N``, skipping
    buckets whose _done marker exists; a count that differs from the
    markers' raises ValueError. Returns a summary dict."""
    markers = read_markers(out_dir)
    _bucket_count(out_dir, markers, n_buckets)
    os.makedirs(os.path.join(out_dir, "_checkpoints"), exist_ok=True)
    done = set(markers)
    processed, skipped = [], sorted(done)
    todo = [b for b in range(n_buckets) if b not in done]

    from pyspark.sql import Observation

    # The pending pages are read and extracted ONCE into a persisted
    # carrier with a bucket column (doc is the url): a per-bucket filter on
    # the hash of url cannot be pushed into the parquet scan, so filtering
    # the input per bucket would read every url and html once per bucket.
    carrier = (
        extract_index_carrier(pages.filter(bucket_col("url", n_buckets).isin(todo)))
        .withColumn("bucket", bucket_col("doc", n_buckets))
        .persist()
    )
    try:
        for b in todo:
            t0 = time.time()
            # All lineage counts ride the single write action as
            # CollectMetrics nodes (df.observe) over this bucket's carrier
            # rows, where separate .count() actions would each re-read them.
            doc_obs = Observation(f"docs_b{b}")
            post_obs = Observation(f"postings_b{b}")
            shard = carrier.filter(F.col("bucket") == b).drop("bucket").observe(
                doc_obs,
                F.count(F.lit(1)).alias("n_pages"),
                F.sum((F.col("status") == "ok").cast("long")).alias("n_ok"),
            )
            postings = explode_fused_carrier(shard).observe(
                post_obs, F.count(F.lit(1)).alias("n_postings")
            )
            path = os.path.join(out_dir, "postings", f"bucket={b}")
            postings.write.mode("overwrite").parquet(path)
            n_pages = doc_obs.get["n_pages"]
            n_ok = doc_obs.get["n_ok"] or 0
            n_postings = post_obs.get["n_postings"]
            wall = time.time() - t0
            lineage = {
                "unit": b,
                "n_buckets": n_buckets,
                "n_pages": n_pages,
                "n_ok": n_ok,
                "n_error": n_pages - n_ok,
                "n_postings": n_postings,
                "wall_sec": round(wall, 3),
            }
            # the commit: the marker is written only after the data lands
            with open(_marker(out_dir, b), "w") as f:
                json.dump(lineage, f)
            processed.append(b)
    finally:
        carrier.unpersist()

    return {
        "processed": processed,
        "skipped": skipped,
        "out": os.path.join(out_dir, "postings"),
    }


def upsert_postings(
    spark: SparkSession,
    out_dir: str,
    new_pages: DataFrame,
    n_buckets: int | None = None,
) -> dict:
    """Re-index semantics: the reference's ``replace_document(Q<id>, doc)``
    upsert (/root/reference/src/main.rs:138-140) over the bucketed postings
    layout. Only buckets containing changed urls are rewritten:

      1. bucket the incoming pages by url hash, with the build's bucket
         count (``n_buckets=None`` takes it from the checkpoint markers; an
         explicit count must equal theirs);
      2. for each touched bucket: drop existing postings of the incoming
         urls (anti-join), union the freshly built postings, overwrite that
         bucket's files; untouched buckets are never read or written.

    Same row-level semantics as ``MERGE INTO idx.postings ON t.doc = s.doc``,
    at bucket-level commit granularity."""
    built = _bucket_count(out_dir, read_markers(out_dir), n_buckets)
    n_buckets = built if n_buckets is None else n_buckets
    if n_buckets is None:
        raise ValueError(f"{out_dir}: no checkpoint markers to take n_buckets from")
    with_bucket = new_pages.withColumn("bucket", bucket_col("url", n_buckets))
    touched = [
        r["bucket"] for r in with_bucket.select("bucket").distinct().collect()
    ]
    import shutil as _sh

    rewritten = []
    for b in sorted(touched):
        path = os.path.join(out_dir, "postings", f"bucket={b}")
        _recover_bucket(path)
        shard_pages = with_bucket.filter(F.col("bucket") == b).drop("bucket")
        fresh = explode_fused_carrier(extract_index_carrier(shard_pages))
        if os.path.exists(path):
            existing = spark.read.parquet(path)
            new_urls = fresh.select("doc").distinct()
            merged = existing.join(new_urls, "doc", "left_anti").unionByName(fresh)
        else:
            merged = fresh
        # Write into _staging (an underscore-prefixed sibling Spark's file
        # index ignores, so crash leftovers are never read as live partition
        # directories), then swap with the old data renamed aside first: a
        # crash at any point leaves a recoverable state and never a
        # double-counted bucket. _recover_bucket rolls forward/back.
        tmp, old = _staging_paths(out_dir, b)
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        _sh.rmtree(old, ignore_errors=True)
        rewritten.append(b)
    return {"rewritten_buckets": rewritten}


def _staging_paths(out_dir: str, bucket: int) -> tuple[str, str]:
    staging = os.path.join(out_dir, "_staging")
    os.makedirs(staging, exist_ok=True)
    return (
        os.path.join(staging, f"bucket-{bucket}.tmp"),
        os.path.join(staging, f"bucket-{bucket}.old"),
    )


def _recover_bucket(path: str) -> None:
    """Roll a bucket forward/back after a crash mid-swap in upsert_postings.

    Invariants of the swap protocol: ``.tmp`` is never complete until its
    rename (so it is always safe to discard); ``.old`` is the previous good
    data and is only deleted after the new data is in place. Both live under
    ``_staging`` where no reader ever sees them.
    """
    import shutil as _sh

    out_dir = os.path.dirname(os.path.dirname(path))
    b = int(path.rsplit("=", 1)[-1])
    tmp, old = _staging_paths(out_dir, b)
    if os.path.exists(tmp):
        _sh.rmtree(tmp, ignore_errors=True)  # incomplete write
    if os.path.exists(old):
        if os.path.exists(path):
            _sh.rmtree(old, ignore_errors=True)  # swap completed
        else:
            os.rename(old, path)  # crashed between the two renames


def recover_postings(out_dir: str) -> None:
    """Roll every interrupted bucket swap forward/back — cheap directory
    scan, run by read_postings so readers never observe a mid-swap state."""
    staging = os.path.join(out_dir, "_staging")
    if not os.path.isdir(staging):
        return
    for name in os.listdir(staging):
        if name.startswith("bucket-"):
            b = int(name.split("-", 1)[1].split(".")[0])
            _recover_bucket(os.path.join(out_dir, "postings", f"bucket={b}"))


def read_postings(spark: SparkSession, out_dir: str) -> DataFrame:
    recover_postings(out_dir)  # never serve a mid-swap bucket state
    return spark.read.parquet(os.path.join(out_dir, "postings"))

