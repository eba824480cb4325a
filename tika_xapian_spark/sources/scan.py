"""Scale-adaptive scan spreading for row-group-monolithic parquet inputs.

A Parquet scan task only reads the row groups whose start offset falls
inside its split, so a single-row-group file is read by ONE task no matter
how many splits Spark cuts (`maxPartitionBytes` cannot help) — and every
downstream map-side stage (tokenize, shingle explode, per-doc HOF folds,
the persisted postings carrier) inherits that single partition.  Measured
at sf1.0 (50k docs, one 5.9 MB row group): the whole "zero-shuffle
embarrassingly parallel" text_char_entropy pass ran on 1 of 32 cores, and
every cached index/shingle frame was pinned at 1 partition for all later
consumers.

Fix per the optimization guide §2.5 ("input skew: one huge unsplittable
file — repartition immediately after the read"): one hash exchange of the
compressed base table (documents @ sf1.0 ≈ 6 MB) keyed on the table's
primary key (deterministic placement, no round-robin pre-sort), buying
full-cluster parallelism for everything after it.

Scale-adaptive, not a local[32] constant: the target partition count
follows the session's core count, and inputs whose row-group layout
already feeds that many tasks (any real multi-file table at cluster
scale) are returned untouched, so the exchange disappears exactly when
the storage layout makes it redundant.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the counts _table_meta reports for a layout it cannot read: "splittable",
# so read_spread leaves the scan alone
_SPLITTABLE = (1 << 30, 1 << 60)


def _data_files(path: str) -> list[str]:
    """The parquet files Spark would scan under ``path``: the file itself,
    or every ``*.parquet`` below the directory, partition subdirectories
    (``k=v/``) included; names starting with ``_`` or ``.`` are skipped,
    as Spark skips them."""
    if os.path.isfile(path):
        return [path]
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        files += [
            os.path.join(root, n)
            for n in sorted(names)
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        ]
    return files


def _footers(path: str) -> list:
    """The parquet footers of every data file under ``path``, read on every
    call: a footer peek costs well under a millisecond, and an uncached
    peek always sees a rewritten file. An unreadable footer raises."""
    import pyarrow.parquet as pq

    return [pq.read_metadata(f) for f in _data_files(path)]


def parquet_rows(path: str) -> int:
    """The row count of the parquet table at ``path``, from its footers.
    An unreadable footer raises: a count read around it would be silently
    wrong."""
    return sum(m.num_rows for m in _footers(path))


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """The parquet table at ``path``, its schema read from one footer with
    pyarrow instead of by Spark's schema-inference job; partition columns
    are still discovered from the directory names."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    reader = spark.read
    files = _data_files(path)
    if files:
        reader = reader.schema(from_arrow_schema(pq.read_schema(files[0])))
    return reader.parquet(path)


def _table_meta(path: str) -> tuple[int, int]:
    """(total row groups, total rows) from parquet footers. A layout with
    no local parquet files, or one whose footers cannot be read, is
    reported splittable."""
    try:
        metas = _footers(path)
    except (OSError, ValueError):  # unreadable footer (pyarrow's ArrowInvalid)
        return _SPLITTABLE
    if not metas:
        return _SPLITTABLE
    return (
        sum(m.num_row_groups for m in metas) or 1,
        sum(m.num_rows for m in metas),
    )


def spread_parallelism(spark: SparkSession) -> int:
    # Match the session's shuffle partition count so downstream
    # groupBy/join on the spread key REUSE the reader's partitioning
    # (guide §2.4: same key + same partition count = no second exchange;
    # a mismatched count forces ENSURE_REQUIREMENTS to re-shuffle).
    # Scale-adaptive by construction — it follows whatever the deployment
    # sets `spark.sql.shuffle.partitions` to.
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        n = spark.sparkContext.defaultParallelism
    return max(n, 1)


DEFAULT_SPREAD_MIN_ROWS = 20_000


def read_spread(
    spark: SparkSession, path: str, key: str, min_rows: int = 0
) -> DataFrame:
    """``spark.read.parquet(path)`` + hash-repartition on ``key`` iff the
    file's row-group layout would otherwise serialize the scan (see module
    docstring).  Filters/pruning still reach the parquet scan: Catalyst
    pushes deterministic predicates through RepartitionByExpression.

    ``min_rows``: below this row count the table is returned raw — for
    consumers whose per-row work is light-to-moderate, a small table's
    single scan task finishes in O(100 ms) and the exchange plus the
    extra n-task stages cost more than the parallelism buys (measured:
    dsir_importance at 5k docs is 1.7 s raw vs 2.2 s spread, while at 50k
    docs spread wins 4.5 s vs 6.8 s).  Consumers with genuinely heavy
    per-row folds (char-trigram entropy, gopher repetition, shingle
    explode) pass ``min_rows=0`` — they win from the spread even at 5k
    rows (2.2 s -> 0.4 s)."""
    df = spark.read.parquet(path)
    n = spread_parallelism(spark)
    rgs, rows = _table_meta(path)
    if rgs >= n or rows < min_rows:
        return df
    return df.repartition(n, F.col(key))
