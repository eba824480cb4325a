"""Posting-list index construction (SURVEY.md §2.1 S4-S5, §2.2 T4, §2.3).

Replaces the reference's local Xapian database (/root/reference/src/main.rs:114-143)
with columnar posting-list DataFrames/tables:

  postings(doc, term, wdf, positions, doclen)
                                        — K11 wdf; positions of unstemmed
                                          terms; doclen denormalized per row;
                                          read() keeps term_bucket too
  doc_stats(doc, doclen)                — doclen = sum of wdf over ALL terms of
                                          the doc (incl. Z-stems), Xapian's
                                          document-length definition
  term_stats(term, df, cf, max_wdf)     — collection frequencies for BM25 R1
                                          and the WAND-style max-score bound;
                                          held on the driver as the term
                                          dictionary (TermDictionary)

One postings pipeline, the reference's one TermGenerator loop per note:
  - every build runs one ``mapInPandas`` pass that emits the flat per-doc
    carrier (doc, status, error, terms, wdfs, positions, doclen): from raw
    pages (extract_index_carrier — extraction and tokenization fused in one
    Python worker) or from already-extracted field columns
    (build_from_extracted; build_from_body is its one-field case);
  - a document's tokens are colocated in its row, so (term -> wdf,
    positions) and doclen are aggregated there by _doc_postings — the one
    per-token loop — and postings/doc_stats are shuffle-free projections of
    the carrier (explode_fused_carrier); only term_stats aggregates.

A written index is these three tables, ``postings`` term-sorted in
``term_bucket`` partitions (Iceberg's ``bucket(n, term)`` transform) and
``term_stats`` holding each term's bucket. Only InvertedIndex.write hashes
terms: a reopened index prunes a probe (InvertedIndex.postings_of) to its
dictionary's buckets for the probe's terms, and runs no aggregation.
"""

from __future__ import annotations

import os
from bisect import bisect_left
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions import tokenizer as tok
from .extract import parse_page

# A written index gets min(N_BUCKETS, ceil(postings rows / POSTINGS_PER_BUCKET))
# term buckets, at least 1. Seed-7 gen_row pages, 4-core host: at 1,000 pages
# 1 bucket reopens in 0.14 s (64: 0.8-0.9 s) in 1 file of 66 KB (64: 571 KB),
# keystrokes equal; at 100k pages (4.07M rows) 64 buckets answer a matched
# keystroke in 225 ms, 5 unbucketed files in 289 ms.
N_BUCKETS = 64
POSTINGS_PER_BUCKET = 65_536
# Byte cap of the driver-held term dictionary (its Arrow bytes). A
# 1,000-page gen_row index holds ~3.8k terms in ~0.1 MB, and gen_row adds
# about one term per page, so the cap holds a few million terms.
DICTIONARY_MAX_BYTES = 64 << 20

# The extracted-document columns assemble_fields consumes, in its argument
# order (extract_pages / parse_page names).
FIELD_COLS = (
    "author", "date", "filename", "full_path", "title", "subtitle", "tags", "body",
)


def assemble_fields(author, date, filename, full_path, title, subtitle, tags, body):
    """The (prefix, text) field list in reference order — K per tag, then
    the unprefixed body, sharing one position counter (K8). Single source of
    truth for field order: every carrier row is built from this list."""
    fields = [
        ("A", author or ""),
        ("D", date or ""),
        ("F", filename or ""),
        ("F", full_path or ""),
        ("S", title or ""),
        ("XS", subtitle or ""),
    ]
    if tags is not None:  # arrives as list OR numpy array (Arrow batch)
        for one_tag in tags:
            fields.append(("K", one_tag or ""))
    fields.append(("", body or ""))
    return fields


def _doc_postings(fields: list[tuple[str, str]], stem: bool) -> dict:
    """Per-document posting aggregation (K11 wdf + positions), sorted by term
    for deterministic output.

    Fused form of ``tok.index_document`` + aggregation: emits the identical
    term/wdf/position/doclen set without materializing the intermediate
    Token list (this loop dominates the index-build pipeline; equivalence to
    index_document is property-tested in tests/test_properties.py). ASCII
    fast paths replace the per-token utf-8 encode and unicodedata lookups.
    ``stem=False`` is TermGenerator's STEM_NONE strategy
    (termgenerator_internal.cc:269-282): positional terms only, no Z-stems."""
    agg: dict[str, list] = {}
    pos = 0
    n_toks = 0
    stem_cached = tok._stem_cached
    should_stem = tok._should_stem
    for prefix, text in fields:
        if not text:
            continue
        # chunk-cached scan: punctuation no longer drops the whole doc to
        # the slow exact scanner, and Zipf-repeated chunks skip it entirely
        for term in tok.scan_terms_chunked(text):
            # K7: >64 *bytes* dropped; len() short-circuits the encode for
            # anything comfortably inside the cap
            if len(term) > 16 and len(term.encode("utf-8")) > tok.MAX_TERM_BYTES:
                continue
            pos += 1
            n_toks += 1
            t = prefix + term
            e = agg.get(t)
            if e is None:
                agg[t] = e = [1, [pos]]
            else:
                e[0] += 1
                e[1].append(pos)
            if not stem:
                continue
            # K9 should_stem: first codepoint Ll/Lt/Lm/Lo — ASCII fast path
            c0 = term[0]
            if "a" <= c0 <= "z":
                pass  # Ll — stem
            elif c0.isascii() or not should_stem(term):
                continue  # ASCII digit/upper/underscore, or non-Ll/Lt/Lm/Lo
            stemmed = stem_cached(term)
            if not stemmed:
                continue
            n_toks += 1
            zt = "Z" + prefix + stemmed
            e = agg.get(zt)
            if e is None:
                agg[zt] = e = [1, []]
            else:
                e[0] += 1
        # positions share one counter across fields (K8)
    terms = sorted(agg)
    return {
        "terms": terms,
        "wdfs": [agg[t][0] for t in terms],
        "positions": [agg[t][1] for t in terms],
        "doclen": n_toks,
    }


def _carrier_schema(doc_type: DataType) -> StructType:
    """The per-doc postings carrier: doc key, error channel, and the
    aggregated postings as flat parallel-array columns (no nested struct —
    cheaper Arrow transfer). ``doc`` keeps the input key's type."""
    return StructType(
        [
            StructField("doc", doc_type),
            StructField("status", StringType()),
            StructField("error", StringType()),
            StructField("terms", ArrayType(StringType())),
            StructField("wdfs", ArrayType(IntegerType())),
            StructField("positions", ArrayType(ArrayType(IntegerType()))),
            StructField("doclen", IntegerType()),
        ]
    )


_CARRIER_COLS = [f.name for f in _carrier_schema(StringType()).fields]


def _ok_row(doc, fields, stem: bool) -> tuple:
    """One carrier row from a document's FIELD_COLS values."""
    p = _doc_postings(assemble_fields(*fields), stem)
    return (doc, "ok", None, p["terms"], p["wdfs"], p["positions"], p["doclen"])


def _map_carrier(df: DataFrame, doc_type: DataType, row_of) -> DataFrame:
    """mapInPandas ``row_of(*row)`` over every row of ``df`` (whose columns
    are exactly row_of's arguments) into the carrier schema."""

    def run(batches):
        for pdf in batches:
            rows = [row_of(*r) for r in zip(*(pdf[c] for c in pdf.columns))]
            yield pd.DataFrame(rows, columns=_CARRIER_COLS)

    return df.mapInPandas(run, _carrier_schema(doc_type))


def extract_index_carrier(pages: DataFrame, stem: bool = True) -> DataFrame:
    """ONE mapInPandas pass from raw pages to the per-doc postings carrier.

    Extraction and tokenization run in the same Python worker: the html
    payload and the extracted body never cross back to the JVM; only url +
    status/error + the aggregated postings arrays (what the index actually
    needs) are serialized out. Extraction semantics are exactly
    parse_page's; postings exactly build_from_extracted's over
    extract_pages (pinned in tests).

    Error rows keep the quarantine channel (status/error with null postings)
    so lineage counts ride the same pass via df.observe."""

    def row_of(url, html):
        d = parse_page(url, html)
        if d["status"] != "ok":
            return (url, d["status"], d["error"], None, None, None, None)
        return _ok_row(url, [d[c] for c in FIELD_COLS], stem)

    return _map_carrier(pages.select("url", "html"), StringType(), row_of)


def explode_fused_carrier(carrier: DataFrame) -> DataFrame:
    """carrier -> postings(doc, term, wdf, positions, doclen), ok rows only,
    no shuffle.

    doclen rides every posting row — the same denormalization Xapian's
    postlist entries use (each chert/glass entry stores wdf AND doclen), so
    BM25 scoring is a pure map over the postings scan with NO doc_stats
    join: at 10^12 docs that join would shuffle the full doc-stats side per
    query. Storage cost is one RLE-friendly int per posting."""
    return (
        carrier.filter(F.col("status") == "ok")
        .select(
            "doc",
            F.col("doclen").cast("long").alias("doclen"),
            F.explode(F.arrays_zip("terms", "wdfs", "positions")).alias("e"),
        )
        .select(
            "doc",
            F.col("e.terms").alias("term"),
            F.col("e.wdfs").alias("wdf"),
            F.col("e.positions").alias("positions"),
            "doclen",
        )
    )


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def bucket_col(col: str | Column, n: int) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(n)).cast("int")


def build_doc_stats(postings: DataFrame) -> DataFrame:
    """doc_stats from a postings table: doclen rides every posting row."""
    return postings.groupBy("doc").agg(F.max("doclen").cast("long").alias("doclen"))


def build_term_stats(postings: DataFrame) -> DataFrame:
    # postings is unique per (doc, term) so df = count(*)
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("wdf").cast("long").alias("cf"),
        F.max("wdf").cast("int").alias("max_wdf"),
    )


# Xapian's spelling fragment scheme (XC backends/glass/glass_spelling.cc
# toggle_word): Head 'H'+first2, Tail 'T'+last2, Bookends 'B'+first+last for
# words of <= 4 chars (covers middle-pair transposition / middle-char edits
# that change every interior trigram), Middles 'M'+each trigram for words of
# > 2 chars. Words must be >= 2 chars (Xapian asserts word.size() > 1).
_FRAG_EXPR = """
array_distinct(concat(
  array(concat('H', substring(term, 1, 2)),
        concat('T', substring(term, length(term) - 1, 2))),
  CASE WHEN length(term) <= 4
       THEN array(concat('B', substring(term, 1, 1),
                         substring(term, length(term), 1)))
       ELSE cast(array() as array<string>) END,
  CASE WHEN length(term) > 2
       THEN transform(sequence(1, length(term) - 2),
                      i -> concat('M', substring(term, i, 3)))
       ELSE cast(array() as array<string>) END
))
"""


def build_vocab_frag(term_stats: DataFrame) -> DataFrame:
    """Xapian's persistent spelling table analogue (K12/Q19): vocabulary
    terms exploded to spelling fragments (the H/T/B/M scheme of
    xapian-core's spelling B-tree — see _FRAG_EXPR), keyed by fragment for
    blocked candidate lookup. Z-stems are excluded — the spelling dictionary
    holds surface forms. Built and persisted once per index
    (spelling_table()); rebuilding it per query would be a full-vocabulary
    explode per keystroke."""
    vocab = term_stats.filter(
        ~F.col("term").startswith("Z") & (F.length("term") >= 2)
    )
    return vocab.select(
        "term", "df", F.explode(F.expr(_FRAG_EXPR)).alias("frag")
    )


class TermDictionary:
    """The term dictionary held on the driver: term_stats sorted by term —
    the sorted key space of Xapian's postlist B-tree (SURVEY.md §1.2). A
    term's statistics are a bisect and a prefix expansion is two, with no
    Spark job. Over DICTIONARY_MAX_BYTES it raises, naming the size."""

    def __init__(self, table: pa.Table):
        if table.nbytes > DICTIONARY_MAX_BYTES:
            raise ValueError(
                f"term dictionary is {table.nbytes:,} bytes, over the "
                f"{DICTIONARY_MAX_BYTES:,}-byte cap (DICTIONARY_MAX_BYTES)"
            )
        # Arrow sorts strings bytewise, which for UTF-8 is code point order:
        # Python's str order (bisect) and Spark's (the old orderBy)
        table = table.sort_by("term")
        self.terms: list[str] = table.column("term").to_pylist()
        self.df = table.column("df").to_numpy()
        self.max_wdf = table.column("max_wdf").to_numpy()
        self.total_len = int(table.column("cf").to_numpy().sum())
        self.postings_rows = int(self.df.sum())  # one row per (doc, term)
        self.bucket = (  # a written index's postings bucket of each term
            table.column("term_bucket").to_numpy()
            if "term_bucket" in table.column_names else None
        )

    def _find(self, term: str) -> int | None:
        i = bisect_left(self.terms, term)
        return i if i < len(self.terms) and self.terms[i] == term else None

    def stats(self, term: str) -> tuple[int, int] | None:
        """(df, max_wdf) of ``term``, or None when no document holds it."""
        i = self._find(term)
        return None if i is None else (int(self.df[i]), int(self.max_wdf[i]))

    def buckets(self, terms: list[str]) -> list[int]:
        """The postings buckets of the dictionary terms of ``terms``."""
        return sorted({int(self.bucket[i]) for t in terms if (i := self._find(t)) is not None})

    def expand(self, prefix: str, limit: int) -> list[str]:
        """The terms starting with ``prefix``: the ``limit`` with the highest
        df, ties by term ascending."""
        lo = bisect_left(self.terms, prefix)
        # the least string above every extension of prefix: drop trailing
        # max code points, then bump the last one
        head = prefix.rstrip("\U0010ffff")
        hi = (
            bisect_left(self.terms, head[:-1] + chr(ord(head[-1]) + 1), lo)
            if head
            else len(self.terms)
        )
        # stable sort on -df keeps the range's term order within a df
        order = np.argsort(-self.df[lo:hi], kind="stable")[:limit]
        return [self.terms[lo + int(i)] for i in order]


@dataclass
class InvertedIndex:
    """The index tables + cached collection-level stats."""

    postings: DataFrame
    doc_stats: DataFrame
    term_stats: DataFrame
    n_docs: int
    avg_len: float
    # the spelling table (build_vocab_frag), built and persisted on the
    # first spelling query
    vocab_frag: DataFrame | None = None
    # the persisted carrier postings/doc_stats derive from (built indexes
    # only): unpersist() must release it, or a rebuild over a rewritten
    # input with the same plan is served the old cached rows
    carrier: DataFrame | None = None
    # the driver-held term dictionary: loaded by read(), else collected
    # from term_stats on first use (term_dictionary())
    dictionary: TermDictionary | None = None

    def spelling_table(self) -> DataFrame:
        if self.vocab_frag is None:
            self.vocab_frag = build_vocab_frag(self.term_stats).persist()
        return self.vocab_frag

    def term_dictionary(self) -> TermDictionary:
        """The driver-held dictionary, collected on first use if unread."""
        if self.dictionary is None:
            self.dictionary = TermDictionary(self.term_stats.toArrow())
        return self.dictionary

    def postings_of(self, terms: list[str]) -> DataFrame:
        """The postings of ``terms`` — the one term probe every scoring
        operator scans. ``term IN (...)`` reaches the parquet scan as a
        pushed filter (row-group pruning on the term-sorted files); over a
        written index ``term_bucket IN (...)``, with the integer buckets the
        dictionary holds for the terms, is a partition filter, so the scan
        lists only those bucket directories. The predicate is one SQL
        string: one call into the JVM, where building it from Columns
        costs ~5 per term."""
        hit = f"term IN ({', '.join(map(sql_string, terms))})"
        d = self.term_dictionary()
        if d.bucket is None:  # not read from a written index
            return self.postings.filter(hit)
        # no dictionary term: IN (NULL) matches no bucket
        buckets = ", ".join(map(str, d.buckets(terms))) or "NULL"
        return self.postings.filter(f"term_bucket IN ({buckets}) AND {hit}").drop("term_bucket")

    @classmethod
    def from_postings(
        cls,
        postings: DataFrame,
        doc_stats: DataFrame | None = None,
        carrier: DataFrame | None = None,
    ) -> "InvertedIndex":
        """Index over a postings frame: term_stats aggregates (persisted, the
        dictionary is collected from it on first use); doc_stats defaults to
        one row per doc of the postings; n_docs and avg_len come from one
        aggregation job."""
        if doc_stats is None:
            doc_stats = build_doc_stats(postings)
        row = doc_stats.agg(
            F.count(F.lit(1)).alias("n"), F.avg("doclen").alias("avg")
        ).collect()[0]
        return cls(
            postings=postings,
            doc_stats=doc_stats,
            term_stats=build_term_stats(postings).persist(),
            n_docs=int(row["n"] or 0),
            avg_len=float(row["avg"] or 0.0),
            carrier=carrier,
        )

    @classmethod
    def from_fused_carrier(cls, carrier: DataFrame) -> "InvertedIndex":
        """Index from a postings carrier (extract_index_carrier or
        build_from_extracted): quarantine rows drop here; postings and
        doc_stats are pure map-side projections; only term_stats aggregates
        (one light shuffle). The carrier is cached before the stats action,
        so the carrier UDF executes exactly ONCE even though three tables
        reference it — the same single-execution discipline as
        streaming/resume.py (pinned in test_plan_shapes)."""
        carrier = carrier.persist()
        ok = carrier.filter(F.col("status") == "ok")
        return cls.from_postings(
            explode_fused_carrier(carrier),
            ok.select("doc", F.col("doclen").cast("long").alias("doclen")),
            carrier,
        )

    @classmethod
    def build_from_body(
        cls, docs: DataFrame, key: str, stem: bool = True
    ) -> "InvertedIndex":
        """Index a ``text`` column as the unprefixed body of a one-field
        document: with every other field empty, assemble_fields yields
        exactly the body-only postings."""
        one_field = docs.select(
            key,
            *[
                F.lit(None).cast("string").alias(c)
                for c in FIELD_COLS
                if c not in ("tags", "body")
            ],
            F.lit(None).cast("array<string>").alias("tags"),
            F.col("text").alias("body"),
            F.lit("ok").alias("status"),
        )
        return cls.build_from_extracted(one_field, key=key, stem=stem)

    @classmethod
    def build_from_extracted(
        cls, docs: DataFrame, key: str = "url", stem: bool = True
    ) -> "InvertedIndex":
        """Index already-extracted documents (extract_pages' columns): the
        same per-row carrier pass as extract_index_carrier, minus parsing.
        Only the key and FIELD_COLS cross Arrow; ``doc`` keeps the key's
        type."""
        fields = docs.filter(F.col("status") == "ok").select(key, *FIELD_COLS)
        carrier = _map_carrier(
            fields,
            docs.schema[key].dataType,
            lambda doc, *vals: _ok_row(doc, vals, stem),
        )
        return cls.from_fused_carrier(carrier)

    def unpersist(self) -> None:
        for df in (
            self.postings, self.doc_stats, self.term_stats, self.vocab_frag,
            self.carrier,
        ):
            if df is None:
                continue
            try:
                df.unpersist()
            except Exception:
                pass

    @classmethod
    def read(cls, spark, base_dir: str) -> "InvertedIndex":
        """Reopen a written index with no aggregation job: the term
        dictionary is read from term_stats on the driver, n_docs is the
        doc_stats row count from its footers, and total length is the
        dictionary's sum of cf (doclen is the sum of wdf), so avg_len equals
        Spark's avg of doclen for integer sums below 2^53. Schemas come from
        one footer each, so the only job is the parallel listing of over 32
        (parallelPartitionDiscovery.threshold) postings buckets."""
        from ..sources.scan import parquet_rows, read_table

        stats = pq.read_table(os.path.join(base_dir, "term_stats"))
        if "term_bucket" not in stats.column_names:  # written before buckets were sized
            raise ValueError(f"{base_dir}: term_stats has no term_bucket; rewrite the index")
        dictionary = TermDictionary(stats)
        n_docs = parquet_rows(os.path.join(base_dir, "doc_stats"))
        postings, doc_stats, term_stats = (
            read_table(spark, os.path.join(base_dir, name))
            for name in ("postings", "doc_stats", "term_stats")
        )
        return cls(
            postings=postings,
            doc_stats=doc_stats,
            term_stats=term_stats.drop("term_bucket"),
            n_docs=n_docs,
            avg_len=float(dictionary.total_len) / n_docs if n_docs else 0.0,
            dictionary=dictionary,
        )

    def write(self, base_dir: str) -> None:
        """Write the three index tables as parquet under ``base_dir``:
        ``postings`` partitioned by term bucket (the count from the
        dictionary's rows, no scan), ``term_stats`` with each term's bucket,
        and a flat ``doc_stats``. Each term keeps its bucket because a count
        read back from the listing is too small when a bucket is empty (no
        directory), and would prune live postings."""
        rows = self.term_dictionary().postings_rows
        n = min(N_BUCKETS, max(1, -(-rows // POSTINGS_PER_BUCKET)))
        # term-sorted within each bucket file: parquet row-group min/max
        # stats then satisfy the pushed `term IN (...)` probe by skipping
        # every non-matching group — the columnar analogue of Xapian's
        # term-ordered postlist B-tree. Unsorted files leave every row
        # group's term range spanning the whole dictionary, making the
        # pushdown a no-op.
        postings = (
            self.postings.withColumn("term_bucket", bucket_col("term", n))
            .repartition("term_bucket")
            .sortWithinPartitions("term", "doc")
        )
        postings.write.mode("overwrite").partitionBy("term_bucket").parquet(
            os.path.join(base_dir, "postings")
        )
        self.doc_stats.write.mode("overwrite").parquet(os.path.join(base_dir, "doc_stats"))
        # term-sorted for the same row-group pruning on the dictionary probe
        term_stats = self.term_stats.withColumn("term_bucket", bucket_col("term", n))
        term_stats.sort("term").write.mode("overwrite").parquet(
            os.path.join(base_dir, "term_stats")
        )
