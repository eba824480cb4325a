"""Document extraction stage (SURVEY.md §2.1 S2-S3, §2.2 T1-T3).

Vectorized Arrow pandas UDF over the pages table
``(url, warc_ts, html binary, text, lang)`` that:

  1. splits YAML frontmatter from the body with the **byte-identical body
     invariant** — body = bytes after the frontmatter block, unchanged
     (/root/reference/src/tika_document.rs:106,123);
  2. parses frontmatter into typed fields with the reference's rules:
     required ``date``/``tags``/``title`` (serde non-default fields,
     src/tika_document.rs:32-37), scalar-or-list tags coercion
     (src/tika_document.rs:70-100), filename backfill from the url basename
     (src/tika_document.rs:117-119), RFC3339-or-``%Y-%m-%dT%T%z`` date
     normalization to UTC RFC3339 (src/tika_document.rs:48-66);
  3. routes HTML payloads through the boilerplate-stripping main-content
     extractor (html_extract.py) and PDF payloads through the layout parser
     (pdf_extract.py);
  4. emits a ``status`` error channel instead of aborting — the reference
     logs-and-skips parse failures (src/main.rs:93-94); unlike the reference,
     a bad date quarantines only that row (the reference's ``?`` at
     src/main.rs:89 would abort the whole batch — not acceptable at scale).

Everything is per-batch vectorized: the Python core runs inside Arrow batches,
never row-at-a-time through the JVM boundary.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone, timedelta

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .html_extract import extract_main_content
from .pdf_extract import extract_pdf_text

EXTRACT_RESULT_SCHEMA = StructType(
    [
        StructField("filename", StringType()),
        StructField("full_path", StringType()),
        StructField("author", StringType()),
        StructField("date", StringType()),  # UTC RFC3339
        StructField("tags", ArrayType(StringType())),
        StructField("title", StringType()),
        StructField("subtitle", StringType()),
        StructField("body", StringType()),
        StructField("body_bytes", BinaryType()),  # the byte-identical invariant
        StructField("doc_type", StringType()),  # markdown | html | pdf
        StructField("status", StringType()),  # ok | error
        StructField("error", StringType()),
    ]
)

_CLOSE_RE = re.compile(rb"\n-{3}[ \t]*\r?(\n|$)")


def split_frontmatter(raw: bytes) -> tuple[bytes | None, bytes]:
    """Split ``---``-delimited YAML frontmatter from the body, byte-exact.

    Returns (yaml_bytes | None, body_bytes). ``body_bytes`` is exactly the
    bytes after the closing delimiter line's newline — unchanged, preserving
    CRLF, leading/trailing newlines, interior ``---`` lines, and any non-UTF8
    sequences (the invariant of src/tika_document.rs:123).
    """
    # opening delimiter: '---' as the first line (optional trailing spaces/CR)
    m = re.match(rb"-{3}[ \t]*\r?\n", raw)
    if not m:
        return None, raw
    open_end = m.end()
    c = _CLOSE_RE.search(raw, open_end - 1)
    if not c:
        return None, raw
    yaml_bytes = raw[open_end : c.start() + 1]  # include trailing newline
    body = raw[c.end() :]
    return yaml_bytes, body


_DATE_NO_COLON_OFFSET = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})([+-])(\d{2})(\d{2})$"
)

# ---- frontmatter fast path -------------------------------------------------
# The YAML constructor dominates extraction cost (~55% of parse_page measured
# at sf0.1), but real frontmatter is overwhelmingly a flat map of plain
# scalars. Parse exactly that shape by hand and fall back to full YAML the
# moment anything else appears. Conservative by construction: a value is
# fast-accepted only when PyYAML would resolve it to the identical string
# (leading letter, no indicator chars, not a bool/null word), plus — for the
# ``date`` key only — a validated ISO timestamp kept as a string, which
# normalize_date() maps to the same output as the datetime PyYAML would
# build. Equivalence is property-tested in tests/test_extract.py.

_FM_KEY = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*):(?: +(.*))?$")
_FM_PLAIN = re.compile(r"[A-Za-z][A-Za-z0-9 _.'()/,-]*")
_FM_WORD = re.compile(r"[A-Za-z][A-Za-z0-9_-]*")
_FM_ISO_TS = re.compile(
    r"\d{4}-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12]\d|3[01])"
    r"(?:[Tt ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?)?"
)
_FM_BOOLNULL = frozenset(
    w
    for base in ("true", "false", "yes", "no", "on", "off", "null", "none")
    for w in (base, base.capitalize(), base.upper())
)


def _fast_scalar(v: str) -> bool:
    return (
        _FM_PLAIN.fullmatch(v) is not None
        and v not in _FM_BOOLNULL
        and not v.endswith(" ")
    )


def _fast_frontmatter(text: str) -> dict | None:
    """Flat map of plain scalars, flow lists of plain words, or block
    sequences of plain scalars (consistent indentation) — or None to fall
    back to the full YAML parser."""
    out: dict = {}
    pending: str | None = None  # key whose block-sequence items follow
    seq_indent: str | None = None
    for line in text.split("\n"):
        if "\t" in line:
            return None  # YAML forbids tab indentation; let the parser judge
        s = line.strip()
        if not s or s.startswith("#"):
            continue
        if s.startswith("- ") or s == "-":
            if pending is None:
                return None
            indent = line[: len(line) - len(line.lstrip(" "))]
            if seq_indent is None:
                seq_indent = indent
            elif indent != seq_indent:
                return None  # inconsistent indentation: let YAML judge it
            item = s[2:].strip()
            if not _fast_scalar(item):
                return None
            out[pending].append(item)
            continue
        if pending is not None and not out[pending]:
            return None  # 'key:' with no items — explicit null, fall back
        pending, seq_indent = None, None
        if line[0] in " \t":
            return None  # indentation: nested structure
        m = _FM_KEY.match(line.rstrip())
        if not m:
            return None
        k, v = m.group(1), m.group(2)
        if v is None or v == "":
            pending = k
            out[k] = []
        elif v.startswith("[") and v.endswith("]"):
            items = [x.strip() for x in v[1:-1].split(",")] if v != "[]" else []
            if any(not _FM_WORD.fullmatch(x) or x in _FM_BOOLNULL for x in items):
                return None
            out[k] = items
        elif _fast_scalar(v):
            out[k] = v
        elif k == "date" and _FM_ISO_TS.fullmatch(v):
            out[k] = v  # normalize_date() output equals PyYAML's datetime
        else:
            return None
    if pending is not None and not out[pending]:
        return None
    return out


def normalize_date(s: str) -> str | None:
    """RFC3339 or ``%Y-%m-%dT%T%z`` -> UTC RFC3339 string (with +00:00 offset,
    chrono ``to_rfc3339`` style — src/tika_document.rs:48-66)."""
    s = s.strip()
    dt = None
    try:
        # RFC3339: fromisoformat in py3.11+ accepts 'Z' and offsets with colon
        dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
        if dt.tzinfo is None:
            return None  # RFC3339 requires an offset; chrono would reject
    except ValueError:
        m = _DATE_NO_COLON_OFFSET.match(s)
        if not m:
            return None
        y, mo, d, h, mi, sec, sign, oh, om = m.groups()
        off = timedelta(hours=int(oh), minutes=int(om))
        if sign == "-":
            off = -off
        dt = datetime(
            int(y), int(mo), int(d), int(h), int(mi), int(sec),
            tzinfo=timezone(off),
        )
    u = dt.astimezone(timezone.utc)
    return u.strftime("%Y-%m-%dT%H:%M:%S+00:00")


def _coerce_tags(v) -> list[str] | None:
    """Scalar string -> 1-element list; list -> list of strings
    (src/tika_document.rs:70-100)."""
    if v is None:
        return None
    if isinstance(v, str):
        return [v]
    if isinstance(v, (int, float, bool)):
        return [str(v)]
    if isinstance(v, list):
        out = []
        for e in v:
            if isinstance(e, str):
                out.append(e)
            elif isinstance(e, (int, float, bool)):
                out.append(str(e))
            else:
                return None
        return out
    return None


def _err(doc_type: str, msg: str) -> dict:
    return {
        "filename": None,
        "full_path": None,
        "author": None,
        "date": None,
        "tags": None,
        "title": None,
        "subtitle": None,
        "body": None,
        "body_bytes": None,
        "doc_type": doc_type,
        "status": "error",
        "error": msg,
    }


def sniff_doc_type(raw: bytes) -> str:
    if raw.startswith(b"%PDF"):
        return "pdf"
    if re.match(rb"-{3}[ \t]*\r?\n", raw):
        return "markdown"
    head = raw[:2048].lower()
    if b"<html" in head or b"<!doctype html" in head or b"<body" in head:
        return "html"
    return "unknown"


def parse_page(url: str, raw: bytes) -> dict:
    """Extract one page. Pure-Python core, called per row inside Arrow
    batches (the dataset-level vectorization is the Arrow batch; per-document
    parsing is inherently per-document)."""
    import yaml as _yaml  # lazy: executors import on first batch

    if raw is None:
        return _err("unknown", "null payload")
    doc_type = sniff_doc_type(raw)

    if doc_type == "pdf":
        try:
            text = extract_pdf_text(raw)
        except NotImplementedError as e:
            return _err("pdf", f"pdf feature not supported: {e}")
        except Exception as e:  # malformed pdf -> error channel
            return _err("pdf", f"pdf parse error: {e}")
        body_bytes = text.encode("utf-8")
        return {
            "filename": url.rsplit("/", 1)[-1],
            "full_path": url,
            "author": "",
            "date": None,
            "tags": [],
            "title": "",
            "subtitle": "",
            "body": text,
            "body_bytes": body_bytes,
            "doc_type": "pdf",
            "status": "ok",
            "error": None,
        }

    if doc_type == "html":
        try:
            html_text = raw.decode("utf-8", errors="replace")
            result = extract_main_content(html_text)
        except Exception as e:
            return _err("html", f"html parse error: {e}")
        body_bytes = result.text.encode("utf-8")
        return {
            "filename": url.rsplit("/", 1)[-1],
            "full_path": url,
            "author": "",
            "date": None,
            "tags": [],
            "title": result.title or "",
            "subtitle": "",
            "body": result.text,
            "body_bytes": body_bytes,
            "doc_type": "html",
            "status": "ok",
            "error": None,
        }

    if doc_type != "markdown":
        # reference: no frontmatter block -> parse error, file skipped
        # (src/tika_document.rs:127-131, src/main.rs:93-94)
        return _err(doc_type, "no frontmatter block")

    yaml_bytes, body = split_frontmatter(raw)
    if yaml_bytes is None:
        return _err("markdown", "unterminated frontmatter block")
    yaml_text = yaml_bytes.decode("utf-8", errors="replace")
    meta = _fast_frontmatter(yaml_text)
    if meta is None:
        loader = getattr(_yaml, "CSafeLoader", _yaml.SafeLoader)  # libyaml
        try:
            meta = _yaml.load(yaml_text, Loader=loader)
        except _yaml.YAMLError as e:
            return _err("markdown", f"yaml parse error: {e}")
        except ValueError as e:
            # PyYAML's timestamp constructor raises raw ValueError for
            # resolvable-but-invalid datetimes (e.g. 2020-02-30); that must
            # quarantine the row, not abort the whole job (S3)
            return _err("markdown", f"yaml value error: {e}")
    if not isinstance(meta, dict):
        return _err("markdown", "frontmatter is not a mapping")

    # required fields: serde has no #[serde(default)] on date/tags/title
    # (src/tika_document.rs:32-37) — missing means the reference would fail
    # the row.
    missing = [k for k in ("date", "tags", "title") if k not in meta]
    if missing:
        return _err("markdown", f"missing required frontmatter: {missing}")

    tags = _coerce_tags(meta.get("tags"))
    if tags is None:
        return _err("markdown", "tags is neither string nor list of strings")

    date_norm = normalize_date(str(meta.get("date")))
    if date_norm is None:
        # reference aborts the batch here (src/main.rs:89 `?`); we quarantine
        # the row instead (scale decision, SURVEY.md §2.1 S3).
        return _err("markdown", f"unparseable date: {meta.get('date')!r}")

    filename = str(meta.get("filename") or "")
    if filename == "":
        filename = url.rsplit("/", 1)[-1]  # backfill, src/tika_document.rs:117-119

    return {
        "filename": filename,
        "full_path": url,
        "author": str(meta.get("author") or ""),
        "date": date_norm,
        "tags": tags,
        "title": str(meta.get("title") or ""),
        "subtitle": str(meta.get("subtitle") or ""),
        "body": body.decode("utf-8", errors="replace"),
        "body_bytes": body,
        "doc_type": "markdown",
        "status": "ok",
        "error": None,
    }


DOCS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("lang", StringType()),
    ]
    + EXTRACT_RESULT_SCHEMA.fields
)


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> docs DataFrame.

    Output: url, warc_ts, lang + extracted fields + status/error channel.
    Filter ``status = 'ok'`` downstream; keep the error rows for the
    quarantine sink (S3) and lineage metrics.

    Implemented with ``mapInPandas`` rather than a struct-returning
    ``pandas_udf``: a later filter on a udf-struct field makes Spark
    re-evaluate the whole UDF on both sides of the filter (measured 3-5x
    slowdown); mapInPandas materializes the extracted columns once.
    """
    cols = [f.name for f in DOCS_SCHEMA.fields]

    def run(batches):
        for pdf in batches:
            rows = []
            for u, ts, lang, h in zip(
                pdf["url"], pdf["warc_ts"], pdf["lang"], pdf["html"]
            ):
                d = parse_page(u, h)
                d["url"] = u
                d["warc_ts"] = ts
                d["lang"] = lang
                rows.append(d)
            yield pd.DataFrame(rows, columns=cols)

    return pages.mapInPandas(run, DOCS_SCHEMA)


def quarantine(docs: DataFrame) -> DataFrame:
    """The error channel (S3): rows that failed extraction, with reasons."""
    return docs.filter(F.col("status") != "ok").select(
        "url", "warc_ts", "doc_type", "error"
    )
