"""Seeded workload inputs: page ids, keystroke streams and edit batches.

Everything here is a pure function of the seed (string-seeded
``random.Random`` streams, no clock, no global RNG), so the same seed gives
the same pages, keystrokes and edits on every run. Warm-up and measured
inputs come from disjoint streams: disjoint word lists and disjoint pages.
"""

from __future__ import annotations

import random
from typing import Iterator

from tika_xapian_spark.sources.pages import CASE_TAGS, gen_row

PAGE_CASES = len(CASE_TAGS)
ERROR_CASE = CASE_TAGS.index("no-frontmatter")  # gen_row's parse-error case
MARKDOWN_CASE = CASE_TAGS.index("fm-basic")  # body: "... Markdown syntax {i}"
EDGE_CASE = CASE_TAGS.index("fm-body-edges")  # fixed bodies, no page number

# Words that occur in gen_row's pages. Each list feeds one stream only, so
# no warm-up query is ever a measured one.
MEASURED_WORDS = [
    "markdown", "subtitle", "trailing", "newlines", "filename",
    "article", "because", "written", "example", "leading",
]
WARM_WORDS = ["syntax", "scalar", "reader", "common", "before", "enough"]

# One cycle is four keystrokes of a user typing seeded texts: the third
# letter of a second word, an operator still missing its right side, a
# completed page number (a term unique to one page) and a completed query
# whose form rotates through COMPLETE_FORMS. Runs measure whole cycles, so
# every run sees the same mix of keystroke kinds.
CYCLE = ("typing", "incomplete", "unique", "complete")
COMPLETE_FORMS = ("AND", "OR", "NEAR", "NOT", "phrase", "title")


def rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"perfbench:{seed}:{stream}")


def page_ids(seed: int, n: int) -> range:
    """A seeded id range of ``n`` pages. Every id has six digits, and the
    base is a multiple of PAGE_CASES, so every seed gets the same mix of
    gen_row's payload cases."""
    base = 100_000 + rng(seed, "pages").randrange(800) * 1000
    return range(base, base + n)


def is_ok(i: int) -> bool:
    """Whether gen_row(i) extracts cleanly (every case but the error one)."""
    return i % PAGE_CASES != ERROR_CASE


def has_body_number(i: int) -> bool:
    """Whether page i's number is an unprefixed term of its own, and of no
    other page (the edge-case bodies do not carry it)."""
    return i % PAGE_CASES not in (ERROR_CASE, EDGE_CASE)


def page_rows(ids: range) -> list[dict]:
    return [gen_row(i) for i in ids]


def _split(ids, warm: bool) -> list[int]:
    # even page groups feed the warm-up stream, odd ones the measured stream
    return [i for i in ids if (i // PAGE_CASES) % 2 == (0 if warm else 1)]


def keystroke_cycles(seed: int, ids: range,
                     warm: bool) -> Iterator[list[tuple[str, int | None]]]:
    """Cycles of (query text, page it must rank first or None). No query
    text repeats within the stream, and the warm-up stream shares no text
    with the measured one."""
    r = rng(seed, "warm-keys" if warm else "keys")
    words = WARM_WORDS if warm else MEASURED_WORDS
    pairs = [(a, b) for a in words for b in words if a != b]
    r.shuffle(pairs)
    # "w NEAR" raises in the program (NEAR needs >= 2 terms): a failed op
    incomplete = [f"{w} NEAR{tail}" for w in words for tail in ("", " ")]
    r.shuffle(incomplete)
    numbers = r.sample([i for i in _split(ids, warm) if has_body_number(i)],
                       2 * len(incomplete))
    for c, (w1, w2) in enumerate(pairs[:len(incomplete)]):
        n, m = numbers[2 * c], numbers[2 * c + 1]
        form = COMPLETE_FORMS[c % len(COMPLETE_FORMS)]
        complete = {"phrase": f'"{w1} {w2}"', "title": f"title:{m}"}.get(
            form, f"{w1} {form} {w2}")
        yield [(f"{w1} {w2[:3]}", None), (incomplete[c], None), (str(n), n),
               (complete, None)]


def edited_page(i: int, tag: str) -> dict:
    """gen_row(i) with its Markdown body replaced by one carrying the fresh
    term ``tag``; the old body's words ("markdown", "syntax") go stale."""
    row = gen_row(i)
    old = f"Some note here formatted with Markdown syntax {i}\n".encode()
    html = row["html"].replace(old, f"Revised body {tag}\n".encode())
    row.update(html=html, text=html.decode("utf-8"))
    return row


STALE_TERM = "syntax"


def edit_batches(seed: int, ids: range, bucket_of: dict[str, int],
                 batch: int, warm: bool) -> list[list[tuple[int, str]]]:
    """Disjoint batches of ``batch`` Markdown pages that share one bucket,
    as lists of (page id, fresh term). Every batch rewrites exactly one
    bucket, so every upsert does the same amount of bucket work."""
    stream = "warm-edits" if warm else "edits"
    r = rng(seed, stream)
    by_bucket: dict[int, list[int]] = {}
    for i in _split(ids, warm):
        if i % PAGE_CASES == MARKDOWN_CASE:
            by_bucket.setdefault(bucket_of[gen_row(i)["url"]], []).append(i)
    groups = []
    for b in sorted(by_bucket):
        pages = by_bucket[b]
        r.shuffle(pages)
        groups += [pages[k:k + batch] for k in range(0, len(pages) - batch + 1, batch)]
    r.shuffle(groups)
    return [[(i, f"rev{stream[0]}{seed}x{n}p{i}") for i in g] for n, g in enumerate(groups)]
