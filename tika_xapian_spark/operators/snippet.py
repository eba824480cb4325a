"""Match-highlighting snippets — ``MSet::snippet`` reimplemented exactly.

Faithful port of xapian-core's snippet generator
(queryparser/termgenerator_internal.cc:317-973 — the SnipPipe sliding
window, its DECAY relevance dynamics, the drain-side sentence/punctuation
heuristics, and the loose-term / exact-phrase / wildcard / background
relevance model), validated string-equal against the golden cases of
tests/api_snippets.cc over a replica of the apitest_simpledata corpus.

This is a PER-DOCUMENT text algorithm, not a distributed one: the engine's
contract is ``snippet_column`` — apply it to the fetched top-k page (a
bounded DataFrame) as a plain Python mapPartitions over <= k rows, the same
place Xapian's TUI calls MSet::snippet per hit. Nothing here touches the
driver for more than the page.

Offsets follow parse_terms' iterator semantics exactly, including the
quirks: an acronym's trailing '.' is consumed (so the highlight covers
"R.U.B.B.I.S.H." with the final dot), and suffix characters are consumed
even when the +/# suffix is stripped from the term.
"""

from __future__ import annotations

import math
import unicodedata
from collections import deque
from dataclasses import dataclass, field
from typing import Callable, Iterable

from ..functions.porter2 import stem as porter2_stem
from ..functions.tokenizer import _is_wordchar, scan_term_spans

SNIPPET_BACKGROUND_MODEL = 1
SNIPPET_EXHAUSTIVE = 2
SNIPPET_EMPTY_WITHOUT_MATCH = 4
DEFAULT_FLAGS = SNIPPET_BACKGROUND_MODEL | SNIPPET_EXHAUSTIVE

DECAY = 2.0
MAX_WORD_LENGTH = 64


# ---------------------------------------------------------- unicode helpers


def _is_whitespace(ch: str) -> bool:
    return ch in " \t\n\r\f\v\x1c\x1d\x1e\x1f\x85" or unicodedata.category(ch) in (
        "Zs", "Zl", "Zp",
    )


def _check_leading_nonwordchar(ch: str) -> bool:
    # snippet_check_leading_nonwordchar (termgenerator_internal.cc:455-485)
    cat = unicodedata.category(ch)
    if cat in ("Sc", "Ps", "Pi"):
        return True
    return ch in "\"#%&'+-/<@\\`~¡§¿"


def _check_trailing_nonwordchar(ch: str) -> bool:
    # snippet_check_trailing_nonwordchar (:487-512)
    cat = unicodedata.category(ch)
    if cat in ("Sc", "Pe", "Pf"):
        return True
    return ch in "\"%'+-/>@\\`~"


def _escape_xml(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


# ------------------------------------------------------------- the SnipPipe


@dataclass
class _Sniplet:
    relevance: list | None  # one-element list = the C++ double* slot
    term_end: int
    highlight: int


class _SnipPipe:
    """Port of SnipPipe (termgenerator_internal.cc:329-520)."""

    def __init__(self, length: int):
        self.pipe: deque[_Sniplet] = deque()
        self.best_pipe: deque[_Sniplet] = deque()
        self.length = length + 1  # allow for inter-word space
        self.begin = 0
        self.sum = 0.0
        self.phrase_len = 0
        self.best_begin = 0
        self.best_end = 0
        self.best_sum = 0.0

    def pump(self, r: list | None, t: int, h: int, flags: int) -> bool:
        if h > 1:
            if len(self.pipe) >= h - 1:
                # Peg the phrase's relevance onto its first term.
                phrase_start = self.pipe[len(self.pipe) - (h - 1)]
                if phrase_start.relevance is not None:
                    phrase_start.relevance[0] *= DECAY
                    self.sum -= phrase_start.relevance[0]
                self.sum += r[0]
                phrase_start.relevance = r
                phrase_start.highlight = h
                r[0] /= DECAY
            r = None
            h = 0
        self.pipe.append(_Sniplet(r, t, h))
        if r is not None:
            self.sum += r[0]
            r[0] /= DECAY

        while t - self.begin > self.length:
            word = self.pipe[0]
            if word.relevance is not None:
                word.relevance[0] *= DECAY
                self.sum -= word.relevance[0]
            self.begin = word.term_end
            if self.best_end >= self.begin:
                self.best_pipe.append(word)
            self.pipe.popleft()
            if not self.pipe:
                break

        if self.sum >= self.best_sum:
            if self.begin >= self.best_end:
                self.best_pipe.clear()
            else:
                while self.best_pipe and self.best_pipe[0].term_end <= self.begin:
                    self.best_pipe.popleft()
            self.best_sum = self.sum
            self.best_begin = self.begin
            self.best_end = t
        elif not (flags & SNIPPET_EXHAUSTIVE):
            if self.best_sum > 0 and self.best_end < self.begin:
                return False
        return True

    def done(self) -> None:
        if self.begin >= self.best_end:
            self.pipe.clear()
        else:
            while self.pipe and self.pipe[-1].term_end > self.best_end:
                self.pipe.pop()

    def drain(
        self, input_: str, hi_start: str, hi_end: str, omit: str, output: list
    ) -> bool:
        if not self.best_pipe and self.pipe:
            self.best_pipe, self.pipe = self.pipe, self.best_pipe

        if not self.best_pipe:
            tail_len = len(input_) - self.best_end
            if tail_len == 0:
                return False
            # End-of-sentence check (same simplistic rule as the C++).
            sentence_end = False
            i = self.best_end
            while i < len(input_):
                ch = input_[i]
                if sentence_end and _is_whitespace(ch):
                    break
                sentence_end = ch in ".?!"
                if _is_wordchar(ch):
                    break
                i += 1
            if sentence_end:
                output.append(_escape_xml(input_[self.best_end : i]))
                return False
            i = self.best_end
            trailing_punc = 0
            while i < len(input_) and _check_trailing_nonwordchar(input_[i]):
                trailing_punc += 1
                if trailing_punc > 4:
                    trailing_punc = 0
                    break
                i += 1
            if trailing_punc:
                output.append(_escape_xml(input_[self.best_end : i]))
                if i >= len(input_):
                    return False
            output.append(omit)
            return False

        word = self.best_pipe[0]

        if not output:
            # Start of the snippet: find the sentence boundary state and trim
            # leading non-word characters (keeping "interesting" ones).
            NO, PUNC, YES = 0, 1, 2
            sentence_boundary = YES if self.best_begin == 0 else NO
            i = self.best_begin
            limit = word.term_end
            while i < limit:
                ch = input_[i]
                if sentence_boundary == NO:
                    if ch in ".?!":
                        sentence_boundary = PUNC
                elif sentence_boundary == PUNC:
                    if _is_whitespace(ch):
                        sentence_boundary = YES
                    elif ch in ".?!":
                        pass
                    else:
                        sentence_boundary = NO
                if _is_wordchar(ch):
                    if i - self.best_begin > 4:
                        self.best_begin = i
                    break
                i += 1
                if not _check_leading_nonwordchar(ch):
                    self.best_begin = i
            if sentence_boundary != YES:
                output.append(omit)

        if word.highlight:
            # Don't include inter-word characters in the highlight.
            i = self.best_begin
            while i < len(input_):
                if _is_wordchar(input_[i]):
                    output.append(_escape_xml(input_[self.best_begin : i]))
                    self.best_begin = i
                    break
                i += 1

        if not self.phrase_len:
            self.phrase_len = word.highlight
            if self.phrase_len:
                output.append(hi_start)

        output.append(_escape_xml(input_[self.best_begin : word.term_end]))
        self.best_begin = word.term_end

        if self.phrase_len:
            self.phrase_len -= 1
            if self.phrase_len == 0:
                output.append(hi_end)

        self.best_pipe.popleft()
        return True


# ------------------------------------------------------------ snippet proper


@dataclass
class SnippetContext:
    """The MSet-side state ``MSet::snippet`` reads (stats + query shape).

    termweights: query term -> max_part (the matcher's per-term score upper
    bound — the same quantity top_k_wand derives from term_stats.max_wdf);
    every query term the matcher registered has an entry, 0.0 for terms
    absent from the collection. termfreq: df lookup for the background
    model. background persists across snippet() calls on the same object
    (and is mutated by the DECAY dynamics), exactly like the C++ member."""

    termweights: dict[str, float]
    collection_size: int
    termfreq: Callable[[str], int]
    loose_terms: Iterable[str] = ()
    exact_phrases: Iterable[tuple[str, ...]] = ()
    wildcards: Iterable[str] = ()
    background: dict = field(default_factory=dict)

    def get_max_termweight(self) -> tuple[float, float]:
        if not self.termweights:
            return 0.0, 0.0
        vals = list(self.termweights.values())
        return min(vals), max(vals)


def snippet(
    ctx: SnippetContext,
    text: str,
    length: int = 500,
    stemmer: Callable[[str], str] | None = None,
    flags: int = DEFAULT_FLAGS,
    hi_start: str = "<b>",
    hi_end: str = "</b>",
    omit: str = "...",
) -> str:
    """MSet::Internal::snippet (termgenerator_internal.cc:748-970)."""
    if not hi_start and not hi_end and len(text) <= length:
        return text

    min_tw, max_tw = ctx.get_max_termweight()
    if max_tw == 0.0:
        max_tw = 1.0
    else:
        max_tw *= 1.015625

    snip = _SnipPipe(length)

    # check_query never registers 1-term phrases (they are loose terms);
    # normalize the same way so the phrase ring buffer is never 0-sized
    exact_phrases = [tuple(p) for p in ctx.exact_phrases if len(p) >= 2]
    loose_terms: dict[str, list] = {t: [0.0] for t in ctx.loose_terms}
    for p in ctx.exact_phrases:
        if len(p) == 1:
            loose_terms.setdefault(p[0], [0.0])
    wildcards = list(ctx.wildcards)
    longest_phrase = max((len(p) for p in exact_phrases), default=0)

    exact_phrases_relevance = [[max_tw * len(p)] for p in exact_phrases]
    wildcards_relevance = [[max_tw + min_tw] for _ in wildcards]

    background = ctx.background

    def check_term(term: str) -> list | None:
        slot = loose_terms.get(term)
        if slot is None:
            return None
        if slot[0] == 0.0:
            tw = ctx.termweights.get(term)
            if tw is None:
                del loose_terms[term]
                return None
            slot[0] = tw + max_tw
        return slot

    phrase = [""] * (longest_phrase - 1) if longest_phrase else []
    phrase_next = 0
    matchfound = False

    stem_fn = stemmer if stemmer is not None else (lambda w: w)

    for term, term_end in scan_term_spans(text):
        if len(term.encode("utf-8")) > MAX_WORD_LENGTH:
            continue

        relevance: list | None = None
        highlight = 0
        while True:  # single-pass "goto relevance_done" structure
            hit_phrase = False
            for pi, terms in enumerate(exact_phrases):
                if term == terms[-1]:
                    match = True
                    for nn in range(len(terms) - 2, -1, -1):
                        if terms[nn] != phrase[(nn + phrase_next) % (longest_phrase - 1)]:
                            match = False
                            break
                    if match:
                        relevance = exact_phrases_relevance[pi]
                        highlight = len(terms)
                        hit_phrase = True
                        break
            if hit_phrase:
                break

            relevance = check_term(term)
            if relevance is not None:
                highlight = 1
                break

            stem = "Z" + stem_fn(term)
            relevance = check_term(stem)
            if relevance is not None:
                highlight = 1
                break

            hit_wc = False
            for wi, pattern in enumerate(wildcards):
                if term.startswith(pattern):
                    relevance = wildcards_relevance[wi]
                    highlight = 1
                    hit_wc = True
                    break
            if hit_wc:
                break

            if flags & SNIPPET_BACKGROUND_MODEL:
                slot = background.get(term)
                if slot is None:
                    slot = background.get(stem)
                if slot is None:
                    tf = ctx.termfreq(term)
                    if not tf:
                        tf = ctx.termfreq(stem)
                    else:
                        stem = term
                    r = 0.0
                    if tf:
                        num_docs = ctx.collection_size + 1
                        r = max_tw * math.log((num_docs - tf) / float(tf))
                        r /= (length + 1) * math.log(float(num_docs))
                    slot = [r]
                    background[stem] = slot
                relevance = slot
            break

        if longest_phrase:
            phrase[phrase_next] = term
            phrase_next = (phrase_next + 1) % (longest_phrase - 1)

        if highlight:
            matchfound = True

        if not snip.pump(relevance, term_end, highlight, flags):
            break

    snip.done()

    out: list[str] = []
    if matchfound or not (flags & SNIPPET_EMPTY_WITHOUT_MATCH):
        while snip.drain(text, hi_start, hi_end, omit, out):
            pass
    return "".join(out)


# ------------------------------------------------------------- engine glue


def snippets_for_page(
    index,
    page,
    key_col: str,
    text_col: str,
    loose_terms: Iterable[str] = (),
    exact_phrases: Iterable[tuple[str, ...]] = (),
    wildcards: Iterable[str] = (),
    length: int = 500,
    stemmer: Callable[[str], str] | None = porter2_stem,
    flags: int = DEFAULT_FLAGS,
    hi_start: str = "<b>",
    hi_end: str = "</b>",
    omit: str = "...",
):
    """Snippets for a RANKED PAGE (a bounded top-k DataFrame carrying the
    document text) -> DataFrame (key, snippet).

    This is page rendering, the exact operation Xapian's TUI runs per hit —
    so the page is collected (it is bounded by construction, like every
    other driver-side page read in this engine). The stats come from the
    index's driver-held term dictionary, with no Spark job:

      1. termweights: the query terms' max_part bounds
         (search._term_upper_bounds, the WAND ceilings);
      2. background dfs: the page texts are tokenized driver-side with the
         SAME scanner the snippets use, and the page vocabulary (+ Z-stems)
         is looked up in the dictionary.

    At larger page sizes the same lookups feed a broadcast dict + a
    mapInPandas over the page instead; the algorithm is per-row either way.
    """
    from . import search as S

    # bounded: the page. Sorted by key because the background model below
    # PERSISTS across snippet() calls (the C++ member semantics) — so each
    # snippet depends on which rows preceded it, and the collect order of a
    # join is a plan artifact, not a contract (surfaced in round 7 when
    # spreading the docs scan changed the join's output order and with it
    # one snippet's chosen window). Key order is what the single-partition
    # plans always produced, so pinned oracles are unchanged.
    rows = sorted(page.select(key_col, text_col).collect(), key=lambda r: r[0])
    stem_fn = stemmer if stemmer is not None else (lambda w: w)

    qterms = {t: 1 for t in loose_terms}
    for p in exact_phrases:
        for t in p:
            qterms.setdefault(t, 1)
    ubs = S._term_upper_bounds(index, qterms) if qterms else {}
    tws = {t: float(ubs.get(t, 0.0)) for t in qterms}

    vocab: set[str] = set()
    for r in rows:
        for term, _ in scan_term_spans(r[text_col] or ""):
            if len(term.encode("utf-8")) <= MAX_WORD_LENGTH:
                vocab.add(term)
                vocab.add("Z" + stem_fn(term))
    df_map: dict[str, int] = {}
    if vocab and flags & SNIPPET_BACKGROUND_MODEL:
        d = index.term_dictionary()
        df_map = {t: s[0] for t in vocab if (s := d.stats(t)) is not None}

    ctx = SnippetContext(
        termweights=tws,
        collection_size=index.n_docs,
        termfreq=lambda t: df_map.get(t, 0),
        loose_terms=list(loose_terms),
        exact_phrases=[tuple(p) for p in exact_phrases],
        wildcards=list(wildcards),
    )
    out = [
        (
            r[key_col],
            snippet(
                ctx, r[text_col] or "", length, stemmer, flags,
                hi_start, hi_end, omit,
            ),
        )
        for r in rows
    ]
    spark = page.sparkSession
    key_type = dict(page.dtypes)[key_col]  # url pages key by string, not long
    return spark.createDataFrame(out, f"{key_col} {key_type}, snippet string")
