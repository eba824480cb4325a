"""Query-string compiler: the reference's user-facing grammar -> operator AST
-> DataFrame plan.

Reimplements the *intended* grammar of /root/reference/src/xapian_utils.rs:
  - infix operator keywords split the input into chunks, folded
    left-associatively (parse_user_query, :583-660): AND MAYBE, AND NOT, AND,
    OR, XOR, FILTER, NEAR, PHRASE, SCALED, ELITE, RANGE, SYNONYM
    (keyword list :109-126). The reference's substring-based splitter (Q21,
    :663-691) breaks on keywords inside words — its own tests are #[ignore]d
    — so we split on word boundaries, as SURVEY.md §2.4 Q21 commits.
  - inside a chunk, every whitespace token compiles separately and the tokens
    are OR-folded — including field:value groups (Q20 quirk,
    expression_into_query :460-484; pinned by the goldens :486-554).
  - token forms: ``field:value``, ``field:"a phrase"`` (field prefixes
    author/date/filename/fullpath/subtitle/title/tag -> A D F F XS S K,
    :362-398), ``"bare phrase"``, ``+love`` / ``-hate`` (Q16), trailing-*
    wildcard (Q15), bare word.
  - FLAG_PARTIAL semantics (on by default, matching the reference's flag set
    :588-595): a bare word compiles to
    ``(WILDCARD-SYNONYM prefix+word) OR (Z-stemmed term)`` — the structure of
    the green goldens (``WILDCARD SYNONYM Sfoo OR ZSfoo@1``).

``compile_query`` returns the AST; ``explain`` renders a deterministic
structural dump (the T-query-compile golden hook); ``Executor`` lowers any
tree to one postings scan (operators/search.py::match_leaves).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..functions.tokenizer import scan_terms
from ..operators import search as S
from ..operators.index import InvertedIndex

# field prefixes — XapianTag::to_xapian (src/xapian_utils.rs:371-381)
FIELD_PREFIXES = {
    "author": "A",
    "date": "D",
    "filename": "F",
    "fullpath": "F",
    "subtitle": "XS",
    "title": "S",
    "tag": "K",
}

# longest-first, case-insensitive, word-boundary (matchop order :109-126).
# NEAR/ADJ carry an optional /n window width — the Xapian queryparser's
# surface syntax (XC queryparser/queryparser.lemony:1183-1219), which the
# reference reaches through parse_query (src/xapian_utils.rs:451): width n
# means "within n terms", lowered to window (n or 10) - 1 + n_terms
# (as_near_query/as_adj_query :1722-1740).
_OP_PATTERN = re.compile(
    r"\b(AND\s+MAYBE|AND\s+NOT|SYNONYM|FILTER|PHRASE|SCALED|RANGE|ELITE"
    r"|NEAR(?:/\d+)?|ADJ(?:/\d+)?|AND|XOR|OR)\b",
    re.IGNORECASE,
)

_TOKEN_PATTERN = re.compile(
    r"(?P<tagged>\w+:\"[^\"]*\"|\w+:\S+)|(?P<quoted>\"[^\"]*\")|(?P<word>\S+)"
)

# Reference-lexer token for the FINAL operator chunk (the input of
# expression_into_query, xapian_utils.rs:441-443): whitespace, a quoted
# phrase, or a word / field:value / trailing-* wildcard. Our documented
# extensions over the reference's alnum-only `word`: a leading +/- (Q16
# love/hate) and -/. joined word parts (hyphenated words stay one token).
_LEX_TOKEN = re.compile(
    r"""\s+
      | "[^"]*"
      | [+\-]?\w+(?:[-.]\w+)*(?::(?:"[^"]*"|\w+(?:[-.]\w+)*))?\*?
    """,
    re.VERBOSE,
)


def _final_chunk_tokens(chunk: str):
    """Tokens of the final chunk with the reference's STREAMING-lexer
    semantics, both pinned by its green goldens (xapian_utils.rs:486-554):

      1. lexing stops at the first character that can start no token (e.g.
         a backslash) and the REST OF THE INPUT IS DISCARDED — many1() in
         expression() simply returns what it has;
      2. a ``field:word`` token followed by anything but whitespace (end of
         input, or a dead character) cannot complete XapianTag::parse —
         nom's streaming ``word`` needs a byte after the value (the
         reference's own tag_no_trailing_whitespace test asserts this) — so
         it falls back to plain parse_query WITHOUT prefix registration: an
         unprefixed implicit phrase (golden 2's ``(tag@1 PHRASE 2 rust@2)``,
         :526-530). Quoted values close on their quote and keep the prefix.

    Yields (token_text, degrade_field). Non-final chunks keep the intended
    grammar (whitespace tokenizer, prefixes always honored) — same policy as
    the Q21 operator-splitter decision in SURVEY.md §2.4."""
    pos, n = 0, len(chunk)
    while pos < n:
        m = _LEX_TOKEN.match(chunk, pos)
        if m is None or m.end() == pos:
            break  # dead character: the reference discards the rest
        pos = m.end()
        tok = m.group(0)
        if tok.isspace():
            continue
        degrade = bool(
            re.fullmatch(r"\w+:[\w.-]+", tok)
            and (pos >= n or not chunk[pos].isspace())
        )
        yield tok, degrade


# ---------------------------------------------------------------------- AST


@dataclass
class Node:
    pass


@dataclass
class Empty(Node):
    pass


@dataclass
class PartialTerm(Node):
    """FLAG_PARTIAL form: wildcard-synonym of the literal OR the Z-stem."""

    word: str
    prefix: str = ""


@dataclass
class StemTerm(Node):
    word: str
    prefix: str = ""
    wqf: int = 1


@dataclass
class PhraseTerms(Node):
    words: list = field(default_factory=list)
    prefix: str = ""


@dataclass
class WildcardTerm(Node):
    pattern: str  # without the trailing *
    prefix: str = ""


@dataclass
class Bool(Node):
    op: str  # AND OR AND_NOT XOR AND_MAYBE FILTER
    left: Node = None
    right: Node = None


@dataclass
class NearOp(Node):
    left: Node = None
    right: Node = None
    window: int | None = None  # None -> QueryParser default (9 + n_terms)
    width: int | None = None  # user NEAR/n width; window = width-1+n_terms


@dataclass
class AdjOp(Node):
    """ADJ: ordered NEAR — Xapian lowers it to OP_PHRASE with a widened
    window (queryparser.lemony as_adj_query :1732-1740); matcher semantics
    are phrasepostlist's in-order-within-window chain."""

    left: Node = None
    right: Node = None
    width: int | None = None  # user ADJ/n width; window = width-1+n_terms


@dataclass
class PhraseOp(Node):
    left: Node = None
    right: Node = None


@dataclass
class Scale(Node):
    factor: float = 1.0
    child: Node = None


@dataclass
class Elite(Node):
    child: Node = None
    n: int = 10


@dataclass
class Synonym(Node):
    left: Node = None
    right: Node = None


@dataclass
class RangeOp(Node):
    """Q9 metadata range: field RANGE lo hi. Inert, as in the reference: no
    values are indexed, so it matches nothing (SURVEY.md §2.4 Q9)."""

    fld: str = ""
    lo: str = ""
    hi: str = ""


# ------------------------------------------------------------------ parsing


def _parse_token(tok: str, partial: bool) -> Node | None:
    m = re.fullmatch(r"(\w+):(.*)", tok, re.DOTALL)
    if m and m.group(1).lower() in FIELD_PREFIXES:
        prefix = FIELD_PREFIXES[m.group(1).lower()]
        val = m.group(2)
        if val.startswith('"') and val.endswith('"') and len(val) >= 2:
            return PhraseTerms(scan_terms(val[1:-1]), prefix)
        return _word_node(val, prefix, partial)
    if tok.startswith('"') and tok.endswith('"') and len(tok) >= 2:
        return PhraseTerms(scan_terms(tok[1:-1]), "")
    return _word_node(tok, "", partial)


def _word_node(word: str, prefix: str, partial: bool) -> Node | None:
    if word.endswith("*"):
        base = scan_terms(word[:-1])
        return WildcardTerm(base[0] if base else "", prefix)
    terms = scan_terms(word)
    if not terms:
        return None
    if len(terms) > 1:
        # e.g. hyphenated input splits into an implicit phrase, like the
        # QueryParser does for 'simple-example'
        return PhraseTerms(terms, prefix)
    if partial:
        return PartialTerm(terms[0], prefix)
    return StemTerm(terms[0], prefix)


def _chunk_to_node(chunk: str, partial: bool, final_chunk: bool = False) -> Node:
    """expression_into_query: tokens OR-folded (Q20), with love/hate (Q16).
    The final chunk uses the reference-lexer semantics
    (_final_chunk_tokens); earlier chunks the intended grammar."""
    loves: list[Node] = []
    hates: list[Node] = []
    others: list[Node] = []
    if final_chunk:
        tokens = list(_final_chunk_tokens(chunk))
    else:
        tokens = [(m.group(0), False) for m in _TOKEN_PATTERN.finditer(chunk)]
    for tok, degrade in tokens:
        bucket = others
        if not tok.startswith('"'):
            if tok.startswith("+") and len(tok) > 1:
                tok, bucket = tok[1:], loves
            elif tok.startswith("-") and len(tok) > 1:
                tok, bucket = tok[1:], hates
        if degrade:
            # unprefixed implicit phrase of the token's words — the
            # reference's parse_query fallback for an unterminated field
            words = scan_terms(tok)
            node = PhraseTerms(words, "") if words else None
        else:
            node = _parse_token(tok, partial)
        if node is not None:
            bucket.append(node)

    def or_fold(nodes: list[Node]) -> Node | None:
        out = None
        for n in nodes:
            out = n if out is None else Bool("OR", out, n)
        return out

    base = or_fold(others)
    if loves:
        required = None
        for n in loves:
            required = n if required is None else Bool("AND", required, n)
        base = Bool("AND_MAYBE", required, base) if base is not None else required
    if base is None:
        base = Empty()
    if hates:
        base = Bool("AND_NOT", base, or_fold(hates))
    return base


_NUMBER = re.compile(r"^\s*([0-9]+(?:\.[0-9]+)?)\s*$")


def _apply_op(op: str, node: Node, rhs: Node, rhs_text: str) -> Node:
    """Fold one (normalized, upper-case) operator application — the shared
    body of the flat and the parenthesized compile paths."""
    wm = re.fullmatch(r"(NEAR|ADJ)(?:/(\d+))?", op)
    if wm:
        width = int(wm.group(2)) if wm.group(2) else None
        if wm.group(1) == "NEAR":
            return NearOp(node, rhs, width=width)
        return AdjOp(node, rhs, width=width)
    if op == "AND MAYBE":
        return Bool("AND_MAYBE", node, rhs)
    if op == "AND NOT":
        return Bool("AND_NOT", node, rhs)
    if op == "AND":
        return Bool("AND", node, rhs)
    if op == "OR":
        return Bool("OR", node, rhs)
    if op == "XOR":
        return Bool("XOR", node, rhs)
    if op == "FILTER":
        return Bool("FILTER", node, rhs)
    if op == "PHRASE":
        return PhraseOp(node, rhs)
    if op == "SYNONYM":
        return Synonym(node, rhs)
    if op == "RANGE":
        return _parse_range(node, rhs_text) or Bool("OR", node, rhs)
    return Bool("OR", node, rhs)  # pragma: no cover


def _paren_profile(s: str) -> tuple[bool, bool]:
    """(has_parens_outside_quotes, balanced) — parens INSIDE double quotes
    are phrase text, not grouping (the quoted alternative of the token
    lexers), so they neither engage the grouped path nor unbalance it."""
    depth = 0
    has = False
    inq = False
    for ch in s:
        if ch == '"':
            inq = not inq
        elif not inq:
            if ch == "(":
                has = True
                depth += 1
            elif ch == ")":
                has = True
                depth -= 1
                if depth < 0:
                    return True, False
    return has, depth == 0


_PREFIXED_GROUP = re.compile(r"(\w+):$")


def _split_grouped(s: str) -> list[tuple[str, object]]:
    """Depth-0 segmentation of a balanced-paren query: ("text", t) runs and
    ("group", (sign, prefix, inner)) parenthesized subexpressions (lemony's
    ``( expr )`` grouping rule). ``prefix`` is set for prefixed
    subexpressions like ``title:(fast NEAR food)`` (queryparser.lemony:1120
    — the field prefix distributes over every term of the group); ``sign``
    is '+'/'-' for love/hate-marked groups (``+(a b)``, ``-(x OR y)`` —
    the lemony hated_expr/stop_prob rules applied to a subquery)."""
    items: list[tuple[str, object]] = []
    depth = 0
    start = 0
    gstart = 0
    gsign: str | None = None
    gprefix: str | None = None
    inq = False
    for i, ch in enumerate(s):
        if ch == '"':
            inq = not inq
            continue
        if inq:
            continue  # parens inside quoted phrases are text, not grouping
        if ch == "(":
            if depth == 0:
                text = s[start:i]
                gsign = gprefix = None
                m = _PREFIXED_GROUP.search(text)
                if m and m.group(1).lower() in FIELD_PREFIXES:
                    gprefix = FIELD_PREFIXES[m.group(1).lower()]
                    text = text[: m.start()]
                if text and text[-1] in "+-":
                    gsign = text[-1]
                    text = text[:-1]
                if text:
                    items.append(("text", text))
                gstart = i + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                items.append(("group", (gsign, gprefix, s[gstart:i])))
                start = i + 1
    if start < len(s):
        items.append(("text", s[start:]))
    return items


def _apply_prefix(node: Node, prefix: str) -> Node:
    """Distribute a field prefix over every unprefixed term leaf of a
    subtree (the lemony prefixed-subexpression rule): leaves that already
    carry a prefix keep it."""
    if isinstance(node, (PartialTerm, StemTerm, WildcardTerm, PhraseTerms)):
        if not node.prefix:
            node.prefix = prefix
        return node
    if isinstance(node, (Bool, Synonym, NearOp, AdjOp, PhraseOp)):
        _apply_prefix(node.left, prefix)
        _apply_prefix(node.right, prefix)
        return node
    if isinstance(node, (Scale, Elite)):
        _apply_prefix(node.child, prefix)
        return node
    return node


def compile_query(
    qstr: str, partial: bool = True, _streaming_tail: bool = True
) -> Node:
    """Split on operator keywords, parse chunks, fold left-associatively
    (parse_user_query :598-643). Parenthesized grouping is supported when
    the parens balance: a depth-0 ``(...)`` compiles recursively as one
    operand (the lemony grammar's grouping rule, which the reference
    reaches via parse_query); adjacent operands with no explicit operator
    OR-fold, consistent with the Q20 in-chunk fold. Unbalanced parens keep
    the legacy behavior (the streaming lexer treats ``(`` as a dead
    character in the final chunk).

    ``_streaming_tail`` (internal): the streaming-lexer degrade applies to
    the LAST chunk because nom hits end-of-input there; inside a
    parenthesized group the closing ``)`` always follows the token, so
    group recursion disables it."""
    has_parens, balanced = _paren_profile(qstr)
    if has_parens and balanced:
        return _compile_grouped(qstr, partial, _streaming_tail)
    parts = _OP_PATTERN.split(qstr)
    # parts = [chunk, op, chunk, op, ...]; the LAST chunk goes through
    # expression_into_query in the reference, hence the lexer semantics
    node = _chunk_to_node(
        parts[0], partial, final_chunk=len(parts) == 1 and _streaming_tail
    )
    i = 1
    while i + 1 < len(parts):
        op = re.sub(r"\s+", " ", parts[i].upper())
        rhs_text = parts[i + 1]
        is_final = (i + 1 == len(parts) - 1) and _streaming_tail
        i += 2
        if op == "SCALED":
            m = _NUMBER.match(rhs_text)
            if m:
                node = Scale(float(m.group(1)), node)
                continue
        if op == "ELITE":
            m = _NUMBER.match(rhs_text)
            if m:
                node = Elite(node, int(float(m.group(1))))
                continue
        rhs = _chunk_to_node(rhs_text, partial, final_chunk=is_final)
        node = _apply_op(op, node, rhs, rhs_text)
    return node


def _compile_grouped(
    qstr: str, partial: bool, _streaming_tail: bool = True
) -> Node:
    """Left-associative fold over depth-0 operands (text chunks and
    recursively-compiled groups)."""
    stream: list[tuple[str, object]] = []
    loves: list[Node] = []
    hates: list[Node] = []
    for kind, payload in _split_grouped(qstr):
        if kind == "group":
            sign, prefix, inner = payload
            sub = compile_query(inner, partial, _streaming_tail=False)
            if prefix is not None:
                sub = _apply_prefix(sub, prefix)
            if isinstance(sub, Empty):
                continue
            stream.append(("sgroup" if sign else "node", (sign, sub)))
            continue
        parts = _OP_PATTERN.split(payload)
        for j, p in enumerate(parts):
            if j % 2 == 1:
                stream.append(("op", re.sub(r"\s+", " ", p.upper())))
            elif p.strip():
                stream.append(("chunk", p))
    node: Node | None = None
    pending: str | None = None
    last_chunk_idx = max(
        (i for i, (k, _) in enumerate(stream) if k == "chunk"), default=-1
    )
    for idx, (kind, payload) in enumerate(stream):
        if kind == "op":
            # consecutive operators: the later one wins (mirrors the flat
            # path, where the splitter never produces two ops in a row with
            # a non-empty chunk between)
            pending = payload
            continue
        if kind == "sgroup":
            sign, sub = payload
            if pending is None:
                # juxtaposed signed group: bucket like _chunk_to_node's
                # +/- tokens, folded after the operator chain
                (loves if sign == "+" else hates).append(sub)
                continue
            # an EXPLICIT operator precedes the signed group — never drop
            # it silently: '+' means required, which the operator chain
            # already expresses, so the group joins through the operator;
            # '-' means exclude, which subsumes the operator (a AND -(b)
            # == a AND_NOT b)
            if sign == "-" and node is not None:
                node = Bool("AND_NOT", node, sub)
            elif node is None:
                node = sub if sign == "+" else Bool("AND_NOT", Empty(), sub)
            else:
                node = _apply_op(pending, node, sub, "")
            pending = None
            continue
        rhs_text = payload if kind == "chunk" else ""
        if pending in ("SCALED", "ELITE") and kind == "chunk":
            m = _NUMBER.match(rhs_text)
            if m and node is not None:
                node = (
                    Scale(float(m.group(1)), node)
                    if pending == "SCALED"
                    else Elite(node, int(float(m.group(1))))
                )
                pending = None
                continue
        if kind == "node":
            operand = payload[1]
        else:
            # the LAST top-level text chunk sits at end-of-input exactly
            # like the flat path's final chunk: keep the pinned
            # streaming-lexer degrade there (group recursion passes
            # _streaming_tail=False, so group INNARDS stay exempt)
            operand = _chunk_to_node(
                payload,
                partial,
                final_chunk=(idx == last_chunk_idx) and _streaming_tail,
            )
        if isinstance(operand, Empty):
            pending = None
            continue
        if node is None:
            node = operand
        elif pending is None:
            node = Bool("OR", node, operand)  # juxtaposition: Q20 OR-fold
        else:
            node = _apply_op(pending, node, operand, rhs_text)
        pending = None
    # love/hate groups fold exactly like _chunk_to_node's +/- buckets:
    # required terms AND-fold then AND_MAYBE the rest; hates AND_NOT last
    if loves:
        required: Node | None = None
        for n in loves:
            required = n if required is None else Bool("AND", required, n)
        node = Bool("AND_MAYBE", required, node) if node is not None else required
    if node is None and hates:
        node = Empty()
    if hates:
        hate: Node | None = None
        for n in hates:
            hate = n if hate is None else Bool("OR", hate, n)
        node = Bool("AND_NOT", node, hate)
    return node if node is not None else Empty()


def _parse_range(left: Node, rhs_text: str) -> Node | None:
    """'<field> RANGE <lo> <hi>' — left must be a bare field-ish term."""
    fld = None
    if isinstance(left, (PartialTerm, StemTerm)):
        fld = left.word
    parts = rhs_text.split()
    if fld and len(parts) >= 2:
        return RangeOp(fld, parts[0], parts[1])
    return None


# ------------------------------------------------------------------ explain


def explain(node: Node) -> str:
    """Deterministic structural dump — the golden-test hook (U4)."""
    if isinstance(node, Empty):
        return "<empty>"
    if isinstance(node, PartialTerm):
        stemmed = S.stem_query_term(node.word, node.prefix)
        return f"(WILDCARD {node.prefix}{node.word}* OR {stemmed})"
    if isinstance(node, StemTerm):
        return S.stem_query_term(node.word, node.prefix)
    if isinstance(node, PhraseTerms):
        inner = " PHRASE ".join(f"{node.prefix}{w}" for w in node.words)
        return f"({inner})"
    if isinstance(node, WildcardTerm):
        return f"(WILDCARD {node.prefix}{node.pattern}*)"
    if isinstance(node, Bool):
        return f"({explain(node.left)} {node.op} {explain(node.right)})"
    if isinstance(node, NearOp):
        w = node.window if node.window is not None else (node.width or "def")
        return f"({explain(node.left)} NEAR/{w} {explain(node.right)})"
    if isinstance(node, AdjOp):
        w = node.width if node.width is not None else "def"
        return f"({explain(node.left)} ADJ/{w} {explain(node.right)})"
    if isinstance(node, PhraseOp):
        return f"({explain(node.left)} PHRASEOP {explain(node.right)})"
    if isinstance(node, Scale):
        return f"(SCALE {node.factor} {explain(node.child)})"
    if isinstance(node, Elite):
        return f"(ELITE {node.n} {explain(node.child)})"
    if isinstance(node, Synonym):
        return f"({explain(node.left)} SYNONYM {explain(node.right)})"
    if isinstance(node, RangeOp):
        return f"(RANGE {node.fld} [{node.lo} .. {node.hi}])"
    return f"<unknown {type(node).__name__}>"


def get_description(node: Node) -> str:
    """Literal Xapian ``Query::get_description`` rendering of the compiled
    AST (U4 string-golden mode) — syntax per XC api/queryinternal.cc:
    terms as ``term[#wqf][@pos]`` (:691-701), branches as ``(A <OP> B)``
    with the window/set-size parameter after NEAR/PHRASE/ELITE_SET
    (:1396-1417, :1954-2002), wildcards as ``WILDCARD SYNONYM pattern``
    (:1124-1136), scale as ``factor * sub`` (:764-766). Pinned
    string-equal against the reference's green goldens
    (/root/reference/src/xapian_utils.rs:486-554) in test_query_compiler."""
    return f"Query({_describe(node)})"


def _term_desc(term: str, wqf: int = 1, pos: int | None = None) -> str:
    out = term
    if wqf != 1:
        out += f"#{wqf}"
    if pos is not None:
        out += f"@{pos}"
    return out


def _describe(node: Node) -> str:
    if isinstance(node, Empty):
        return ""
    if isinstance(node, PartialTerm):
        stemmed = S.stem_query_term(node.word, node.prefix)
        return (
            f"(WILDCARD SYNONYM {node.prefix}{node.word}"
            f" OR {_term_desc(stemmed, pos=1)})"
        )
    if isinstance(node, StemTerm):
        stemmed = S.stem_query_term(node.word, node.prefix)
        return _term_desc(stemmed, wqf=node.wqf, pos=1)
    if isinstance(node, PhraseTerms):
        n = len(node.words)
        if n == 1:
            return _term_desc(node.prefix + node.words[0], pos=1)
        sep = f" PHRASE {n} "
        return "(" + sep.join(
            _term_desc(node.prefix + w, pos=i) for i, w in enumerate(node.words, 1)
        ) + ")"
    if isinstance(node, WildcardTerm):
        return f"WILDCARD SYNONYM {node.prefix}{node.pattern}"
    if isinstance(node, Bool):
        return f"({_describe(node.left)} {node.op} {_describe(node.right)})"
    if isinstance(node, NearOp):
        w = node.window
        if w is None:
            n = len(_collect_terms(node.left) + _collect_terms(node.right))
            w = (node.width or 10) - 1 + n  # as_near_query :1722-1730
        return f"({_describe(node.left)} NEAR {w} {_describe(node.right)})"
    if isinstance(node, AdjOp):
        # ADJ renders as OP_PHRASE with the widened window (as_adj_query
        # :1732-1740 — same sizing formula as NEAR)
        n = len(_collect_terms(node.left) + _collect_terms(node.right))
        w = (node.width or 10) - 1 + n
        return f"({_describe(node.left)} PHRASE {w} {_describe(node.right)})"
    if isinstance(node, PhraseOp):
        n = len(_collect_terms(node.left) + _collect_terms(node.right))
        return f"({_describe(node.left)} PHRASE {n} {_describe(node.right)})"
    if isinstance(node, Scale):
        return f"{node.factor} * {_describe(node.child)}"
    if isinstance(node, Elite):
        return f"({_describe(node.child)} ELITE_SET {node.n})"
    if isinstance(node, Synonym):
        return f"({_describe(node.left)} SYNONYM {_describe(node.right)})"
    if isinstance(node, RangeOp):
        return f"VALUE_RANGE {node.fld} {node.lo} {node.hi}"
    return f"<unknown {type(node).__name__}>"


# ------------------------------------------------------------------ execute


def _collect_terms(node: Node) -> list[str]:
    """Flatten a subtree into index terms (for NEAR/PHRASE/SYNONYM/ELITE
    operands)."""
    if isinstance(node, PartialTerm) or isinstance(node, StemTerm):
        return [node.prefix + node.word]
    if isinstance(node, PhraseTerms):
        return [node.prefix + w for w in node.words]
    if isinstance(node, (Bool, Synonym)):
        return _collect_terms(node.left) + _collect_terms(node.right)
    if isinstance(node, (NearOp, AdjOp, PhraseOp)):
        return _collect_terms(node.left) + _collect_terms(node.right)
    if isinstance(node, (Scale, Elite)):
        return _collect_terms(node.child)
    if isinstance(node, WildcardTerm):
        return [node.prefix + node.pattern]
    return []


def _collect_term_pairs(node: Node) -> list[tuple[str, str]]:
    """Flatten a subtree into (prefix, word) pairs — the prefix-preserving
    sibling of _collect_terms, for sites that must stem the word alone
    (ELITE lowering via stem_query_term)."""
    if isinstance(node, (PartialTerm, StemTerm)):
        return [(node.prefix, node.word)]
    if isinstance(node, PhraseTerms):
        return [(node.prefix, w) for w in node.words]
    if isinstance(node, (Bool, Synonym, NearOp, AdjOp, PhraseOp)):
        return _collect_term_pairs(node.left) + _collect_term_pairs(node.right)
    if isinstance(node, (Scale, Elite)):
        return _collect_term_pairs(node.child)
    if isinstance(node, WildcardTerm):
        return [(node.prefix, node.pattern)]
    return []


def snippet_shapes(node: Node) -> tuple[list[str], list[tuple[str, ...]], list[str]]:
    """check_query (termgenerator_internal.cc:672-720) over our AST: the
    (loose_terms, exact_phrases, wildcards) decomposition MSet::snippet
    highlights from — every leaf term (both sides of AND_NOT etc., exactly
    like the C++ recursion), tight term-only phrases, wildcard patterns.
    Terms are the INDEX forms (Z-stems for StemTerm, prefixed as indexed)."""
    loose: list[str] = []
    phrases: list[tuple[str, ...]] = []
    wildcards: list[str] = []

    def walk(n: Node) -> None:
        if isinstance(n, StemTerm):
            loose.append(S.stem_query_term(n.word, n.prefix))
        elif isinstance(n, PartialTerm):
            # FLAG_PARTIAL compiles to (WILDCARD word*) OR Zstem
            wildcards.append(n.prefix + n.word)
            loose.append(S.stem_query_term(n.word, n.prefix))
        elif isinstance(n, WildcardTerm):
            wildcards.append(n.prefix + n.pattern)
        elif isinstance(n, PhraseTerms):
            terms = tuple(n.prefix + w for w in n.words)
            if len(terms) == 1:
                loose.append(terms[0])
            else:
                phrases.append(terms)
        elif isinstance(n, (Bool, Synonym, NearOp, AdjOp, PhraseOp)):
            walk(n.left)
            walk(n.right)
        elif isinstance(n, (Scale, Elite)):
            walk(n.child)
        # Empty / RangeOp: no text terms

    walk(node)
    return loose, phrases, wildcards


# The boolean operators of operators/search.py (op_and ... op_filter) as
# SQL over match_leaves' scores. A side is (score, matched), its score 0.0
# wherever it does not match; each operator adds the weights the join form
# adds (x + 0.0 == x), so a lowered tree scores every doc as the join form.
def _gated(matched: str, score: str) -> tuple[str, str]:
    return f"(CASE WHEN {matched} THEN {score} ELSE 0.0D END)", matched


_BOOL_SCORES = {
    "AND": lambda l, r: _gated(f"({l[1]} AND {r[1]})", f"({l[0]} + {r[0]})"),
    "OR": lambda l, r: (f"({l[0]} + {r[0]})", f"({l[1]} OR {r[1]})"),
    "AND_NOT": lambda l, r: _gated(f"({l[1]} AND NOT {r[1]})", l[0]),
    "XOR": lambda l, r: _gated(f"({l[1]} <> {r[1]})", f"({l[0]} + {r[0]})"),
    "AND_MAYBE": lambda l, r: _gated(l[1], f"({l[0]} + {r[0]})"),
    "FILTER": lambda l, r: _gated(f"({l[1]} AND {r[1]})", l[0]),
}


def _positional_leaf(node: Node) -> S.Positional:
    """The match_leaves leaf of a NEAR, ADJ or PHRASE operator over the
    unstemmed terms of both operands. A NEAR/n or ADJ/n width n means
    "within n terms": window n - 1 + n_terms, n = 10 when absent (and for
    ADJ/0) (as_near_query / as_adj_query, queryparser.lemony:1722-1740)."""
    terms = _collect_terms(node.left) + _collect_terms(node.right)
    if isinstance(node, PhraseOp):
        return S.Positional("PHRASE", terms)
    if isinstance(node, AdjOp):
        return S.Positional("ADJ", terms, (node.width or 10) - 1 + len(terms))
    window = node.window
    if window is None:
        window = (9 if node.width is None else node.width - 1) + len(terms)
    return S.Positional("NEAR", terms, window)


class Executor:
    """Lowers the AST to a (doc, score) DataFrame over an InvertedIndex.
    Every tree is ONE match_leaves scan: its leaves (terms, partial words,
    wildcards, synonyms, phrases, NEAR/ADJ windows, ELITE's kept terms)
    become per-doc columns of one postings scan and one groupBy(doc), and
    its operators column math over them. A query-string RANGE matches
    nothing: no values are indexed, as in the reference (SURVEY.md §2.4
    Q9); metadata filtering is the metadata_range registry query's."""

    def __init__(self, index: InvertedIndex):
        self.index = index

    def _expanded(self, pattern: str) -> list[str]:
        """Unstemmed dictionary terms matching a trailing-* ``pattern``."""
        return [
            t for t in S.expand_wildcard(self.index, pattern)
            if not t.startswith("Z")
        ]

    def run(self, node: Node) -> DataFrame:
        leaves: list = []

        def leaf(l) -> int:
            leaves.append(l)
            return len(leaves) - 1

        def shape(n: Node):
            """n as a leaf index, an (op, left, right) / (factor, child)
            tuple, or None for a leaf that matches nothing."""
            if isinstance(n, StemTerm):
                return leaf(([S.stem_query_term(n.word, n.prefix)], n.wqf))
            if isinstance(n, PartialTerm):
                # (WILDCARD SYNONYM prefix+word) OR Zstem
                wc = self._expanded(n.prefix + n.word)
                stem = leaf(([S.stem_query_term(n.word, n.prefix)], 1))
                return ("OR", leaf((wc, 1)) if wc else None, stem)
            if isinstance(n, WildcardTerm):
                wc = self._expanded(n.prefix + n.pattern)
                return leaf((wc, 1)) if wc else None
            if isinstance(n, Synonym):
                return leaf((_collect_terms(n.left) + _collect_terms(n.right), 1))
            if isinstance(n, PhraseTerms):
                return leaf(S.Positional("PHRASE", [n.prefix + w for w in n.words]))
            if isinstance(n, (NearOp, AdjOp, PhraseOp)):
                if isinstance(n.left, Empty) or isinstance(n.right, Empty):
                    # an incomplete keystroke ("article NEAR"): like
                    # Xapian's AND-like operators over a MatchNothing
                    # subquery, it matches nothing (XC
                    # api/queryinternal.cc empty-query elision)
                    return None
                return leaf(_positional_leaf(n))
            if isinstance(n, Elite):
                zterms = [
                    S.stem_query_term(w, p) for p, w in _collect_term_pairs(n.child)
                ]
                out = None
                for t in S.elite_terms(self.index, zterms, n.n):
                    out = leaf(([t], 1)) if out is None else ("OR", out, leaf(([t], 1)))
                return out
            if isinstance(n, Bool):
                return (n.op, shape(n.left), shape(n.right))
            if isinstance(n, Scale):
                return (n.factor, shape(n.child))
            if isinstance(n, (Empty, RangeOp)):
                return None
            raise ValueError(f"unexecutable node {type(n).__name__}")

        tree = shape(node)
        fused = S.match_leaves(self.index, leaves)
        if fused is None:
            return S._empty_matches(self.index)
        frame, scores = fused

        def column(t) -> tuple[str, str]:
            """SQL of a shape's (score, matched); score 0.0 where unmatched."""
            if t is None:
                return "0.0D", "false"
            if isinstance(t, int):
                return scores[t]
            if len(t) == 2:
                score, matched = column(t[1])
                return f"({score} * {float(t[0])!r}D)", matched
            return _BOOL_SCORES[t[0]](column(t[1]), column(t[2]))

        score, matched = column(tree)
        return frame.filter(matched).selectExpr("doc", f"{score} AS score")


def search(
    index: InvertedIndex, qstr: str, k: int = S.PAGE_SIZE, partial: bool = True
) -> DataFrame:
    """The TUI contract (U1): query string -> ranked top-k (doc, score),
    one postings scan (Executor)."""
    return S.top_k(Executor(index).run(compile_query(qstr, partial)), k)
