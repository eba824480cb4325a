"""pack_sequences: the concat-and-chunk packing manifest must equal a
straight-line Python reference (including doc_id gaps and multi-bucket
splits) and satisfy the packing invariants every trainer relies on."""

import pytest
from pyspark.sql import Row

from tika_xapian_spark.operators.packing import pack_sequences
from tika_xapian_spark.plans.data_queries import TRUNC_LOST_MICRO_SQL


def _python_pack(docs, budget):
    """Reference: concatenate token counts in doc order, slice into
    budget-token chunks, emit (chunk, doc, offset_in_chunk, n)."""
    out = []
    pos = 0
    for doc, n in sorted(docs):
        if n <= 0:
            continue
        start, end = pos, pos + n
        pos = end
        c = start // budget
        while c * budget < end:
            lo = max(start, c * budget)
            hi = min(end, (c + 1) * budget)
            out.append((c, doc, lo - c * budget, hi - lo))
            c += 1
    return sorted(out)


def _mk_docs(spark, counts):
    # text of exactly n single-letter tokens per doc
    return spark.createDataFrame(
        [Row(doc_id=d, text=" ".join(["x"] * n)) for d, n in counts]
    )


CASES = [
    # contiguous ids, docs straddle chunks
    [(i, 13) for i in range(40)],
    # gaps + uneven sizes + a doc bigger than the budget
    [(3, 5), (7, 90), (8, 1), (100, 40), (101, 200), (5000, 17)],
    # zero-token docs are skipped
    [(0, 0), (1, 10), (2, 0), (3, 30)],
]


@pytest.mark.parametrize("counts", CASES)
def test_matches_python_reference(spark, counts):
    docs = _mk_docs(spark, counts)
    got = sorted(
        tuple(r)
        for r in pack_sequences(
            docs, key="doc_id", budget=32, bucket_span=4
        ).collect()
    )
    assert got == _python_pack(counts, 32)


def test_packing_invariants(spark):
    counts = [(i, 7 + (i * 11) % 50) for i in range(200)]
    budget = 64
    rows = pack_sequences(
        _mk_docs(spark, counts), key="doc_id", budget=budget, bucket_span=16
    ).collect()
    by_chunk = {}
    per_doc = {}
    for r in rows:
        by_chunk.setdefault(r.chunk_id, []).append(
            (r.chunk_offset, r.n_tokens_in_chunk)
        )
        per_doc[r.doc] = per_doc.get(r.doc, 0) + r.n_tokens_in_chunk
    # every doc's token count is preserved across its chunk rows
    assert per_doc == {d: n for d, n in counts}
    last = max(by_chunk)
    for cid, segs in by_chunk.items():
        segs.sort()
        total = sum(n for _, n in segs)
        # chunks tile contiguously from offset 0
        assert segs[0][0] == 0
        for (o1, n1), (o2, _) in zip(segs, segs[1:]):
            assert o1 + n1 == o2
        # every chunk except the final one is exactly full
        if cid != last:
            assert total == budget
        else:
            assert 0 < total <= budget


def test_truncation_lost_micro_exact_past_int64_product(spark):
    """text_truncation_stats' loss fraction at corpus scale: 1e13 * 1e6
    overflows a BIGINT product (ANSI raises ARITHMETIC_OVERFLOW); the
    answer itself is at most 1e6 and must come out exact."""
    df = spark.createDataFrame(
        [(10**13, 2 * 10**13)], "tokens_lost long, tokens_total long"
    )
    (row,) = df.selectExpr(f"{TRUNC_LOST_MICRO_SQL} AS lost_micro").collect()
    assert row.lost_micro == 500_000
