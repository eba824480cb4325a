"""Tests for the benchmark's own code (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from itertools import islice

import pytest

from perfbench import inputs
from perfbench.measure import Tracer, percentile, tail_percentile


def _cycles(seed, warm):
    return list(inputs.keystroke_cycles(seed, inputs.page_ids(seed, 2000), warm))


def _fake_buckets(ids):
    return {inputs.gen_row(i)["url"]: (i // 8) % 16 for i in ids}


def test_same_seed_same_pages():
    a, b = inputs.page_ids(7, 300), inputs.page_ids(7, 300)
    assert a == b
    assert inputs.page_rows(a) == inputs.page_rows(b)
    assert inputs.page_ids(8, 300) != a


def test_every_seed_has_the_same_case_mix():
    for seed in range(20):
        ids = inputs.page_ids(seed, 2000)
        assert all(100_000 <= i < 1_000_000 for i in ids)
        assert sum(map(inputs.is_ok, ids)) == 1750


def test_same_seed_same_keystrokes():
    assert _cycles(3, False) == _cycles(3, False)
    assert _cycles(3, True) == _cycles(3, True)
    assert _cycles(3, False) != _cycles(4, False)


def test_keystrokes_never_repeat_and_warmup_is_disjoint():
    measured = [q for c in _cycles(5, False) for q, _ in c]
    warm = [q for c in _cycles(5, True) for q, _ in c]
    assert len(measured) == len(set(measured))
    assert len(warm) == len(set(warm))
    assert not set(measured) & set(warm)


def test_every_cycle_has_the_same_kinds_of_keystroke():
    cycles = _cycles(9, False)
    assert len(cycles) >= 10
    for c in cycles:
        assert len(c) == len(inputs.CYCLE)
        (typing, _), (incomplete, _), (unique, target), (complete, _) = c
        assert len(typing.split()[-1]) == 3
        assert incomplete.rstrip().endswith(" NEAR")
        assert unique == str(target) and inputs.has_body_number(target)
        assert target in inputs.page_ids(9, 2000)
        assert " " in complete or complete.startswith("title:")


def test_same_seed_same_edit_batches():
    ids = inputs.page_ids(11, 2000)
    buckets = _fake_buckets(ids)
    a = inputs.edit_batches(11, ids, buckets, 2, False)
    assert a == inputs.edit_batches(11, ids, buckets, 2, False)
    assert a != inputs.edit_batches(12, inputs.page_ids(12, 2000),
                                    _fake_buckets(inputs.page_ids(12, 2000)), 2, False)
    warm = inputs.edit_batches(11, ids, buckets, 2, True)
    pages = [i for b in a for i, _ in b]
    warm_pages = [i for b in warm for i, _ in b]
    assert len(pages) == len(set(pages)) and not set(pages) & set(warm_pages)
    for batch in a + warm:
        assert len(batch) == 2
        assert len({buckets[inputs.gen_row(i)["url"]] for i, _ in batch}) == 1


def test_edited_page_swaps_stale_body_for_fresh_term():
    i = inputs.page_ids(1, 16)[0]
    assert i % 8 == inputs.MARKDOWN_CASE
    row = inputs.edited_page(i, "revx1")
    assert b"revx1" in row["html"] and inputs.STALE_TERM not in row["text"]
    assert row["url"] == inputs.gen_row(i)["url"]


@pytest.mark.parametrize(
    "n, expected_q",
    [(1000, 99.0), (200, 95.0), (199, 95.0), (100, 90.0), (92, 90.0), (91, 75.0),
     (38, 75.0), (37, 50.0), (20, 50.0), (19, None), (0, None)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected_q):
    values = [float(v) for v in range(n)]
    got = tail_percentile(values)
    if expected_q is None:
        assert got is None
    else:
        q, v = got
        assert q == expected_q
        assert v == percentile(values, q)
        assert sum(1 for x in values if x > v) >= 10


def _span(tr, name, start, end, parent=None):
    tr.spans.append({"id": len(tr.spans), "name": name, "op": None,
                     "parent": parent, "start": start, "end": end})
    return len(tr.spans) - 1


def test_self_time_subtracts_children():
    tr = Tracer(True)
    root = _span(tr, "op", 0.0, 10.0)
    _span(tr, "build", 1.0, 3.0, root)
    child = _span(tr, "exec", 2.0, 6.0, root)  # overlaps build: union 1..6
    _span(tr, "inner", 4.0, 5.0, child)
    _span(tr, "late", 9.0, 12.0, root)  # clipped to the parent: 9..10
    st = tr.self_times()
    assert st[root] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[child] == pytest.approx(4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    by_name = tr.self_time_by_name()
    assert by_name["inner"] == [pytest.approx(1.0)]


def test_tracer_nests_spans_and_disabled_records_nothing():
    tr = Tracer(True)
    with tr.span("op", op=3):
        with tr.span("search.build", op=3):
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0]
    assert tr.self_times()[0] <= tr.spans[0]["end"] - tr.spans[0]["start"]
    off = Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []
