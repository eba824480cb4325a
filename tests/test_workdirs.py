"""plans/workdirs.py: deterministic per-input work dirs — reuse, staleness
GC, crash-safe cached builds — and the in-session memo: Spark-free unit
tests against a stub session, plus one check through get_index."""

import os

from tika_xapian_spark.plans import workdirs as W


def _touch(p, content="x"):
    with open(p, "w") as f:
        f.write(content)


def test_same_input_same_dir(tmp_path):
    src = str(tmp_path / "in.parquet")
    _touch(src)
    a = W.work_dir("t1", src)
    b = W.work_dir("t1", src)
    assert a == b and os.path.isdir(a)


def test_changed_input_new_dir_and_gc(tmp_path):
    src = str(tmp_path / "in2.parquet")
    _touch(src, "one")
    a = W.work_dir("t2", src)
    _touch(src, "different-size-content")
    b = W.work_dir("t2", src)
    assert a != b
    assert not os.path.exists(a)  # stale sibling for the purpose removed
    assert os.path.isdir(b)


def test_cached_build_builds_once_and_recovers_partial(tmp_path):
    src = str(tmp_path / "in4.parquet")
    _touch(src)
    calls = []

    def build(d):
        calls.append(d)
        _touch(os.path.join(d, "artifact"))

    d1 = W.cached_build("t4", src, build)
    d2 = W.cached_build("t4", src, build)
    assert d1 == d2 and len(calls) == 1  # marker short-circuits
    # simulate a crash mid-build: marker missing, partial state present
    os.remove(os.path.join(d1, W._MARKER))
    _touch(os.path.join(d1, "partial_junk"))
    d3 = W.cached_build("t4", src, build)
    assert d3 == d1 and len(calls) == 2  # rebuilt
    assert not os.path.exists(os.path.join(d1, "partial_junk"))  # wiped first
    assert os.path.exists(os.path.join(d1, "artifact"))


def test_alternating_purposes_rebuild_cleanly(tmp_path):
    """Alternating two inputs under one purpose: each switch GCs the other's
    dir, and cached_build transparently rebuilds (the consumer-side handle
    staleness is covered by _ann_index's marker-mtime check)."""
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    _touch(a, "aaa")
    _touch(b, "bbbb")
    calls = []

    def build(d):
        calls.append(d)
        _touch(os.path.join(d, "artifact"))

    da1 = W.cached_build("t5", a, build)
    db1 = W.cached_build("t5", b, build)   # GCs a's dir
    assert not os.path.exists(da1)
    da2 = W.cached_build("t5", a, build)   # rebuilds a
    assert da2 == da1 and os.path.exists(os.path.join(da2, "artifact"))
    assert len(calls) == 3


class _StubSession:
    """Just enough of a SparkSession for Memo: an application id."""

    def __init__(self, app_id):
        self.sparkContext = type("Ctx", (), {"applicationId": app_id})()


class _Value:
    def __init__(self, n):
        self.n = n
        self.unpersisted = False

    def unpersist(self):
        self.unpersisted = True


def test_memo_builds_once_per_input(tmp_path):
    src = str(tmp_path / "m1.parquet")
    _touch(src)
    memo, spark, built = W.Memo(), _StubSession("app-1"), []

    def build():
        built.append(_Value(len(built)))
        return built[-1]

    assert memo.get(spark, "p", src, build) is memo.get(spark, "p", src, build)
    assert len(built) == 1
    memo.get(spark, "q", src, build)  # another purpose: its own entry
    assert len(built) == 2


def test_memo_rebuilds_rewritten_input_and_unpersists_old(tmp_path):
    src = str(tmp_path / "m2.parquet")
    _touch(src, "one")
    memo, spark = W.Memo(), _StubSession("app-1")
    old = memo.get(spark, "p", src, lambda: _Value(1))
    _touch(src, "rewritten, longer")
    new = memo.get(spark, "p", src, lambda: _Value(2))
    assert new.n == 2 and old.unpersisted and not new.unpersisted


def test_memo_drops_entries_of_a_stopped_application(tmp_path):
    src = str(tmp_path / "m3.parquet")
    _touch(src)
    memo, spark = W.Memo(), _StubSession("app-1")
    old = memo.get(spark, "p", src, lambda: _Value(1))
    memo.get(spark, "q", src, lambda: _Value(1))
    spark.sparkContext.applicationId = "app-2"  # session stopped + restarted
    new = memo.get(spark, "p", src, lambda: _Value(2))
    assert new.n == 2
    # every entry of app-1 is gone, not only the one rebuilt; the stopped
    # session's frames are dropped without an unpersist call into it
    assert list(memo._entries) == [("p", src)]
    assert not old.unpersisted


def test_get_index_sees_rewritten_documents(spark, tmp_path):
    import pyarrow.parquet as pq

    from tika_xapian_spark.plans import doc_queries as dq

    table = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    assert dq.get_index(spark, str(tmp_path)).n_docs == table.num_rows
    pq.write_table(table.slice(0, 50), str(tmp_path / "documents.parquet"))
    assert dq.get_index(spark, str(tmp_path)).n_docs == 50
