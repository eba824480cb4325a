"""Sketch operators: count-min heavy hitters and KMV distinct estimation.

The oracle-parity gate covers value equality; these tests pin the sketch
INVARIANTS (CMS never undercounts; KMV is exact under k) and the plan shape
(the counter table broadcasts to the probe — the sketch must stay a
constant-size summary, never a shuffled join side).
"""

import pytest
from pyspark.sql import functions as F

from tika_xapian_spark.operators import sketches as SK


@pytest.fixture(scope="module")
def skewed_docs(spark):
    # 'hot' appears ~10x more than anything else; 40 distinct cold tokens
    rows = [(i, "hot " * 10 + f"cold{i % 40} warm{i % 7}") for i in range(200)]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestCms:
    def test_never_undercounts_and_exact_on_top(self, skewed_docs):
        out = SK.cms_heavy_hitters(skewed_docs, key="doc_id", top_k=48).collect()
        assert all(r.overcount >= 0 for r in out)
        top = out[0]
        assert top.token == "hot" and top.exact_count == 2000
        # depth=3 rows of width=32: the heavy hitter's estimate is its own
        # count plus whatever collides — bounded well under 2x here
        assert top.cms_count < 2 * top.exact_count

    def test_counter_table_broadcasts(self, skewed_docs):
        df = SK.cms_heavy_hitters(skewed_docs, key="doc_id")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "EvalPython" not in plan


class TestKmv:
    def test_exact_under_k(self, spark):
        rows = [(i, "gsmall", i % 5) for i in range(100)]
        df = spark.createDataFrame(rows, "i long, grp string, v long")
        (small,) = SK.kmv_distinct(df, "grp", "v").collect()
        assert small.n_exact == 5 and small.kmv_estimate == 5  # ndv < k: exact
        assert small.err_micro == 0

    def test_unbiased_across_groups(self, spark):
        # One deterministic draw at k=16 has ~27% standard error (1/sqrt(k-2))
        # — any single-group bound is a coin flip. The estimator is UNBIASED,
        # so pin the mean over 50 independent groups (SE of the mean ~4%).
        ndv = 200
        rows = [
            (g, g * 100_000 + j) for g in range(50) for j in range(ndv) for _ in (0, 1)
        ]
        df = spark.createDataFrame(rows, "grp long, v long")
        out = SK.kmv_distinct(df, "grp", "v").collect()
        assert all(r.n_exact == ndv for r in out)
        mean_est = sum(r.kmv_estimate for r in out) / len(out)
        assert abs(mean_est - ndv) < ndv * 0.15, mean_est
