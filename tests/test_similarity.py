"""Multi-probe hyperplane LSH: probe-set arithmetic, candidate pruning, and
recall on clustered data (where angle-LSH has signal — on isotropic random
vectors low recall is information-theoretic, not an implementation bug;
bench.py reports the measured number on the synthetic corpus honestly)."""

import numpy as np
import pytest

from tika_xapian_spark.operators import similarity as SIM


def test_multiprobe_bucket_set_shape():
    planes = SIM.hyperplanes(6, 8)
    q = [1.0, -0.5, 0.25, 0.0, 0.9, -0.1, 0.3, 0.7]
    probes = SIM.multiprobe_buckets(q, planes, n_probe=3)
    assert len(probes) == 4 and len(set(probes)) == 4
    base = probes[0]
    for p in probes[1:]:
        x = base ^ p
        assert x and (x & (x - 1)) == 0  # each probe flips exactly one bit


def test_hyperplanes_deterministic():
    assert SIM.hyperplanes(4, 16) == SIM.hyperplanes(4, 16)


@pytest.fixture(scope="module")
def clustered(spark):
    # 8 tight Gaussian clusters in 32d: real angular structure
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 32)) * 4.0
    rows = []
    for i in range(400):
        c = centers[i % 8]
        v = c + rng.standard_normal(32) * 0.3
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), rows


def test_multiprobe_recall_high_on_clustered_data(clustered):
    df, rows = clustered
    query = rows[0][1]  # a member of cluster 0
    exact = {r["vec_id"] for r in SIM.cosine_topk(df, query, 25).collect()}
    approx = {
        r["vec_id"]
        for r in SIM.multiprobe_cosine_topk(
            df, query, 25, n_planes=6, n_probe=4
        ).collect()
    }
    rec = len(exact & approx) / len(exact)
    assert rec >= 0.9, rec


def test_multiprobe_prunes_scan(clustered, spark):
    df, rows = clustered
    query = rows[0][1]
    planes = SIM.hyperplanes(6, 32)
    probes = SIM.multiprobe_buckets(query, planes, 4)
    n_cand = df.filter(
        SIM.hyperplane_bucket("embedding", planes).isin(probes)
    ).count()
    assert 0 < n_cand < df.count() * 0.6  # real pruning, not a full scan


def test_multiprobe_equals_bruteforce_when_probing_everything(clustered):
    df, rows = clustered
    query = rows[3][1]
    # 1 plane, probe its flip too -> every bucket probed -> exact
    exact = [r["vec_id"] for r in SIM.cosine_topk(df, query, 10).collect()]
    full = [
        r["vec_id"]
        for r in SIM.multiprobe_cosine_topk(
            df, query, 10, n_planes=1, n_probe=1
        ).collect()
    ]
    assert full == exact


def test_ivf_full_probe_equals_bruteforce(clustered):
    df, rows = clustered
    query = rows[5][1]
    exact = [r["vec_id"] for r in SIM.cosine_topk(df, query, 10).collect()]
    full = [
        r["vec_id"]
        for r in SIM.ivf_cosine_topk(
            df, query, 10, n_list=8, n_probe=8
        ).collect()
    ]
    assert full == exact  # probing every cell makes IVF exact


def test_ivf_recall_high_on_clustered_data(clustered):
    df, rows = clustered
    query = rows[0][1]
    exact = {r["vec_id"] for r in SIM.cosine_topk(df, query, 25).collect()}
    approx = {
        r["vec_id"]
        for r in SIM.ivf_cosine_topk(df, query, 25, n_list=16, n_probe=4).collect()
    }
    assert len(exact & approx) / 25 >= 0.9


def test_ivf_seed_centroids_deterministic(clustered):
    df, _ = clustered
    a = SIM.ivf_seed_centroids(df, 16)
    assert a == SIM.ivf_seed_centroids(df, 16)
    assert 1 < len(a) <= 16
    assert all(isinstance(cid, int) for cid, _ in a)


def test_multiprobe_hamming2_extension():
    planes = SIM.hyperplanes(5, 8)
    q = [0.3, -0.8, 0.1, 0.6, -0.2, 0.9, 0.05, -0.4]
    probes = SIM.multiprobe_buckets(q, planes, n_probe=9)
    assert len(probes) == 10 and len(set(probes)) == 10
    base = probes[0]
    h_dists = [bin(base ^ p).count("1") for p in probes[1:]]
    # perturbations are 1- and 2-bit flips, ordered by COST (sum of flipped
    # margins), so a cheap 2-bit flip may precede an expensive 1-bit one
    assert set(h_dists) == {1, 2}
    projs = [sum(x * p[j] for j, x in enumerate(q)) for p in planes]
    costs = [
        sum(abs(projs[b]) for b in range(len(planes)) if (base ^ p) >> b & 1)
        for p in probes[1:]
    ]
    assert costs == sorted(costs)
    # n_probe <= n_planes generates hamming-1 flips only (oracle lockstep)
    small = SIM.multiprobe_buckets(q, planes, n_probe=5)
    assert all(bin(small[0] ^ p).count("1") == 1 for p in small[1:])


def test_ivf_prunes_on_shifted_id_corpus(spark):
    # data-derived centroids: an id space starting at 10^6 must still seed a
    # real quantizer (pruned scan), NOT fall back to a silent full scan
    rng = np.random.default_rng(23)
    centers = rng.standard_normal((8, 16)) * 4.0
    rows = [
        (1_000_000 + i, [float(x) for x in centers[i % 8] + rng.standard_normal(16) * 0.3])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[0][1]
    cents = SIM.ivf_seed_centroids(df, 16)
    assert len(cents) > 1 and all(cid >= 1_000_000 for cid, _ in cents)
    # the probe really prunes: candidate set is a strict subset
    probe_cells = [cid for cid, _ in cents][: SIM.IVF_N_PROBE]
    n_cand = df.filter(
        SIM._assign_cell("embedding", cents).isin(probe_cells)
    ).count()
    assert 0 < n_cand < len(rows)
    # and the pruned result still has high recall on clustered data
    exact = {r["vec_id"] for r in SIM.cosine_topk(df, q, 25).collect()}
    approx = {
        r["vec_id"]
        for r in SIM.ivf_cosine_topk(df, q, 25, n_list=16, n_probe=4).collect()
    }
    assert len(exact & approx) / 25 >= 0.9


def test_ivf_empty_corpus_falls_back_loudly(spark):
    import warnings

    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = SIM.ivf_cosine_topk(df, [1.0] * 8, 5).collect()
    assert got == []
    assert any("exact full scan" in str(x.message) for x in w)


@pytest.fixture(scope="module")
def clustered64(spark):
    # 10 tight clusters in 64d (EMB_PAIR_BANDS reads dims up to 62, so the
    # banded pair generator needs the full 64-dim layout the corpus uses)
    rng = np.random.default_rng(23)
    centers = rng.standard_normal((10, 64)) * 4.0
    rows = []
    for i in range(300):
        c = centers[i % 10]
        v = c + rng.standard_normal(64) * 0.12
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), rows


def test_pairwise_dedup_banded_recall(clustered64):
    """The banded candidate generator's recall property (r4 verdict #3): on
    clustered data, near-all true high-cosine pairs agree on at least one
    8-bit sign band, so the banded pairs cover >= 95% of the brute-force
    truth at the dedup threshold; every reported pair's cosine is exact."""
    df, rows = clustered64
    got = {
        (r["id_a"], r["id_b"]): r["cos_micro"]
        for r in SIM.pairwise_cosine_dedup(df, threshold_micro=990_000).collect()
    }
    # brute-force truth
    # storage is array<float>: truncate to float32 first, then widen — the
    # engine's cosine runs on the float32-truncated values cast to double
    vecs = {
        i: np.asarray(v, dtype=np.float32).astype(np.float64) for i, v in rows
    }
    truth = {}
    ids = sorted(vecs)
    for ai, a in enumerate(ids):
        va = vecs[a]
        na = np.linalg.norm(va)
        for b in ids[ai + 1:]:
            vb = vecs[b]
            c = float(va @ vb) / (na * float(np.linalg.norm(vb)))
            micro = int(round(c * 1_000_000))
            if micro >= 990_000:
                truth[(a, b)] = micro
    assert truth, "fixture must produce high-cosine pairs"
    found = sum(1 for p in truth if p in got)
    assert found / len(truth) >= 0.95
    # no false positives and exact cosines on everything reported
    for p, micro in got.items():
        assert p in truth and micro == truth[p]


def test_pairwise_dedup_folds_multiband_duplicates(clustered64):
    """A pair agreeing on several bands must surface exactly once."""
    df, _ = clustered64
    out = SIM.pairwise_cosine_dedup(df, threshold_micro=990_000).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in out]
    assert len(pairs) == len(set(pairs))


class TestKmeansStep:
    def test_matches_numpy_reference(self, clustered):
        df, rows = clustered
        dim = 32
        out = SIM.kmeans_step(df, n_list=8, dim=dim).collect()

        # reference: same seed quantizer, same milli arithmetic
        cents = SIM.ivf_seed_centroids(df, n_list=8)
        A = {vid: np.asarray(v, dtype=np.float64) for vid, v in rows}

        def d2(a, b):
            # same left-to-right double fold; ties broken by lower cid
            return float(((np.asarray(a) - np.asarray(b)) ** 2).sum())

        assign: dict[int, int] = {}
        for vid, v in rows:
            vf = [float(np.float32(x)) for x in v]
            best = min(
                (d2(vf, cv), cid) for cid, cv in cents
            )
            assign[vid] = best[1]
        exp: dict[tuple[int, int], tuple[int, int, int]] = {}
        from collections import defaultdict

        members = defaultdict(list)
        for vid, cl in assign.items():
            members[cl].append(vid)
        for cl, vids in members.items():
            M = np.round(
                np.array([[float(np.float32(x)) for x in A[v]] for v in vids])
                * 1000
            ).astype(np.int64)
            s = M.sum(axis=0)
            for d in range(dim):
                exp[(cl, d)] = (
                    len(vids),
                    int(s[d]),
                    int(round(float(s[d]) / len(vids))),
                )
        got = {
            (r.cluster, r.dim): (r.n_members, r.sum_milli, r.centroid_milli)
            for r in out
        }
        assert got == exp

    def test_iteration_reduces_distortion(self, clustered):
        """One Lloyd step must not increase total squared distance to the
        assigned centroid (the classic monotonicity guarantee)."""
        df, rows = clustered
        cents0 = SIM.ivf_seed_centroids(df, n_list=8)
        step = SIM.kmeans_step(df, n_list=8, dim=32).collect()
        new_cents = {}
        for r in step:
            new_cents.setdefault(r.cluster, [0.0] * 32)[r.dim] = (
                r.centroid_milli / 1000.0
            )
        A = [np.asarray(v, dtype=np.float64) for _, v in rows]

        def total_distortion(cent_map):
            tot = 0.0
            for v in A:
                tot += min(
                    float(((v - np.asarray(c)) ** 2).sum())
                    for c in cent_map.values()
                )
            return tot

        before = total_distortion({cid: cv for cid, cv in cents0})
        after = total_distortion(new_cents)
        assert after <= before * 1.0001  # milli rounding slack


class TestQuantizeInt8:
    def test_matches_numpy(self, clustered):
        df, rows = clustered
        out = {r.vec_id: r for r in SIM.quantize_int8(df).collect()}
        for vid, v in rows[:50]:
            e = np.asarray([float(np.float32(x)) for x in v], dtype=np.float64)
            ma = float(np.max(np.abs(e)))
            codes = np.array(
                [0 if ma == 0 else int(round(x / ma * 127)) for x in e]
            )
            err = float(np.sqrt(((e - codes * ma / 127) ** 2).sum()))
            r = out[vid]
            assert r.scale_micro == round(ma / 127 * 1_000_000)
            assert r.n_saturated == int((np.abs(codes) == 127).sum())
            assert abs(r.l2_err_micro - round(err * 1_000_000)) <= 1
        # every vector has at least one saturated code (its maxabs element)
        assert all(r.n_saturated >= 1 for r in out.values())

    def test_zero_vector(self, spark):
        df = spark.createDataFrame(
            [(0, [0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
        )
        r = SIM.quantize_int8(df).collect()[0]
        assert (r.scale_micro, r.n_saturated, r.l2_err_micro) == (0, 0, 0)


def test_recall_table_exact_and_partial(spark):
    """recall_table on hand-built ranked frames: exact agreement gives
    recall 1.0 at every k; a half-overlapping approx gives the exact
    integer fractions."""
    truth = spark.createDataFrame(
        [(i, 1000 - i) for i in range(25)], "vec_id long, cos_micro long"
    )
    same = SIM.recall_table(truth, truth)
    assert {(r.k, r.recall_micro) for r in same.collect()} == {
        (5, 1_000_000), (10, 1_000_000), (25, 1_000_000)
    }
    # approx = truth's even ranks only (ids 0,2,4,...) re-scored: at k=10,
    # approx top-10 = ids 0..18 even (ranks 1,3,..,19 in truth) — 5 of
    # truth's top-10 (ids 0,2,4,6,8)
    approx = spark.createDataFrame(
        [(i, 1000 - i) for i in range(0, 50, 2)], "vec_id long, cos_micro long"
    )
    out = {r.k: r for r in SIM.recall_table(truth, approx).collect()}
    assert out[10].n_hits == 5 and out[10].recall_micro == 500_000
    assert out[5].n_hits == 3  # ids 0,2,4 in both top-5s
    assert out[25].n_truth == 25 and out[25].n_approx == 25


class TestBitextMargin:
    def test_margin_suppresses_hub_and_thresholds(self, spark):
        """Crafted 3-coordinate geometry (embedded in 64-dim, all entries
        >= 0 so every vector shares every band bucket): the hub h is the
        RAW-cosine argmax for s1, but its inflated neighborhood average
        makes the ratio margin pick the mutually-best p instead; s3's only
        candidate scores margin < 1.0 and is filtered out entirely."""
        import numpy as np

        from tika_xapian_spark.operators.similarity import bitext_margin

        def v64(x, y, z):
            a = [0.0] * 64
            a[1], a[3], a[5] = x, y, z
            return a

        vecs = {
            0: v64(1.0, 0.4, 0.4),   # s1 (en)
            1: v64(0.0, 1.0, 0.0),   # s2 (en)
            2: v64(0.0, 0.0, 1.0),   # s3 (en)
            10: v64(1.0, 1.0, 1.0),  # h: hub (de)
            11: v64(1.0, 0.05, 0.0), # p: s1's true pair (de)
        }
        emb = spark.createDataFrame(
            [(i, [float(x) for x in a]) for i, a in vecs.items()],
            "vec_id long, embedding array<float>",
        )
        lang_of = spark.createDataFrame(
            [(0, "en"), (1, "en"), (2, "en"), (10, "de"), (11, "de")],
            "vec_id long, lang string",
        )
        # the premise: raw cosine prefers the hub for s1
        def cos(a, b):
            a, b = np.array(vecs[a]), np.array(vecs[b])
            return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

        assert cos(0, 10) > cos(0, 11)

        got = {
            r.vec_id: (r.match_id, r.margin_micro)
            for r in bitext_margin(emb, lang_of, "en", "de", knn=2).collect()
        }
        assert set(got) == {0, 1}          # s3's best margin < 1.0: dropped
        assert got[0][0] == 11             # margin overrides the hub
        assert got[1][0] == 10             # s2's genuine best is the hub
        assert got[0][1] >= 1_000_000


class TestKcenterSeeds:
    def test_greedy_radius_sequence(self, spark):
        """Points on a line (embedded in 64-dim): start at id 0 (origin),
        farthest is 10 away (d2=100), then the mid point at 5 (min-d2=25
        to both chosen) beats the point at 3 (min-d2=9)."""
        from tika_xapian_spark.operators.similarity import kcenter_seeds

        def v(axis, mag):
            a = [0.0] * 64
            a[axis] = float(mag)
            return a

        emb = spark.createDataFrame(
            [(0, v(1, 0)), (1, v(1, 10)), (2, v(1, 5)), (3, v(3, 3))],
            "vec_id long, embedding array<float>",
        )
        got = [
            (r.step, r.vec_id, r.d2_micro)
            for r in kcenter_seeds(emb, k=3).collect()
        ]
        assert got == [(0, 0, 0), (1, 1, 100_000_000), (2, 2, 25_000_000)]


class TestNdcgTable:
    def test_position_sensitivity_and_perfect_score(self, spark):
        """Same recall, different positions: a relevant hit at rank 1
        scores higher nDCG than at rank 3; a perfect ranking scores
        exactly 1.0 (hand-computed log2 discounts)."""
        import math

        from tika_xapian_spark.operators.similarity import ndcg_table

        truth = spark.createDataFrame(
            [(i, 100 - i) for i in range(1, 4)], "vec_id long, cos_micro long"
        )
        perfect = truth
        out = {r.k: r for r in ndcg_table(truth, perfect, ks=(3,)).collect()}
        assert out[3].n_rel == 3 and out[3].ndcg_micro == 1_000_000

        # relevant item only at rank 3 of the approx list
        late = spark.createDataFrame(
            [(90, 100), (91, 99), (1, 98)], "vec_id long, cos_micro long"
        )
        r3 = ndcg_table(truth, late, ks=(3,)).collect()[0]
        dcg = 1 / math.log2(4)
        idcg = sum(1 / math.log2(i + 1) for i in (1, 2, 3))
        assert r3.n_rel == 1
        assert r3.ndcg_micro == round(dcg / idcg * 1_000_000)
        # the same single hit at rank 1 scores strictly higher
        early = spark.createDataFrame(
            [(1, 100), (90, 99), (91, 98)], "vec_id long, cos_micro long"
        )
        r1 = ndcg_table(truth, early, ks=(3,)).collect()[0]
        assert r1.ndcg_micro > r3.ndcg_micro


class TestPqAssign:
    def test_codes_follow_sign_buckets_and_adc_is_table_lookup(self, spark):
        """v1 shares every subspace sign-bucket with seed v0, so it gets
        v0's codes everywhere and ADC 0 for query=v0 (quantization: the
        code, not the vector, determines the distance); v2 flips subspace
        0's signs only, becoming its own seed there (c0=2) while keeping
        v0's codes elsewhere."""
        from tika_xapian_spark.operators.similarity import pq_assign

        def vec(flip_first):
            a = [1.0] * 64
            if flip_first:
                for d in range(16):
                    a[d] = -1.0
            return a

        v0, v1 = vec(False), [x * 2 for x in vec(False)]
        v2 = vec(True)
        emb = spark.createDataFrame(
            [(0, v0), (1, v1), (2, v2)], "vec_id long, embedding array<float>"
        )
        got = {
            r.vec_id: (r.c0, r.c1, r.c2, r.c3, r.adc_micro)
            for r in pq_assign(emb, v0).collect()
        }
        assert got[0] == (0, 0, 0, 0, 0)
        assert got[1] == (0, 0, 0, 0, 0)  # same codes -> ADC 0 to query
        assert got[2][0] == 2 and got[2][1:4] == (0, 0, 0)
        # ADC for v2 = d2(q_sub0, cent(code c0=2)) = 16 * (1-(-1))^2 = 64
        assert got[2][4] == 64_000_000


class TestSemDedupKernelRound7:
    """The round-7 per-cluster NumPy kernel must compute EXACTLY what the
    old JVM pair expression computed: exact integer micro dots, cosine in
    the same IEEE op order, engine-side rounding. Verified against a
    direct JVM evaluation of the old expression on the same pairs — both
    for the float64-gemm fast path and the int64 fallback (values large
    enough that float64 accumulation would round)."""

    def _jvm_reference(self, spark, vecs, tau_micro):
        rows = [(i, v) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vid long, emb array<double>")
        iv = df.selectExpr(
            "vid",
            "transform(emb, x -> CAST(round(x * 1000000) AS BIGINT)) AS v",
        )
        a, b = iv.alias("a"), iv.alias("b")
        from pyspark.sql import functions as F

        pairs = a.join(b, F.expr("a.vid < b.vid")).selectExpr(
            "b.vid AS vid",
            "CAST(round(CAST(aggregate(zip_with(a.v, b.v, (x, y) -> x * y),"
            " 0L, (acc, e) -> acc + e) AS DOUBLE)"
            " / (sqrt(CAST(aggregate(zip_with(a.v, a.v, (x, y) -> x * y),"
            " 0L, (acc, e) -> acc + e) AS DOUBLE))"
            " * sqrt(CAST(aggregate(zip_with(b.v, b.v, (x, y) -> x * y),"
            " 0L, (acc, e) -> acc + e) AS DOUBLE)))"
            " * 1000000) AS BIGINT) AS cos_micro",
        )
        out = {}
        for r in pairs.collect():
            mx, nd = out.get(r["vid"], (-(10**18), 0))
            out[r["vid"]] = (
                max(mx, r["cos_micro"]),
                nd + (1 if r["cos_micro"] >= tau_micro else 0),
            )
        return out

    def _check(self, spark, vecs):
        from tika_xapian_spark.operators import similarity as SIM

        emb = spark.createDataFrame(
            [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>, label int",
        )
        # k=1: every vector in one cluster (seed id 0), all pairs compared
        got = {
            r["vec_id"]: (r["max_lower_cos_micro"], r["n_dups_lower"])
            for r in SIM.semdedup(emb, k=1).collect()
            if r["vec_id"] > 0
        }
        # reference uses the DOUBLE-cast micro vectors like the operator
        ref_vecs = [[float(x) for x in v] for v in vecs]
        ref = self._jvm_reference(spark, ref_vecs, SIM.SEMDEDUP_TAU_MICRO)
        assert got == ref, (got, ref)

    def test_fast_path_matches_old_jvm_expression(self, spark):
        vecs = [
            [0.25 * ((i * 7 + j * 3) % 11 - 5) for j in range(8)]
            for i in range(6)
        ]
        self._check(spark, vecs)

    def test_int64_fallback_matches_old_jvm_expression(self, spark):
        # |micros| ~ 3e8 -> dim * max^2 ~ 7e17 > 2^53: float64 gemm would
        # round, the kernel must take the exact int64 matmul branch
        vecs = [
            [(-1 if (i + j) % 3 == 0 else 1) * (240.0 + ((i * 5 + j) % 7) * 13.5)
             for j in range(8)]
            for i in range(6)
        ]
        self._check(spark, vecs)

    def test_int64_overflow_raises(self, spark):
        """At dim * max|v|^2 >= 2**63 an int64 dot product could wrap: the
        kernel raises, naming the bound. Spark's own integer norms and
        centroid distances of these two vectors stay below 2**63."""
        from tika_xapian_spark.operators import similarity as SIM

        emb = spark.createDataFrame(
            [(0, [3000.0, 0.0], 0), (1, [2999.0, 1.0], 0)],
            "vec_id long, embedding array<float>, label int",
        )
        with pytest.raises(Exception, match=r"2\*\*63"):
            SIM.semdedup(emb, k=1).collect()
