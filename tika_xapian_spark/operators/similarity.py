"""Approximate-nearest-neighbor search over an embedding column.

Two paths over ``embeddings(vec_id, embedding: array<float>, label)``:

  brute-force cosine top-k   exact baseline — JVM-side higher-order functions
                             (zip_with product + aggregate sum), no Python.
  sign-LSH bucketed top-k    scale path — bucket every vector by the sign
                             pattern of ``n_bits`` fixed dimensions (an
                             axis-aligned random-hyperplane LSH whose planes
                             are deterministic), probe only the query's
                             bucket. At 10^9+ vectors the bucket column is a
                             partition key: the probe prunes to 1/2^bits of
                             the data before any distance math.

All math is folded left over the array in double precision, so the DuckDB
oracle (same fold order) agrees to well past the 1e-6 rounding used for
comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LSH_DIMS = (0, 7, 19, 31, 43, 55)  # fixed probe dimensions (deterministic)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (vec_id, cos_micro) by descending similarity,
    ties by ascending id. Whole-stage-codegen column math ending in
    TakeOrderedAndProject — the distributed bounded heap."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    emb = _as_double(vec_col)
    cos = _dot(emb, q) / (_norm(emb) * _norm(q))
    return (
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.round(cos * 1_000_000).cast("long").alias("cos_micro"),
        )
        .orderBy(F.desc("cos_micro"), F.asc("vec_id"))
        .limit(k)
    )


def cosine_range(
    embeddings: DataFrame,
    query_vec: list[float],
    min_cos_micro: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine RANGE search: every (vec_id, cos_micro) with similarity
    at or above the threshold — the \"all neighbors within radius\" dual of
    top-k. Unlike top-k there is no bounded heap: the plan is a pure
    whole-stage-codegen scan+filter whose output size is data-dependent, so
    at 10^12 rows the caller bounds it by threshold choice (or composes
    ``.limit``). The threshold compares on the ROUNDED integer micro value,
    the same quantity both engines materialize — a raw-double cutoff could
    disagree across engines on a boundary row. Output is UNORDERED (a
    global orderBy here would range-sample and re-execute the whole scan;
    callers that need an order sort the bounded result)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    emb = _as_double(vec_col)
    cos = _dot(emb, q) / (_norm(emb) * _norm(q))
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.round(cos * 1_000_000).cast("long").alias("cos_micro"),
    ).filter(F.col("cos_micro") >= int(min_cos_micro))


def sign_bucket(vec_col: str | Column, dims: tuple[int, ...] = LSH_DIMS) -> Column:
    """Deterministic sign-LSH bucket id: bit i set iff vec[dims[i]] >= 0.
    (element_at is 1-based.)"""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0)
    for i, d in enumerate(dims):
        bit = F.when(F.element_at(c, d + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def lsh_cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: tuple[int, ...] = LSH_DIMS,
) -> DataFrame:
    """Bucketed ANN: restrict to the query's sign bucket, then exact cosine
    within it. Recall < 1 by construction; the bucket predicate is a plain
    column filter that pushes down to a bucket-partitioned table at scale."""
    qbucket = 0
    for i, d in enumerate(dims):
        if query_vec[d] >= 0:
            qbucket |= 1 << i
    in_bucket = embeddings.filter(sign_bucket(vec_col, dims) == F.lit(qbucket))
    return cosine_topk(in_bucket, query_vec, k, id_col, vec_col)


# ------------------------------------------------- multi-probe hyperplane LSH

N_PLANES = 8  # 2^8 buckets; at 10^9+ vectors raise to 16-20 bits
N_PROBE = 4  # extra buckets probed (hamming-1 flips of lowest-margin bits)
_PLANE_SEED = 42


def hyperplanes(n_planes: int = N_PLANES, dim: int = 64, seed: int = _PLANE_SEED):
    """Deterministic random hyperplanes (seeded, rounded to 6dp so the Spark
    plan, the Python query-side projection and the DuckDB oracle all use the
    exact same literals)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [[round(float(x), 6) for x in row] for row in rng.standard_normal((n_planes, dim))]


def hyperplane_bucket(vec_col: str | Column, planes: list[list[float]]) -> Column:
    """Sign-of-projection bucket over real random hyperplanes (Charikar'02
    SimHash for angles): bit i set iff <v, plane_i> >= 0. All JVM HOF math."""
    c = _as_double(vec_col)
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        proj = _dot(c, F.array(*[F.lit(x) for x in p]))
        bucket = bucket + F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def multiprobe_buckets(
    query_vec: list[float], planes: list[list[float]], n_probe: int = N_PROBE
) -> list[int]:
    """Query-side probe set (Lv et al. VLDB'07 multi-probe LSH): the query's
    own bucket plus perturbed neighbors, ordered by perturbation cost — the
    sum of projection margins |<q, plane_i>| of the flipped bits (the planes
    the true neighbors are most likely to straddle). Hamming-1 flips first;
    when ``n_probe`` exceeds the plane count, hamming-2 perturbation sets
    extend the probe sequence, so recall keeps climbing with scan without
    re-hashing. Driver-side arithmetic over |planes| floats; deterministic
    tie-break by plane index."""
    k = len(planes)
    projs = [sum(float(q) * p[j] for j, q in enumerate(query_vec)) for p in planes]
    base = sum(1 << i for i, pr in enumerate(projs) if pr >= 0)
    perturbs: list[tuple[float, tuple[int, ...]]] = [
        (abs(projs[i]), (i,)) for i in range(k)
    ]
    if n_probe > k:
        perturbs += [
            (abs(projs[i]) + abs(projs[j]), (i, j))
            for i in range(k)
            for j in range(i + 1, k)
        ]
    perturbs.sort(key=lambda e: (e[0], e[1]))
    out = [base]
    for _, bits in perturbs[:n_probe]:
        mask = 0
        for b in bits:
            mask |= 1 << b
        out.append(base ^ mask)
    return out


def multiprobe_cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """ANN top-k over real random-hyperplane LSH with multi-probe: filter to
    the probe buckets (an IN-list predicate that pushes down to a
    bucket-partitioned table — scanning (1 + n_probe)/2^n_planes of the
    data), exact cosine within. Raising n_probe trades scan for recall
    without re-hashing — the standard operating knob at fixed bucket count.
    """
    planes = hyperplanes(n_planes, len(query_vec))
    probes = multiprobe_buckets(query_vec, planes, n_probe)
    cand = embeddings.filter(
        hyperplane_bucket(vec_col, planes).isin(probes)
    )
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


# --------------------------------------------------------------- IVF-flat ANN

IVF_N_LIST = 16  # coarse-quantizer cells; at 10^9+ vectors use ~sqrt(n)
IVF_N_PROBE = 4
IVF_SEED_DIMS = (0, 1, 2, 3, 4, 5, 6, 7)  # sign-bucket dims for seeding


def ivf_seed_dims(n_list: int = IVF_N_LIST) -> tuple[int, ...]:
    """First ceil(log2(n_list)) seed dimensions — 2^bits >= n_list sign
    buckets. Dims must be < the embedding dimension (all data here is >= 8d;
    raise the tuple for wider quantizers)."""
    import math

    bits = max(1, math.ceil(math.log2(max(n_list, 2))))
    return IVF_SEED_DIMS[:bits]


def ivf_seed_centroids(
    embeddings: DataFrame,
    n_list: int = IVF_N_LIST,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """DATA-DERIVED deterministic coarse quantizer: partition the corpus by a
    log2(n_list)-bit sign-LSH bucket and take each bucket's min-id row as a
    centroid. Centroids are actual data rows chosen by an order-free
    aggregation (GROUP BY bucket, min(id)), so the SQL oracle reconstructs
    the identical quantizer, any id space works (no fixture coupling), and
    the build is one pass + one bounded (<= n_list rows) collect. Empty
    sign-buckets simply yield fewer cells — the probe math is unaffected.
    Sample-seeding is the standard IVF bootstrap (k-means init); skipping
    Lloyd iterations costs balance, not correctness."""
    dims = ivf_seed_dims(n_list)
    seeds = embeddings.groupBy(
        sign_bucket(vec_col, dims).alias("_sb")
    ).agg(F.min(F.col(id_col)).alias("_cid"))
    rows = (
        embeddings.join(
            F.broadcast(seeds.select("_cid")),
            F.col(id_col) == F.col("_cid"),
            "left_semi",
        )
        .select(id_col, vec_col)
        .collect()  # bounded: <= n_list rows
    )
    return sorted((r[id_col], [float(x) for x in r[vec_col]]) for r in rows)


def _assign_cell(vec_col: str | Column, centroids: list) -> Column:
    """argmin over centroids of L2^2 distance, as one JVM expression:
    array_min over (dist, centroid_id) structs — lexicographic min is the
    argmin, ties to the lower id."""
    c = _as_double(vec_col)
    entries = []
    for cid, cv in centroids:
        cvcol = F.array(*[F.lit(x) for x in cv])
        d2 = F.aggregate(
            F.zip_with(c, cvcol, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        entries.append(F.struct(d2.alias("d"), F.lit(cid).alias("cid")))
    return F.array_min(F.array(*entries))["cid"]


def ivf_cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_list: int = IVF_N_LIST,
    n_probe: int = IVF_N_PROBE,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-flat ANN: assign every vector to its nearest coarse-quantizer
    cell (data-derived — ivf_seed_centroids), probe the n_probe cells
    nearest the query, exact cosine within. At scale the cell id is a
    partition/bucket column written at ingest so the probe prunes to
    n_probe/n_list of the data (operators/ann_index.py); here the
    assignment is computed in-plan (pure JVM HOF math, no Python).

    ``centroids``: precomputed (cid, vector) list (e.g. from a written
    AnnIndex's metadata) — skips the seeding scan."""
    cents = centroids if centroids is not None else ivf_seed_centroids(
        embeddings, n_list, id_col, vec_col
    )
    if not cents:  # empty corpus: exact scan — and say so, don't hide it
        import warnings

        warnings.warn(
            "ivf_cosine_topk: no centroids derivable (empty corpus); "
            "falling back to exact full scan",
            stacklevel=2,
        )
        return cosine_topk(embeddings, query_vec, k, id_col, vec_col)

    # driver-side probe selection over n_list centroids (same arithmetic the
    # oracle does in SQL); ties break by centroid id
    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    probe = [cid for cid, _ in sorted(cents, key=lambda e: (d2(query_vec, e[1]), e[0]))[:n_probe]]
    cand = embeddings.filter(_assign_cell(vec_col, cents).isin(probe))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


# Banded sign-LSH layout for pairwise near-dup candidates over 64-dim
# embeddings: 4 disjoint bands of 8 deterministic probe dimensions each
# (band b reads dims 16b, 16b+2, ..., 16b+14). A pair is a candidate iff it
# agrees on EVERY sign bit of at least one band — the simhash_near_pairs
# banding scheme (operators/dedup.py) applied to embeddings.
EMB_PAIR_BANDS: tuple[tuple[int, ...], ...] = tuple(
    tuple(16 * b + 2 * j for j in range(8)) for b in range(4)
)


def pairwise_cosine_dedup(
    embeddings: DataFrame,
    threshold_micro: int = 990_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: tuple[tuple[int, ...], ...] = EMB_PAIR_BANDS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via BANDED sign-LSH: candidates
    are the union over bands of equi-joins on (band, band_bucket), verified
    by exact cosine >= threshold. Returns (id_a, id_b, cos_micro).

    Scale shape (r4 verdict #3): a single w-bit bucket self-join blocks at
    O(n^2 / 2^w) pairs — with the old 6-bit bucket, a 10^9-vector corpus
    yields ~10^16 candidate pairs. Banding decouples block size from recall:
    each of the 4 bands uses 8 bits, so per-band blocks are n^2/256 (4x
    fewer candidates than the 6-bit scheme in total) while recall RISES —
    a pair is missed only if every band has at least one sign flip. For
    cosine >= 0.99 the per-dim flip probability is acos(cos)/pi ~= 0.045,
    so P(one band clean) ~= 0.955^8 ~= 0.69 and P(missed all 4) ~= 0.31^4
    ~= 0.9% — ~99% recall at the dedup threshold, and block size keeps
    shrinking geometrically if more/wider bands are configured for larger
    corpora. Duplicate candidates (pairs agreeing on several bands) are
    folded by a scalar groupBy(id_a, id_b) AFTER the cosine is computed, so
    the dedup shuffle carries (id, id, long) triples, never vectors."""
    with_bands = embeddings.select(
        F.col(id_col).alias("id"),
        _as_double(vec_col).alias("v"),
        *[
            sign_bucket(vec_col, dims).alias(f"bb{i}")
            for i, dims in enumerate(bands)
        ],
    )
    banded = with_bands.select(
        "id",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"), F.col(f"bb{i}").alias("bval")
                    )
                    for i in range(len(bands))
                ]
            )
        ).alias("bb"),
    ).select("id", "v", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    a = banded.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), "band", "bval"
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), "band", "bval"
    )
    pairs = a.join(b, ["band", "bval"]).filter(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        pairs.select(
            "id_a", "id_b", F.round(cos * 1_000_000).cast("long").alias("cos_micro")
        )
        # threshold BEFORE the dedup shuffle: cosine is identical across a
        # pair's multi-band duplicate rows, so filtering first is
        # result-identical and keeps the (vast) sub-threshold majority of
        # candidates out of the Exchange entirely
        .filter(F.col("cos_micro") >= threshold_micro)
        # fold multi-band duplicates; scalar-only shuffle
        .groupBy("id_a", "id_b")
        .agg(F.max("cos_micro").alias("cos_micro"))
        .orderBy("id_a", "id_b")
    )


def label_centroid_similarity(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """(label_a, label_b, cos_micro): pairwise cosine similarity between
    per-label embedding CENTROIDS — the cluster-coherence profile a
    curation run consults before mixing sources ("are these two topic
    labels actually distinct in embedding space?").

    Exact-integer until the final division, so both engines compute
    bit-identical values: each centroid dimension is the rounded-micro
    mean of rounded-micro components (bigint sums — float avg is
    summation-order-dependent and would flake the oracle), and the
    dot/norm accumulations are explicit left-to-right chains of bigint
    products (≤ 64·10^12, exactly representable) cast to double only for
    the sqrt/divide.

    Scale shape: ONE shuffle (groupBy(label), map-side combined, 64
    sum-expressions built as expr strings — the wide-agg py4j lesson),
    then an O(k²) broadcast self-join over the k-row centroid table —
    trivial for any real label cardinality."""
    dims = range(1, dim + 1)
    aggs = [
        F.expr(
            f"CAST(round(sum(CAST(round(CAST(element_at({vec_col}, {i}) AS DOUBLE)"
            f" * 1000000) AS BIGINT)) / count(1)) AS BIGINT)"
        ).alias(f"c{i}")
        for i in dims
    ]
    cent = embeddings.groupBy(label_col).agg(*aggs).localCheckpoint()
    dot = " + ".join(f"(a.c{i} * b.c{i})" for i in dims)
    na2 = " + ".join(f"(a.c{i} * a.c{i})" for i in dims)
    nb2 = " + ".join(f"(b.c{i} * b.c{i})" for i in dims)
    a, b = cent.alias("a"), cent.alias("b")
    return (
        a.join(
            F.broadcast(b),
            F.col(f"a.{label_col}") < F.col(f"b.{label_col}"),
        )
        .select(
            F.col(f"a.{label_col}").alias("label_a"),
            F.col(f"b.{label_col}").alias("label_b"),
            F.expr(
                f"CAST(round(CAST({dot} AS DOUBLE) / "
                f"(sqrt(CAST({na2} AS DOUBLE)) * sqrt(CAST({nb2} AS DOUBLE)))"
                f" * 1000000) AS BIGINT)"
            ).alias("cos_micro"),
        )
        .orderBy("label_a", "label_b")
    )


def power_iteration_component(
    emb: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    rescale_div: int = 1_000_000,
) -> DataFrame:
    """Dominant principal direction of the embedding matrix by two exact
    integer power-iteration steps: z = (AᵀA)·rescale(AᵀA·1) — the
    distributed linear-algebra kernel under PCA whitening / spectral
    near-dup detection, expressed so the result is EXACTLY reproducible
    (no float summation-order dependence across partitions, the
    embedding_label_similarity rule).

    Math shape: A is the n×dim embedding matrix in milli-units
    (round(x·1000) — float32→double is exact, so the rounding agrees
    engine-to-engine). Each A·v is a per-row fold (map-side, zero
    shuffle); each Aᵀu is ONE wide aggregate of dim sums (one Exchange,
    partial aggregation map-side). The intermediate 1×dim vector rides
    back on a broadcast crossJoin. Total: two global aggregates, two
    map passes — no join keyed on anything, no per-element explode.

    ``rescale_div`` is the integer stand-in for power iteration's
    normalization: z1 floor-divides (exact in double, |z1| < 2^53) so the
    second step stays inside int64. The bound: |z2| <= n·m·dim·m·(n·m·dim·m
    / rescale_div) with m = max milli magnitude (~600 here) — at the bench
    scales that is < 2^51; a 10^9-row corpus raises rescale_div to taste
    (the direction, which is the answer, is scale-invariant).
    """
    a = emb.select(
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * 1000).cast("long"),
        ).alias("e")
    )
    u1 = a.select(
        "e",
        F.aggregate(
            F.col("e"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("u"),
    )
    z1 = u1.agg(
        *[F.expr(f"sum(e[{i}] * u)").alias(f"z{i}") for i in range(dim)]
    )
    z1s = z1.select(
        F.array(
            *[
                F.expr(f"CAST(floor(z{i} / {rescale_div}.0) AS BIGINT)")
                for i in range(dim)
            ]
        ).alias("zs")
    )
    u2 = a.crossJoin(F.broadcast(z1s)).select(
        "e",
        F.aggregate(
            F.zip_with(F.col("e"), F.col("zs"), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("u"),
    )
    z2 = u2.agg(
        *[F.expr(f"sum(e[{i}] * u)").alias(f"z{i}") for i in range(dim)]
    )
    stack = ", ".join(f"{i}, z{i}" for i in range(dim))
    return z2.select(
        F.expr(f"stack({dim}, {stack}) AS (dim, component)")
    ).select(F.col("dim").cast("int").alias("dim"), "component")


def kmeans_step(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_list: int = IVF_N_LIST,
    dim: int = 64,
) -> DataFrame:
    """One exact Lloyd iteration over the IVF seed quantizer: assign every
    vector to its nearest seed centroid, then recompute centroids — the
    step that turns the sign-bucket bootstrap into a balanced coarse
    quantizer (and, iterated, the clustering under semantic dedup /
    cluster-balanced sampling).

    Returns the long-form updated codebook: one row per (cluster, dim) —
    (cluster, n_members, dim, sum_milli, centroid_milli). Sums are exact
    integers in milli-units (the embedding_label_similarity rule: never
    average floats in an oracle-gated op — summation order would differ
    across partitions); the mean divides the exact sum once, in double,
    identically in both engines.

    Scale shape: the seed quantizer is data-derived and bounded
    (ivf_seed_centroids — one aggregation + a <= n_list-row collect);
    assignment is a map-side argmin over the broadcast codebook; the
    centroid update is ONE wide aggregate keyed on cluster (dim sums +
    count, map-side partial combine does the reduction — n_list keys reach
    the reducers, not n*dim exploded rows), unpivoted with stack()."""
    cents = ivf_seed_centroids(emb, n_list, id_col, vec_col)
    assigned = emb.select(
        _assign_cell(vec_col, cents).alias("cluster"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * 1000).cast("long"),
        ).alias("e"),
    )
    wide = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        *[F.expr(f"sum(e[{i}])").alias(f"s{i}") for i in range(dim)],
    )
    stack = ", ".join(f"{i}, s{i}" for i in range(dim))
    return wide.select(
        "cluster",
        "n_members",
        F.expr(f"stack({dim}, {stack}) AS (dim, sum_milli)"),
    ).select(
        "cluster",
        "n_members",
        F.col("dim").cast("int").alias("dim"),
        "sum_milli",
        F.round(F.col("sum_milli").cast("double") / F.col("n_members"))
        .cast("long")
        .alias("centroid_milli"),
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization profile — the memory
    compression step before a billion-vector ANN index ships (4x smaller
    than float32, distance math in integers): code_i = round(x_i/maxabs*127),
    reconstruction x̂_i = code_i*maxabs/127.

    Returns (vec_id, scale_micro, n_saturated, l2_err_micro) — the scale,
    the saturation count (|code| = 127), and the L2 reconstruction error;
    the profile a quantization rollout monitors per shard.

    Pure map, zero shuffle. Per-row double folds run left-to-right in
    array order in both engines, so the micros agree exactly. The maxabs
    scalar is zipped alongside the elements (array_repeat) rather than
    referenced inside a lambda body — the HOF re-inlining rule: a pruned
    projection re-inlines a referenced expression into the lambda and
    re-evaluates array_max once PER ELEMENT."""
    staged = emb.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("e"),
    ).select(
        id_col,
        "e",
        F.array_max(F.transform(F.col("e"), F.abs)).alias("ma"),
    )
    zipped = staged.select(
        id_col,
        "ma",
        F.zip_with(
            F.col("e"),
            F.array_repeat(F.col("ma"), F.size(F.col("e"))),
            lambda x, m: F.struct(x.alias("x"), m.alias("m")),
        ).alias("z"),
    )
    code = "IF(s.m = 0.0D, 0L, CAST(round(s.x / s.m * 127) AS BIGINT))"
    err = f"power(s.x - {code} * s.m / 127, 2)"
    return zipped.selectExpr(
        id_col,
        "CAST(round(ma / 127 * 1000000) AS BIGINT) AS scale_micro",
        f"CAST(size(filter(z, s -> abs({code}) = 127)) AS BIGINT) AS n_saturated",
        f"CAST(round(sqrt(aggregate(z, 0.0D, (acc, s) -> acc + {err})) * 1000000) AS BIGINT) AS l2_err_micro",
    )


# ------------------------------------------------------------------ SemDeDup

SEMDEDUP_K = 8
SEMDEDUP_TAU_MICRO = 250_000


def semdedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = SEMDEDUP_K,
    tau_micro: int = SEMDEDUP_TAU_MICRO,
) -> DataFrame:
    """(vec_id, cluster, max_lower_cos_micro, n_dups_lower, keep): semantic
    deduplication (SemDeDup, Abbas et al. 2023): cluster the embedding
    space, compare pairs ONLY within a cluster, and drop every vector that
    has a lower-id cluster-mate above the cosine threshold. The pairwise
    stage is quadratic only within clusters — the clustering is what makes
    semantic dedup feasible at corpus scale (the paper sizes k so clusters
    stay small; here k is a parameter and the k seed centroids are the
    vectors with id < k).

    Exact-integer discipline (the embedding_label_similarity rule): vectors
    round to micro bigints; the centroid assignment is an argmin over EXACT
    integer squared distances (ties break on centroid id), so the cluster
    decision can never flake across engines; cosine goes double only at
    the final sqrt/divide of exact integer dot/norms.

    Scale shape: assignment is ZERO-shuffle — the k centroid rows broadcast
    (k 1-row crossJoins) and the argmin folds map-side per row
    (array_min over (d2, cid) structs). The pair join shuffles on the
    cluster id; its per-reducer work is bounded by the cluster size, which
    is the k-vs-cluster-size tradeoff the operator exposes."""
    iv = emb.select(
        F.col(id_col).alias("vid"),
        F.expr(
            f"transform({vec_col}, x -> "
            f"CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("v"),
    )
    # loud seed guard: a missing id in [0,k) would make its 1-row centroid
    # crossJoin a 0-row frame and ANNIHILATE the whole corpus silently (a
    # duplicated id would row-multiply it). The check is one bounded
    # pushed-filter scan collecting <= k ids.
    seed_ids = sorted(
        r[0] for r in iv.filter(F.col("vid") < k).select("vid").collect()
    )
    if seed_ids != list(range(k)):
        raise ValueError(
            f"semdedup needs exactly one vector for every seed id in "
            f"[0,{k}); found {seed_ids}"
        )
    assigned = iv
    for j in range(k):
        cj = F.broadcast(
            iv.filter(F.col("vid") == j).select(F.col("v").alias(f"cv{j}"))
        )
        assigned = assigned.crossJoin(cj)
    d2s = ", ".join(
        f"named_struct('d2', aggregate(zip_with(v, cv{j}, "
        f"(x, y) -> (x - y) * (x - y)), 0L, (acc, e) -> acc + e), "
        f"'cid', CAST({j} AS BIGINT))"
        for j in range(k)
    )
    assigned = (
        assigned.selectExpr("vid", "v", f"array_min(array({d2s})) AS best")
        .selectExpr(
            "vid",
            "v",
            "best.cid AS cluster",
            "aggregate(zip_with(v, v, (x, y) -> x * y), 0L,"
            " (acc, e) -> acc + e) AS n2",
        )
        .localCheckpoint(eager=False)  # consumers: both pair sides + output
    )
    # Round-7: the in-cluster pairwise stage is a dense integer gram matrix
    # — exactly the shape the guide's §4.2 rule ("hand whole batches to
    # vectorized native code") is for. The previous self-join on `cluster`
    # had two scale problems measured at sf1.0 (20k vecs, k=8): (1) the
    # join key has k distinct values, so the shuffle join ran on 8 reducers
    # regardless of core count; (2) every one of the ~25M candidate pairs
    # evaluated a 64-element zip_with/aggregate lambda in the interpreted
    # HOF path (~1.6G interpreted ops) — 57s wall at sf1.0. Per-cluster
    # NumPy computes the same numbers in milliseconds via one gemm.
    #
    # Exactness is preserved, not approximated:
    #   * dot products: micro ints |x| <= ~1e7, dim-bounded partial sums
    #     stay far below 2^53, so float64 gemm accumulates EXACT integers
    #     (each partial sum exactly representable; addition of exact ints
    #     below 2^53 is exact in any order). Past 2^53 the kernel takes
    #     the int64 matmul; at dim * max|v|^2 >= 2^63, where int64 could
    #     wrap, it raises, naming the bound.
    #   * cosine doubles: computed in the SAME IEEE op order as the old
    #     JVM expression — CAST(dot AS DOUBLE) / (sqrt(na2) * sqrt(nb2))
    #     * 1e6 — so every c is bit-identical to what the engine computed.
    #   * rounding stays in the ENGINE: the kernel returns the unrounded
    #     max (round is monotone, so max commutes with it) and counts
    #     duplicates via c >= tau - 0.5, which equals round_half_up(c) >=
    #     tau exactly (tau - 0.5 is representable); Spark applies its own
    #     round() below, as before.
    # The kernel sees only (cluster, vid, v, n2) — §4.1 column pruning —
    # and emits one row per vector that HAS a lower-id cluster-mate
    # (mirroring the old pairs-groupBy, whose groups were exactly those).
    # Parallelism is one task per cluster — the k-vs-cluster-size knob the
    # operator already exposes — with column-blocked processing inside the
    # kernel so memory stays bounded for jumbo clusters.
    thr = float(tau_micro) - 0.5

    def _cluster_pair_stats(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vid").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vid": [], "mx_raw": [], "nd": []}).astype(
                {"vid": "int64", "mx_raw": "float64", "nd": "int64"}
            )
        V = np.stack(pdf["v"].to_numpy()).astype(np.int64)
        n2 = pdf["n2"].to_numpy(dtype=np.int64)
        # |partial sums| <= dim * max|v|^2: exact in float64 below 2^53
        bound = V.shape[1] * float(np.abs(V).max()) ** 2
        if bound >= 2.0**63:
            raise ValueError(
                f"semdedup: dim * max|v|^2 = {bound:.4g} >= 2**63, int64 dots could wrap")
        exact_f8 = bound < 2.0**53
        Vf = V.astype(np.float64)
        sq = np.sqrt(n2.astype(np.float64))
        mx = np.empty(n, dtype=np.float64)
        nd = np.zeros(n, dtype=np.int64)
        bs = 2048
        for j0 in range(1, n, bs):
            j1 = min(j0 + bs, n)
            if exact_f8:
                dot = Vf @ Vf[j0:j1].T  # exact integer values in float64
            else:
                dot = (V @ V[j0:j1].T).astype(np.float64)
            # same op order as the old JVM expr: dot / (sa * sb) * 1e6
            c = dot / (sq[:, None] * sq[j0:j1][None, :]) * 1e6
            jj = np.arange(j0, j1)
            lower = np.arange(n)[:, None] < jj[None, :]  # a.vid < b.vid
            c_masked = np.where(lower, c, -np.inf)
            mx[j0:j1] = c_masked.max(axis=0)
            nd[j0:j1] = (c_masked >= thr).sum(axis=0)
        return pd.DataFrame(
            {"vid": pdf["vid"].to_numpy()[1:], "mx_raw": mx[1:], "nd": nd[1:]}
        )

    dup = (
        assigned.select("cluster", "vid", "v", "n2")
        .groupBy("cluster")
        .applyInPandas(_cluster_pair_stats, "vid long, mx_raw double, nd long")
        .select(
            "vid",
            F.expr("CAST(round(mx_raw) AS BIGINT) AS mx"),  # engine rounding
            "nd",
        )
    )
    return (
        assigned.join(dup, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            F.col("cluster"),
            F.coalesce(F.col("mx"), F.lit(-1)).cast("long").alias(
                "max_lower_cos_micro"
            ),
            F.coalesce(F.col("nd"), F.lit(0)).cast("long").alias("n_dups_lower"),
            (F.coalesce(F.col("nd"), F.lit(0)) == 0).cast("int").alias("keep"),
        )
        .orderBy(id_col)
    )


def hard_negatives(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    bands: tuple[tuple[int, ...], ...] = EMB_PAIR_BANDS,
) -> DataFrame:
    """(vec_id, label, neg_id, neg_label, cos_micro): contrastive
    hard-negative mining — for every anchor, the most similar vector with
    a DIFFERENT label among its banded sign-LSH candidates (ties: lowest
    neg_id). The mining stage behind contrastive/embedding training: in-
    batch random negatives are easy; the hard ones live in the anchor's
    own LSH neighborhood, which is exactly the candidate set this reuses.

    Scale shape: identical to pairwise_cosine_dedup — the candidate
    generator is the union over bands of equi-joins on (band, bucket), so
    per-band blocks are n²/2^w, never a corpus cartesian; the per-anchor
    argmax is one scalar groupBy (cosine computed once per unordered pair,
    then both directions emitted). Anchors whose buckets contain no
    different-label vector are omitted — at training time those anchors
    simply take random negatives."""
    with_bands = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("lbl"),
        _as_double(vec_col).alias("v"),
        *[
            sign_bucket(vec_col, dims).alias(f"bb{i}")
            for i, dims in enumerate(bands)
        ],
    )
    banded = with_bands.select(
        "id",
        "lbl",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"), F.col(f"bb{i}").alias("bval")
                    )
                    for i in range(len(bands))
                ]
            )
        ).alias("bb"),
    ).select(
        "id", "lbl", "v",
        F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"),
    )
    a = banded.select(
        F.col("id").alias("id_a"), F.col("lbl").alias("lbl_a"),
        F.col("v").alias("va"), "band", "bval",
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("lbl").alias("lbl_b"),
        F.col("v").alias("vb"), "band", "bval",
    )
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    pairs = (
        a.join(b, ["band", "bval"])
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("lbl_a") != F.col("lbl_b")))
        .select(
            "id_a", "lbl_a", "id_b", "lbl_b",
            F.round(cos * 1_000_000).cast("long").alias("cos_micro"),
        )
    )
    both = pairs.selectExpr(
        "id_a AS vid", "lbl_a AS label", "id_b AS neg_id",
        "lbl_b AS neg_label", "cos_micro",
    ).unionByName(
        pairs.selectExpr(
            "id_b AS vid", "lbl_b AS label", "id_a AS neg_id",
            "lbl_a AS neg_label", "cos_micro",
        )
    )
    best = both.groupBy("vid").agg(
        F.max(
            F.struct(
                F.col("cos_micro").alias("c"),
                (-F.col("neg_id")).alias("nneg"),
                F.col("label").alias("l"),
                F.col("neg_label").alias("nl"),
            )
        ).alias("w")
    )
    return best.select(
        F.col("vid").alias(id_col),
        F.col("w.l").alias(label_col),
        (-F.col("w.nneg")).alias("neg_id"),
        F.col("w.nl").alias("neg_label"),
        F.col("w.c").alias("cos_micro"),
    ).orderBy(id_col)


def recall_table(
    truth: DataFrame,
    approx: DataFrame,
    id_col: str = "vec_id",
    score_col: str = "cos_micro",
    ks: tuple[int, ...] = (5, 10, 25),
) -> DataFrame:
    """(k, n_truth, n_approx, n_hits, recall_micro): recall@k of an
    approximate top-k result against the exact (brute-force) truth —
    the ANN quality-evaluation table every index deployment reports
    alongside its probe fraction.

    Both inputs are ranked result frames (<= max(ks) rows each), ranked
    here by (score desc, id asc) so ties break identically in both engines;
    recall@k = |approx_top_k ∩ truth_top_k| with the exact integer
    micro-division. Everything after the two (already bounded) inputs is
    literal-relation algebra on <= max(ks)^2 rows — no corpus-sized work.
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.desc(score_col), F.asc(id_col))
    t = truth.select(F.col(id_col), F.row_number().over(w).alias("tr"))
    a = approx.select(F.col(id_col), F.row_number().over(w).alias("ar"))
    j = t.join(a, id_col, "full_outer")
    ks_df = (
        j.sparkSession.range(1)
        .select(F.explode(F.array(*[F.lit(int(k)) for k in ks])).alias("k"))
    )
    tr_in = F.col("tr").isNotNull() & (F.col("tr") <= F.col("k"))
    ar_in = F.col("ar").isNotNull() & (F.col("ar") <= F.col("k"))
    return (
        j.crossJoin(F.broadcast(ks_df))
        .groupBy("k")
        .agg(
            F.sum(tr_in.cast("long")).alias("n_truth"),
            F.sum(ar_in.cast("long")).alias("n_approx"),
            F.sum((tr_in & ar_in).cast("long")).alias("n_hits"),
        )
        .select(
            "k",
            "n_truth",
            "n_approx",
            "n_hits",
            F.expr("CAST(n_hits * 1000000 div k AS BIGINT)").alias(
                "recall_micro"
            ),
        )
        .orderBy("k")
    )


def bitext_margin(
    embeddings: DataFrame,
    lang_of: DataFrame,
    src_lang: str,
    tgt_lang: str,
    knn: int = 4,
    min_margin_micro: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: tuple[tuple[int, ...], ...] = EMB_PAIR_BANDS,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019): for every
    source-language vector, the best target-language candidate scored by
    the RATIO margin — cosine divided by the mean of the pair's two k-NN
    neighborhoods — which suppresses hub vectors that are "near everything"
    and is the standard mining criterion behind CCMatrix-style parallel
    corpora.

    Scale shape: candidates come from the same banded sign-LSH equi-joins
    as ``hard_negatives`` (per-band blocks, never a cross-lingual
    cartesian); the k-NN statistics are per-key window ranks over each
    vector's own candidate list; everything downstream is scalar column
    algebra. The margin is computed ENTIRELY in int64 from the micro
    cosines — margin = (2*cos*10^6*kA*kB) div (sumA*kB + sumB*kA) — so
    both engines order identically (no float summation anywhere).
    Candidates are restricted to positive cosine (cos_micro > 0): mining
    only ever keeps high-similarity pairs, and positivity keeps the
    integer division's denominator positive (floor == truncate).

    ``lang_of`` is ``(id_col, lang)``. Returns one row per source vector
    that has a candidate with margin >= ``min_margin_micro``:
    ``(vec_id, match_id, cos_micro, margin_micro)``, ordered by vec_id."""
    from pyspark.sql import Window

    e = embeddings.join(lang_of, id_col).select(
        F.col(id_col).alias("id"),
        F.col("lang"),
        _as_double(vec_col).alias("v"),
        *[sign_bucket(vec_col, dims).alias(f"bb{i}") for i, dims in enumerate(bands)],
    )
    banded = e.select(
        "id",
        "lang",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), F.col(f"bb{i}").alias("bval"))
                    for i in range(len(bands))
                ]
            )
        ).alias("bb"),
    ).select("id", "lang", "v", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    s = banded.filter(F.col("lang") == src_lang).select(
        F.col("id").alias("sid"), F.col("v").alias("sv"), "band", "bval"
    )
    t = banded.filter(F.col("lang") == tgt_lang).select(
        F.col("id").alias("tid"), F.col("v").alias("tv"), "band", "bval"
    )
    cos = _dot(F.col("sv"), F.col("tv")) / (_norm(F.col("sv")) * _norm(F.col("tv")))
    cand = (
        s.join(t, ["band", "bval"])
        .select(
            "sid", "tid", F.round(cos * 1_000_000).cast("long").alias("cos_micro")
        )
        # multi-band duplicates carry identical cosines: a scalar-only
        # groupBy folds them (the embedding_top_pairs dedup shape)
        .groupBy("sid", "tid")
        .agg(F.max("cos_micro").alias("cos_micro"))
        .filter(F.col("cos_micro") > 0)
        .localCheckpoint(eager=False)  # consumers: both k-NN stats + the join
    )
    ws = Window.partitionBy("sid").orderBy(F.desc("cos_micro"), F.asc("tid"))
    s_stats = (
        cand.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= knn)
        .groupBy("sid")
        .agg(F.sum("cos_micro").alias("s_sum"), F.count(F.lit(1)).alias("s_k"))
    )
    wt = Window.partitionBy("tid").orderBy(F.desc("cos_micro"), F.asc("sid"))
    t_stats = (
        cand.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= knn)
        .groupBy("tid")
        .agg(F.sum("cos_micro").alias("t_sum"), F.count(F.lit(1)).alias("t_k"))
    )
    scored = (
        cand.join(s_stats, "sid")
        .join(t_stats, "tid")
        .withColumn(
            "margin_micro",
            F.expr(
                "(2 * cos_micro * 1000000 * s_k * t_k)"
                " div (s_sum * t_k + t_sum * s_k)"
            ),
        )
    )
    best = scored.groupBy("sid").agg(
        F.min(
            F.struct(
                (-F.col("margin_micro")).alias("nm"),
                F.col("tid").alias("tid"),
                F.col("cos_micro").alias("c"),
            )
        ).alias("w")
    )
    return (
        best.select(
            F.col("sid").alias(id_col),
            F.col("w.tid").alias("match_id"),
            F.col("w.c").alias("cos_micro"),
            (-F.col("w.nm")).cast("long").alias("margin_micro"),
        )
        .filter(F.col("margin_micro") >= int(min_margin_micro))
        .orderBy(id_col)
    )


def _d2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def kcenter_seeds(
    embeddings: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center seed selection (Gonzalez's 2-approximation): start
    from the lowest id, then ``k-1`` times pick the point FARTHEST (max
    min-squared-distance, ties lowest id) from everything chosen so far —
    the canonical diverse-subset selector for labeling budgets, eval-set
    seeding, and SemDeDup-style cluster initialization, where random
    sampling oversamples dense regions by construction.

    The algorithm is inherently sequential in k, so the driver does ONE
    bounded round-trip per step (a TakeOrderedAndProject of a single row —
    the WAND-tau discipline: bounded scalars may cross the driver, corpus
    data never does); each step is one full map-side distance scan with no
    shuffle at all. k is a small constant. min over doubles is exact, so
    composing the per-step least() in either association order is
    bit-identical — the unrolled SQL oracle folds pairwise, this builds
    least(d2 to every chosen center) per step, same values.

    Returns (step, vec_id, d2_micro): d2_micro is the squared distance
    from the step's pick to the previously-chosen set (0 for step 0),
    i.e. the k-center radius sequence."""
    emb = embeddings.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    ).localCheckpoint(eager=False)  # consumed once per step
    first_rows = emb.orderBy("id").limit(1).collect()
    if not first_rows:
        raise ValueError("kcenter_seeds: embeddings frame is empty")
    first = first_rows[0]
    chosen = [(int(first["id"]), [float(x) for x in first["v"]])]
    picks = [(0, chosen[0][0], 0)]
    for step in range(1, k):
        dists = [
            _d2(F.col("v"), F.array(*[F.lit(x) for x in vec]))
            for _, vec in chosen
        ]
        md = dists[0] if len(dists) == 1 else F.least(*dists)
        # micro-rounding happens IN-ENGINE (Spark round = HALF_UP, matching
        # the SQL oracle; Python's round is banker's). Staged projection:
        # CollapseProject won't inline the 64-dim fold twice. The chosen
        # vector rides the SAME single-row round-trip ("v" in the
        # projection) — re-fetching it with a filter would add a second
        # full scan per step.
        row = (
            emb.select("id", "v", md.alias("md"))
            .select(
                "id",
                "v",
                "md",
                F.round(F.col("md") * 1_000_000).cast("long").alias("md_micro"),
            )
            .orderBy(F.desc("md"), F.asc("id"))
            .limit(1)
            .collect()[0]
        )
        if any(int(row["id"]) == c for c, _ in chosen):
            # every remaining point sits at distance 0 from the chosen set
            # (the 0-tie broke back to an already-chosen id): k exceeds the
            # number of distinct points — a silent duplicate "diverse seed"
            # is worse than a loud stop (the semdedup seed-guard rule)
            raise ValueError(
                f"kcenter_seeds: k={k} exceeds the number of distinct"
                " points in the embeddings frame"
            )
        chosen.append((int(row["id"]), [float(x) for x in row["v"]]))
        picks.append((step, int(row["id"]), int(row["md_micro"])))
    spark = embeddings.sparkSession
    entries = F.array(
        *[
            F.struct(
                F.lit(s).cast("int").alias("step"),
                F.lit(i).cast("long").alias("vec_id"),
                F.lit(d).cast("long").alias("d2_micro"),
            )
            for s, i, d in picks
        ]
    )
    # literal relation: an exploded literal array, zero driver RDD jobs
    return (
        spark.range(1)
        .select(F.explode(entries).alias("e"))
        .select("e.step", "e.vec_id", "e.d2_micro")
        .orderBy("step")
    )


def ndcg_table(
    truth: DataFrame,
    approx: DataFrame,
    id_col: str = "vec_id",
    score_col: str = "cos_micro",
    ks: tuple[int, ...] = (5, 10, 25),
) -> DataFrame:
    """(k, n_rel, dcg_micro, ndcg_micro): binary-relevance nDCG@k of an
    approximate ranking against exact truth — recall@k's position-aware
    companion (recall can't tell whether the hits sit at rank 1 or rank
    k). rel(i) = 1 iff the approx's rank-i item is in the truth list;
    IDCG is the ideal reordering of the SAME evaluated positions
    (sum of 1/log2(i+1) over the ranks present), so a short approx list
    is scored against its own length. Everything after the two bounded
    ranked inputs is literal-relation algebra over <= max(ks) rows; the
    only floats are per-row log2 terms summed over a bounded row set
    (the char-entropy oracle precedent) and one final division."""
    from pyspark.sql import Window

    w = Window.orderBy(F.desc(score_col), F.asc(id_col))
    t = truth.select(F.col(id_col), F.row_number().over(w).alias("tr"))
    a = approx.select(F.col(id_col), F.row_number().over(w).alias("ar"))
    j = a.join(t, id_col, "left").select(
        "ar", F.col("tr").isNotNull().cast("int").alias("rel")
    )
    ks_df = (
        j.sparkSession.range(1)
        .select(F.explode(F.array(*[F.lit(int(k)) for k in ks])).alias("k"))
    )
    g = (
        j.crossJoin(F.broadcast(ks_df))
        .filter(F.col("ar") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.sum("rel").cast("long").alias("n_rel"),
            F.sum(F.col("rel") / F.log2(F.col("ar") + 1)).alias("_dcg"),
            F.sum(F.lit(1.0) / F.log2(F.col("ar") + 1)).alias("_idcg"),
        )
    )
    return g.select(
        "k",
        "n_rel",
        F.round(F.col("_dcg") * 1_000_000).cast("long").alias("dcg_micro"),
        F.round(F.col("_dcg") / F.col("_idcg") * 1_000_000)
        .cast("long")
        .alias("ndcg_micro"),
    ).orderBy("k")


PQ_N_SUB = 4
PQ_SUB_DIM = 16
PQ_SIGN_LOCAL = (0, 4, 8, 12)  # local sign dims -> 16 cells per subspace


def pq_assign(
    embeddings: DataFrame,
    query_vec: list[float],
    n_sub: int = PQ_N_SUB,
    sub_dim: int = PQ_SUB_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization code assignment + ADC distance (Jégou et al.
    2011) — the compression behind every billion-vector ANN deployment:
    each vector is split into ``n_sub`` subvectors, each encoded as its
    nearest subspace centroid, and the asymmetric distance to a query is
    the SUM of per-subspace query-to-centroid distances, precomputed once
    per query into a lookup table of n_sub * n_cells entries.

    Codebooks are data-derived and SQL-reconstructable (the IVF seeding
    rule): per subspace, the min-id vector of each 4-bit sign-bucket is a
    centroid, its own vec_id the code. Scale shape: the subvector frame
    is a constant n_sub-way map-side fan-out; centroids are a bounded
    dict joined on the subspace key (broadcastable); the argmin is one
    algebraic min(struct) aggregation; the ADC total adds the n_sub
    per-subspace terms in EXPLICIT s-order (never a cross-row float SUM).
    Returns (vec_id, c0..c{n_sub-1}, adc_micro) — codes are centroid
    vec_ids; adc_micro is the asymmetric distance to ``query_vec``."""
    subs = embeddings.select(
        F.col(id_col).alias("vid"),
        F.posexplode(
            F.array(
                *[
                    F.slice(_as_double(vec_col), s * sub_dim + 1, sub_dim)
                    for s in range(n_sub)
                ]
            )
        ).alias("s", "v"),
    )
    bucket = F.lit(0)
    for i, d in enumerate(PQ_SIGN_LOCAL):
        bucket = bucket + F.when(
            F.element_at(F.col("v"), d + 1) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    bkt = subs.select("vid", "s", "v", bucket.alias("b")).localCheckpoint(
        eager=False
    )  # consumers: seed pick, centroid fetch, assignment
    # every derived frame gets DISJOINT column names before rejoining bkt
    # (all sides descend from bkt — shared attribute ids otherwise trip
    # Spark's ambiguous-self-join analysis)
    seeds = bkt.groupBy("s", "b").agg(F.min("vid").alias("cvid")).select(
        F.col("s").alias("cs"), F.col("cvid")
    )
    cents = (
        bkt.select(
            F.col("vid").alias("_cvid"),
            F.col("s").alias("_cs"),
            F.col("v").alias("cv"),
        )
        .join(
            seeds,
            (F.col("_cvid") == F.col("cvid")) & (F.col("_cs") == F.col("cs")),
        )
        .select("cs", "cvid", "cv")
    )
    qsubs = {
        s: [float(x) for x in query_vec[s * sub_dim : (s + 1) * sub_dim]]
        for s in range(n_sub)
    }
    qarr = F.array(
        *[F.array(*[F.lit(x) for x in qsubs[s]]) for s in range(n_sub)]
    )
    centsq = cents.select(
        "cs",
        "cvid",
        "cv",
        _d2(F.col("cv"), F.element_at(qarr, F.col("cs") + 1)).alias("d2q"),
    )
    assigned = (
        bkt.select("vid", "s", "v")
        .join(centsq, F.col("s") == F.col("cs"))
        .groupBy("vid", "s")
        .agg(
            F.min(
                F.struct(
                    _d2(F.col("v"), F.col("cv")).alias("d2"),
                    F.col("cvid").alias("cvid"),
                    F.col("d2q").alias("d2q"),
                )
            ).alias("w")
        )
    )
    code_cols = [
        F.max(F.when(F.col("s") == s, F.col("w.cvid"))).alias(f"c{s}")
        for s in range(n_sub)
    ]
    d2q_terms = [
        F.max(F.when(F.col("s") == s, F.col("w.d2q"))) for s in range(n_sub)
    ]
    adc = d2q_terms[0]
    for t in d2q_terms[1:]:  # explicit s-order addition, both engines
        adc = adc + t
    return (
        assigned.groupBy("vid")
        .agg(*code_cols, F.round(adc * 1_000_000).cast("long").alias("adc_micro"))
        .select(F.col("vid").alias(id_col), *[f"c{s}" for s in range(n_sub)], "adc_micro")
        .orderBy(id_col)
    )
