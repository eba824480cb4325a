"""Deterministic, reproducible sampling for training-data pipelines.

A 100 TB curation run cannot use ``DataFrame.sample`` for its mixture
weights: rng-based sampling changes membership across retries, partitions
and Spark versions, which breaks resumable runs (a re-executed task must
keep the same rows) and makes ablations impossible to reproduce. The
standard fix is hash-based Bernoulli sampling: a row is kept iff a stable
hash of its key falls under the per-stratum threshold. Membership is then
a pure function of (key, seed, fractions) — engine-independent,
replayable, and joinable (the same (key, seed) always lands in the same
split, so a doc's features computed in another job agree on membership).

Everything here is map-side column algebra: zero shuffles, fully
predicate-pushable, and the md5-based hash is reproducible bit-for-bit in
the DuckDB oracles (the same '0x'||substr(md5(..)) arithmetic).
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def sample_hash_micro(key: Column | str, seed: str = "sample") -> Column:
    """Deterministic uniform draw in [0, 1e6) from md5(seed:key) — the
    first 15 hex digits as an integer, mod 1e6. 15 hex digits = 60 bits,
    so the modulo bias is ~2^-40, far below any fraction granularity."""
    k = F.col(key) if isinstance(key, str) else key
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit(seed), k.cast("string"))), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(MICRO),
    )


def stratified_sample(
    docs: DataFrame,
    key: str,
    strata_col: str,
    fractions: Mapping[str, float],
    default_fraction: float = 0.0,
    seed: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic Bernoulli sample: row kept iff
    hash(key) < fraction[stratum] (``default_fraction`` for unlisted
    strata). Adds ``sample_hash_micro`` so downstream jobs can re-derive
    membership or take nested sub-samples (hash < f2 < f1 is a subset of
    hash < f1 — nested splits for free)."""
    pairs: list[Column] = []
    for stratum, frac in sorted(fractions.items()):
        pairs += [F.lit(stratum), F.lit(int(round(frac * MICRO)))]
    threshold = F.coalesce(
        F.create_map(*pairs)[F.col(strata_col)],
        F.lit(int(round(default_fraction * MICRO))),
    )
    return docs.withColumn(
        "sample_hash_micro", sample_hash_micro(key, seed).cast("long")
    ).filter(F.col("sample_hash_micro") < threshold)


def group_holdout_split(
    docs: DataFrame,
    group_col: str,
    train_frac: float = 0.9,
    seed: str = "split",
) -> DataFrame:
    """Leakage-aware train/holdout split: the unit of assignment is the
    GROUP (host, domain, source feed), not the document. Web corpora are
    full of near-duplicates WITHIN a site (templated pages, mirrored
    articles); a row-level split leaks them across the boundary and the
    holdout stops measuring generalization. Hashing the group key instead
    guarantees every document of a group lands on the same side.

    Same contract as the samplers: membership is a pure function of
    (group, seed, train_frac) — map-side, zero shuffle, reproducible
    across engines and re-executed tasks, and nested (a smaller
    train_frac's train set is a subset of a larger one's)."""
    thr = int(round(train_frac * MICRO))
    h = sample_hash_micro(group_col, seed)
    return docs.withColumn(
        "split", F.when(h < thr, F.lit("train")).otherwise(F.lit("holdout"))
    )


def cap_per_group(
    docs: DataFrame,
    key: str,
    group_col: str,
    k: int,
    seed: str = "cap",
    n_salt: int = 4,
) -> DataFrame:
    """Domain-balancing cap: keep at most ``k`` rows per group (host,
    domain, source), picked deterministically as the ``k`` SMALLEST
    hash-draws — membership is a pure function of (key, seed, k), so the
    cap is uniform-at-random yet replayable, and adding new docs to a
    host can only evict hash-larger ones (stable under incremental
    crawls). This is the "no single domain dominates the corpus" rule
    every web-scale curation recipe applies after url dedup.

    Returns one row per input row: (key, group, rnk, kept).

    Skew shape — a single giant host is exactly the row that breaks a
    naive ``row_number() OVER (PARTITION BY host)`` (one reducer gets the
    whole host). Exact two-level selection instead:

    1. rank within (group, SALT) — ``n_salt`` reducers share a hot
       group; every salt keeps its local top-k, a GUARANTEED superset of
       the global top-k (any global winner is in some salt's local
       top-k);
    2. re-rank the ≤ n_salt·k survivors per group — bounded rows, the
       second window cannot be hot by construction.

    Non-survivors of stage 1 are ranked k+1 ("cut", beyond the cap) —
    their exact order past the cap is not meaningful and not computed
    (that is what makes the shape scale); ties inside the cap break by
    hash then key in BOTH stages, so the kept set is exact and total.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    h = sample_hash_micro(key, seed)
    base = docs.select(
        F.col(key).alias("key"),
        F.col(group_col).alias("grp"),
        h.alias("_h"),
        F.pmod(F.crc32(F.col(key).cast("string")), F.lit(n_salt)).alias("_salt"),
    )
    w_local = Window.partitionBy("grp", "_salt").orderBy("_h", "key")
    survivors = (
        base.withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= k)
        .drop("_lr", "_salt")
    )
    w_global = Window.partitionBy("grp").orderBy("_h", "key")
    # Survivor-pool ranks 1..k equal the TRUE global ranks (the pool is a
    # superset of the true top-k under the same total order); every rank
    # past the cap is reported as the sentinel k+1 — a stage-1 casualty's
    # pool rank would NOT be its true rank, so the contract clamps both.
    ranked = survivors.withColumn(
        "rnk", F.least(F.row_number().over(w_global), F.lit(k + 1))
    )
    cut = base.join(
        survivors.select("key"), "key", "left_anti"
    ).select("key", "grp", F.lit(k + 1).alias("rnk"))
    return (
        ranked.select("key", "grp", F.col("rnk").cast("int").alias("rnk"))
        .unionByName(cut.select("key", "grp", F.col("rnk").cast("int")))
        .select(
            "key",
            "grp",
            "rnk",
            F.when(F.col("rnk") <= k, F.lit(1)).otherwise(F.lit(0)).alias("kept"),
        )
    )


def balance_strata(
    docs: DataFrame, key: str, strata_col: str, seed: str = "mix"
) -> DataFrame:
    """Data-mixing manifest: downsample every stratum to the SMALLEST
    stratum's size in expectation (uniform mixture), with deterministic
    hash-Bernoulli membership. This is the data-recipe step of corpus
    assembly (Pile/Dolma-style source mixing) where the rates are derived
    FROM the data rather than supplied — ``stratified_sample`` covers the
    supplied-fractions case.

    Returns one row per stratum: (stratum, n_total, rate_micro, n_kept).

    Shape: one bounded shuffle for the per-stratum counts, the min rides
    a broadcast 1-row aggregate, rates broadcast back onto the corpus for
    a map-side filter, and one more bounded count shuffle for the kept
    side. The rates frame feeds two consumers (the membership filter and
    the output join), so it is lazily localCheckpoint-ed — otherwise both
    branches replay the corpus-count shuffle."""
    per = docs.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_total"))
    target = F.broadcast(per.agg(F.min("n_total").alias("_target")))
    rates = (
        per.crossJoin(target)
        .select(
            strata_col,
            "n_total",
            F.round(F.col("_target") * float(MICRO) / F.col("n_total"))
            .cast("long")
            .alias("rate_micro"),
        )
        .localCheckpoint(eager=False)
    )
    kept_counts = (
        docs.select(key, strata_col)
        .join(F.broadcast(rates), strata_col)
        .filter(sample_hash_micro(key, seed) < F.col("rate_micro"))
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    # Both manifest sides are strata-bounded; the kept-count side
    # broadcasts (a checkpointed left side hides its size from AQE, which
    # would otherwise pick a sort-merge join for two tiny frames).
    return rates.join(F.broadcast(kept_counts), strata_col, "left").select(
        strata_col,
        "n_total",
        "rate_micro",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
    )


def token_budget_allocation(
    docs: DataFrame,
    strata_col: str,
    budget: int,
    text_col: str = "text",
) -> DataFrame:
    """Largest-remainder apportionment of a token budget across strata:
    the data-recipe step that turns "train on B tokens with the corpus's
    own mixture" into per-source integer quotas that sum EXACTLY to B
    (floored proportional shares under-allocate by up to |strata|-1
    tokens; the leftovers go to the largest fractional remainders —
    Hamilton's method, the standard exact apportionment).

      base_i  = floor(B * n_i / N)
      rem_i   = (B * n_i) mod N
      quota_i = base_i + 1 for the (B - sum base) largest rem_i
                (ties -> stratum name ascending), else base_i

    All integer arithmetic — bit-identical across engines. Shape: the
    corpus is touched once (map-side per-row token counts into a
    groupBy(stratum) with partial aggregation); everything after runs on
    the strata-bounded dict — corpus total and leftover ride as broadcast
    1-row aggregates, the remainder rank is a window over dict rows.

    Returns (stratum, n_tokens, base_quota, extra, quota).
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    from pyspark.sql import Window

    from .dedup import tokens_col

    per = (
        docs.select(
            F.col(strata_col).alias("stratum"),
            F.size(tokens_col(text_col)).cast("long").alias("_nt"),
        )
        .groupBy("stratum")
        .agg(F.sum("_nt").alias("n_tokens"))
        .localCheckpoint(eager=False)  # consumers: total agg + quota calc
    )
    total = F.broadcast(per.agg(F.sum("n_tokens").alias("_N")))
    based = (
        per.crossJoin(total)
        .select(
            "stratum",
            "n_tokens",
            F.expr(f"CAST({budget} * n_tokens div _N AS BIGINT)")
            .alias("base_quota"),
            F.expr(f"CAST({budget} * n_tokens % _N AS BIGINT)").alias("_rem"),
        )
        .localCheckpoint(eager=False)  # consumers: leftover agg + rank
    )
    leftover = F.broadcast(
        based.agg((F.lit(budget) - F.sum("base_quota")).alias("_left"))
    )
    w = Window.orderBy(F.desc("_rem"), F.asc("stratum"))
    return (
        based.crossJoin(leftover)
        .withColumn("_rk", F.row_number().over(w))
        .select(
            "stratum",
            "n_tokens",
            "base_quota",
            F.when(F.col("_rk") <= F.col("_left"), F.lit(1))
            .otherwise(F.lit(0)).cast("int").alias("extra"),
            (F.col("base_quota")
             + F.when(F.col("_rk") <= F.col("_left"), F.lit(1))
             .otherwise(F.lit(0))).cast("bigint").alias("quota"),
        )
    )


def weighted_sample(
    docs: DataFrame,
    key: str,
    strata_col: str,
    weight_col: str,
    k: int = 20,
    seed: str = "esample",
) -> DataFrame:
    """(key, stratum, weight, es_key_nano, rank): deterministic weighted
    sampling WITHOUT replacement per stratum — Efraimidis–Spirakis (2006)
    A-Res: each row draws u = hash-uniform(0,1) and ranks by u^(1/w); the
    top-k per stratum is a weight-proportional sample. The ranking uses the
    monotone log form ln(u)/w (larger = better), quantized to integer
    NANO units so the cross-engine comparison is on exact integers.

    This is the quality-weighted mixture draw of a curation pipeline
    ("sample 1M docs per language, proportional to the quality score") with
    hash-determinism: membership is a pure function of (key, seed, weight),
    so retries, ablations and resumed runs pick the same rows. Zero-shuffle
    key computation; one per-stratum rank window (for the two-level salted
    form at jumbo strata, compose cap_per_group — same contract)."""
    from pyspark.sql.window import Window

    u = (sample_hash_micro(key, seed) + F.lit(0.5)) / F.lit(float(MICRO))
    w = F.col(weight_col).cast("double") + F.lit(1.0)
    es = docs.select(
        F.col(key),
        F.col(strata_col).alias("stratum"),
        F.col(weight_col).alias("weight"),
        F.floor(F.log(u) / w * 1_000_000_000).cast("long").alias("es_key_nano"),
    )
    win = Window.partitionBy("stratum").orderBy(
        F.desc("es_key_nano"), F.asc(key)
    )
    return (
        es.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .orderBy("stratum", "rank")
    )


def temperature_mix(
    docs: DataFrame,
    strata_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled multinomial mixture weights over strata (the
    multilingual-sampling rule of XLM-R/mT5: q_i ∝ p_i^alpha, alpha<1
    flattens the natural distribution toward low-resource strata), with
    the 10^6 probability mass apportioned EXACTLY by largest remainder
    (Hamilton's method, as token_budget_allocation) so the weights sum to
    exactly 1_000_000 across strata.

      score_i  = round(n_i^alpha * 10^6)   (integer; alpha=0.5 runs via
                 sqrt, which IEEE-754 rounds correctly — bit-identical in
                 the JVM and C engines; other alphas go through pow, whose
                 last-ulp behavior is platform-library-defined, so
                 oracle-gated uses should stick to 0.5)
      weight_i = (score_i * 10^6) div S  + largest-remainder extras
      boost_i  = (weight_i * N) div n_i  (upsample factor vs natural, micro)

    Shape: ONE bounded shuffle (per-stratum counts with map-side partial
    aggregation); the score total and leftover ride broadcast 1-row
    aggregates; the remainder rank is a window over the strata-bounded
    dict. Returns (stratum, n_docs, score_micro, weight_micro, boost_micro).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    per = docs.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return temperature_mix_from_counts(per, alpha)


def temperature_mix_from_counts(per: DataFrame, alpha: float = 0.5) -> DataFrame:
    """temperature_mix over a precomputed ``(stratum, n_docs)`` frame —
    for callers that already paid a per-stratum aggregation (e.g.
    token_budget_plan folds doc and token counts into ONE corpus pass and
    feeds the doc counts here, instead of scanning the corpus twice)."""
    from pyspark.sql import Window

    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    powed = (
        F.sqrt(F.col("n_docs").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("n_docs").cast("double"), F.lit(alpha))
    )
    scored = per.select(
        "stratum",
        "n_docs",
        F.round(powed * MICRO).cast("long").alias("score_micro"),
    ).localCheckpoint(eager=False)  # consumers: total agg + weight calc
    totals = F.broadcast(
        scored.agg(
            F.sum("score_micro").alias("_S"), F.sum("n_docs").alias("_N")
        )
    )
    based = (
        scored.crossJoin(totals)
        .select(
            "stratum",
            "n_docs",
            "score_micro",
            F.expr(f"CAST(score_micro * {MICRO} div _S AS BIGINT)")
            .alias("_base"),
            F.expr(f"CAST(score_micro * {MICRO} % _S AS BIGINT)")
            .alias("_rem"),
            F.col("_N"),
        )
        .localCheckpoint(eager=False)  # consumers: leftover agg + rank
    )
    leftover = F.broadcast(
        based.agg((F.lit(MICRO) - F.sum("_base")).alias("_left"))
    )
    w = Window.orderBy(F.desc("_rem"), F.asc("stratum"))
    weight = F.col("_base") + F.when(
        F.col("_rk") <= F.col("_left"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        based.crossJoin(leftover)
        .withColumn("_rk", F.row_number().over(w))
        .select(
            "stratum",
            "n_docs",
            "score_micro",
            weight.cast("long").alias("weight_micro"),
            F.expr(
                "CAST((_base + IF(_rk <= _left, 1, 0)) * _N div n_docs"
                " AS BIGINT)"
            ).alias("boost_micro"),
        )
    )


def token_budget_plan(
    docs: DataFrame,
    strata_col: str,
    tokens_expr: Column,
    budget: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Epoch plan for a token budget under the temperature mixture: given
    a total training budget B, each stratum owes target = B * weight
    tokens; with tokens_avail actually on disk, it trains for
    ceil(target / avail) epochs (the "how many times do we repeat the
    low-resource domain" table every mixture-weighted pretraining run
    publishes). All integer floor/ceil arithmetic off the exact
    largest-remainder weights — deterministic across engines. The target
    multiply is split as weight*(B div 1e6) + (B mod 1e6)*weight div 1e6
    (algebraically exact), so a trillions-scale budget cannot overflow
    int64 inside the engine.

    ``tokens_expr`` is the per-row token count expression. ONE corpus
    pass aggregates doc and token counts per stratum together
    (temperature_mix_from_counts consumes the doc counts); strata with
    ZERO tokens are excluded — there is nothing to repeat, and the SQL
    mirror's token aggregation produces no row for them either. Output is
    unordered (callers sort the dict-sized result). Returns (stratum,
    n_docs, weight_micro, tokens_avail, target_tokens, epochs)."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    per = docs.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tokens_expr).cast("long").alias("tokens_avail"),
    ).localCheckpoint(eager=False)  # consumers: mix chain + the join back
    mix = temperature_mix_from_counts(per.select("stratum", "n_docs"), alpha)
    q, r = budget // MICRO, budget % MICRO
    return (
        mix.select("stratum", "n_docs", "weight_micro")
        .join(per.select("stratum", "tokens_avail"), "stratum")
        .filter(F.col("tokens_avail") > 0)
        .select(
            "stratum",
            "n_docs",
            "weight_micro",
            "tokens_avail",
            F.expr(
                f"CAST(weight_micro * {q} + ({r} * weight_micro)"
                " div 1000000 AS BIGINT)"
            ).alias("target_tokens"),
        )
        .select(
            "*",
            F.expr(
                "CAST(IF(target_tokens = 0, 0,"
                " (target_tokens + tokens_avail - 1) div tokens_avail)"
                " AS BIGINT)"
            ).alias("epochs"),
        )
    )
