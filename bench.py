#!/usr/bin/env python
"""Benchmark harness (BASELINE.md protocol).

Headline: documents/sec through the full extract -> tokenize -> postings
pipeline on the deterministic synthetic pages table (north rule metric), plus
query-side latencies over the sf documents index.

Prints ONE JSON line:
  {"metric": ..., "value": <headline wall sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "docs_per_sec": ...,
   "rows": ..., "conf": {...}}

Env:
  SPARK_GRAFT_SF_DIR  input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    cores for local[N] (default: the cores this process
                      may run on)
  BENCH_ROWS          override synthetic pages row count

`--scaling` mode runs the same indexing job at local[4] and local[16] on the
same input and reports throughput at both plus efficiency — the sandbox
stand-in for the north rule's N vs 4N executor criterion (BASELINE.md).

`--scaling-queries` mode measures the QUERY path at the same two core
counts: concurrent mixed-search throughput (queries/sec) against a
pre-written 600k-page index, plan-cached, plus per-shape single-query
latencies. Both scaling legs persist to BENCH/*.json and ride along in the
default run's output so BENCH_r{N}.json carries all three measurements.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

SF_ROWS = {"sf0.001": 2_000, "sf0.01": 60_000, "sf0.1": 600_000}


def _sf_name(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


def build_session(cpus: int, shuffle_partitions: int | None = None):
    from tika_xapian_spark.session import get_spark

    return get_spark(
        app_name=f"bench-local-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=shuffle_partitions or max(2 * cpus, 32),
        # fixed split granularity so every core count sees the same ~100-task
        # scan (otherwise few-core runs coalesce the input into a handful of
        # splits and straggler waves skew the scaling comparison)
        extra_conf={"spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024)},
    )


PAGES_STAGE_DIR = "/tmp/bench_pages"


def wait_for_quiet(thresh: float = 3.0, max_wait_sec: int = 420) -> float:
    """This VM shares its host: /proc/loadavg regularly shows 5-25 with no
    local process (spikes last minutes), and a sample taken during a
    neighbor spike under-reports throughput ~2x (or makes the 4-core leg of
    the scaling pair look artificially slow -> fake superlinear efficiency).
    Bounded wait for a quieter window; returns the 1-min load when we
    proceed."""
    deadline = time.time() + max_wait_sec
    while True:
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        if load1 < thresh or time.time() >= deadline:
            return load1
        print(f"[bench] host load {load1:.1f} >= {thresh}, waiting...", file=sys.stderr)
        time.sleep(15)


def stage_pages(spark, n_rows: int) -> str:
    """Materialize the synthetic pages table to parquet once (setup, not
    timed): the north rule reads an existing CC-style table, so the timed
    job starts from a table scan, not from the generator."""
    path = f"{PAGES_STAGE_DIR}_{n_rows}"
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        from tika_xapian_spark.sources.pages import synth_pages

        synth_pages(spark, n_rows).write.mode("overwrite").parquet(path)
    return path


def run_index_pipeline(spark, n_rows: int, out_dir: str) -> float:
    """The timed unit: pages table scan -> fused extract+tokenize carrier
    (one mapInPandas pass; html/body never cross Arrow twice) -> postings
    write. Wall-clock covers the write action only (excludes setup)."""
    from tika_xapian_spark.operators.index import (
        explode_fused_carrier,
        extract_index_carrier,
    )

    pages = spark.read.parquet(stage_pages(spark, n_rows))
    postings = explode_fused_carrier(extract_index_carrier(pages))
    t0 = time.time()
    postings.write.mode("overwrite").parquet(out_dir)
    return time.time() - t0


# The benched query walls (per-query section of the JSON line); every name
# must be a __spark_entry__.queries() key (tests/test_benchmark_imports.py).
BENCH_QUERIES = (
    "search_or",
    "search_and",
    "search_phrase",
    "search_near",
    "search_adj",  # ordered NEAR (round 5): same fused-scan shape
    "search_wildcard",
    "collapse_best_per_source",
    "dedup_minhash_pairs",
    "dedup_substring_spans",  # ExactSubstr spans (round 5)
    "text_simhash",
    "gopher_repetition",  # zero-shuffle per-row folds (round 5)
    "text_unigram_logppl",  # hot/cold skew-split token join (round 6)
    "url_dedup",  # canonicalize + hash-groupBy (round 5)
    "ann_cosine_topk",
    "ann_multiprobe_topk",  # written-index path: partition-pruned probe
    "spelling_suggest",  # frag point lookup on the once-built fragment table
    "text_quality",
    "tfidf_top_terms",  # map-side tf + hot/cold df join + rank window (round 6)
    "text_bigram_logppl",  # bigram LM, double skew-split join (round 6)
    "text_char_entropy",  # zero-shuffle linear entropy fold (round 6)
    "pack_sequences",  # two-level distributed prefix sum (round 6)
    "bpe_merges",  # dict-bounded merge rounds, broadcast winners (round 6)
    "bpe_encode",  # trained merges applied via dict lookup + skew join (round 6)
    "web_pagerank",  # 5 integer rank rounds, per-round checkpoint (round 6)
    "cap_per_host",  # exact two-level salted top-k per host (round 6)
    "text_bigram_novelty",  # first-seen table + skew-split join (round 6)
    "embedding_kmeans_step",  # broadcast argmin + one wide agg (round 6)
    "quality_classifier_score",  # zero-shuffle hashed linear filter (round 6)
    "dsir_importance",  # hashed-bigram importance, broadcast ratio probe (round 6)
    "embedding_semdedup",  # broadcast-centroid assign + in-cluster pairs (round 6)
    "cms_heavy_hitters",  # count-min sketch, broadcast counter table (round 6)
    "search_hybrid_rrf",  # BM25 + ANN pools fused by integer RRF (round 6)
    "bitext_margin_pairs",  # banded cross-lingual margin kNN (round 6)
    "dedup_containment_pairs",  # directed shingle containment (round 6)
    "text_zipf_fit",  # decimal-exact OLS corpus fingerprint (round 6)
)


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    """Query-side latencies (index build amortized, per BASELINE.md).

    AQE stays ON here: flipping it off was measured to shave ~0.2s off the
    tiny top-k searches (replanning pause) but to cost 3x on the
    shuffle-heavy analytics queries (text_simhash 0.5 -> 1.6s — they lean on
    runtime partition coalescing), and this section mixes both. The
    latency-profile trade-off lives in bench_scaling_queries' latency rows,
    which time only the search family."""
    import __spark_entry__ as entrymod
    from tika_xapian_spark.plans import doc_queries as dq

    dq.get_index(spark, sf_dir)  # build+cache outside the timed region
    registry = entrymod.queries()
    out: dict[str, float] = {}
    for name in BENCH_QUERIES:
        fn = registry[name]
        fn(spark, sf_dir).collect()  # warm (plan compile, broadcast build)
        trials = []
        for _ in range(2):  # min-of-2: one GC/scheduler hiccup must not
            t0 = time.time()  # pollute the recorded steady-state latency
            fn(spark, sf_dir).collect()
            trials.append(time.time() - t0)
        out[name] = round(min(trials), 3)
    return out


def ann_recall(spark, sf_dir: str) -> dict:
    """Honesty metric for the ANN scale path: measured recall@25 of the
    multi-probe hyperplane LSH vs brute force, plus the candidate-scan
    fraction. The synthetic embeddings are near-isotropic (little angular
    structure), so recall here is a floor, not a ceiling — on clustered
    real-world embeddings the same code measures >=0.9
    (tests/test_similarity.py)."""
    from tika_xapian_spark.operators import similarity as SIM
    from tika_xapian_spark.plans.data_queries import _emb, _query_vec

    emb = _emb(spark, sf_dir)
    n = emb.count()
    qv = _query_vec(spark, sf_dir)
    planes = SIM.hyperplanes(SIM.N_PLANES, len(qv))
    exact = {r["vec_id"] for r in SIM.cosine_topk(emb, qv, 25).collect()}
    curve = []
    for n_probe in (SIM.N_PROBE, 12, 28):  # the recall-vs-scan knob
        probes = SIM.multiprobe_buckets(qv, planes, n_probe)
        cand = emb.filter(SIM.hyperplane_bucket("embedding", planes).isin(probes))
        n_cand = cand.count()
        approx = {r["vec_id"] for r in SIM.cosine_topk(cand, qv, 25).collect()}
        curve.append(
            {
                "n_probe": n_probe,
                "recall_at_25": round(len(exact & approx) / 25, 3),
                "scan_fraction": round(n_cand / max(n, 1), 4),
            }
        )
    # the written index table's partition-level pruning (operators/ann_index):
    # fraction of leaf cell=/hbucket= directories the default probe scans
    from tika_xapian_spark.plans.data_queries import _ann_index

    idx = _ann_index(spark, sf_dir)
    return {
        "n_planes": SIM.N_PLANES,
        "multiprobe_curve": curve,
        "written_index_probe_fraction": round(idx.probe_fraction(qv), 4),
    }


class _StealSampler:
    """Samples /proc/stat steal% while the bench runs. Start load alone
    cannot certify a clean window on this shared host — steal was measured
    spiking to 14.6% mid-run after a 0.12-load start; the all-rounds-best
    headline carried max steal 0.6%. Recording it makes every sample
    self-certifying."""

    def __init__(self) -> None:
        import threading

        self.samples: list[float] = []
        self._stop = False

        def snap():
            with open("/proc/stat") as f:
                return [int(x) for x in f.readline().split()[1:]]

        def run():
            prev = snap()
            while not self._stop:
                time.sleep(2)
                cur = snap()
                d = [y - x for x, y in zip(prev, cur)]
                prev = cur
                tot = sum(d[:8]) or 1
                self.samples.append(round(d[7] / tot * 100, 2))

        try:
            self._thread = threading.Thread(target=run, daemon=True)
            self._thread.start()
        except Exception:
            self._thread = None

    def max_steal(self) -> float | None:
        self._stop = True
        return max(self.samples) if self.samples else None


def bench_once() -> dict:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    sf = _sf_name(sf_dir)
    n_rows = int(os.environ.get("BENCH_ROWS", SF_ROWS.get(sf, 60_000)))

    steal = _StealSampler()
    load1 = wait_for_quiet()
    spark = build_session(cpus)
    tmp = tempfile.mkdtemp(prefix="bench_idx_")
    try:
        # one full-size untimed warm pass (JIT + python-worker imports + page
        # cache), per BASELINE.md: the metric is steady-state throughput of
        # the write action. The warm run must match the timed size — a small
        # warm pass leaves the input cold and under-reports by ~2x. The
        # sandbox shares its host CPU, so single samples vary ~1.5x run to
        # run; min-of-2 reports the uncontended steady state.
        run_index_pipeline(spark, n_rows, tmp + "_warm")
        walls = [
            run_index_pipeline(spark, n_rows, tmp),
            run_index_pipeline(spark, n_rows, tmp),
        ]
        if max(walls) > 1.25 * min(walls):  # a neighbor-load spike hit one
            walls.append(run_index_pipeline(spark, n_rows, tmp))
        wall = min(walls)
        queries = run_queries(spark, sf_dir)
        ann = ann_recall(spark, sf_dir)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(tmp + "_warm", ignore_errors=True)
        spark.stop()

    return {
        "metric": "extract_index_wall_sec",
        "value": round(wall, 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "rows": n_rows,
        "docs_per_sec": round(n_rows / wall, 1),
        "ann": ann,
        "conf": {
            "master": f"local[{cpus}]",
            "aqe": True,
            "arrow": True,
            "load1_at_start": load1,
            "max_steal_pct": steal.max_steal(),
        },
    }


def bench_scaling(n_rows: int | None = None) -> dict:
    """Same job, same input, N vs 4N cores (default local[4] vs local[16]).

    Why 4 -> 16 and not 8 -> 32: this sandbox's CPU reduces per-core clock as
    more cores go active (measured with a pure-Python busy loop, no Spark:
    6.90M iter/s/core at 8 procs -> 5.03M at 32, a 0.73 hardware ceiling for
    8->32 before any framework overhead). 4 -> 16 stays inside the clock
    envelope (raw ceiling ~0.91) and still demonstrates the north rule's
    N -> 4N criterion. Override with BENCH_SCALE_CORES="8,32".

    Each level gets one full untimed warm run (JIT + python-worker import +
    page cache), then the timed run — per the BASELINE.md protocol the timed
    region is the steady-state write action only.
    """
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _sf_name(sf_dir)
    n = n_rows or int(os.environ.get("BENCH_ROWS", SF_ROWS.get(sf, 60_000)))
    lo, hi = (
        int(x) for x in os.environ.get("BENCH_SCALE_CORES", "4,16").split(",")
    )
    result: dict = {"metric": f"scaling_efficiency_{lo}_to_{hi}", "rows": n, "sf": sf}
    steal = _StealSampler()  # certify the WHOLE two-session window
    rates = {}
    for cpus in (lo, hi):
        wait_for_quiet()
        spark = build_session(cpus)
        tmp = tempfile.mkdtemp(prefix=f"bench_idx_{cpus}_")
        try:
            run_index_pipeline(spark, n, tmp + "_warm")  # full warm run
            # Neighbor spikes skew a single sample in either direction (fake
            # sub- OR super-linear ratios, both observed on this host).
            # Contention only ever slows a pass, so best-of-N estimates the
            # uncontended steady state; stop early once two passes agree
            # with the best within 5%. All walls are reported for honesty.
            walls = []
            for _ in range(4):
                walls.append(run_index_pipeline(spark, n, tmp))
                close = [w for w in walls if w <= min(walls) * 1.05]
                if len(close) >= 2:
                    break
                wait_for_quiet(max_wait_sec=90)
            wall = min(walls)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(tmp + "_warm", ignore_errors=True)
            spark.stop()
        rates[cpus] = n / wall
        result[f"docs_per_sec_local{cpus}"] = round(rates[cpus], 1)
        result[f"wall_sec_local{cpus}"] = round(wall, 3)
        result[f"walls_local{cpus}"] = [round(w, 2) for w in walls]
    result["value"] = result["efficiency"] = round(
        rates[hi] / rates[lo] / (hi / lo), 3
    )
    result["unit"] = "ratio"
    result["max_steal_pct"] = steal.max_steal()
    return result


QUERY_IDX_DIR = "/tmp/bench_qidx"


def stage_query_index(n_rows: int) -> str:
    """Build + write the full InvertedIndex over the synthetic pages corpus
    ONCE (setup, untimed): the query-scaling leg times searches against a
    PRE-WRITTEN index, the steady-state serving shape (index build
    amortized), so both core levels read identical bytes."""
    path = f"{QUERY_IDX_DIR}_{n_rows}"
    # the marker's name changes with the index layout, so an index staged
    # in an older layout is rebuilt rather than reopened
    marker = os.path.join(path, "_QIDX_TERM_BUCKETS_COMPLETE")
    if not os.path.exists(marker):
        from tika_xapian_spark.operators.index import (
            InvertedIndex,
            extract_index_carrier,
        )

        spark = build_session(16)
        try:
            pages = spark.read.parquet(stage_pages(spark, n_rows))
            idx = InvertedIndex.from_fused_carrier(extract_index_carrier(pages))
            shutil.rmtree(path, ignore_errors=True)
            idx.write(path)
            idx.unpersist()
            with open(marker, "w") as f:
                f.write("ok")
        finally:
            spark.stop()
    return path


QBENCH_WORDS = [
    "body", "markdown", "filename", "scalar", "subtitle",
    "note", "syntax", "date", "line", "example",
]
QBENCH_BATCH = 96  # queries per timed batch (enough to saturate 16 cores)
QBENCH_INFLIGHT = 32  # concurrent submissions (a serving pool's depth)
QBENCH_CYCLE = 15  # lcm(3 kinds, 10 words) / 2 — distinct query shapes


def _build_query(idx, i: int):
    """Query shape i of the mixed workload: 6-term OR (the parser's default
    for multi-word input), 4-term AND, 3-word PHRASE — each a cacheable
    DataFrame (prepared-statement style). Multi-term queries over common
    corpus words keep per-query EXECUTOR work dominant over constant driver
    cost, which is the regime a 10^12-doc corpus is always in."""
    from tika_xapian_spark.operators import search as S

    ws = [QBENCH_WORDS[(i + j) % len(QBENCH_WORDS)] for j in range(6)]
    zs = [S.stem_query_term(w) for w in ws]
    kind = i % 3
    if kind == 0:
        return S.top_k(S.score_terms(idx, zs))
    if kind == 1:
        return S.top_k(S.score_terms_all(idx, zs[:4]))
    return S.top_k(S.match_phrase(idx, ws[:3]))


def _run_one_query(idx, i: int, plan_cache: dict | None = None) -> None:
    """Execute query i. With a plan_cache (built once per session — the
    prepared-statement cache every serving layer keeps; analysis/
    optimization runs once per query SHAPE, execution per request), repeat
    shapes skip Python-side plan construction."""
    df = (
        plan_cache[i % QBENCH_CYCLE]
        if plan_cache is not None
        else _build_query(idx, i)
    )
    df.collect()


def bench_scaling_queries(n_rows: int | None = None) -> dict:
    """Query-path N vs 4N leg (round-3 verdict item #1).

    What scales on the query path is THROUGHPUT under concurrent load, not
    single-query latency: a well-indexed query is latency-bound by design
    (pushed `term IN` + row-group pruning leave little parallel work per
    query — that's the index succeeding), so the serving-cluster criterion
    is queries/sec with a full request pool, measured here as a batch of
    QBENCH_BATCH mixed OR/AND/PHRASE/WAND queries over rotating terms,
    QBENCH_INFLIGHT in flight, against the same pre-written pages index at
    both core counts. Protocol mirrors bench_scaling: load-gated,
    full warm batch per level, best-of-N batch walls (contention only ever
    slows a batch), efficiency = qps ratio / core ratio. Single-query
    latencies are also reported per level for the latency story."""
    from concurrent.futures import ThreadPoolExecutor

    sf = _sf_name(os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    n = n_rows or int(os.environ.get("BENCH_ROWS", SF_ROWS.get(sf, 60_000)))
    lo, hi = (
        int(x) for x in os.environ.get("BENCH_SCALE_CORES", "4,16").split(",")
    )
    idx_path = stage_query_index(n)
    from tika_xapian_spark.operators.index import InvertedIndex

    result: dict = {
        "metric": f"query_scaling_efficiency_{lo}_to_{hi}",
        "rows": n,
        "sf": sf,
        "batch": QBENCH_BATCH,
        "inflight": QBENCH_INFLIGHT,
    }
    steal = _StealSampler()  # certify the WHOLE two-session window
    qps = {}
    for cpus in (lo, hi):
        wait_for_quiet()
        spark = build_session(cpus)
        try:
            # throughput batches keep AQE ON: its runtime partition
            # coalescing collapses each query's 32-partition shuffle to a
            # few tasks, which under 32-deep concurrency is what keeps the
            # scheduler fed with work instead of task-dispatch overhead
            # (measured 39.8 vs 31.3 qps at local[16]). The latency section
            # below flips it off, where the per-stage replanning pause is
            # the dominant cost instead.
            idx = InvertedIndex.read(spark, idx_path)
            plan_cache = {
                k: _build_query(idx, k) for k in range(QBENCH_CYCLE)
            }

            def batch() -> float:
                t0 = time.time()
                with ThreadPoolExecutor(QBENCH_INFLIGHT) as ex:
                    list(
                        ex.map(
                            lambda i: _run_one_query(idx, i, plan_cache),
                            range(QBENCH_BATCH),
                        )
                    )
                return time.time() - t0

            batch()  # warm: plan compile, broadcasts, page cache
            walls = []
            for _ in range(4):
                walls.append(batch())
                close = [w for w in walls if w <= min(walls) * 1.05]
                if len(close) >= 2:
                    break
                wait_for_quiet(max_wait_sec=90)
            wall = min(walls)
            # single-query latency (min-of-2, cold plan each call) for the
            # latency story; WAND exercises the imperative two-phase path.
            # AQE off here — the serving-latency profile (see run_queries).
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            from tika_xapian_spark.operators import search as S

            def _wand():
                S.top_k_wand(
                    idx,
                    [S.stem_query_term(w) for w in QBENCH_WORDS[:3]],
                    k=100,
                ).collect()

            lat = {}
            latency_fns = {
                "or6": lambda: _run_one_query(idx, 0),
                "and4": lambda: _run_one_query(idx, 1),
                "phrase3": lambda: _run_one_query(idx, 2),
                "wand3": _wand,
            }
            for name, fn in latency_fns.items():
                trials = []
                for _ in range(2):
                    t0 = time.time()
                    fn()
                    trials.append(time.time() - t0)
                lat[name] = round(min(trials), 3)
        finally:
            spark.stop()
        qps[cpus] = QBENCH_BATCH / wall
        result[f"qps_local{cpus}"] = round(qps[cpus], 2)
        result[f"batch_walls_local{cpus}"] = [round(w, 2) for w in walls]
        result[f"latency_local{cpus}"] = lat
    result["value"] = result["efficiency"] = round(
        qps[hi] / qps[lo] / (hi / lo), 3
    )
    result["unit"] = "ratio"
    result["max_steal_pct"] = steal.max_steal()
    return result


_LEG_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")


def _record_leg(name: str, payload: dict) -> None:
    """Persist a scaling leg so the default run can attach the most recent
    measurement of each (the driver records the default run's single JSON
    line; re-measuring both two-session legs inside it would triple its
    wall)."""
    try:
        os.makedirs(_LEG_DIR, exist_ok=True)
        with open(os.path.join(_LEG_DIR, f"{name}.json"), "w") as f:
            json.dump(payload, f)
    except OSError:
        pass


def _attach_legs(result: dict) -> dict:
    for name in ("scaling", "query_scaling"):
        p = os.path.join(_LEG_DIR, f"{name}.json")
        if os.path.exists(p):
            with open(p) as f:
                result[name] = json.load(f)  # most recent --scaling[-queries] run
    return result


if __name__ == "__main__":
    if "--scaling-queries" in sys.argv:
        out = bench_scaling_queries()
        _record_leg("query_scaling", out)
        print(json.dumps(out))
    elif "--scaling" in sys.argv:
        out = bench_scaling()
        _record_leg("scaling", out)
        print(json.dumps(out))
    else:
        print(json.dumps(_attach_legs(bench_once())))
