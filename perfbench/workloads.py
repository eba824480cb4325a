"""The benchmark's workloads, each a closed loop with one client on
local[<cores>].

search_session  keystrokes against a written and reopened index
upsert_refresh  single-bucket upserts into a resumable 4-bucket index

A run sets up (session, staged pages, index), warms up on inputs from a
disjoint seed stream, measures ops for the given seconds and then checks
the outputs. Only public functions of the package are called; the spans
are recorded here, around those calls."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import signal
import time
import traceback

import pandas as pd
from pyspark.sql import functions as F

from tika_xapian_spark.functions import porter2
from tika_xapian_spark.functions.tokenizer import index_document
from tika_xapian_spark.operators.extract import parse_page
from tika_xapian_spark.operators.index import (
    InvertedIndex,
    assemble_fields,
    bucket_col,
    extract_index_carrier,
)
from tika_xapian_spark.plans.query_compiler import compile_query, search
from tika_xapian_spark.session import get_spark
from tika_xapian_spark.sources.pages import PAGES_SCHEMA
from tika_xapian_spark.streaming.resume import index_resumable, read_postings, upsert_postings

from . import eventlog, inputs
from .measure import (
    StealMeter,
    Tracer,
    dir_bytes,
    median,
    running,
    tail_percentile,
    tree_cpu_s,
    tree_pids,
    tree_rss_mb,
)

PAGES = 1000  # pages per workload index; every index fits in the page cache
DRIVER_MEMORY = "2g"  # local-mode heap, well inside the host's RAM
STAGE_REPEATS = 3  # input staging is repeated; setup_s takes the median
WARM_CYCLES = 1  # four keystrokes
MIN_CYCLES = 2
WARM_UPSERTS = 3
UPSERT_BUCKETS = 4  # the CLI default is 16; see README (time budget)
UPSERT_BATCH = 2  # pages per upsert, all in one bucket
PAGE_SIZE = 100  # the TUI's k
COLS = [f.name for f in PAGES_SCHEMA.fields]

END_TO_END_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "disk_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
    "ok_share": "ratio",
}

# A workload that does not exercise a layer reports 0 for its metrics and
# names them under "not_exercised" in the diagnostics line.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.stage_s": "s",
    "sources.scan_s": "s",
    "extract.parse_us_per_page": "us",
    "extract.ok_ratio": "ratio",
    "tokenize.us_per_page": "us",
    "tokenize.terms_per_page": "count",
    "stem.us_per_call": "us",
    "index.build_s": "s",
    "index.write_s": "s",
    "index.postings_rows": "count",
    "index.bytes.postings": "bytes",
    "index.bytes.doc_stats": "bytes",
    "index.bytes.term_stats": "bytes",
    "index.bytes.vocab_frag": "bytes",
    "index.open_s": "s",
    "compile.us_per_query": "us",
    "search.build_ms": "ms",
    "search.jobs_per_query": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "search.exec_ms": "ms",
    "search.rows_scanned": "count",
    "resume.index_s": "s",
    "upsert.call_s": "s",
    "upsert.buckets_rewritten": "count",
    "upsert.bytes_rewritten": "bytes",
    "upsert.bytes_written_per_input_byte": "ratio",
    "spark.tasks_per_op": "count",
    "spark.task_s_per_op": "s",
    "spark.scheduler_delay_ms_per_op": "ms",
    "spark.stage_skew": "ratio",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "jvm.gc_ms_per_op": "ms",
    "process.cpu_s_per_op": "s",
    "trace.throughput_per_s": "1/s",
    "trace.overhead_share": "ratio",
}


class BenchRun:
    """One run: its Spark session, work directory, tracer, per-layer
    values, diagnostics and failed output checks."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.tracer = Tracer(trace)
        self.spark = None
        self.layer: dict[str, float] = {}
        self.setup_parts: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}  # per-layer values per traced op
        self.diag: dict = {}
        self.failures: list[str] = []
        self.op_errors: dict[str, int] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def fresh_dir(self, name: str) -> str:
        p = self.path(name)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, traced: bool = True):
        """A span when tracing and ``traced``, else nothing."""
        if traced:
            with self.tracer.span(name, op):
                yield
        else:
            yield

    def sample(self, name: str, value: float, op: int) -> None:
        self.samples.setdefault(name, []).append(value)
        self.tracer.count(name, value, op)

    # -- session -----------------------------------------------------------
    def start_session(self) -> None:
        cores = len(os.sched_getaffinity(0))
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")  # wins over spark.local.dir
        jvm_opts = f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's helper JVM
        for d in ("spark-local", "tmp", "events"):
            os.makedirs(self.path(d), exist_ok=True)
        conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": jvm_opts,
        }
        if self.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.path("events")
            conf["spark.eventLog.compress"] = "false"  # read back as JSON lines
        t0 = time.perf_counter()
        with self.span("session.start"):
            self.spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                                   extra_conf=conf)
        self.setup_parts["session"] = self.layer["session.start_s"] = time.perf_counter() - t0
        self.diag["cores"] = cores

    def close(self, timeout_s: float = 60.0) -> None:
        """Stop Spark and wait until the JVM and every Python worker it
        started have ended (workers outlive the JVM as orphans, so they are
        tracked by pid, not through the process tree)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        started = tree_pids()[1:]
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=timeout_s)
        deadline = time.monotonic() + timeout_s
        while running(started) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in running(started):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
        while running(started) and time.monotonic() < deadline + 10:
            time.sleep(0.1)

    # -- set-up shared by the workloads -------------------------------------
    def stage_pages(self, ids: range) -> str:
        """Generate and stage the pages STAGE_REPEATS times into fresh
        directories, keeping the last; setup_s counts the median."""
        times, paths = [], []
        for rep in range(STAGE_REPEATS):
            out = self.fresh_dir(f"pages-{rep}")
            t0 = time.perf_counter()
            with self.span("sources.stage"):
                pdf = pd.DataFrame(inputs.page_rows(ids))[COLS]
                self.spark.createDataFrame(pdf, PAGES_SCHEMA).write.parquet(out)
            times.append(time.perf_counter() - t0)
            paths.append(out)
        for p in paths[:-1]:
            shutil.rmtree(p)
        self.setup_parts["stage"] = self.layer["sources.stage_s"] = median(times)
        self.diag["stage_s"] = [round(t, 3) for t in times]
        return paths[-1]

    def layer_probe(self, ids: range) -> tuple[int, int]:
        """Parse, tokenize and stem every page in-process. Returns the
        ok-page count and the posting count the index must hold, and
        records each layer's time per page or per call."""
        rows = inputs.page_rows(ids)
        t0 = time.perf_counter()
        with self.span("extract.parse"):
            docs = [parse_page(r["url"], r["html"]) for r in rows]
        t1 = time.perf_counter()
        ok = [d for d in docs if d["status"] == "ok"]
        with self.span("tokenize"):
            toks = [index_document(assemble_fields(
                d["author"], d["date"], d["filename"], d["full_path"],
                d["title"], d["subtitle"], d["tags"], d["body"])) for d in ok]
        t2 = time.perf_counter()
        words = sorted({t.term for ts in toks for t in ts
                        if t.pos is not None and t.term.isalpha() and t.term.islower()})
        with self.span("stem"):
            for w in words:
                porter2.stem(w)
        t3 = time.perf_counter()
        self.layer.update({
            "extract.parse_us_per_page": 1e6 * (t1 - t0) / len(rows),
            "extract.ok_ratio": len(ok) / len(rows),
            "tokenize.us_per_page": 1e6 * (t2 - t1) / max(1, len(ok)),
            "tokenize.terms_per_page": sum(map(len, toks)) / max(1, len(ok)),
            "stem.us_per_call": 1e6 * (t3 - t2) / max(1, len(words)),
        })
        n_ok = sum(map(inputs.is_ok, ids))
        self.check(len(ok) == n_ok, f"in-process extract: {len(ok)} ok pages != {n_ok}")
        return n_ok, sum(len({t.term for t in ts}) for ts in toks)

    def scan_probe(self, pages_path: str) -> None:
        t0 = time.perf_counter()
        with self.span("sources.scan"):
            self.spark.read.parquet(pages_path).write.format("noop").mode(
                "overwrite").save()
        self.layer["sources.scan_s"] = time.perf_counter() - t0

    def gc_ms(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    # -- the measured loop ---------------------------------------------------
    def measure(self, ops, run_op, unit: int = 1, min_units: int = 1) -> dict:
        """Run ops until ``seconds`` have passed, in whole units of ``unit``
        ops and at least ``min_units`` of them; the op in flight finishes.
        ``run_op(n, item, traced)`` does one op. An op that raises counts
        as failed and the loop goes on. With tracing, odd units are traced
        and even ones are not, so both halves share the run's conditions
        and their throughput difference is the tracing overhead."""
        if self.trace:
            min_units = max(min_units, 2)  # a traced and an untraced unit
        lat_ok, walls = [], []
        halves = {True: [0.0, 0], False: [0.0, 0]}  # traced? -> [wall, ok ops]
        steal = StealMeter()
        cpu0 = tree_cpu_s()
        gc0 = self.gc_ms() if self.trace else 0.0
        rss = [tree_rss_mb()]
        sc = self.spark.sparkContext
        start = time.perf_counter()
        for n, item in enumerate(ops):
            if (n % unit == 0 and n >= unit * min_units
                    and time.perf_counter() - start >= self.seconds):
                break
            traced = self.trace and (n // unit) % 2 == 1
            sc.setJobGroup(f"{'op' if traced else 'bare'}{n}", "perfbench op")
            t0 = time.perf_counter()
            ok = False
            try:
                with self.span("op", n, traced):
                    run_op(n, item, traced)
                ok = True
            except Exception as e:  # count the failure and go on
                key = f"{type(e).__name__}: {str(e).splitlines()[0][:80] if str(e) else ''}"
                self.op_errors[key] = self.op_errors.get(key, 0) + 1
                if self.op_errors[key] == 1 and not isinstance(e, ValueError):
                    traceback.print_exc()
            wall = time.perf_counter() - t0
            walls.append(wall)
            if ok:
                lat_ok.append(wall)
            halves[traced][0] += wall
            halves[traced][1] += ok
            rss.append(tree_rss_mb())
            steal.tick()
        window = time.perf_counter() - start
        sc.setJobGroup("after", "perfbench checks")
        n = len(walls)
        self.layer["process.cpu_s_per_op"] = (tree_cpu_s() - cpu0) / max(1, n)
        if self.trace:
            self.layer["jvm.gc_ms_per_op"] = (self.gc_ms() - gc0) / max(1, n)
            (t_wall, t_ok), (b_wall, b_ok) = halves[True], halves[False]
            if t_wall > 0 and b_wall > 0 and b_ok > 0:
                t_tp, b_tp = t_ok / t_wall, b_ok / b_wall
                self.layer["trace.throughput_per_s"] = t_tp
                self.layer["trace.overhead_share"] = (b_tp - t_tp) / b_tp
        tail = tail_percentile([1000 * x for x in lat_ok])
        self.diag.update(
            ops=n, ok_ops=len(lat_ok), window_s=round(window, 3),
            op_ms=[round(1000 * w) for w in walls],
            cpu_s_per_op=round(self.layer["process.cpu_s_per_op"], 3),
            steal_mean=round(steal.mean(), 4), steal_peak=round(steal.peak, 4),
            latency_tail_ms=None if tail is None else {"q": tail[0], "ms": round(tail[1], 1)},
            op_errors=self.op_errors,
        )
        return {
            "attempted": n,
            "failed": n - len(lat_ok),
            "throughput_per_s": len(lat_ok) / sum(walls) if walls else 0.0,
            "latency_p50_ms": 1000 * median(lat_ok) if lat_ok else 0.0,
            "peak_rss_mb": max(rss),
            "ok_share": len(lat_ok) / max(1, n),
        }

    def engine_layers(self) -> dict[str, dict]:
        """Per-op Spark engine metrics of the traced ops, from the event log."""
        per_op = eventlog.op_metrics(eventlog.read_events(self.path("events")), "op")
        self.diag["traced_ops_with_jobs"] = len(per_op)
        vals = list(per_op.values())
        if vals:
            skews = [s for v in vals for s in v["stage_skews"]]
            self.layer.update({
                "spark.tasks_per_op": median([v["tasks"] for v in vals]),
                "spark.task_s_per_op": median([v["task_s"] for v in vals]),
                "spark.scheduler_delay_ms_per_op": median([v["sched_delay_ms"] for v in vals]),
                "spark.stage_skew": median(skews) if skews else 1.0,
                "spark.shuffle_bytes_per_op": median([v["shuffle_bytes"] for v in vals]),
                "spark.spill_bytes_per_op": median([v["spill_bytes"] for v in vals]),
            })
        return per_op

    def result(self, loop: dict, setup_s: float, disk_ratio: float) -> dict:
        if self.trace:
            for key, vals in self.samples.items():
                self.layer[key] = median(vals)
            self.diag["not_exercised"] = sorted(k for k in PER_LAYER_UNITS if k not in self.layer)
            values = {k: float(self.layer.get(k, 0.0)) for k in PER_LAYER_UNITS}
            units = PER_LAYER_UNITS
        else:
            values = {
                "setup_s": setup_s,
                "throughput_per_s": loop["throughput_per_s"],
                "latency_p50_ms": loop["latency_p50_ms"],
                "disk_bytes_per_input_byte": disk_ratio,
                "peak_rss_mb": loop["peak_rss_mb"],
                "ok_share": loop["ok_share"],
            }
            units = END_TO_END_UNITS
        self.diag["setup_parts_s"] = {k: round(v, 3) for k, v in self.setup_parts.items()}
        self.diag["check_failures"] = self.failures
        return {
            "correct": not self.failures and loop["attempted"] > 0,
            "attempted": loop["attempted"],
            "failed": loop["failed"],
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }

def _catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase times of the DataFrame's query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def search_session(run: BenchRun) -> dict:
    """Set-up builds, writes and reopens an index of PAGES pages; each op is
    one keystroke, search(idx, text, k=100, partial=True).collect()."""
    ids = inputs.page_ids(run.seed, PAGES)
    pages_path = run.stage_pages(ids)
    index_dir = run.fresh_dir("index")
    t0 = time.perf_counter()
    with run.span("index.build"):
        idx = InvertedIndex.from_fused_carrier(
            extract_index_carrier(run.spark.read.parquet(pages_path)))
    t1 = time.perf_counter()
    with run.span("index.write"):
        idx.write(index_dir)
    t2 = time.perf_counter()
    idx.unpersist()
    with run.span("index.open"):
        idx = InvertedIndex.read(run.spark, index_dir)
    t3 = time.perf_counter()
    run.setup_parts.update(build=t1 - t0, write=t2 - t1, open=t3 - t2)
    run.layer.update({"index.build_s": t1 - t0, "index.write_s": t2 - t1,
                      "index.open_s": t3 - t2})
    setup_s = sum(run.setup_parts.values())

    # set-up checks, not timed: every ok page is a doc, and the index holds
    # exactly the postings the in-process tokenizer predicts
    n_ok, expected_postings = run.layer_probe(ids)
    postings_rows = idx.postings.count()
    run.layer["index.postings_rows"] = postings_rows
    run.check(idx.n_docs == n_ok, f"n_docs {idx.n_docs} != ok pages {n_ok}")
    run.check(postings_rows == expected_postings,
              f"postings {postings_rows} != expected {expected_postings}")
    for table in ("postings", "doc_stats", "term_stats", "vocab_frag"):
        run.layer[f"index.bytes.{table}"] = dir_bytes(os.path.join(index_dir, table))
    if run.trace:
        run.scan_probe(pages_path)

    warm = inputs.keystroke_cycles(run.seed, ids, True)
    for _ in range(WARM_CYCLES):
        for q, _target in next(warm):
            with contextlib.suppress(ValueError):  # the incomplete operator
                search(idx, q, k=PAGE_SIZE, partial=True).collect()

    typed, bad_pages, unique_tops = [], [], []

    def keystroke(n: int, item, traced: bool) -> None:
        q, target = item
        typed.append(q)
        t0 = time.perf_counter()
        with run.span("search.build", n, traced):
            df = search(idx, q, k=PAGE_SIZE, partial=True)
        t1 = time.perf_counter()
        with run.span("search.exec", n, traced):
            rows = df.collect()
        if traced:
            run.sample("search.build_ms", 1000 * (t1 - t0), n)
            run.sample("search.exec_ms", 1000 * (time.perf_counter() - t1), n)
            for phase, ms in _catalyst_ms(df).items():
                run.sample(f"catalyst.{phase}_ms", ms, n)
        scores = [r["score"] for r in rows]
        if len(rows) > PAGE_SIZE or any(a < b for a, b in zip(scores, scores[1:])):
            bad_pages.append(q)
        if target is not None:
            unique_tops.append((target, rows[0]["doc"] if rows else None))

    cycles = inputs.keystroke_cycles(run.seed, ids, False)
    loop = run.measure((k for c in cycles for k in c), keystroke,
                       unit=len(inputs.CYCLE), min_units=MIN_CYCLES)

    # output checks, not timed: every answered keystroke returned a ranked
    # page of at most 100 rows, and every completed unique term (at least
    # one per cycle) ranked its own page first
    run.check(not bad_pages, f"result pages unranked or over {PAGE_SIZE} rows: {bad_pages[:3]}")
    run.check(len(unique_tops) >= MIN_CYCLES, "too few unique-term keystrokes answered")
    for t, top in unique_tops:
        url = inputs.gen_row(t)["url"]
        run.check(top == url, f"unique term {t}: {url} not ranked first (got {top})")

    if run.trace:
        per_op = run.engine_layers()
        if per_op:
            run.layer["search.jobs_per_query"] = median([v["jobs"] for v in per_op.values()])
            run.layer["search.rows_scanned"] = median(
                [v["records_read"] for v in per_op.values()])
        t0 = time.perf_counter()
        for q in typed:
            compile_query(q, True)
        run.layer["compile.us_per_query"] = 1e6 * (time.perf_counter() - t0) / max(1, len(typed))
    return run.result(loop, setup_s, dir_bytes(index_dir) / dir_bytes(pages_path))


def upsert_refresh(run: BenchRun) -> dict:
    """Set-up runs index_resumable (UPSERT_BUCKETS buckets) over PAGES
    pages; each op upserts UPSERT_BATCH edited pages that share one bucket."""
    ids = inputs.page_ids(run.seed, PAGES)
    pages_path = run.stage_pages(ids)
    out_dir = run.fresh_dir("resumable")
    t0 = time.perf_counter()
    with run.span("resume.index"):
        summary = index_resumable(run.spark, run.spark.read.parquet(pages_path),
                                  out_dir, UPSERT_BUCKETS)
    run.setup_parts["index"] = run.layer["resume.index_s"] = time.perf_counter() - t0
    setup_s = sum(run.setup_parts.values())
    # the index as set-up left it: how many upserts a run fits must not move it
    disk = dir_bytes(os.path.join(out_dir, "postings")) / dir_bytes(pages_path)

    # set-up checks, not timed: every bucket committed, with every ok page
    # and the postings the in-process tokenizer predicts
    n_ok, expected_postings = run.layer_probe(ids)
    markers = []
    for b in range(UPSERT_BUCKETS):
        with open(os.path.join(out_dir, "_checkpoints", f"bucket_{b:05d}.done")) as f:
            markers.append(json.load(f))
    run.check(summary["processed"] == list(range(UPSERT_BUCKETS)), "not every bucket processed")
    run.check(sum(m["n_ok"] for m in markers) == n_ok, "resumable n_ok != ok pages")
    run.check(sum(m["n_postings"] for m in markers) == expected_postings,
              "resumable postings != expected")
    if run.trace:
        run.scan_probe(pages_path)

    # the bucket of every Markdown page, via the package's own bucket_col
    md_urls = [(inputs.gen_row(i)["url"],) for i in ids
               if i % inputs.PAGE_CASES == inputs.MARKDOWN_CASE]
    bucket_of = {
        r["url"]: r["b"]
        for r in run.spark.createDataFrame(md_urls, "url string")
        .select("url", bucket_col("url", UPSERT_BUCKETS).alias("b")).collect()
    }

    def batch_frame(batch):
        rows = [inputs.edited_page(i, tag) for i, tag in batch]
        return run.spark.createDataFrame(pd.DataFrame(rows)[COLS], PAGES_SCHEMA), rows

    for batch in inputs.edit_batches(run.seed, ids, bucket_of, UPSERT_BATCH, True)[:WARM_UPSERTS]:
        upsert_postings(run.spark, out_dir, batch_frame(batch)[0], UPSERT_BUCKETS)

    done, bad = [], []

    def upsert(n: int, batch, traced: bool) -> None:
        frame, rows = batch_frame(batch)  # input prep, ahead of the call
        t0 = time.perf_counter()
        with run.span("upsert.call", n, traced):
            res = upsert_postings(run.spark, out_dir, frame, UPSERT_BUCKETS)
        call_s = time.perf_counter() - t0
        want = [bucket_of[inputs.gen_row(batch[0][0])["url"]]]
        if res["rewritten_buckets"] != want:
            bad.append((res["rewritten_buckets"], want))
        done.append(batch)
        if traced:
            written = dir_bytes(os.path.join(out_dir, "postings", f"bucket={want[0]}"))
            run.sample("upsert.call_s", call_s, n)
            run.sample("upsert.buckets_rewritten", len(res["rewritten_buckets"]), n)
            run.sample("upsert.bytes_rewritten", written, n)
            run.sample("upsert.bytes_written_per_input_byte",
                       written / sum(len(r["html"]) for r in rows), n)

    measured = inputs.edit_batches(run.seed, ids, bucket_of, UPSERT_BATCH, False)
    loop = run.measure(measured, upsert)
    run.check(not bad, f"upserts rewrote other buckets than their own: {bad[:3]}")

    # output check, not timed: the pages of the first and the last upsert
    # carry their fresh term and no longer their stale one
    run.check(bool(done), "no upsert completed")
    urls = {inputs.gen_row(i)["url"]: tag for b in done[:1] + done[-1:] for i, tag in b}
    found = {
        (r["doc"], r["term"])
        for r in read_postings(run.spark, out_dir)
        .filter(F.col("doc").isin(list(urls)))
        .filter(F.col("term").isin(list(urls.values()) + [inputs.STALE_TERM]))
        .select("doc", "term").collect()
    }
    for url, tag in urls.items():
        run.check((url, tag) in found, f"{url}: fresh term {tag} missing")
        run.check((url, inputs.STALE_TERM) not in found, f"{url}: stale term still indexed")

    if run.trace:
        run.engine_layers()
    return run.result(loop, setup_s, disk)


WORKLOADS = {"search_session": search_session, "upsert_refresh": upsert_refresh}
