"""The benchmark's two workloads, both one client in one process, closed
loop, Spark at ``local[nproc]``.

``headline_warm``: the 15 headline queries of ``bench.py`` at sf0.01 over
``warm_lake``-cached tables, each run to the noop sink.  The seed permutes
the query order of every round.  All data sits in Spark's cache, so the
time goes to DataFrame construction, Catalyst and job dispatch.

``cardano_chain``: the reference's own path, write side then read side.  A
seeded, replicated Ogmios block stream with one rollback goes through
``ingest_blocks(..., reconcile_rollbacks=True)`` at the CLI's default batch
of 100 blocks into a fresh lake, then ``compact_lake`` runs, then the
reference's reports run over the lake the product wrote, for the run's
``--seconds``: the high-fee report through ``cli.main(["query", ...])`` and
``token_transfer_report`` unwindowed and slot-windowed.  The seed picks the
replica tx-id prefixes, the rollback position, the report window's place
and the fee threshold.  Nothing is Spark-cached, so the time goes to the
block-to-DataFrame path, the flush fan-out, rollback and compaction
rewrites, and generation-resolving, manifest-pruned reads.

Both workloads report the same end-to-end metrics (``END_TO_END``).  All
but ``setup_s`` are times divided by the median time of a fixed Spark job
run between the timed operations (``Reference``): the reads by its samples
among the reads, the load by those around the load.  The detail line
gives them in seconds.

- ``setup_s``: session start plus the median of ``SETUP_REPEATS`` data
  preparations (``warm_lake`` from cold tables; the first flush of a small
  stream into a fresh lake).
- ``suite_x``: over the read operation kinds (15 queries; 3 reports), the
  sum of each kind's median caller-wait: build, plan, execute, result back.
- ``query_p50_x`` / ``query_tail_x``: caller-wait over all read calls.
  The tail is the highest percentile with ten calls beyond it; below 20
  calls (the chain's 9 reports) it is the slowest report kind's median.
- ``load_x``: putting the data into the layout the reads use: the median
  ``warm_lake``; ``ingest_blocks`` plus ``compact_lake``.

Inputs and the DuckDB oracle answers are made in a child process before
Spark starts, so neither lands in the program's memory or time.  Each
workload returns a ``Result``; ``run.py`` prints it.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import math
import multiprocessing
import os
import random
import re
import statistics
import time
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field

import synth
from tracing import TRACE_CONF, Span, Tracer

HEADLINE = (
    "high_value_orders",
    "order_summary_stats",
    "pricing_summary",
    "revenue_by_region",
    "order_brand_sets",
    "cross_nation_orders",
    "top_orders_per_customer",
    "user_sessions",
    "events_tumbling_5min",
    "exact_dedup_groups",
    "minhash_band_buckets",
    "simhash_fingerprints",
    "cosine_topk",
    "lsh_bucket_assignments",
    "doc_quality_scores",
)
STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
HEADLINE_SF = 0.01
HEADLINE_MIN_ROUNDS = 3
SETUP_REPEATS = 3

CHAIN_BLOCKS = 200
CHAIN_BATCH = 100  # the CLI's default --batch-size
WARMUP_BLOCKS = 10
ROLLBACK_DEPTH = 20
REPORT_MIN_ROUNDS = 3
REPORTS = ("high_fee", "token_full", "token_window")

# The unit of every metric, end-to-end and per-layer.  Per-layer "suite"
# figures sum, over a workload's operation kinds, the median per operation,
# like suite_s.  A layer a workload does not exercise reads 0.
UNITS = {
    "setup_s": "s",
    "suite_x": "x",
    "query_p50_x": "x",
    "query_tail_x": "x",
    "load_x": "x",
    "plans.session_start_s": "s",
    "plans.peak_rss_mb": "MB",
    "operators.construct_ms": "ms",
    "operators.py4j_calls": "count",
    "operators.plan_ms": "ms",
    "operators.exec_ms": "ms",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.task_busy_ratio": "ratio",
    "operators.shuffle_write_bytes": "bytes",
    "lake.warm_s": "s",
    "lake.manifest_build_s": "s",
    "lake.resolve_ms": "ms",
    "lake.files_read": "count",
    "lake.files_kept_ratio": "ratio",
    "lake.bytes_read": "bytes",
    "lake.files_pre_compact": "count",
    "lake.files_post_compact": "count",
    "lake.bytes_rewritten": "bytes",
    "lake.stored_bytes_per_tx": "bytes/tx",
    "sources.to_dataframe_ms": "ms",
    "sources.generator_wait_ms": "ms",
    "streaming.ingest_blocks_per_s": "1/s",
    "streaming.flush_p50_ms": "ms",
    "streaming.flush_tail_ms": "ms",
    "streaming.flush_self_ms": "ms",
    "streaming.jobs_per_flush": "count",
    "streaming.tasks_per_flush": "count",
    "streaming.files_per_flush": "count",
    "streaming.rollback_ms": "ms",
    "streaming.compact_s": "s",
    "duckdb.suite_s": "s",
    "trace.overhead_s": "s",
    "trace.attributed_ratio": "ratio",
}
END_TO_END = ("setup_s", "suite_x", "query_p50_x", "query_tail_x", "load_x")

# The in-run reference: a fixed DuckDB aggregation, timed between the
# benchmark's operations.  Its median is the unit of the "_x" metrics.
REFERENCE_ROWS = 2_000_000
REFERENCE_WARMUP = 10
# The package's settings at the time the benchmark was written.
REFERENCE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.shuffle.partitions": "4",
}
LAYERS = tuple(k for k in UNITS if k not in END_TO_END)


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    end_to_end: dict[str, float] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)
    problems: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.correct = False
        self.problems.append(what)


def tail(values: list[float], n_min: int) -> tuple[int, float]:
    """(percentile, value) by nearest rank.  The percentile is the highest
    whole one with at least ten samples beyond it in a run's guaranteed
    ``n_min`` samples, so it does not move when a faster program fits more
    operations into a run; the maximum when ``n_min`` is ten or fewer."""
    xs = sorted(values)
    if n_min <= 10:
        return 100, xs[-1]
    p = 100 * (n_min - 10) // n_min
    return p, xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def more_rounds(rounds: int, min_rounds: int, elapsed: float, seconds: float) -> bool:
    """Closed-loop round control: at least ``min_rounds``, then only rounds
    that are expected to end within ``seconds``."""
    return rounds < min_rounds or elapsed * (rounds + 1) / rounds <= seconds


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def union_len(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, reach = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total


def in_child(fn, *args):
    """``fn(*args)`` in a fresh interpreter, waited for, so the benchmark's
    own input generation and oracle queries stay out of this process."""
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=1, mp_context=ctx) as ex:
        return ex.submit(fn, *args).result()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the Spark JVM."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _session(app: str, work: str, trace: bool, extra: dict | None = None):
    from cardano_analytics_duckdb_spark.plans import get_session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        **(extra or {}),
        **(TRACE_CONF if trace else {}),
    }
    t0 = time.perf_counter()
    spark = get_session(app_name=app, extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_spark() -> None:
    """Stop Spark, if it runs, and its JVM, and wait for the JVM to exit.
    Safe to call more than once and when Spark never started."""
    import sys

    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:
            pass  # a broken context still leaves its JVM to stop below
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    if proc is None or proc.poll() is not None:
        return
    try:
        gateway.shutdown()
    except Exception:
        pass  # the JVM may already be gone; the wait below decides
    try:
        proc.stdin.close()
    except Exception:
        pass
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


# -- output canonicalization (as the package's oracle harness compares) ----


def _canon_cell(v):
    import pandas as pd

    if v is None or v is pd.NA:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else ("float", round(v, 6))
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        return _canon_cell(v.item())
    return v


def frame_digest(df) -> str:
    """Order-independent digest of a result frame: columns by name, floats
    rounded to 6 places and tagged so 5.0 never equals 5, nulls unified."""
    parts = []
    for c in sorted(df.columns):
        s = df[c]
        if s.dtype.kind == "f":
            r = s.round(6) + 0.0  # + 0.0 folds -0.0 into 0.0
            txt = "f:" + r.astype(str)
        elif s.dtype.kind in "iub":
            txt = s.astype(str)
        else:
            txt = s.map(lambda v: str(_canon_cell(v)))
        parts.append(txt.where(s.notna(), "None").to_numpy(dtype=object))
    rows = sorted("\x1f".join(r) for r in zip(*parts))
    body = "\n".join([",".join(sorted(df.columns)), *rows])
    return hashlib.sha256(body.encode()).hexdigest()


def same_report(actual: str, expected: str) -> bool:
    """Token-wise text comparison; numbers compare to 1e-9 relative."""
    a = re.split(r"[\s=]+", actual.strip())
    e = re.split(r"[\s=]+", expected.strip())
    if len(a) != len(e):
        return False
    for x, y in zip(a, e):
        if x == y:
            continue
        try:
            if not math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-12):
                return False
        except ValueError:
            return False
    return True


class Reference:
    """Times a fixed Spark job on demand.  The host this runs on changes
    speed by tens of percent from minute to minute, and Spark's many small
    jobs slow more than CPU-bound work does; a time divided by this job's
    time, measured in the same phase of the run, cancels most of that.
    The job runs in its own session with its SQL settings pinned, so no
    change to the package's session settings moves it.  Samples are kept
    per phase ("load", "read")."""

    def __init__(self, spark):
        self.session = spark.newSession()
        for k, v in REFERENCE_CONF.items():
            self.session.conf.set(k, v)
        for _ in range(REFERENCE_WARMUP):  # until the JIT has compiled it
            self._run()
        self.samples: dict[str, list[float]] = {"load": [], "read": []}

    def _run(self) -> None:
        self.session.range(0, REFERENCE_ROWS, 1, 4).selectExpr("sum(id % 7)").collect()

    def sample(self, phase: str, n: int = 1) -> None:
        for _ in range(n):
            t0 = time.perf_counter()
            self._run()
            self.samples[phase].append(time.perf_counter() - t0)


def read_figures(per_kind: dict[str, list[float]], n_min: int):
    """((suite, p50, tail), tail percentile) of read calls by kind: the
    suite sums each kind's median; p50 and tail are over all calls.  The
    tail is the highest percentile with ten of the ``n_min`` calls beyond
    it; below 20 calls that is no tail, and it is the slowest kind's
    median instead."""
    calls = [x for v in per_kind.values() for x in v]
    suite = sum(median(v) for v in per_kind.values())
    if n_min >= 20:
        p, t = tail(calls, n_min)
    else:
        p, t = "slowest kind's median", max(median(v) for v in per_kind.values())
    return suite, median(calls), t, p


def end_to_end(res: Result, ref: Reference, setup_s: float, load_s: float,
               wait: dict[str, list[float]], n_min: int) -> float:
    """Set the end-to-end metrics from the load time and, per read kind,
    the calls' caller-wait; reads are divided by the reference of the read
    phase, the load by that of the load phase.  The same figures in
    seconds go to the detail line.  Returns the suite in seconds."""
    suite_s, p50_s, tail_s, p = read_figures(wait, n_min)
    load_r = median(ref.samples["load"])
    read_r = median(ref.samples["read"])
    res.end_to_end = {
        "setup_s": setup_s,
        "suite_x": suite_s / read_r,
        "query_p50_x": p50_s / read_r,
        "query_tail_x": tail_s / read_r,
        "load_x": load_s / load_r,
    }
    res.detail["in_seconds"] = {
        "reference_load_s": load_r, "reference_read_s": read_r,
        "reference_samples": {k: len(v) for k, v in ref.samples.items()},
        "suite_s": suite_s, "query_p50_s": p50_s, "query_tail_s": tail_s, "load_s": load_s,
    }
    res.detail["query_samples"] = sum(len(v) for v in wait.values())
    res.detail["query_tail_percentile"] = p
    return suite_s


def _timed_median(fn, repeats: int = 3) -> float:
    runs = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return median(runs)


# -- headline_warm ----------------------------------------------------------


def headline_inputs(sf_dir: str, trace: bool):
    """Child process: write the star tables, then answer every headline
    query with its DuckDB oracle.  Returns (row counts, result digests,
    DuckDB seconds per query when ``trace``)."""
    import duckdb

    from cardano_analytics_duckdb_spark.operators import all_oracles

    synth.write_star_tables(sf_dir, HEADLINE_SF)
    rows = {
        t: synth.pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows
        for t in STAR_TABLES
    }
    oracles = all_oracles()
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for t in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    digests = {n: frame_digest(con.execute(oracles[n]).fetchdf()) for n in HEADLINE}
    duck_s = {}
    if trace:
        for n in HEADLINE:
            duck_s[n] = _timed_median(lambda: con.execute(oracles[n]).fetchall())
    con.close()
    return rows, digests, duck_s


def headline_warm(work: str, seed: int, seconds: float, trace: bool) -> Result:
    from cardano_analytics_duckdb_spark.lake.tables import unwarm_lake, warm_lake
    from cardano_analytics_duckdb_spark.operators import all_queries

    res = Result()
    rng = random.Random(seed)
    sf_dir = os.path.join(work, f"sf{HEADLINE_SF}")
    t0 = time.perf_counter()
    res.detail["input_rows"], want, duck_s = in_child(headline_inputs, sf_dir, trace)
    res.detail["inputs_and_oracle_s"] = time.perf_counter() - t0

    # bench.py's posture: AQE off, 8 shuffle partitions.
    spark, session_s = _session(
        "perfbench-headline", work, trace,
        {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "8"},
    )
    tr = Tracer(spark, trace)
    ref = Reference(spark)
    warm_s = []
    for i in range(SETUP_REPEATS):
        if i:
            unwarm_lake(sf_dir)
        t0 = time.perf_counter()
        warm_lake(spark, sf_dir)
        warm_s.append(time.perf_counter() - t0)
        ref.sample("load", 3)

    # Correctness, untimed.  It is also each query's first run, which
    # compiles its generated code before the timed rounds.
    queries = all_queries()
    t0 = time.perf_counter()
    for name in HEADLINE:
        res.attempted += 1
        try:
            got = frame_digest(queries[name](spark, sf_dir).toPandas())
        except Exception as e:  # a failing query is counted, not fatal
            res.fail(f"{name}: {type(e).__name__}: {e}")
            continue
        if got != want[name]:
            res.fail(f"{name}: result differs from its DuckDB oracle")
    res.detail["check_s"] = time.perf_counter() - t0

    tr.patch("cardano_analytics_duckdb_spark.lake.tables", "load_table", "lake")
    tr.patch("cardano_analytics_duckdb_spark.lake.layout", "resolve_bucketed", "lake")
    tr.patch("cardano_analytics_duckdb_spark.lake.generations", "read_table", "lake")
    tr.count_py4j()

    # Timed rounds.  A traced run alternates untraced and traced rounds so
    # that the tracing overhead is measured in the same process.
    wait: dict[str, list[float]] = {n: [] for n in HEADLINE}
    construct: dict[str, list[float]] = {n: [] for n in HEADLINE}
    traced: dict[str, list[int]] = {n: [] for n in HEADLINE}
    round_s = []
    min_rounds = HEADLINE_MIN_ROUNDS + 1 if trace else HEADLINE_MIN_ROUNDS
    t_start = time.perf_counter()
    rounds = 0
    while more_rounds(rounds, min_rounds, time.perf_counter() - t_start, seconds):
        order = list(HEADLINE)
        rng.shuffle(order)
        traced_round = trace and rounds % 2 == 1
        tr.enabled = traced_round
        t_round = time.perf_counter()
        for name in order:
            res.attempted += 1
            try:
                with tr.op(name) as op:
                    with tr.span("operators.construct", layer="operators") as cons:
                        df = queries[name](spark, sf_dir)
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                res.fail(f"{name}: {type(e).__name__}: {e}")
                continue
            if traced_round:
                traced[name].append(tr.spans.index(op))
            else:
                wait[name].append(op.dur)
                construct[name].append(cons.dur)
                ref.sample("read")
        round_s.append(time.perf_counter() - t_round)
        rounds += 1
    tr.enabled = trace

    suite = end_to_end(res, ref, session_s + median(warm_s), median(warm_s), wait,
                       HEADLINE_MIN_ROUNDS * len(HEADLINE))
    res.detail["peak_rss_mb"] = peak_rss_mb(spark)
    res.detail.update(
        session_start_s=session_s,
        warm_s=warm_s,
        rounds=rounds,
        round_s=round_s,
        # bench.py's `value`: execution only, construction excluded
        value_excl_construct=sum(
            median(w - c for w, c in zip(wait[n], construct[n])) for n in HEADLINE
        ),
        construct_s=sum(median(construct[n]) for n in HEADLINE),
        query_median_s={n: median(wait[n]) for n in HEADLINE},
    )

    if trace:
        tr.spark_counters()
        res.per_layer = _headline_layers(tr, traced, suite, session_s,
                                         res.detail["peak_rss_mb"], warm_s, duck_s)
        res.detail["duckdb_median_s"] = duck_s
        res.spans = tr.dump()
    tr.close()
    stop_spark()
    return res


def _op_figures(tr, sid: int, build_end: float) -> dict[str, float]:
    """Per-layer figures of one traced operation.  Spark work is split at
    the first job submitted after ``build_end``: before it the action is
    analysed, optimized and planned; from it on, the time jobs run."""
    op = tr.spans[sid]
    since = math.floor(build_end * 1000) / 1000  # Spark stamps whole ms
    jobs = [(a, b) for a, b in op.attrs["job_spans"] if a >= since]
    plan_s = max(0.0, min(a for a, _ in jobs) - build_end) if jobs else 0.0
    return {
        "py4j_calls": op.attrs["py4j_calls"],
        "plan_ms": 1000 * plan_s,
        "exec_ms": 1000 * union_len(jobs),
        "resolve_ms": 1000 * sum(s.dur for s in tr.top_layer_spans(sid, "lake")),
        "jobs": op.attrs["jobs"],
        "stages": op.attrs["stages"],
        "tasks": op.attrs["tasks"],
        "task_run_ms": op.attrs["task_run_ms"],
        "shuffle_write_bytes": op.attrs["shuffle_write_bytes"],
        "files_read": op.attrs["files_read"],
        "bytes_read": op.attrs["input_bytes"],
    }


def _operator_layers(per_kind: dict[str, list[dict]]) -> dict[str, float]:
    """Suite figures (sum over kinds of the per-kind median) of the
    ``operators`` and ``lake`` read layers."""
    def suite_of(key):
        return sum(median(f[key] for f in figs) for figs in per_kind.values() if figs)

    figs = [f for v in per_kind.values() for f in v]
    busy_ms = sum(f["task_run_ms"] for f in figs)
    exec_ms = sum(f["exec_ms"] for f in figs)
    cores = os.cpu_count() or 1
    return {
        "operators.py4j_calls": suite_of("py4j_calls"),
        "operators.plan_ms": suite_of("plan_ms"),
        "operators.exec_ms": suite_of("exec_ms"),
        "operators.jobs": suite_of("jobs"),
        "operators.stages": suite_of("stages"),
        "operators.tasks": suite_of("tasks"),
        "operators.task_busy_ratio": busy_ms / (exec_ms * cores) if exec_ms else 0.0,
        "operators.shuffle_write_bytes": suite_of("shuffle_write_bytes"),
        "lake.resolve_ms": suite_of("resolve_ms"),
        "lake.files_read": suite_of("files_read"),
        "lake.bytes_read": suite_of("bytes_read"),
    }


def _headline_layers(tr, traced, suite, session_s, peak_rss, warm_s,
                     duck_s) -> dict[str, float]:
    per_kind: dict[str, list[dict]] = {}
    attributed = []
    for name, sids in traced.items():
        for sid in sids:
            op = tr.spans[sid]
            cons = next(c for c in tr.children(sid) if c.name == "operators.construct")
            f = _op_figures(tr, sid, cons.end)
            # Self times: construction outside the lake calls, the lake
            # calls, planning, execution.  What they leave uncovered is
            # time no layer boundary accounts for.
            f["construct_ms"] = 1000 * cons.dur - f["resolve_ms"]
            f["py4j_calls"] = cons.attrs["py4j_calls"]
            f["wait_ms"] = 1000 * op.dur
            self_ms = f["construct_ms"] + f["resolve_ms"] + f["plan_ms"] + f["exec_ms"]
            attributed.append(self_ms / f["wait_ms"])
            per_kind.setdefault(name, []).append(f)

    layers = dict.fromkeys(LAYERS, 0.0)
    layers.update(_operator_layers(per_kind))
    layers.update({
        "plans.session_start_s": session_s,
        "plans.peak_rss_mb": peak_rss,
        "operators.construct_ms": sum(
            median(f["construct_ms"] for f in v) for v in per_kind.values()),
        "lake.warm_s": median(warm_s),
        "duckdb.suite_s": sum(duck_s.values()),
        "trace.overhead_s": sum(
            median(f["wait_ms"] for f in v) for v in per_kind.values()) / 1000 - suite,
        "trace.attributed_ratio": median(attributed),
    })
    return layers


# -- cardano_chain ----------------------------------------------------------


def lake_files(root: str) -> dict[str, int]:
    """Size of every parquet data file of a lake, manifests excluded."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith("_manifest")]
        for f in files:
            if f.endswith(".parquet"):
                path = os.path.join(d, f)
                out[path] = os.path.getsize(path)
    return out


class Recorder:
    """Wraps the block stream: records when each event is handed to ingest
    and when ingest asks for the next one, and the time the stream itself
    took to make each event."""

    def __init__(self, events):
        self.events = events
        self.handover: list[float] = []
        self.request: list[float] = []
        self.generator_wait = 0.0

    def __iter__(self):
        self.request.append(time.time())
        for ev in self.events:
            ready = time.time()
            self.generator_wait += ready - self.request[-1]
            self.handover.append(ready)
            yield ev
            self.request.append(time.time())

    def flush_windows(self, batch: int, end: float) -> list[tuple[float, float]]:
        """(handover of a batch's last event, request for the next event):
        ``ingest_blocks`` pulls a whole batch of events, then writes it.  A
        short last batch is written only once the stream is exhausted, so
        its window closes at ``end``, when ingest returned."""
        n = len(self.handover)
        ends = [i for i in range(batch - 1, n, batch)]
        windows = [(self.handover[i], self.request[i + 1]) for i in ends]
        if n % batch:
            windows.append((self.handover[n - 1], end))
        return windows


def _report_texts(con, oracle_root: str, min_fee: int,
                  window: tuple[int, int]) -> dict[str, str]:
    """The three report texts, computed by DuckDB over the expected lake
    with the package's own oracle SQL pointed at it."""
    from cardano_analytics_duckdb_spark.lake.fixtures import DEFAULT_LAKE_ROOT
    from cardano_analytics_duckdb_spark.operators.cardano import _token_transfers_sql

    scan = f"read_parquet('{oracle_root}/tx/slot_group=*/*.parquet', hive_partitioning=1)"
    top = con.execute(
        f"SELECT slot, lower(hex(tx_id)) AS h, tx_fee FROM {scan} "
        f"WHERE tx_fee > {min_fee} ORDER BY tx_fee DESC, h LIMIT 100"
    ).fetchall()
    n, avg, mx, mn = con.execute(
        f"SELECT count(*), floor(avg(tx_fee) / 1e6 * 1e6 + 0.5) / 1e6, "
        f"floor(max(tx_fee) / 1e6 * 1e6 + 0.5) / 1e6, "
        f"floor(min(tx_fee) / 1e6 * 1e6 + 0.5) / 1e6 FROM {scan}"
    ).fetchone()
    lines = [f"Top {len(top)} transactions by fee (> {min_fee} lovelace):"]
    lines += [f"  slot={s} tx={h} fee={f}" for s, h, f in top]
    lines.append(f"Summary: n={n} avg={avg} ADA max={mx} ADA min={mn} ADA")
    out = {"high_fee": "\n".join(lines)}

    for key, (lo, hi) in (("token_full", (None, None)), ("token_window", window)):
        sql = _token_transfers_sql(lo, hi).replace(DEFAULT_LAKE_ROOT, oracle_root)
        cnt, fee_ada, avg_ada, s0, s1 = con.execute(
            f"WITH t AS ({sql}) SELECT count(*), "
            f"floor(sum(tx_fee) / 1e6 * 1e6 + 0.5) / 1e6, "
            f"floor(avg(tx_fee) / 1e6 * 1e6 + 0.5) / 1e6, min(slot), max(slot) FROM t"
        ).fetchone()
        if cnt == 0:
            out[key] = "No ownership-changing token transfers found."
            continue
        by_type = con.execute(
            f"WITH t AS ({sql}) SELECT CASE WHEN input_addr_set IS NULL THEN 'mint' "
            f"WHEN output_addr_set IS NULL THEN 'burn' ELSE 'transfer' END AS k, "
            f"count(*), floor(avg(tx_fee) / 1e6 * 1e6 + 0.5) / 1e6 FROM t "
            f"GROUP BY k ORDER BY k"
        ).fetchall()
        lines = [
            "TOKEN TRANSFER FEE ANALYSIS", "=" * 40,
            f"Ownership-changing transfers: {cnt}",
            f"Total fees: {fee_ada} ADA",
            f"Average fee: {avg_ada} ADA",
            f"Slot range: {s0} - {s1}",
            "", "By transfer type:",
        ]
        lines += [f"  {k}: n={c} avg_fee={a} ADA" for k, c, a in by_type]
        out[key] = "\n".join(lines)
    return out


def chain_expected(stream_args: tuple, oracle_root: str, min_fee: int,
                   window: tuple[int, int], trace: bool):
    """Child process: the lake the stream should leave (row counts per
    table, written out for DuckDB) and the report texts DuckDB derives from
    it.  Returns (counts, texts, DuckDB seconds for the three reports when
    ``trace``)."""
    import duckdb

    stream = synth.BlockStream(*stream_args)
    counts = {t: len(rows) for t, rows in stream.expected_rows().items()}
    stream.write_expected_lake(oracle_root)
    con = duckdb.connect()
    texts = _report_texts(con, oracle_root, min_fee, window)
    duck_s = _timed_median(lambda: _report_texts(con, oracle_root, min_fee, window)) if trace else 0.0
    con.close()
    return counts, texts, duck_s


def cardano_chain(work: str, seed: int, seconds: float, trace: bool) -> Result:
    from cardano_analytics_duckdb_spark import cli
    from cardano_analytics_duckdb_spark.lake.generations import read_table
    from cardano_analytics_duckdb_spark.operators.reports import token_transfer_report
    from cardano_analytics_duckdb_spark.streaming.ingest import (
        LAKE_TABLES,
        compact_lake,
        ingest_blocks,
    )

    res = Result()
    rng = random.Random(seed)
    n_batches = CHAIN_BLOCKS // CHAIN_BATCH
    rollback_at = CHAIN_BATCH * rng.randrange(1, n_batches) + rng.randrange(CHAIN_BATCH)
    stream_args = (seed, CHAIN_BLOCKS, rollback_at, ROLLBACK_DEPTH)
    stream = synth.BlockStream(*stream_args)
    # The windowed report covers a third of the stream, placed by the seed
    # among the places that hold the same token-carrying blocks as the
    # middle third, so that every seed's window does the same work.
    span = CHAIN_BLOCKS // 3
    token = stream.blocks_with("asset")
    inside = lambda a: [i for i in token if a <= i <= a + span]  # noqa: E731
    starts = [a for a in range(CHAIN_BLOCKS - span) if inside(a) == inside(span)]
    a = rng.choice(starts)
    window = (stream.slot(a), stream.slot(a + span))
    min_fee = rng.choice((1_000_000, 1_500_000, 2_000_000, 2_500_000, 3_000_000))
    res.detail["inputs"] = {
        "blocks": CHAIN_BLOCKS, "batch": CHAIN_BATCH, "rollback_at": rollback_at,
        "rollback_depth": stream.rollback_depth, "window": window, "min_fee": min_fee,
    }
    t0 = time.perf_counter()
    expected, want, duck_s = in_child(
        chain_expected, stream_args, os.path.join(work, "expected"), min_fee, window, trace)
    res.detail["expected_and_oracle_s"] = time.perf_counter() - t0

    spark, session_s = _session("perfbench-chain", work, trace)
    tr = Tracer(spark, trace)
    phase: dict[str, float] = {}

    # Set-up: the first flush of a small stream into a fresh lake,
    # repeated, which also compiles the flush path's code before the timed
    # stream.  Rollback and compaction code compiles inside the timed
    # ingest and compaction, once per process, as a fresh ingest process
    # pays it.
    warm_s = []
    for i in range(SETUP_REPEATS):
        warm = synth.BlockStream(seed + 1 + i, WARMUP_BLOCKS)
        t0 = time.perf_counter()
        ingest_blocks(spark, warm.blocks(), os.path.join(work, f"setup{i}"),
                      batch_size=CHAIN_BATCH)
        warm_s.append(time.perf_counter() - t0)

    def on_prune(span, args, kwargs, result):
        span.attrs["kept"] = len(result)
        span.attrs["total"] = len(lake_files(args[1]))

    tr.patch("cardano_analytics_duckdb_spark.sources.blocks", "blocks_to_dataframe", "sources")
    tr.patch("cardano_analytics_duckdb_spark.streaming.ingest", "rollback_lake", "streaming")
    tr.patch("cardano_analytics_duckdb_spark.lake.generations", "read_table", "lake")
    tr.patch("cardano_analytics_duckdb_spark.lake.layout", "resolve_bucketed", "lake")
    tr.patch("cardano_analytics_duckdb_spark.lake.manifest", "prune_files_box", "lake", on_prune)
    tr.patch("cardano_analytics_duckdb_spark.lake.manifest", "build_manifest", "lake")
    tr.count_py4j()

    lake = os.path.join(work, "lake")

    def check_counts(when: str) -> None:
        """Row counts of every table through the package's read path, in
        one Spark action.  Run after compaction only: compaction keeps
        rows, so a wrong rollback shows there too."""
        from functools import reduce

        from pyspark.sql import functions as F

        tables = [t for t in LAKE_TABLES if os.path.isdir(os.path.join(lake, t))]
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            counts = dict(reduce(
                lambda a, b: a.unionByName(b),
                [read_table(spark, os.path.join(lake, t)).groupBy().count()
                 .select(F.lit(t).alias("t"), "count") for t in tables],
            ).collect())
        except Exception as e:
            res.fail(f"counts {when}: {type(e).__name__}: {e}")
            return
        finally:
            phase[f"counts {when}"] = time.perf_counter() - t0
        for t in LAKE_TABLES:
            if counts.get(t, 0) != expected.get(t, 0):
                res.fail(f"{t} {when}: {counts.get(t, 0)} rows, expected {expected.get(t, 0)}")

    ref = Reference(spark)
    ref.sample("load", 5)

    # Ingest (timed).
    rec = Recorder(stream.blocks())
    res.attempted += 1
    t0 = time.perf_counter()
    stats = ingest_blocks(spark, iter(rec), lake, batch_size=CHAIN_BATCH,
                          reconcile_rollbacks=True)
    ingest_end = time.time()
    ingest_s = time.perf_counter() - t0
    if stats.get("rollbacks") != 1 or stats.get("blocks") != CHAIN_BLOCKS + stream.rollback_depth:
        res.fail(f"ingest counters {stats}")
    windows = rec.flush_windows(CHAIN_BATCH, ingest_end)
    flush_s = [b - a for a, b in windows]
    files_pre = lake_files(lake)

    # Compaction (timed).
    res.attempted += 1
    t0 = time.perf_counter()
    with tr.op("compact_lake"):
        compact_lake(spark, lake)
    compact_s = time.perf_counter() - t0
    check_counts("after compaction")
    ref.sample("load", 5)
    files_post = lake_files(lake)
    bytes_post = sum(files_post.values())
    bytes_rewritten = sum(v for k, v in files_post.items() if k not in files_pre)

    def high_fee():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(["query", "--lake", lake, "--min-fee", str(min_fee)], spark=spark)
        if rc != 0:
            raise RuntimeError(f"cli query exited {rc}")
        return buf.getvalue()

    reports = {
        "high_fee": high_fee,
        "token_full": lambda: token_transfer_report(spark, root=lake),
        "token_window": lambda: token_transfer_report(
            spark, min_slot=window[0], max_slot=window[1], root=lake),
    }

    def run_report(key, traced: bool):
        res.attempted += 1
        tr.enabled = traced
        try:
            with tr.op(key) as op:
                text = reports[key]()
        except Exception as e:
            res.fail(f"{key}: {type(e).__name__}: {e}")
            return None
        finally:
            tr.enabled = trace
        if not same_report(text, want[key]):
            res.fail(f"{key}: report differs from the DuckDB oracle")
        return op

    # The first round is untimed: it builds the manifests the pruned reads
    # use and compiles the reports' code; its outputs are checked like
    # every other round's.
    t0 = time.perf_counter()
    for key in REPORTS:
        run_report(key, trace)
    phase["reports first touch"] = time.perf_counter() - t0

    wait: dict[str, list[float]] = {k: [] for k in REPORTS}
    traced: dict[str, list[Span]] = {k: [] for k in REPORTS}
    min_rounds = REPORT_MIN_ROUNDS + 1 if trace else REPORT_MIN_ROUNDS
    t_start = time.perf_counter()
    rounds = 0
    while more_rounds(rounds, min_rounds, time.perf_counter() - t_start, seconds):
        order = list(REPORTS)
        rng.shuffle(order)
        traced_round = trace and rounds % 2 == 1
        for key in order:
            op = run_report(key, traced_round)
            if op is None:
                continue
            if traced_round:
                traced[key].append(op)
            else:
                wait[key].append(op.dur)
                ref.sample("read", 3)  # a steadier reference for few calls
        rounds += 1
    phase["report rounds"] = time.perf_counter() - t_start

    suite = end_to_end(res, ref, session_s + median(warm_s), ingest_s + compact_s, wait,
                       REPORT_MIN_ROUNDS * len(REPORTS))
    res.detail["peak_rss_mb"] = peak_rss_mb(spark)
    fp, flush_tail = tail(flush_s, len(flush_s))
    n_tx = expected["tx"]
    write_side = {
        "streaming.ingest_blocks_per_s": CHAIN_BLOCKS / ingest_s,
        "streaming.flush_p50_ms": 1000 * median(flush_s),
        "streaming.flush_tail_ms": 1000 * flush_tail,
        "streaming.compact_s": compact_s,
        "lake.stored_bytes_per_tx": bytes_post / n_tx,
        "lake.files_pre_compact": len(files_pre),
        "lake.files_post_compact": len(files_post),
        "lake.bytes_rewritten": bytes_rewritten,
    }
    res.detail.update(
        session_start_s=session_s,
        warmup_s=warm_s,
        ingest_s=ingest_s,
        flush_s=flush_s,
        flush_tail_percentile=fp,
        report_rounds=rounds,
        report_s=wait,
        ingest_stats=stats,
        expected_rows=expected,
        phase_s=phase,
        **write_side,
    )

    if trace:
        flush_ops = []
        for a, b in windows:
            sid = len(tr.spans)
            tr.spans.append(Span("streaming.flush", a, b, op=sid, attrs={"kind": "op"}))
            flush_ops.append(sid)
        tr.spark_counters()
        res.per_layer = _chain_layers(tr, flush_ops, traced, suite, rec, session_s,
                                      res.detail["peak_rss_mb"], len(files_pre))
        res.per_layer.update(write_side)
        res.per_layer["duckdb.suite_s"] = duck_s
        res.spans = tr.dump()
    tr.close()
    stop_spark()
    return res


def _in(span, a: float, b: float) -> bool:
    return a <= span.start and span.end <= b


def _chain_layers(tr, flush_ops, traced, suite, rec, session_s, peak_rss,
                  files_pre: int) -> dict[str, float]:
    to_df, flush_self, jobs, tasks = [], [], [], []
    rollback_ms = 0.0
    for sid in flush_ops:
        f = tr.spans[sid]
        inner = [s for s in tr.spans if s.attrs.get("kind") != "op" and _in(s, f.start, f.end)]
        d = 1000 * sum(s.dur for s in inner if s.name == "sources.blocks_to_dataframe")
        rb = 1000 * sum(s.dur for s in inner if s.name == "streaming.rollback_lake")
        rollback_ms += rb
        to_df.append(d)
        flush_self.append(1000 * f.dur - d - rb)
        jobs.append(f.attrs["jobs"])
        tasks.append(f.attrs["tasks"])

    # A report call builds and runs its plans inside one package call, so
    # its planning is not split from construction: plan_ms there is the
    # time from the call to its first job.
    per_kind = {
        key: [_op_figures(tr, tr.spans.index(op), op.start) for op in ops]
        for key, ops in traced.items()
    }
    prunes = [s for s in tr.spans if s.name == "lake.prune_files_box"]
    kept = sum(s.attrs["kept"] for s in prunes)
    total = sum(s.attrs["total"] for s in prunes)
    manifest = [s for s in tr.spans if s.name == "lake.build_manifest"]
    traced_suite = sum(median(o.dur for o in v) for v in traced.values())

    layers = dict.fromkeys(LAYERS, 0.0)
    layers.update(_operator_layers(per_kind))
    layers.update({
        "plans.session_start_s": session_s,
        "plans.peak_rss_mb": peak_rss,
        "lake.manifest_build_s": sum(s.dur for s in manifest),
        "lake.files_kept_ratio": kept / total if total else 0.0,
        "sources.to_dataframe_ms": median(to_df),
        "sources.generator_wait_ms": 1000 * rec.generator_wait,
        "streaming.flush_self_ms": median(flush_self),
        "streaming.jobs_per_flush": median(jobs),
        "streaming.tasks_per_flush": median(tasks),
        "streaming.files_per_flush": files_pre / len(flush_ops) if flush_ops else 0.0,
        "streaming.rollback_ms": rollback_ms,
        "trace.overhead_s": traced_suite - suite,
    })
    return layers


WORKLOADS = {
    "headline_warm": headline_warm,
    "cardano_chain": cardano_chain,
}
