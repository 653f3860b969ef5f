"""The benchmark's workloads. Each is a closed loop driven by one client
(this process): the next operation starts when the previous one returns.

Every workload reports the same end-to-end metrics:

* ``setup_s``  session start, input generation and warm-up;
* ``op_p50_s`` median wall time of one operation.

What an operation is differs per workload; see README.md. A run
measures a fixed number of operations, set by ``--seconds`` and the
operation's nominal time (``_schedule``), never by how fast the host
happens to be. A traced run (``trace=True``) also fills the per-layer
metrics in ``LAYER_METRICS``; it traces half of its operations, in
ABBA order, so it can report its own overhead.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import math
import os
import random
import statistics
import sys
import threading
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

import datagen

PKG = "airflow_iceberg_pipeline_stock_tracker_spark"

# Inputs. Sizes are fixed per workload, so a run's work depends only on
# its seed and its ``--seconds``.
WARMUP_DAYS = 16  # day 1 pays the cold start; days 2-16 the JIT warm-up
DAY_NOMINAL_S = 1.0  # one warm day on 4 cores
WARMUP_PASSES = 2  # the first measured pass ran ~20% slow after one
PASS_NOMINAL_S = 5.0
MIN_OPS = 3
RELATIONAL_SCALE = 0.02  # 120,000 lineitem rows: the count() side dominates
TEXT_SCALE = 0.002  # 100 documents: the driver-side build dominates
RELATIONAL_ROWS = ["q12_late_lines", "orders_market_basket"]
LLM_ROWS = ["text_lm_score", "embedding_near_dup"]
STREAM_ITEM = "snapshot_stream"
STREAM_FILES = 3
STREAM_ROWS_PER_FILE = 2_000

END_TO_END = {"setup_s": "s", "op_p50_s": "s"}

# Per-layer metrics a traced run reports, with units. A workload that
# does not exercise a layer reports 0 for it.
_PIPELINE_STEPS = [
    "create_tables",
    "load_to_staging",
    "run_dq_check",
    "promote",
    "drop_staging",
    "cumulate_day",
]
_QUERY_MODULES = [
    "plans.tpch_suite",
    "plans.relational_ext",
    "plans.llm_queries",
    "operators.similarity",
]
_STREAM_DURATIONS = {
    "trigger": "triggerExecution",
    "add_batch": "addBatch",
    "wal_commit": "walCommit",
    "latest_offset": "latestOffset",
    "query_planning": "queryPlanning",
    "commit_offsets": "commitOffsets",
}
_ROW_STATS = {
    "build_s": "s",
    "action_s": "s",
    "build_jobs": "count",
    "action_jobs": "count",
    "tasks": "count",
    "build_py4j_calls": "count",
}
LAYER_METRICS: dict[str, str] = {
    "session.start_s": "s",
    "session.jvm_rss_hwm_mb": "MB",
    **{f"pipeline.{s}_s": "s" for s in _PIPELINE_STEPS},
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.py4j_calls": "count",
    "sources.stock_api.fetch_bars_s": "s",
    "sources.stock_api.bars_to_df_s": "s",
    "operators.dq.dq_checks_s": "s",
    "operators.cumulate.cumulate_s": "s",
    **{f"streaming.{k}_s": "s" for k in _STREAM_DURATIONS},
    "streaming.batches": "count",
    "streaming.drain_s": "s",
    "streaming.ingest_rows_per_s": "rows/s",
    "sources.snapshots.commit_s": "s",
    "sources.snapshots.read_s": "s",
    "sources.snapshots.head_read_s": "s",
    "sources.snapshots.time_travel_read_s": "s",
    "sources.snapshots.commits": "count",
    "sources.snapshots.head_dirs": "count",
    "sources.snapshots.manifest_bytes": "bytes",
    "sources.snapshots.py4j_calls_per_batch": "count",
    **{f"{m}.{k}": u for m in _QUERY_MODULES for k, u in _ROW_STATS.items()},
    "trace_overhead.op_p50_s": "s",
}


class Run:
    """State of one benchmark run: the session, its private directories,
    the tracer (traced runs only) and the operation tally."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.t0 = time.perf_counter()
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}
        self.tracer = None
        self.spark = None

    def dir(self, *parts: str) -> str:
        """A directory under this run's private work directory."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def start_session(self) -> None:
        from airflow_iceberg_pipeline_stock_tracker_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            cpus=len(os.sched_getaffinity(0)),
            warehouse_dir=self.dir("warehouse"),
            extra_conf={
                "spark.local.dir": self.dir("spark-local"),
                "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
                + self.dir("tmp"),
            },
        )
        self.layers["session.start_s"] = time.perf_counter() - t
        self.log(f"session started in {self.layers['session.start_s']:.2f}s")
        if self.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark)

    def log(self, msg: str) -> None:
        """Progress line on standard error, stamped with run time."""
        print(f"[{time.perf_counter() - self.t0:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    @contextlib.contextmanager
    def operation(self, op_id: str, name: str, traced: bool, jobs: bool = True):
        """One measured operation; traced only in a traced run and when
        ``traced`` is true. With ``jobs`` its Spark jobs get a job group
        and the root span gets their counts. Yields the root span (or
        None)."""
        tr = self.tracer
        if tr is None:
            yield None
            return
        tr.enabled = traced
        try:
            with tr.operation(op_id, name) as rec:
                if rec is None or not jobs:
                    yield rec
                else:
                    with tr.job_group() as group:
                        yield rec
            if rec is not None and jobs:
                rec.update(tr.jobs(group))
        finally:
            tr.enabled = False

    def finish(self) -> None:
        """Record the JVM's peak RSS, stop Spark, and wait until the JVM
        (and with it Spark's Python workers) has exited."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        jvm = gateway.proc
        with open(f"/proc/{jvm.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    self.layers["session.jvm_rss_hwm_mb"] = int(line.split()[1]) / 1024
        if self.tracer is not None:
            self.tracer.close()
        self.spark.stop()
        gateway.shutdown()
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        jvm.wait(timeout=60)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _schedule(run: Run, nominal_s: float) -> list[bool]:
    """Whether each measured operation is traced. An untraced run
    measures ``seconds / nominal_s`` operations (at least ``MIN_OPS``).
    A traced run rounds that up to a multiple of four and traces them
    in ABBA order (traced, untraced, untraced, traced, ...), so a drift
    along the run weighs on both halves alike."""
    n = max(MIN_OPS, round(run.seconds / nominal_s))
    if not run.trace:
        return [False] * n
    return [i % 4 in (0, 3) for i in range(4 * math.ceil(n / 4))]


# -- daily_backfill --------------------------------------------------------


def daily_backfill(run: Run) -> dict[str, float]:
    """``pipeline.run_for_date`` on consecutive days from a seeded start
    date, five tickers through ``DeterministicBarClient``, into a fresh
    database. Unit of work: one bar promoted to the production table."""
    import duckdb

    from airflow_iceberg_pipeline_stock_tracker_spark import pipeline
    from airflow_iceberg_pipeline_stock_tracker_spark.operators.cumulate import (
        explode_rolling,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.types import DecimalType

    run.start_session()
    spark = run.spark
    tr = run.tracer
    if tr is not None:
        for attr in (
            "create_schema",
            "create_staging_table",
            "create_prod_table",
            "create_cumulative_table",
        ):
            tr.wrap(pipeline, attr, "pipeline.create_tables")
        for step in _PIPELINE_STEPS[1:]:
            tr.wrap(pipeline, step, f"pipeline.{step}")
        tr.wrap(pipeline, "fetch_bars", "sources.stock_api.fetch_bars")
        tr.wrap(pipeline, "bars_to_df", "sources.stock_api.bars_to_df")
        tr.wrap(pipeline, "dq_checks", "operators.dq.dq_checks")
        tr.wrap(pipeline, "cumulate", "operators.cumulate.cumulate")

    first = datagen.start_date(run.seed)
    dates: list[str] = []
    errors: set[str] = set()

    def day(traced: bool) -> float:
        ds = (first + dt.timedelta(days=len(dates))).isoformat()
        dates.append(ds)
        with run.operation(ds, "daily_backfill.run_for_date", traced):
            t = time.perf_counter()
            try:
                pipeline.run_for_date(spark, ds)
            except Exception as exc:  # a failed day is counted, the loop goes on
                print(f"day {ds} failed: {exc!r}")
                errors.add(ds)
            took = time.perf_counter() - t
        run.log(f"day {ds}: {took:.3f}s")
        return took

    for _ in range(WARMUP_DAYS):
        day(False)
    setup_s = time.perf_counter() - run.t0

    traced = _schedule(run, DAY_NOMINAL_S)
    times = [day(t) for t in traced]

    # Output check: the cumulative table equals the DuckDB twin of the
    # whole backfill, day by day.
    flat = explode_rolling(
        spark.table(f"{pipeline.DEFAULT_DB}.{pipeline.CUMULATIVE_TABLE}")
    )
    flat = flat.select(
        *[
            F.col(f.name).cast("double") if isinstance(f.dataType, DecimalType) else F.col(f.name)
            for f in flat.schema.fields
        ]
    )
    con = duckdb.connect()
    want = con.execute(pipeline.backfill_oracle_sql(dates)).fetchall()
    cols = [d[0] for d in con.description]
    got = [tuple(r) for r in flat.select(*cols).collect()]
    for ds in dates:
        d = dt.date.fromisoformat(ds)
        ok = ds not in errors and sorted(r for r in got if r[1] == d) == sorted(
            tuple(r) for r in want if r[1] == d
        )
        run.record(ok)

    def day_s(subset: bool) -> float:
        """Median day over the days traced == ``subset``."""
        return _median(d for d, t in zip(times, traced) if t == subset)

    out = {"setup_s": setup_s, "op_p50_s": day_s(False)}
    if tr is not None:
        ops = tr.named("daily_backfill.run_for_date")
        for step in ["create_tables", *_PIPELINE_STEPS[1:]]:
            run.layers[f"pipeline.{step}_s"] = _median(tr.by_op(f"pipeline.{step}").values())
        for name in [
            "sources.stock_api.fetch_bars",
            "sources.stock_api.bars_to_df",
            "operators.dq.dq_checks",
            "operators.cumulate.cumulate",
        ]:
            run.layers[f"{name}_s"] = _median(tr.by_op(name).values())
        run.layers["pipeline.jobs"] = _median(s["jobs"] for s in ops)
        run.layers["pipeline.tasks"] = _median(s["tasks"] for s in ops)
        run.layers["pipeline.py4j_calls"] = _median(s["py4j_calls"] for s in ops)
        run.layers["trace_overhead.op_p50_s"] = day_s(True) - day_s(False)
    return out


# -- mixed_passes ----------------------------------------------------------


def _build_and_count(fn, spark, data: str, tr) -> dict[str, float]:
    """Build one registry row and drive it with ``count()``; returns the
    count and the time of each side. With a tracer, each side runs in its
    own job group and the result has every one of ``_ROW_STATS``."""
    with tr.job_group() if tr else contextlib.nullcontext() as build_group:
        t0 = time.perf_counter()
        calls = tr.py4j_calls() if tr else 0
        df = fn(spark, data)
        calls = tr.py4j_calls() - calls if tr else 0
        t1 = time.perf_counter()
    with tr.job_group() if tr else contextlib.nullcontext() as action_group:
        t2 = time.perf_counter()
        n = df.count()
        t3 = time.perf_counter()
    out = {"count": n, "build_s": t1 - t0, "action_s": t3 - t2}
    if tr is not None:
        build, action = tr.jobs(build_group), tr.jobs(action_group)
        out.update(
            build_jobs=build["jobs"],
            action_jobs=action["jobs"],
            tasks=build["tasks"] + action["tasks"],
            build_py4j_calls=calls,
        )
    return out


def _land(rng: np.random.Generator, root: str) -> list:
    """Write ``STREAM_FILES`` parquet files of event rows; rows go to
    files by a seeded permutation. File i gets modification time base +
    i, so a file stream takes them in order. Returns each file's table."""
    import pyarrow as pa

    n = STREAM_ROWS_PER_FILE
    table = datagen.events(rng, STREAM_FILES * n)
    perm = rng.permutation(table.num_rows)
    out = []
    base = time.time() - 10 * STREAM_FILES
    for i in range(STREAM_FILES):
        part = table.take(pa.array(np.sort(perm[i * n : (i + 1) * n])))
        path = os.path.join(root, f"part-{i:04d}.parquet")
        pq.write_table(part, path)
        os.utime(path, (base + i, base + i))
        out.append(part)
    return out


def _type_counts(tables) -> dict[str, int]:
    return dict(Counter(v for t in tables for v in t.column("event_type").to_pylist()))


class _StreamRound:
    """The snapshot-stream item of a pass: drain the landed files with
    ``streaming.snapshot_sink.drain_to_snapshots``, one file per trigger
    (one ``sources.snapshots.commit`` each), into a fresh table; then
    aggregate the head snapshot and count a mid-history version. Both
    reads are checked against the landed files."""

    def __init__(self, run: Run, rng: np.random.Generator):
        from pyspark.sql.streaming import StreamingQueryListener

        self.run = run
        self.landing = run.dir("landing")
        self.files = _land(rng, self.landing)
        self.want = _type_counts(self.files)
        self.schema = run.spark.read.parquet(
            os.path.join(self.landing, "part-0000.parquet")
        ).schema
        self.rounds = 0
        self.lock = threading.Lock()
        self.started: list[str] = []
        self.progress: list[dict] = []
        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer.lock:
                    outer.started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                with outer.lock:
                    outer.progress.append(
                        {
                            "runId": str(p.runId),
                            "numInputRows": p.numInputRows,
                            "durationMs": dict(p.durationMs),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        run.spark.streams.addListener(Listener())

    def _batches(self, n_started: int) -> list[dict]:
        """Progress of the stream started after ``n_started`` others,
        once the listener has every batch's event (they arrive
        asynchronously, after the drain returns)."""
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            with self.lock:
                if len(self.started) > n_started:
                    run_id = self.started[n_started]
                    got = [
                        e for e in self.progress
                        if e["runId"] == run_id and e["numInputRows"] > 0
                    ]
                    if len(got) >= STREAM_FILES:
                        return got
            time.sleep(0.02)
        raise RuntimeError("streaming progress events missing")

    def __call__(self) -> dict:
        from airflow_iceberg_pipeline_stock_tracker_spark.sources import snapshots
        from airflow_iceberg_pipeline_stock_tracker_spark.streaming import snapshot_sink

        spark = self.run.spark
        self.rounds += 1
        name = f"round{self.rounds}"
        table = os.path.join(self.run.dir("tables"), name)
        stream = (
            spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.landing)
        )
        with self.lock:
            n_started = len(self.started)
        t0 = time.perf_counter()
        snapshot_sink.drain_to_snapshots(
            stream, table, checkpoint_dir=self.run.dir("checkpoints", name)
        )
        t1 = time.perf_counter()
        head = snapshots.read(spark, table)
        t2 = time.perf_counter()
        counts = {r[0]: r[1] for r in head.groupBy("event_type").count().collect()}
        t3 = time.perf_counter()
        history = snapshots.history(table)
        mid = len(history) // 2
        mid_rows = snapshots.read(spark, table, version=history[mid - 1]).count()
        t4 = time.perf_counter()

        batches = self._batches(n_started)
        self.run.record(counts == self.want)
        self.run.record(
            len(history) == STREAM_FILES and mid_rows == mid * STREAM_ROWS_PER_FILE
        )
        for b in batches:
            self.run.record(b["numInputRows"] == STREAM_ROWS_PER_FILE)
        return {
            "table": table,
            "batches": batches,
            "drain_s": t1 - t0,
            "read_s": t2 - t1,
            "head_read_s": t3 - t1,
            "time_travel_read_s": t4 - t3,
            "total_s": t4 - t0,
        }


def mixed_passes(run: Run) -> dict[str, float]:
    """Passes over a fixed list of items, in a seeded order: registry rows
    built fresh through ``queries()`` and driven with ``count()``, and
    one snapshot-stream round (``_StreamRound``). Operation: one pass.
    Its time is the sum over the items of each item's median time over
    the measured passes, so one slow item in one pass does not decide
    the figure."""
    import duckdb

    import __spark_entry__ as entry
    from airflow_iceberg_pipeline_stock_tracker_spark.plans.llm_queries import (
        clear_result_caches,
    )
    from airflow_iceberg_pipeline_stock_tracker_spark.sources import snapshots

    rng = random.Random(run.seed)
    data = run.dir("data")
    datagen.write_tables(data, run.seed, RELATIONAL_SCALE, TEXT_SCALE)
    registry = entry.queries()
    rows = RELATIONAL_ROWS + LLM_ROWS
    items = [*rows, STREAM_ITEM]
    modules = {n: registry[n].__module__.removeprefix(PKG + ".") for n in rows}

    run.start_session()
    spark = run.spark
    tr = run.tracer
    if tr is not None:
        tr.wrap(snapshots, "commit", "sources.snapshots.commit")
    stream_round = _StreamRound(run, np.random.default_rng(run.seed))
    counts: dict[str, list[int]] = {n: [] for n in rows}
    per_module: list[dict[str, dict[str, float]]] = []  # one per traced pass
    rounds: list[dict] = []  # stream rounds of traced passes
    passes = 0

    def one_pass(traced: bool) -> dict[str, float]:
        """Seconds each item of one pass took."""
        nonlocal passes
        passes += 1
        order = items[:]
        rng.shuffle(order)
        clear_result_caches()
        spark.catalog.clearCache()
        for t in spark.catalog.listTables():
            if t.isTemporary and t.name.startswith("q_"):
                spark.catalog.dropTempView(t.name)
        stats: dict[str, dict[str, float]] = {}
        took: dict[str, float] = {}
        for name in order:
            op_id = f"pass{passes}:{name}"
            with run.operation(op_id, f"mixed_passes.{name}", traced, jobs=False) as rec:
                if name == STREAM_ITEM:
                    t = time.perf_counter()
                    try:
                        r = stream_round()
                    except Exception as exc:  # counted as failed, the pass goes on
                        print(f"{name} failed: {exc!r}")
                        run.record(False)
                        took[name] = time.perf_counter() - t
                        continue
                    took[name] = r["total_s"]
                    run.log(f"  {name}: {r['total_s']:.3f}s")
                    if rec is not None:
                        r["commits"] = [
                            s for s in tr.named("sources.snapshots.commit") if s["op"] == op_id
                        ]
                        rounds.append(r)
                    continue
                t = time.perf_counter()
                try:
                    row = _build_and_count(registry[name], spark, data, tr if rec else None)
                except Exception as exc:  # counted as failed, the pass goes on
                    print(f"row {name} failed: {exc!r}")
                    row = {"count": -1, "build_s": time.perf_counter() - t, "action_s": 0.0}
            counts[name].append(row.pop("count"))
            took[name] = row["build_s"] + row["action_s"]
            run.log(f"  {name}: {took[name]:.3f}s")
            if rec is not None and len(row) == len(_ROW_STATS):
                acc = stats.setdefault(modules[name], dict.fromkeys(_ROW_STATS, 0.0))
                for k, v in row.items():
                    acc[k] += v
        if tr is not None and traced:
            per_module.append(stats)
        run.log(f"pass {order}: {sum(took.values()):.3f}s")
        return took

    for _ in range(WARMUP_PASSES):
        one_pass(False)
    setup_s = time.perf_counter() - run.t0

    traced = _schedule(run, PASS_NOMINAL_S)
    times = [one_pass(t) for t in traced]

    def pass_s(subset: bool) -> float:
        """Sum of per-item medians over the passes traced == ``subset``."""
        return sum(
            _median(p[name] for p, t in zip(times, traced) if t == subset)
            for name in items
        )

    # Output check: every row count equals its DuckDB oracle's.
    oracle = entry.oracle_sql()
    con = duckdb.connect()
    for table in datagen.TABLES:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{data}/{table}.parquet')"
        )
    for name in rows:
        want = con.execute(f"SELECT COUNT(*) FROM ({oracle[name]})").fetchone()[0]
        for n in counts[name]:
            run.record(n == want)

    out = {"setup_s": setup_s, "op_p50_s": pass_s(False)}
    if tr is not None:
        for m in _QUERY_MODULES:
            for k in _ROW_STATS:
                run.layers[f"{m}.{k}"] = _median(p.get(m, {}).get(k, 0.0) for p in per_module)
        batches = [b for r in rounds for b in r["batches"]]
        for key, name in _STREAM_DURATIONS.items():
            run.layers[f"streaming.{key}_s"] = _median(
                b["durationMs"].get(name, 0) / 1000 for b in batches
            )
        run.layers["streaming.batches"] = _median(len(r["batches"]) for r in rounds)
        run.layers["streaming.drain_s"] = _median(r["drain_s"] for r in rounds)
        run.layers["streaming.ingest_rows_per_s"] = _median(
            STREAM_FILES * STREAM_ROWS_PER_FILE / r["drain_s"] for r in rounds
        )
        commits = [c for r in rounds for c in r["commits"]]
        run.layers["sources.snapshots.commit_s"] = _median(c["end"] - c["start"] for c in commits)
        run.layers["sources.snapshots.commits"] = _median(len(r["commits"]) for r in rounds)
        run.layers["sources.snapshots.py4j_calls_per_batch"] = _median(
            c["py4j_calls"] for c in commits
        )
        for k in ("read_s", "head_read_s", "time_travel_read_s"):
            run.layers[f"sources.snapshots.{k}"] = _median(r[k] for r in rounds)
        table = rounds[-1]["table"]
        run.layers["sources.snapshots.head_dirs"] = sum(
            1 for n in os.listdir(table) if n.startswith("snap-")
        )
        manifests = sorted(n for n in os.listdir(table) if n.startswith("_manifest-"))
        run.layers["sources.snapshots.manifest_bytes"] = os.path.getsize(
            os.path.join(table, manifests[-1])
        )
        run.layers["trace_overhead.op_p50_s"] = pass_s(True) - pass_s(False)
    return out


WORKLOADS = {
    "daily_backfill": daily_backfill,
    "mixed_passes": mixed_passes,
}
