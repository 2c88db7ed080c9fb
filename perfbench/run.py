"""Repository benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. Each run

1. makes a run-private work directory under perfbench/.work/ with a
   derived-table store, Spark warehouse, output and temp directory, and
   keeps itself and the JVM to two CPUs (``BENCH_CPUS``), with Spark
   sized to them;
2. sets up one Spark session (``session.build_session`` plus a warm-up
   job, and for ``registry`` one untimed pass); ``setup_s`` is the time
   from the benchmark's start to the end of that warm-up, JVM launch
   and package import included, output checks and oracle preparation
   left out;
3. runs timed passes over the workload until ``--seconds`` ran out, at
   least one, each call waiting for the previous one, checks the outputs
   outside the timings and prints one JSON line last on stdout;
4. removes the work directory and fails if anything was left behind.

The inputs are fixed: perfbench/data/ holds a copy of the star schema,
``events`` and ``documents`` tables of the engine's scale-factor-0.001
test data (6,000 lineitems, 1,000 events, 500 documents). ``--seed``
only picks where a registry pass starts in its fixed cycle of calls.

Workloads:

- ``medallion``: one ``pipeline.run_medallion`` per pass into a fresh
  output directory. Its layer counts are checked every pass, its gold
  marts on the first against the oracle twins of the registry entries
  that compute the same tables.
- ``registry``: the derived-store build ``minhash_signature_table``
  (store cleared at the start of each pass), its consumer
  ``lsh_bucket_profile``, the TPC-H ``q6_forecast_revenue`` and the
  streaming drain ``stream_windowed_events``; each result is collected
  and compared with its DuckDB oracle twin. The build always runs
  before its consumer.

``wall_s`` is the median timed pass. A medallion pass outlasts
``--seconds``, so a run times one: the workload's first execution after
set-up, as a fresh batch application runs it. A registry run times warm
passes, after the untimed one.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same passes with spans around each layer's public functions and reports
the per-layer metrics; spans are written to perfbench/.out/. Its
``trace.wall_s`` minus an untraced run's ``wall_s`` is the tracing
overhead, and ``trace.overhead_s`` is the part of it measured directly:
the time the traced pass spent in tracing bookkeeping. ``--smoke`` runs
every workload once in both modes and fails unless every output check
passes and every metric named in BENCHMARK.json is emitted.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import random
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "instacart_medallion_lakehouse_spark"

DATA = os.path.join(HERE, "data")

MEDALLION_TABLES = {
    "bronze": ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"],
    "silver": ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"],
    "gold": [
        "fct_lineitem", "dim_customers", "dim_parts",
        "mart_region_performance", "mart_return_velocity",
    ],
}

# registry workload: kept to four calls so a run fits the benchmark's
# time budget. Each group's calls run in order (builders ahead of their
# consumers). Passes run back to back, so the groups form a cycle; the
# seed picks where a pass starts in it. Which call follows which is then
# the same for every seed: the store build took 4.2-5.7 s right after
# the stream drain and 2.9-3.8 s right after q6, so a free order of the
# groups split the seeds into two classes of pass time.
TPCH_CALLS = ["q6_forecast_revenue"]
STORE_BUILDERS = ["minhash_signature_table"]
STORE_CONSUMERS = ["lsh_bucket_profile"]
STREAM_CALLS = ["stream_windowed_events"]
REGISTRY_GROUPS = [TPCH_CALLS, STREAM_CALLS, STORE_BUILDERS + STORE_CONSUMERS]
REGISTRY_CALLS = [name for group in REGISTRY_GROUPS for name in group]

# A small virtual machine's CPUs are a share of a shared host whose other
# tenants take CPU time from them in phases of minutes. A run keeps to
# BENCH_CPUS of them and sizes Spark to that: on a 4-CPU virtual machine,
# in interleaved warm registry passes in one process, passes on 2 CPUs
# had a median of 5.1 s and an IQR/median of 0.13, on all 4 a median of
# 5.3 s and 0.27. On one CPU the JVM picks a serial collector and fewer
# compiler threads, and a cold medallion pass took 72 s against 35 s.
BENCH_CPUS = 2

WORKLOADS = ("medallion", "registry")
# untimed passes after the session warm-up, counted in setup_s. One
# registry pass takes the cold start (two to three warm passes' time);
# the timed passes after it still speed up as the JIT compiles, but from
# the same point in every run. A medallion pass is too long for that.
WARM_PASSES = {"medallion": 0, "registry": 1}

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "ok_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "session.build_s": "s", "session.warmup_s": "s",
        "session.jvm_peak_rss_mb": "MiB",
        "pipeline.bronze_s": "s", "pipeline.silver_s": "s", "pipeline.gold_s": "s",
        "pipeline.bronze_jobs": "count", "pipeline.silver_jobs": "count",
        "pipeline.gold_jobs": "count",
    }
    for layer, tables in MEDALLION_TABLES.items():
        for t in tables:
            units[f"pipeline.table_s.{layer}.{t}"] = "s"
    units.update({
        "quality.dup_gate_s": "s", "quality.ri_gate_s": "s", "quality.gate_jobs": "count",
        "io.write_s": "s", "io.read_s": "s", "io.bytes_written": "bytes",
        "io.write_amplification": "ratio",
        "store.build_s": "s", "store.read_s": "s", "store.assets_built": "count",
        "store.bytes": "bytes", "store.reuse_ratio": "ratio",
        "pins.peak": "count", "pins.release_s": "s",
        "streaming.drain_s": "s", "streaming.batches": "count",
        "streaming.add_batch_s": "s", "streaming.floor_s": "s",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
        "spark.busy_share": "ratio",
        "trace.wall_s": "s", "trace.overhead_s": "s",
    })
    for name in REGISTRY_CALLS:
        units[f"query.{name}_s"] = "s"
    return units


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def prepare_env(work: str) -> None:
    """Point every directory Spark and the engine write to into ``work``,
    and keep the process and its children to ``BENCH_CPUS`` CPUs.

    Must run before pyspark launches the JVM."""
    for sub in ("store", "warehouse", "out", "tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_SHARED_DIR"] = os.path.join(work, "store")
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:BENCH_CPUS])
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    # python workers import the package from the checkout
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Run:
    """One workload in one process: session, inputs, passes, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.data = DATA
        start = random.Random(seed).randrange(len(REGISTRY_GROUPS))
        groups = REGISTRY_GROUPS[start:] + REGISTRY_GROUPS[:start]
        self.registry_calls = [name for group in groups for name in group]
        self.input_bytes = sum(
            os.path.getsize(os.path.join(DATA, f"{t}.parquet")) for t in MEDALLION_TABLES["bronze"]
        )
        self.attempted = 0
        self.failures: list[str] = []
        self.calls: list[float] = []
        self.spark = None
        self.tracer = None
        self.tracing = False
        self.layer: dict[str, float] = {}
        self.pass_layer: dict[str, float] = {}
        self.pass_layers: list[dict[str, float]] = []
        self.consumer_hits: list[bool] = []

    # -- set-up ------------------------------------------------------------

    def setup(self) -> float:
        """One session set-up; returns the time from the benchmark's start
        to the end of the warm-up."""
        from instacart_medallion_lakehouse_spark.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.warm_up()
        t2 = time.perf_counter()
        self.layer["session.build_s"] = t1 - t0
        self.layer["session.warmup_s"] = t2 - t1
        log(f"set-up {t2 - T_START:.3f}s (build_session {t1 - t0:.3f}s)")
        return t2 - T_START

    def warm_up(self) -> None:
        """JVM start-up and code generation on a trivial job."""
        self.spark.range(1_000_000).selectExpr("sum(id)").collect()

    # -- passes ------------------------------------------------------------

    def run(self) -> dict[str, float]:
        from perfbench import checks

        setup_s = self.setup()
        self.oracle = checks.Oracle(self.data)
        try:
            if self.workload == "medallion":
                self.prepare_medallion()
                one_pass, check_pass = self.medallion_pass, self.medallion_check
            else:
                one_pass, check_pass = self.registry_pass, lambda i: None
            for _ in range(WARM_PASSES[self.workload]):
                warm = one_pass(-1)
                check_pass(-1)
                setup_s += warm
                self.layer["session.warmup_s"] += warm
            if self.trace:
                self.start_tracing()
            walls = []
            t_end = time.perf_counter() + self.seconds
            try:
                while not walls or time.perf_counter() < t_end:
                    i = len(walls)
                    walls.append(self.traced_pass(one_pass, i) if self.trace else one_pass(i))
                    # after a traced pass's wrappers and job group are gone,
                    # so the check's reads and jobs stay out of its figures
                    check_pass(i)
            finally:
                if self.trace:
                    self.stop_tracing(walls)
        finally:
            self.oracle.close()
        log(f"setup_s {setup_s:.3f}, pass walls {[round(w, 3) for w in walls]}, "
            f"call walls {[round(w, 3) for w in self.calls]}, failures {self.failures[:3]}")
        return {
            "setup_s": setup_s,
            "wall_s": median(walls),
            "ok_ratio": 1.0 - len(self.failures) / max(self.attempted, 1),
        }

    def span(self, name: str, **attrs):
        if self.tracing:
            return self.tracer.span(name, **attrs)
        return contextlib.nullcontext()

    def prepare_medallion(self) -> None:
        from instacart_medallion_lakehouse_spark import queries

        from perfbench import checks

        oracle_sql = queries.oracle_sql()
        self.expected = checks.medallion_expected(self.oracle)
        self.gold_expected = {
            mart: self.oracle.result(oracle_sql[twin])
            for mart, twin in checks.GOLD_TWINS.items()
        }

    def medallion_pass(self, i: int) -> float:
        """One ``run_medallion`` into a fresh output directory."""
        from instacart_medallion_lakehouse_spark import pipeline

        self.out = os.path.join(self.work, "out", f"pass{i}")
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.result = pipeline.run_medallion(self.spark, self.data, self.out)
            self.problem = None
        except Exception as e:  # noqa: BLE001 — a failed call is counted, not fatal
            self.result = None
            self.problem = f"run_medallion raised {type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        self.calls.append(dt)
        return dt

    def medallion_check(self, i: int) -> None:
        """Layer counts on every pass, the gold marts on the first; then
        the pass's output is measured (traced runs) and removed."""
        from instacart_medallion_lakehouse_spark.io import read_table

        from perfbench import checks

        problem = self.problem
        if self.result is not None:
            problem = checks.medallion_counts_problem(self.result, self.expected)
            for mart, exp in self.gold_expected.items() if i == 0 else ():
                gold = read_table(self.spark, f"{self.out}/gold/{mart}")
                problem = problem or checks.compare(gold.columns, gold.collect(), exp)
        if problem:
            self.failures.append(problem)
        if self.trace:
            written = dir_bytes(self.out)
            self.pass_layers[-1]["io.bytes_written"] = written
            self.pass_layers[-1]["io.write_amplification"] = written / self.input_bytes
        shutil.rmtree(self.out, ignore_errors=True)

    def registry_pass(self, i: int) -> float:
        """Every call once, store cleared first. Each call's result is
        collected inside its timing and checked against its oracle twin
        outside it; the harness releases each call's pins after it."""
        from instacart_medallion_lakehouse_spark import queries
        from instacart_medallion_lakehouse_spark.pins import release_pins

        from perfbench import checks

        reg, oracle_sql = queries.queries(), queries.oracle_sql()
        queries.clear_shared_store()
        # untimed passes start the cycle at the same place for every seed,
        # so that set-up does the same work in every run
        calls = REGISTRY_CALLS if i < 0 else self.registry_calls
        t_pass = time.perf_counter()
        for name in calls:
            self.attempted += 1
            df = span = None
            if self.tracing:
                with self.tracer.bookkeeping():
                    before = self.store_assets()
            t0 = time.perf_counter()
            try:
                with self.span(f"query.{name}") as span:
                    df = reg[name](self.spark, self.data)
                    rows = df.collect()
                self.calls.append(time.perf_counter() - t0)
                t_check = time.perf_counter()
                problem = checks.compare(df.columns, rows, self.oracle.result(oracle_sql[name]))
                t_pass += time.perf_counter() - t_check
            except Exception as e:  # noqa: BLE001 — a failed call is counted, not fatal
                problem = f"raised {type(e).__name__}: {e}"
            if problem:
                self.failures.append(f"{name}: {problem}")
            if self.tracing:
                with self.tracer.bookkeeping():
                    self.note_call(name, df, span, before)
            t0 = time.perf_counter()
            release_pins()
            if self.tracing:
                self.add("pins.release_s", time.perf_counter() - t0)
        return time.perf_counter() - t_pass

    # -- tracing -----------------------------------------------------------

    def add(self, key: str, value: float) -> None:
        self.pass_layer[key] = self.pass_layer.get(key, 0) + value

    def note_call(self, name: str, df, span, before: set[str]) -> None:
        """Pin peak, and the call's store role: ``build`` when it added a
        store file or catalog table, ``read`` when its plan scans one,
        else ``plain``."""
        from instacart_medallion_lakehouse_spark.pins import pinned_count

        self.pass_layer["pins.peak"] = max(self.pass_layer.get("pins.peak", 0), pinned_count())
        roots = (os.path.join(self.work, "store"), os.path.join(self.work, "warehouse"))
        # inputFiles() is plan metadata: it launches no job
        files = df.inputFiles() if df is not None else []
        reads = any(root in f for f in files for root in roots)
        if name in STORE_CONSUMERS:
            self.consumer_hits.append(reads)
        if span is not None:
            built = self.store_assets() - before
            span.attrs["role"] = "build" if built else "read" if reads else "plain"

    def start_tracing(self) -> None:
        from perfbench import trace

        self.tracer = trace.Tracer(self.spark, f"{self.workload}-seed{self.seed}")
        self.listener = trace.StreamCounter()
        self.spark.streams.addListener(self.listener)
        if self.workload == "registry":
            self.layer["streaming.floor_s"] = self.stream_floor()

    def traced_pass(self, one_pass, i: int) -> float:
        """``one_pass`` with every layer wrapper installed, folded into
        ``self.pass_layers``."""
        from perfbench import trace

        undo = self.install_wrappers()
        self.listener.settle()
        batches0, add_batch0 = self.listener.totals()
        self.tracing, self.pass_layer = True, {}
        overhead0 = self.tracer.overhead_s
        try:
            with self.tracer.span("pass", index=i) as ps:
                wall = one_pass(i)
        finally:
            self.tracing = False
            trace.uninstall(undo)
        self.listener.settle()
        batches, add_batch_s = self.listener.totals()
        self.pass_layer["streaming.batches"] = batches - batches0
        self.pass_layer["streaming.add_batch_s"] = add_batch_s - add_batch0
        self.pass_layer["trace.overhead_s"] = self.tracer.overhead_s - overhead0
        self.finish_pass(ps, wall)
        return wall

    def stop_tracing(self, walls: list[float]) -> None:
        from perfbench import trace

        self.spark.streams.removeListener(self.listener)
        for key in {k for lay in self.pass_layers for k in lay}:
            self.layer[key] = median([lay.get(key, 0) for lay in self.pass_layers])
        if self.consumer_hits:
            self.layer["store.reuse_ratio"] = sum(self.consumer_hits) / len(self.consumer_hits)
        self.layer["session.jvm_peak_rss_mb"] = trace.jvm_peak_rss_mb(self.spark)
        self.layer["trace.wall_s"] = median(walls)

    def finish_pass(self, ps, wall: float) -> None:
        """Fold one traced pass's spans into per-layer figures."""
        from perfbench import trace

        tracer = self.tracer
        counters = trace.spark_counters(self.spark, tracer.jobs_under(ps))
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
            self.pass_layer[f"spark.{k}"] = counters[k]
        self.pass_layer["spark.busy_share"] = counters["executor_run_s"] / (
            wall * len(os.sched_getaffinity(0))
        )
        for s in tracer.subtree(ps):
            if s.name.startswith("pipeline."):
                layer = s.name.split(".")[1]
                self.pass_layer[f"pipeline.{layer}_s"] = s.dur
                self.pass_layer[f"pipeline.{layer}_jobs"] = len(tracer.jobs_under(s))
            elif s.name == "io.write":
                self.add("io.write_s", s.dur)
                self.pass_layer[f"pipeline.table_s.{s.attrs['table']}"] = s.dur
            elif s.name == "io.read":
                self.add("io.read_s", s.dur)
            elif s.name in ("quality.dup_gate", "quality.ri_gate"):
                self.add(f"{s.name}_s", s.dur)
                self.add("quality.gate_jobs", len(s.job_ids))
            elif s.name == "store":
                self.add("store.build_s" if s.attrs["role"] == "build" else "store.read_s", s.dur)
                self.add("store.assets_built", s.attrs["new_assets"])
            elif s.name == "streaming.drain":
                self.add("streaming.drain_s", s.dur)
            elif s.name.startswith("query."):
                self.pass_layer[f"{s.name}_s"] = s.dur
                s.attrs.update(trace.spark_counters(self.spark, tracer.jobs_under(s)))
        if self.workload == "registry":
            self.pass_layer["store.bytes"] = dir_bytes(
                os.path.join(self.work, "store")
            ) + dir_bytes(os.path.join(self.work, "warehouse"))
        self.pass_layers.append(self.pass_layer)

    def store_assets(self) -> set[str]:
        """Store directory entries plus the session catalog's persistent
        tables (temp views, such as a stream drain's memory sink, are not
        store assets)."""
        store = os.path.join(self.work, "store")
        listing = set(os.listdir(store)) if os.path.isdir(store) else set()
        catalog = self.spark._jsparkSession.sharedState().externalCatalog()
        tables = catalog.listTables("default").mkString("\n").split("\n")
        return listing | {f"table:{t}" for t in tables if t}

    def install_wrappers(self) -> list:
        """Spans around each layer's public functions, bound at the names
        their callers use. Returns the undo list for ``trace.uninstall``."""
        from instacart_medallion_lakehouse_spark import io, pipeline, quality, queries
        from instacart_medallion_lakehouse_spark.streaming import events

        from perfbench import trace

        tracer = self.tracer

        def table_of(span, args, kwargs):
            path = kwargs.get("path", args[1] if len(args) > 1 else "")
            span.attrs["table"] = ".".join(path.rstrip("/").split("/")[-2:])

        def store_call(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                with tracer.bookkeeping():
                    before = self.store_assets()
                with tracer.span("store", fn=fn.__name__) as s:
                    result = fn(*args, **kwargs)
                    with tracer.bookkeeping():
                        new = self.store_assets() - before
                    s.attrs.update(role="build" if new else "read", new_assets=len(new))
                return result

            return wrapper

        targets = [
            (pipeline.run_bronze, "pipeline.bronze", None),
            (pipeline.run_silver, "pipeline.silver", None),
            (pipeline.run_gold, "pipeline.gold", None),
            (io.write_table, "io.write", table_of),
            (io.read_table, "io.read", None),
            (quality.check_duplicate_rate, "quality.dup_gate", None),
            (quality.check_referential_integrity, "quality.ri_gate", None),
            (events.drain_to_batch, "streaming.drain", None),
        ]
        undo = []
        for fn, name, on_exit in targets:
            undo += trace.install(fn, trace.wrap_in_span(tracer, name, fn, on_exit))
        for fn in (queries.shared_table, queries.shared_bucketed_table):
            undo += trace.install(fn, store_call(fn))
        return undo

    def stream_floor(self) -> float:
        """One minimal rate-source drain after a first one warmed the
        streaming engine: the fixed cost every stream call pays."""
        from instacart_medallion_lakehouse_spark.streaming.events import drain_to_batch

        def tiny():
            return (
                self.spark.readStream.format("rate").option("rowsPerSecond", "10")
                .load().groupBy("value").count()
            )

        drain_to_batch(tiny(), output_mode="complete", timeout_sec=60)
        t0 = time.perf_counter()
        drain_to_batch(tiny(), output_mode="complete", timeout_sec=60)
        return time.perf_counter() - t0

    def per_layer(self) -> dict[str, float]:
        """Every per-layer metric; a layer this workload does not
        exercise reads 0."""
        return {name: float(self.layer.get(name, 0.0)) for name in per_layer_units()}

    def close(self) -> None:
        """Drop the store and the session, and stop the JVM."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from instacart_medallion_lakehouse_spark import queries

        queries.clear_shared_store()
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


LEAK_NAMES = ("spark-warehouse", "metastore_db", "derby.log")


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(HERE, ".work", f"{workload}-seed{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    present = {n for n in LEAK_NAMES if os.path.exists(os.path.join(ROOT, n))}
    prepare_env(work)
    try:
        run = Run(workload, seed, seconds, trace, work)
        try:
            values = run.run()
        finally:
            run.close()
        leaks = [
            sub for sub in ("store", "warehouse", "out")
            if os.path.isdir(os.path.join(work, sub)) and os.listdir(os.path.join(work, sub))
        ]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(work))
    if trace:
        values = run.per_layer()
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        with open(os.path.join(HERE, ".out", f"spans-{workload}-seed{seed}.json"), "w") as f:
            json.dump(run.tracer.dump(), f)
    leaks += [n for n in LEAK_NAMES if os.path.exists(os.path.join(ROOT, n)) and n not in present]
    if leaks:
        log(f"left behind: {leaks}")
    units = per_layer_units() if trace else END_TO_END
    return {
        "correct": not run.failures and not leaks,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def smoke() -> int:
    """Every workload once in both modes; every BENCHMARK.json metric must
    be emitted and every output check must pass."""
    import subprocess

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ok = True
    for workload in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace)]
            out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
            result = json.loads(out.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            good = out.returncode == 0 and result["correct"] and got == want
            ok &= good
            print(f"{workload} trace={trace}: {'ok' if good else 'FAIL'} "
                  f"attempted={result['attempted']} failed={result['failed']}"
                  + ("" if got == want else f" names differ: {sorted(set(got) ^ set(want))}"))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    # a failed output check is reported in the result, not by the exit code
    print(json.dumps(run_one(args.workload, args.seed, args.seconds, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
