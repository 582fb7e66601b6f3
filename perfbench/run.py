#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload tpch_sql --seed 1 --seconds 3 --trace 0

The run generates its inputs from ``--seed`` (``perfbench/datagen.py``),
sets the engine up three times (once from cold, then twice more with
the program re-imported into a fresh Spark context), verifies every
operation's output once (all operations at the same time), runs the
workload's untimed warm passes, then runs the workload's operations as
a closed loop with one client for about ``--seconds`` (a fixed number
of passes per workload), in an order the seed fixes. With
``--trace 0`` it reports the end-to-end metrics. With ``--trace 1`` the
event log is on, every operation runs twice per pass, once untraced and
once with spans around the program's public functions, and the run
reports the per-layer metrics. Metric definitions and the reasons
behind them are in ``perfbench/README.md``.

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
everything else goes to standard error.
"""

from __future__ import annotations

import argparse
import dataclasses
import inspect
import json
import os
import random
import shutil
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"
# Import perfbench as a package from the repository root, never its
# modules by bare name (perfbench/trace.py would shadow the stdlib).
sys.path[0] = str(ROOT)

#: Engine set-ups per run; ``setup_s`` is their median.
SETUP_CYCLES = 3
#: The program's package; a repeated set-up imports it afresh.
PACKAGE = "spotify_app_etl_spark"
DRIVER_MEM = "2g"
#: Job groups of timed operations; verification and counting jobs use others.
TIMED_GROUP = "pb|"


def _log(*parts) -> None:
    print(f"[{_process_age_s():7.2f}s]", *parts, file=sys.stderr, flush=True)


def _process_age_s() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _spin(n: int) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0


def host_probe_s(procs: int) -> float:
    """Slowest of ``procs`` processes that each time the same fixed loop at once.

    The loop touches neither Spark nor the program. Run on every core
    together, like the engine's tasks, it slows when other tenants take
    the host's cores. It is logged at the start and the end of every run.
    """
    import multiprocessing

    pool = multiprocessing.get_context("fork").Pool(procs)
    try:
        return max(pool.map(_spin, [2_000_000] * procs))
    finally:
        pool.close()
        pool.join()


def _batch_listener(durations: list[float]):
    """A ``StreamingQueryListener`` that appends each micro-batch's duration (s)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            durations.append(event.progress.batchDuration / 1000.0)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return BatchListener()


class VerificationError(RuntimeError):
    pass


def row_hash(df):
    """``df`` folded into one row: the order-free hash of all its rows."""
    from pyspark.sql import functions as F

    return df.agg(F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"))


def force(df) -> int | None:
    """Execute ``df`` and return :func:`row_hash` of its rows."""
    return row_hash(df).collect()[0][0]


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


class Bench:
    def __init__(self, args, cpus: int, run_dir: Path):
        from perfbench import trace, workloads

        self.args = args
        self.workload = workloads.WORKLOADS[args.workload]
        self.cpus = cpus
        self.run_dir = run_dir
        self.rng = random.Random(args.seed)
        self.tracer = trace.Tracer(enabled=bool(args.trace))
        self.spark = None
        self.registry = None
        self.expected: dict[str, object] = {}
        self.pending: dict[str, object] = {}
        self.sink_no = 0
        # layer counters filled by the traced executions
        self.layer: dict[str, float] = {}
        self.transports = []
        self.targets: dict[object, object] = {}
        self.undo: list = []
        self.batches: list[float] = []
        self.confs = {
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            (run_dir / "eventlog").mkdir(parents=True, exist_ok=True)
            self.confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
            })

    # -- set-up --------------------------------------------------------

    def setup(self) -> dict[str, float]:
        """Import the program, start the engine, register the queries and
        open the workload's inputs.

        The first call runs from process start and launches the JVM. A
        later call stops the Spark context, drops the program's modules
        and imports them again, so each set-up pays the program's import,
        context creation and query registration, but not the JVM launch.
        Returns the durations of the whole set-up and of its steps.
        """
        if self.spark is None:
            t_start = time.perf_counter() - _process_age_s()
        else:
            self.spark.stop()
            for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
                del sys.modules[name]
            t_start = time.perf_counter()
        from spotify_app_etl_spark import io, registry, session

        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name=f"perfbench-{self.workload.name}", cpus=self.cpus,
            extra_confs=self.confs,
        )
        t1 = time.perf_counter()
        self.registry = registry.load_all()
        t2 = time.perf_counter()
        for name in self.workload.inputs:
            io.load_table(self.spark, self.sf_dir, name)
        return {"setup_s": time.perf_counter() - t_start,
                "get_spark_s": t1 - t0, "load_all_s": t2 - t1}

    # -- verification (untimed; doubles as the first warm-up) ----------

    def verify_all(self) -> bool:
        """Verify every operation once, all at the same time (untimed).

        Each operation runs on its own thread inside its own cache scope,
        so the cold start of one overlaps the others'; the timed passes
        that follow run one operation at a time. False when any
        operation's output is wrong or its run failed.
        """
        from concurrent.futures import ThreadPoolExecutor

        from spotify_app_etl_spark.operators.persist import cache_scope

        from perfbench.workloads import ETL

        def verify(name: str):
            t0 = time.perf_counter()
            with cache_scope():
                value = self.verify_etl() if name == ETL else self.verify_query(name)
            _log(f"perfbench: verified {name} in {time.perf_counter() - t0:.2f}s")
            return value

        _log("perfbench: verifying", " ".join(self.workload.ops))
        correct = True
        with ThreadPoolExecutor(len(self.workload.ops)) as pool:
            futures = {name: pool.submit(verify, name) for name in self.workload.ops}
        for name, future in futures.items():
            try:
                self.expected[name] = future.result()
            except Exception as e:
                correct = False
                _log(f"perfbench: verification of {name} failed: {e!r}")
        return correct

    def verify_query(self, name: str) -> int | None:
        """Check ``fn`` against its oracle (or its own proof columns),
        then require the timed variant's hash to equal the verified one."""
        from spotify_app_etl_spark import registry as reg
        from tests import oracle

        q = self.registry[name]
        captured = {}

        def capture(spark, sf_dir):
            captured["df"] = q.fn(spark, sf_dir).persist()
            return captured["df"]

        reg.REGISTRY[name] = dataclasses.replace(q, fn=capture)
        try:
            if q.oracle is not None:
                res = oracle.compare(self.spark, name, self.sf_dir)
                if not res.ok:
                    raise VerificationError(f"{name}: {res.detail}")
            else:
                capture(self.spark, self.sf_dir).count()
        finally:
            reg.REGISTRY[name] = q
        full = captured["df"]
        try:
            proofs = [c for c, t in full.dtypes if c.endswith("_ok") and t == "boolean"]
            if proofs and full.filter(
                " OR ".join(f"NOT coalesce(`{c}`, false)" for c in proofs)
            ).count():
                raise VerificationError(f"{name}: proof column false in {proofs}")
            if q.bench_fn is None:
                # the oracle run was the warm run; hash its cached rows
                expected = force(full)
                full.unpersist()
                return expected
        except BaseException:
            full.unpersist()
            raise
        # The timed variant drops the proof columns, so its expected hash
        # is taken from the cached rows once its first run shows its columns.
        self.pending[name] = full
        return None

    def verify_etl(self) -> dict[str, int | None]:
        """Land the six tables once and check each against its ``etl_*`` oracle."""
        from pyspark.sql import functions as F

        from tests import oracle

        from perfbench.workloads import ETL_TABLES

        _, sink = self.run_etl(traced=False)
        con = oracle.duckdb_con(self.sf_dir)
        for t in ETL_TABLES:
            got = self.spark.read.parquet(str(sink / t)).drop("ingest_date")
            if t == "followed_artists":
                # the oracle holds the reference's ', '-joined genres string
                got = got.withColumn("genres", F.concat_ws(", ", "genres"))
            got = got.toPandas()
            want = con.sql(self.registry[f"etl_{t}"].oracle).df()
            if sorted(got.columns) != sorted(want.columns) or (
                oracle.canonical_rows(got) != oracle.canonical_rows(want)
            ):
                raise VerificationError(f"etl sink {t} differs from its oracle")
        hashes = self.sink_hashes(sink)
        shutil.rmtree(sink)
        return hashes

    # -- operations ------------------------------------------------------

    def run_etl(self, traced: bool) -> tuple[float, Path]:
        """Extract→flatten→enrich, then land the six tables as parquet."""
        from spotify_app_etl_spark import etl, io
        from spotify_app_etl_spark.sources.spotify_mock import MockSpotifyTransport

        from perfbench.transport import CountingTransport
        from perfbench.workloads import ETL_TABLES

        self.sink_no += 1
        sink = self.run_dir / "sink" / str(self.sink_no)
        transport = CountingTransport.over(self.spark, MockSpotifyTransport(self.sf_dir))
        if traced:
            self.transports.append(transport)
        t0 = time.perf_counter()
        self._group(traced, "build")
        tables = etl.run_pipeline(self.spark, self.sf_dir, transport=transport)
        self._group(traced, "force")
        for t in ETL_TABLES:
            with self.tracer.span(f"etl.sink.{t}"):
                io.write_parquet(tables[t], str(sink / t))
        return time.perf_counter() - t0, sink

    def sink_hashes(self, sink: Path) -> dict[str, int | None]:
        """:func:`row_hash` of each landed table, all six in one Spark job."""
        from functools import reduce

        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from perfbench.workloads import ETL_TABLES

        hashes = [
            row_hash(self.spark.read.parquet(str(sink / t)).drop("ingest_date"))
            .select(F.lit(t).alias("table"), "h")
            for t in ETL_TABLES
        ]
        return dict(reduce(DataFrame.union, hashes).collect())

    def _group(self, traced: bool, phase: str) -> None:
        if traced:
            self.spark.sparkContext.setJobGroup(f"{TIMED_GROUP}{self.tracer.op}|{phase}", phase)

    def run_query(self, name: str, traced: bool) -> tuple[float, int | None, list[str]]:
        q = self.registry[name]
        fn = q.bench_fn or q.fn
        t0 = time.perf_counter()
        self._group(traced, "build")
        with self.tracer.span("plans.build"):
            df = fn(self.spark, self.sf_dir)
        if traced:
            self._group(traced, "optimize")
            with self.tracer.span("plans.optimize"):
                df._jdf.queryExecution().executedPlan()
        self._group(traced, "force")
        with self.tracer.span("force"):
            h = force(df)
        return time.perf_counter() - t0, h, df.columns

    def execute(self, name: str, traced: bool, pass_no: int) -> float | None:
        """One timed execution; its time, or None when it failed."""
        from spotify_app_etl_spark.operators.persist import release_cached

        from perfbench.workloads import ETL

        self.tracer.op = f"{'t' if traced else 'u'}{pass_no}.{name}"
        try:
            with self.tracer.span("op"):
                if name == ETL:
                    dt, sink = self.run_etl(traced)
                else:
                    dt, got, cols = self.run_query(name, traced)
            if self.args.trace:
                # deliver the stream's progress events before attributing them
                self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            if traced:
                self.spark.sparkContext.setJobGroup(f"pbx|{self.tracer.op}|check", "check")
                self.layer["stream_batches"] = self.layer.get("stream_batches", 0) + len(self.batches)
                self.layer["stream_batch_s"] = self.layer.get("stream_batch_s", 0) + sum(self.batches)
            if name == ETL:
                got = self.sink_hashes(sink)
                shutil.rmtree(sink, ignore_errors=True)
            elif name in self.pending:
                full = self.pending.pop(name)
                self.outcomes.expected[name] = force(full.select(*cols))
                full.unpersist()
        except Exception as e:  # a failed operation counts, it does not stop the run
            _log(f"perfbench: {name} failed: {e!r}")
            self.outcomes.record(name, None, e)
            return None
        finally:
            self.batches.clear()
            release_cached()
        return dt if self.outcomes.record(name, got) else None

    # -- timed loop ------------------------------------------------------

    def run_pass(self, pass_no: int, traced: bool) -> tuple[dict[str, float], dict[str, float]]:
        """One pass over the workload in the order the seed gives it.

        Returns the untraced and the traced operation times. With
        ``traced`` each operation runs twice, untraced and traced,
        alternating which goes first, so both see the same warm-up on
        average.
        """
        order = list(self.workload.ops)
        self.rng.shuffle(order)
        times: tuple[dict[str, float], dict[str, float]] = ({}, {})
        modes = (False, True) if traced else (False,)
        for i, name in enumerate(order):
            for mode in modes[::-1] if i % 2 else modes:
                self.set_tracing(mode)
                dt = self.execute(name, mode, pass_no)
                if dt is not None:
                    times[mode][name] = dt
        self.set_tracing(False)
        return times

    def timed(self, seconds: float) -> tuple[list[dict[str, float]], list[dict[str, float]]]:
        """``round(seconds / pass_s)`` passes over the workload, at least one."""
        untraced: list[dict[str, float]] = []
        traced: list[dict[str, float]] = []
        for p in range(max(1, round(seconds / self.workload.pass_s))):
            times = self.run_pass(p, bool(self.args.trace))
            untraced.append(times[False])
            _log(f"perfbench: pass {p + 1}:", " ".join(f"{k}={v:.2f}" for k, v in times[False].items()))
            if self.args.trace:
                traced.append(times[True])
                _log(f"perfbench: pass {p + 1} traced:",
                     " ".join(f"{k}={v:.2f}" for k, v in times[True].items()))
        return untraced, traced

    # -- tracing ---------------------------------------------------------

    def set_tracing(self, on: bool) -> None:
        """Swap the span-recording wrappers in (``on``) or out."""
        from perfbench import trace

        self.tracer.enabled = on
        if on and not self.undo:
            self.undo = trace.patch("spotify_app_etl_spark", self.targets)
        elif not on and self.undo:
            trace.unpatch(self.undo)
            self.undo = []

    def prepare_tracing(self) -> None:
        """Build the wrappers around the program's public functions and
        listen to the streaming queries."""
        from spotify_app_etl_spark import etl, io
        from spotify_app_etl_spark.operators import persist
        from spotify_app_etl_spark.sources import rest

        t = self.tracer
        self.spark.streams.addListener(_batch_listener(self.batches))

        def argument(fn, name):
            sig = inspect.signature(fn)
            return lambda args, kwargs: sig.bind(*args, **kwargs).arguments[name]

        write_path = argument(io.write_parquet, "path")

        def wrote(result, args, kwargs):
            size, files = _dir_stats(write_path(args, kwargs))
            self.layer["io.write_bytes"] = self.layer.get("io.write_bytes", 0) + size
            self.layer["io.files_written"] = self.layer.get("io.files_written", 0) + files

        self.targets = {
            io.load_table: t.wrap("io.load_table", io.load_table),
            io.write_parquet: t.wrap("io.write_parquet", io.write_parquet, wrote),
            rest.fetch_paginated_many: t.wrap("sources.fetch_paginated_many", rest.fetch_paginated_many),
            etl.run_pipeline: t.wrap("etl.run_pipeline", etl.run_pipeline),
            persist.scoped_persist: t.wrap("operators.persist", persist.scoped_persist),
        }

    def layer_metrics(self, traced_passes, untraced_passes, app_id: str,
                      setups: list[dict[str, float]]) -> dict[str, float]:
        """Per-pass layer metrics from the spans, counters and event log."""
        from perfbench import eventlog, trace
        from perfbench.stats import median
        from perfbench.workloads import ETL_TABLES

        n = max(1, len(traced_passes))
        spans = self.tracer.spans
        timed_spans = [s for s in spans if s.op and s.op.startswith("t")]

        def total(name):
            return sum(s.end - s.start for s in timed_spans if s.name == name)

        def calls(name):
            return sum(1 for s in timed_spans if s.name == name)

        self_t = trace.self_times(timed_spans)
        m: dict[str, float] = {
            "session.get_spark_s": median([s["get_spark_s"] for s in setups]),
            "registry.load_all_s": median([s["load_all_s"] for s in setups]),
            "plans.build_s": total("plans.build") / n,
            "plans.build_self_s": self_t.get("plans.build", 0.0) / n,
            "plans.optimize_s": total("plans.optimize") / n,
            "io.load_table_calls": calls("io.load_table") / n,
            "io.load_table_s": total("io.load_table") / n,
            "io.write_s": total("io.write_parquet") / n,
            "io.write_mb": self.layer.get("io.write_bytes", 0) / 2**20 / n,
            "io.files_written": self.layer.get("io.files_written", 0) / n,
            "sources.driver_fetch_s": total("sources.fetch_paginated_many") / n,
            "etl.run_pipeline_s": total("etl.run_pipeline") / n,
            "operators.persist_calls": calls("operators.persist") / n,
            "streaming.batches": self.layer.get("stream_batches", 0) / n,
            "streaming.batch_s": self.layer.get("stream_batch_s", 0.0) / n,
            "fail_ratio": self.outcomes.fail_ratio,
        }
        for t in ETL_TABLES:
            m[f"etl.sink_s.{t}"] = total(f"etl.sink.{t}") / n
        req = sum(tr.requests.value for tr in self.transports)
        thr = sum(tr.throttled.value for tr in self.transports)
        m.update({
            "sources.requests": req / n,
            "sources.throttled": thr / n,
            "sources.ok_ratio": (req - thr) / req if req else 0.0,
        })
        traced_wall = median([sum(p.values()) for p in traced_passes])
        untraced_wall = median([sum(p.values()) for p in untraced_passes])
        m["trace.overhead"] = traced_wall / untraced_wall if untraced_wall else 0.0

        ev = eventlog.parse(eventlog.app_lines(self.run_dir / "eventlog", app_id),
                            lambda g: g.startswith(TIMED_GROUP))
        m.update({k: v / n for k, v in ev.items() if k.startswith(("exec.", "python.", "io."))})
        m["plans.build_jobs"] = ev.get("jobs.build", 0.0) / n
        m["exec.busy_share"] = m["exec.task_run_s"] / (traced_wall * self.cpus) if traced_wall else 0.0
        return m

    # -- the run ---------------------------------------------------------

    def run(self) -> dict:
        from perfbench import datagen, procstat, stats, workloads

        t0 = time.perf_counter()
        probe_start = host_probe_s(self.cpus)
        self.sf_dir = str(datagen.ensure(WORK / "data", self.args.seed, self.args.scale_factor))
        before_setup = time.perf_counter() - t0
        setups = [self.setup() for _ in range(SETUP_CYCLES)]
        # the first set-up runs from process start, without the probe and input generation
        setups[0]["setup_s"] -= before_setup
        _log(f"perfbench: host nproc={self.cpus} pyspark={self.spark.version}"
             f" driver_memory={self.spark.conf.get('spark.driver.memory')} master={self.spark.sparkContext.master}"
             f" scale_factor={self.args.scale_factor}")
        _log(f"perfbench: host probe at start {probe_start:.4f}s")
        _log("perfbench: set-up cycles", " ".join(f"{s['setup_s']:.2f}" for s in setups))

        correct = self.verify_all()
        self.outcomes = stats.Outcomes(self.expected)
        self.tracer.enabled = False

        for w in range(self.workload.warm_passes):
            times = self.run_pass(-1 - w, traced=False)
            _log("perfbench: warm pass:", " ".join(f"{k}={v:.2f}" for k, v in times[False].items()))
        # Free the heap the concurrent verification grew, so that the
        # memory peak is that of the timed passes.
        self.spark.sparkContext._jvm.System.gc()
        if self.args.trace:
            self.prepare_tracing()
            untraced, traced = self.timed(self.args.seconds)
        else:
            cpu0 = procstat.cpu_s(procstat.tree())
            with procstat.PeakMemory() as mem:
                untraced, _ = self.timed(self.args.seconds)
            cpu = procstat.cpu_s(procstat.tree()) - cpu0
        per_op = {name: [p[name] for p in untraced if name in p] for name in self.workload.ops}
        op_medians = {name: stats.median(v) for name, v in per_op.items() if v}
        app_id = self.spark.sparkContext.applicationId
        self.stop()
        _log("perfbench: engine stopped")
        if self.args.trace:
            metrics = self.layer_metrics(traced, untraced, app_id, setups)
            for name in workloads.ALL_OPS:
                metrics[f"op_s.{name}"] = op_medians.get(name, 0.0)
            units = workloads.PER_LAYER
            self.write_spans()
        else:
            metrics = {
                "setup_s": stats.median([s["setup_s"] for s in setups]),
                "wall_s": stats.median([sum(p.values()) for p in untraced]),
                "query_geomean_s": stats.geomean(list(op_medians.values())),
                "cpu_s": cpu / len(untraced),
                "peak_rss_mb": mem.peak_mb,
            }
            units = workloads.END_TO_END
        _log(f"perfbench: host probe at end {host_probe_s(self.cpus):.4f}s")
        _log(f"perfbench: {self.workload.name} seed={self.args.seed} passes={len(untraced)}"
             f" attempted={self.outcomes.attempted} failed={self.outcomes.failed}"
             f" fail_ratio={self.outcomes.fail_ratio:.4f}")
        for f in self.outcomes.failures:
            _log(f"perfbench: failure: {f}")
        for k in units:
            _log(f"perfbench: {k} = {metrics.get(k, 0.0):.6g} {units[k]}")
        return {
            "correct": correct and self.outcomes.failed == 0,
            "attempted": self.outcomes.attempted,
            "failed": self.outcomes.failed,
            "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
        }

    def write_spans(self) -> None:
        out = WORK / "traces" / f"{self.workload.name}-seed{self.args.seed}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps(self.tracer.dump()))

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and its Python workers) to end."""
        if "pyspark" not in sys.modules:
            return
        from pyspark import SparkContext

        gateway, SparkContext._gateway = SparkContext._gateway, None
        proc = getattr(gateway, "proc", None)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import SCALE_FACTOR, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale-factor", type=float, default=SCALE_FACTOR,
                   help=f"scale factor of the generated inputs (default {SCALE_FACTOR})")
    args = p.parse_args(argv)
    if not (ROOT / "spotify_app_etl_spark" / "__init__.py").is_file() or not (
        ROOT / "tests" / "oracle.py"
    ).is_file():
        _log(f"perfbench: no program sources under {ROOT}; nothing to measure")
        return 2
    cpus = len(os.sched_getaffinity(0))
    run_dir = WORK / f"run-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    path = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        # read by spotify_app_etl_spark.session at import time
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # keep every file the engine writes inside the checkout; the
        # launcher JVM that spark-submit starts first reads only this one
        "TMPDIR": str(run_dir / "tmp"),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}",
        # Python workers unpickle perfbench.transport and the program
        "PYTHONPATH": os.pathsep.join(path),
    })
    bench = Bench(args, cpus, run_dir)
    try:
        result = bench.run()
    finally:
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
