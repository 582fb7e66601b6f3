"""SparkSession construction and runtime configuration.

Two layers:

- :func:`get_spark` builds a local session with scale-appropriate
  defaults (AQE on, shuffle partitions ~ cores, Arrow on) and
  configures it. Used by tests, scripts and perfbench.
- :func:`configure_session` applies the runtime-settable confs to ANY
  session — including one handed to us by an external driver. It runs
  once at the boundary where a session comes in: :func:`get_spark`,
  ``__spark_entry__.entry`` and each callable that
  ``registry.queries()`` returns. Engine code below that boundary
  (readers, ETL steps, streaming sources) assumes a configured session
  and never re-applies the confs, so a caller's temporary override
  (``checkpoint.adaptive_off``) holds for the calls it wraps.

Scale note: on a real multi-executor cluster the same confs apply;
``spark.sql.shuffle.partitions`` should instead be sized to
~2-3x total executor cores (or left to AQE coalescing, which we
enable). Nothing here is local-mode-specific except the master URL.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

#: Confs that are safe to set on a running session (SQLConf, not core).
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamps for oracle comparison (duckdb is UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing, skew-join splitting, broadcast demotion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The high shuffle ceiling (configure_session) is only free when
    # AQE coalescing actually APPLIES. By default (false) Spark pins a
    # persisted plan's output partitioning, which disables coalescing
    # for every exchange inside a cached subtree — so each
    # scoped_persist'd signature/gram table (operators/dedup.py)
    # materialized, and was re-scanned, at the FULL initial width. Measured r10, ns_dedup_minhash_verified rider-free
    # arm at sf0.1: eight 1024-task near-zero-runtime stages, 10.1 s →
    # 2.4 s with this flag (the "host drift" the r09 verdict carried as
    # a watch item was in fact this: the r09 ceiling raise 256→1024
    # quadrupled the uncoalesced cached-stage task count). At scale the
    # flag only lets cached exchanges coalesce to the advisory size —
    # the same behavior uncached plans already have; consumers that
    # need a different partitioning re-shuffle under AQE either way.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Recursive-CTE guardrail: the 1M-row default aborts any data-sized
    # walk (RECURSION_ROW_LIMIT_EXCEEDED — measured r11: the order-chain
    # walk at the 128x replica needs ~19.2M frontier rows, one per
    # order). Non-termination is still guarded by the LEVEL limit
    # (cteRecursionLevelLimit=100; our successor edges are acyclic and
    # end in NULL, and TPC-H chain depth tops out ~41 independent of
    # SF). The row limit is an int conf, so the int32 ceiling is the
    # largest raise available; past ~2.1e9 frontier rows a recursive
    # CTE should become an explicit iterative loop (operators/graph.py
    # style) anyway.
    "spark.sql.cteRecursionRowLimit": str(2**31 - 1),
    # The driver testdata stores events.ts as TIMESTAMP(MICROS), but an
    # events.parquet written through pandas stores TIMESTAMP(NANOS),
    # which has no Spark type; scan it as epoch-nanos longs and convert
    # explicitly (io.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


#: applicationIds whose executors already received the package zip.
_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable inside executor Python workers.

    cloudpickle serializes functions that live in an importable module
    BY REFERENCE (module name + qualname), so every mapInPandas /
    applyInPandas / pandas_udf kernel defined in this package needs
    ``spotify_app_etl_spark`` importable in the *worker* interpreter.
    When the driver process was launched from outside the repo (an
    external driver embedding ``__spark_entry__``, or spark-submit
    without ``--py-files``), it is not. ``sc.addPyFile`` of a package
    zip is the runtime equivalent of ``--py-files`` and takes effect
    for all subsequently launched tasks — on a real cluster exactly as
    in local mode.
    """
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _SHIPPED:
        return
    pkg_dir = Path(__file__).resolve().parent
    # Per-application file name: re-registering the same name in one app
    # is rejected by Spark, and a stale zip from an older code version
    # must not leak into a new session.
    zpath = Path(tempfile.gettempdir()) / f"spark_graft_pkg_{app}.zip"
    try:
        if not zpath.exists():
            tmp = zpath.with_suffix(".tmp")
            with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
                for py in sorted(pkg_dir.rglob("*.py")):
                    zf.write(py, arcname=f"{pkg_dir.name}/{py.relative_to(pkg_dir)}")
            os.replace(tmp, zpath)  # atomic vs a concurrent builder
        sc.addPyFile(str(zpath))
        # Mark shipped ONLY on success: a transient failure (full
        # tmpdir, permission race) marked here anyway would disable
        # shipping for the application's whole lifetime, turning a
        # retryable hiccup into permanent executor
        # ModuleNotFoundErrors. On failure the next configure_session
        # call simply tries again.
        _SHIPPED.add(app)
    except OSError:
        # Best effort on the filesystem: when the package is importable
        # from the worker's cwd/PYTHONPATH anyway (tests, bench) nothing
        # is lost. A refusal by Spark itself raises.
        pass


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    Raises when the session refuses a conf: every query's results
    depend on them (UTC timestamps above all), so a session that cannot
    take them must fail here, not return different values later.
    """
    confs = {
        **RUNTIME_CONFS,
        # Elastic shuffle parallelism: shuffles START at 32x the cores
        # of the live context and AQE coalesces down to the advisory
        # size (parallelismFirst keeps small runs at
        # ~defaultParallelism, so sf0.01/sf0.1 plans are unchanged).
        # Without this the fixed `shuffle.partitions ~ cores` cap means
        # every shuffle partition grows linearly with the data — the
        # 128x scale probe measured exactly that failure (HashAggregate
        # spill-then-OOM, cache-eviction thrash in the iterative CC),
        # and the 512x probe re-measured it at an 8x ceiling (q05's
        # six-way join: reduce tasks fetching ~1.2M-row partitions
        # OOM'd the heap; at 32x the same join completes). AQE can only
        # merge partitions, never split a non-skew-join stage, so the
        # ceiling must be set here — and with sort-based shuffle the map
        # side writes ONE file per task regardless of reducer count, so
        # a higher ceiling costs small scales nothing once AQE coalesces
        # them back to ~defaultParallelism.
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            32 * spark.sparkContext.defaultParallelism
        ),
    }
    for key, value in confs.items():
        spark.conf.set(key, value)
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "spotify-app-etl-spark",
    cpus: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults.

    ``cpus`` defaults to the cores this process may run on.
    """
    cpus = cpus or len(os.sched_getaffinity(0))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Shrink the PROTECTED storage region (default 0.5 of the
        # unified pool). Storage above the fraction is evictable for
        # execution anyway, so this only caps what caches can hold
        # against a desperate shuffle — and this engine's heavy queries
        # are shuffle-bound with evictable columnar caches, not
        # cache-latency-bound. The 128x probe measured the default's
        # failure mode: 32 concurrent shuffle-write sorters each denied
        # a 32 KiB pointer array (post-self-spill) while the persisted
        # gram table sat untouchable inside the protected half.
        # Build-time only (core memory manager conf, not a SQLConf).
        .config("spark.memory.storageFraction", "0.3")
    )
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure_session(spark)
