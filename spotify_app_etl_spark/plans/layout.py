"""Physical-layout scale demos: partition pruning, bucketed co-located
joins, and explicit skew salting — registered as oracle-checked queries.

These queries exist to prove the 100 TB story with *executed plans*,
not docstrings:

- **Partition pruning** (`q_scan_partition_pruning`): a date-partitioned
  copy of ``events`` is written once per session, then scanned with a
  partition-key predicate. At 100 TB a date-partitioned event log is
  the difference between scanning 3 files and scanning 36,500 —
  `tests/test_layout.py` asserts the executed scan carries
  ``PartitionFilters`` and touched only the selected partitions.
- **Bucketed co-located join** (`q_join_bucketed_colocated`): lineitem
  and orders are bucketed on their join key with the same bucket count,
  so the fact⋈fact join runs with NO shuffle on either side — the
  exchange that dominates TPC-H Q3/Q5-shaped plans at scale disappears.
  The test asserts zero Exchange operators feed the join.
- **Salting** (`q_agg_salted_twophase`, `q_join_salted_hotkey`): the
  explicit-rewrite fallback for skew AQE cannot fix (hash-agg on a
  3-value key; a hot probe key against an un-broadcastable build side).
  Salting is semantics-preserving, so both carry full SQL oracles.

Reference parity: none of this exists in the reference (a single-node
pandas script has no partitions to prune); this is the Spark-native
layer the brief's scale goal requires.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from spotify_app_etl_spark.operators import skew
from spotify_app_etl_spark.plans.common import dec, dsum, t
from spotify_app_etl_spark.registry import query

#: value quantization for deterministic double sums (see
#: plans/embed_analytics.py for the rationale).
_Q = 1_000_000


def _layout_dir(spark: SparkSession, sf_dir: str, kind: str) -> str:
    # App-scoped scratch (no cross-session races) with exit-time
    # removal (no one-tree-per-process /tmp leak) — see
    # common.app_scratch_base.
    from spotify_app_etl_spark.plans.common import app_scratch_base

    tag = sf_dir.rstrip("/").replace("/", "_")
    return os.path.join(
        app_scratch_base(spark, "spark_graft_layout"), f"{tag}.{kind}"
    )


# ---------------------------------------------------------------------------
# Partition pruning.
# ---------------------------------------------------------------------------


def partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per session) a date-partitioned copy of ``events``.

    Layout: ``event_date=YYYY-MM-DD/`` directories, the standard
    time-partitioned event-log layout. The write itself is the pattern
    to copy at scale: derive the partition key in the select, let the
    writer fan rows into partition directories (dynamic partitioning,
    one pass).
    """
    path = _layout_dir(spark, sf_dir, "events_by_day")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            t(spark, sf_dir, "events")
            .select(
                "event_id",
                "event_type",
                "value",
                F.to_date("ts").alias("event_date"),
            )
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(path)
        )
    return path


def pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pruned read-back, shared by the query and the plan test."""
    path = partitioned_events_path(spark, sf_dir)
    ev = spark.read.parquet(path)
    # partition-key predicate → Catalyst prunes directories at planning
    # time; non-matching partitions are never listed into the scan
    return ev.filter(
        F.col("event_date").cast("date").between("2024-01-03", "2024-01-05")
    )


@query(
    "q_scan_partition_pruning",
    note="date-partitioned event-log layout: dynamic-partition write, "
    "then a partition-key range scan — the executed plan prunes to 3 "
    "of the partition directories (PartitionFilters, asserted in "
    "tests/test_layout.py); per-day counts + quantized value sums",
    oracle=f"""
SELECT CAST(ts AS DATE) AS event_date, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * {_Q}) AS BIGINT)) AS DOUBLE) / {_Q} AS value_sum
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-03' AND DATE '2024-01-05'
GROUP BY 1, 2
""",
    tags=("layout", "partitioning", "scan"),
)
def q_scan_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = pruned_scan(spark, sf_dir)
    return ev.groupBy(
        F.col("event_date").cast("date").alias("event_date"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.floor(F.col("value") * _Q).cast("bigint")).cast("double") / _Q
        ).alias("value_sum"),
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join.
# ---------------------------------------------------------------------------

_BUCKETS = 8


def _bucketed_table(
    spark: SparkSession, sf_dir: str, name: str, key: str, cols: list[str]
) -> str:
    """Create (once per session) a bucketed catalog table over testdata.

    Bucketing is Spark's persisted co-location: rows are hash-assigned
    to ``_BUCKETS`` files by ``key`` at write time, and every later
    join/aggregate on ``key`` reuses that distribution instead of
    shuffling. At 100 TB this is THE way to make a repeated fact⋈fact
    join affordable — pay the shuffle once at ingest, never again.
    """
    tag = sf_dir.rstrip("/").replace("/", "_").replace(".", "_").replace("-", "_")
    tbl = f"bkt_{name}_{tag}"
    if not spark.catalog.tableExists(tbl):
        (
            t(spark, sf_dir, name)
            .select(*cols)
            .write.format("parquet")
            .bucketBy(_BUCKETS, key)
            .sortBy(key)
            .option("path", _layout_dir(spark, sf_dir, f"bkt_{name}"))
            .mode("overwrite")
            .saveAsTable(tbl)
        )
    return tbl


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders with both sides bucketed on the join key —
    shared by the query and the zero-Exchange plan test."""
    li_tbl = _bucketed_table(
        spark, sf_dir, "lineitem",
        "l_orderkey", ["l_orderkey", "l_extendedprice", "l_discount"],
    )
    o_tbl = _bucketed_table(
        spark, sf_dir, "orders",
        "o_orderkey", ["o_orderkey", "o_orderpriority"],
    )
    li = spark.table(li_tbl)
    orders = spark.table(o_tbl)
    return li.join(orders, li.l_orderkey == orders.o_orderkey)


@query(
    "q_join_bucketed_colocated",
    note="fact⋈fact join with BOTH sides bucketed (8 buckets) on the "
    "join key: zero Exchange feeds the join (asserted in "
    "tests/test_layout.py) — the pay-shuffle-once-at-ingest pattern "
    "for repeated large joins; revenue per order priority",
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (CAST(1.0 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2))))
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
    tags=("layout", "bucketing", "join"),
)
def q_join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = bucketed_join(spark, sf_dir)
    rev = dec("l_extendedprice") * (
        F.lit("1.0").cast("decimal(12,2)") - dec("l_discount")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"), dsum(rev, "revenue")
    )


# ---------------------------------------------------------------------------
# Explicit skew salting (semantics-preserving → full oracles).
# ---------------------------------------------------------------------------


@query(
    "q_agg_salted_twophase",
    note="salted two-phase aggregation on a 3-value group key "
    "(l_returnflag): partial decimal sums per (key, salt-of-row) spread "
    "the 3 hot groups over 16 reducers each, final merge is 48 rows — "
    "the rewrite for skew AQE cannot split (hash-agg groups); "
    "semantics-preserving, so bit-exact vs the plain GROUP BY oracle",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1.0 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
            AS DOUBLE) AS revenue
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("layout", "skew", "aggregate"),
)
def q_agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    rev = dec("l_extendedprice") * (
        F.lit("1.0").cast("decimal(12,2)") - dec("l_discount")
    )
    return skew.salted_agg(
        li,
        group_cols=["l_returnflag"],
        partial_aggs=[
            F.count(F.lit(1)).alias("__n"),
            F.sum(rev).alias("__rev"),  # decimal partial: exact merge
        ],
        final_aggs=lambda p: [
            F.sum("__n").alias("n_items"),
            F.sum("__rev").cast("double").alias("revenue"),
        ],
        salt_cols=["l_orderkey", "l_linenumber"],
        salt_buckets=16,
    )


@query(
    "q_join_salted_hotkey",
    note="salted equi-join: probe (lineitem) salted by row hash, build "
    "(supplier+nation, too big to broadcast at 100 TB sf) replicated "
    "8x — a hot l_suppkey spreads over 8 tasks instead of stalling one; "
    "semantics-preserving, bit-exact vs the plain join oracle",
    oracle="""
SELECT n.n_name,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (CAST(1.0 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2))))
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    tags=("layout", "skew", "join"),
)
def q_join_salted_hotkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount", "l_orderkey", "l_linenumber"
    )
    build = (
        t(spark, sf_dir, "supplier")
        .join(
            t(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("s_suppkey").alias("l_suppkey"), "n_name")
    )
    joined = skew.salted_join(
        li, build, key="l_suppkey",
        salt_cols=["l_orderkey", "l_linenumber"], salt_buckets=8,
    )
    rev = dec("l_extendedprice") * (
        F.lit("1.0").cast("decimal(12,2)") - dec("l_discount")
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_items"), dsum(rev, "revenue")
    )


@query(
    "ns_layout_compact_roundtrip",
    note="bounded partitioned compaction end-to-end (io.compact_partitioned "
    "— the hot-partition small-file maintenance a streaming ingest needs "
    "at 100 TB): write events hive-partitioned by event_type with 8-way "
    "fragmentation into a self-clearing scratch dir, compact, re-read. "
    "File counts are layout-defined → rows-only; self-verifying: "
    "rows_preserved asserts per-partition row counts survive the "
    "stage-and-swap rewrite bit-for-bit, compacted asserts every "
    "fragmented partition ended with fewer files",
    tags=("northstar", "layout", "compaction"),
)
def ns_layout_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from spotify_app_etl_spark.io import compact_partitioned, local_table

    # applicationId-scoped like every other scratch path here:
    # concurrent sessions (parallel pytest, bench beside the driver)
    # must not delete each other's live copy mid-read.
    base = _layout_dir(spark, sf_dir, "compact_rt")
    shutil.rmtree(base, ignore_errors=True)
    # The round-trip tests file layout only: the partition column and
    # one value column are all the scratch copy needs.
    src = t(spark, sf_dir, "events").select("event_type", "value")
    src.repartition(8).write.partitionBy("event_type").mode("overwrite").parquet(
        base
    )
    # Materialize the BEFORE file counts eagerly: the frame is lazy and
    # the files it lists are about to be rewritten.
    before = {
        r["event_type"]: r["nf"]
        for r in spark.read.parquet(base)
        # input_file_name() may not sit inside an aggregate — project
        # it to a column first, then count distinct.
        .select("event_type", F.input_file_name().alias("__f"))
        .groupBy("event_type")
        .agg(F.count_distinct("__f").alias("nf"))
        .collect()
    }
    compact_partitioned(
        spark,
        base,
        target_file_bytes=1 << 40,  # everything into one file per partition
        max_partitions=100,
        min_files_to_compact=2,
    )
    before_df = local_table(
        spark,
        {"event_type": list(before), "files_before": list(before.values())},
        "event_type string not null, files_before long not null",
    )
    after = (
        spark.read.parquet(base)
        .select("event_type", F.input_file_name().alias("__f"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("__f").alias("files_after"),
        )
    )
    expected = src.groupBy("event_type").agg(F.count(F.lit(1)).alias("__n_src"))
    return (
        after.join(F.broadcast(before_df), "event_type")
        .join(expected, "event_type")
        .select(
            "event_type",
            "n_rows",
            "files_before",
            "files_after",
            (F.col("n_rows") == F.col("__n_src")).alias("rows_preserved"),
            (
                (F.col("files_after") < F.col("files_before"))
                | (F.col("files_before") < 2)
            ).alias("compacted"),
        )
    )


@query(
    "ns_layout_zorder_skipping",
    note="Z-order (Morton) layout round-trip (io.write_zordered): "
    "events' (user_id, hour) dims min-max scaled onto the full "
    "[0, 255]² grid (the morton_key contract — equal per-dimension "
    "resolution), written as 16 Z-range-partitioned parquet files into "
    "a self-clearing scratch dir, read back. Emits one row per file "
    "ordered along the curve (z_start = the file's minimum Morton key) "
    "with its row count and per-dimension value spans — exactly the "
    "footer min/max stats a scan would skip on. File layout is "
    "write-defined → rows-only; self-verifying: rows_preserved pins "
    "the round-trip row count against the source, and u_skip_ok / "
    "h_skip_ok assert the mean per-file span of EACH dimension is "
    "under 60% of its full domain — the two-dimensional skipping "
    "property a single-column sort cannot give (the sorted-baseline "
    "comparison lives in tests/test_layout.py).",
    tags=("northstar", "layout", "zorder"),
)
def ns_layout_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from spotify_app_etl_spark.io import morton_key, write_zordered

    base = _layout_dir(spark, sf_dir, "zorder_rt")
    shutil.rmtree(base, ignore_errors=True)
    raw = t(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        F.floor(F.unix_timestamp("ts") / 3600).alias("abs_hour"),
    )
    # domain bounds: one 4-scalar driver row (bounded state, like the
    # zorder test) — production would take these from table stats
    b = raw.agg(
        F.min("user_id").alias("u0"),
        F.max("user_id").alias("u1"),
        F.min("abs_hour").alias("h0"),
        F.max("abs_hour").alias("h1"),
    ).first()
    bits, n_files = 8, 16
    top = (1 << bits) - 1
    # degenerate-domain guard: a constant dimension would make the
    # min-max divisor 0 (ANSI division error). max(span, 1) keeps the
    # scale finite; the constant column then lands wholly on grid cell
    # 0, per-file spans are 0, and the skip riders hold vacuously.
    u_dom = max(int(b.u1 - b.u0), 1)
    h_dom = max(int(b.h1 - b.h0), 1)
    ev = raw.select(
        "event_id",
        "user_id",
        F.floor((F.col("user_id") - b.u0) * top / u_dom).alias("u_s"),
        (F.col("abs_hour") - b.h0).alias("hour"),
        F.floor((F.col("abs_hour") - b.h0) * top / h_dom).alias("h_s"),
    )
    write_zordered(ev, base, "u_s", "h_s", n_files=n_files, bits=bits)
    rb = spark.read.parquet(base).withColumn("__f", F.input_file_name())
    per_file = rb.groupBy("__f").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(morton_key("u_s", "h_s", bits)).alias("z_start"),
        (F.max("user_id") - F.min("user_id")).alias("u_span"),
        (F.max("hour") - F.min("hour")).alias("h_span"),
    )
    riders = per_file.agg(
        (F.sum("n_rows") == F.lit(int(ev.count()))).alias("rows_preserved"),
        (F.avg("u_span") < 0.6 * float(u_dom)).alias("u_skip_ok"),
        (F.avg("h_span") < 0.6 * float(h_dom)).alias("h_skip_ok"),
    )
    return (
        per_file.select("z_start", "n_rows", "u_span", "h_span")
        .crossJoin(F.broadcast(riders))
        .orderBy("z_start")
    )
