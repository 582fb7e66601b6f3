"""Scalable global ranking: total-order row numbers and ntile without
a single-partition window.

``Window.orderBy(...)`` with no ``partitionBy`` moves EVERY row to one
task (Spark warns "No Partition Defined for Window operation") — the
classic hidden scale cliff: correct and quiet at sf0.1, a one-executor
sort of the whole table at 100 TB. The exact global rank does not need
a global sort on one machine:

1. ``repartitionByRange`` on the sort key — the same distributed range
   sort every ``orderBy`` write uses; each partition holds a
   contiguous, disjoint key range — then ``sortWithinPartitions``
   (the sort is part of the same shuffle's reduce side, no extra
   exchange).
2. ``monotonically_increasing_id`` evaluated ABOVE that sort gives
   each row (partition id << 33) | (0-based record index within the
   partition), i.e. the local rank for free, in sorted order. A
   window partitioned by ``spark_partition_id()`` would compute the
   same thing but plans ``Exchange hashpartitioning(pid)`` on top of
   the range exchange — Catalyst cannot know pid is constant within a
   partition, so the "free" window costs a SECOND full-table shuffle
   (measured in the executed plan; this operator exists to avoid
   exactly that class of hidden cost).
3. Per-partition row counts (one long per partition — O(partitions)
   driver state, same coordination budget as KMeans/power iteration)
   turn local ranks into global ranks by prefix-sum offset, joined
   back as a broadcast.

The rank is exact and boundary-invariant: range boundaries only decide
WHERE the total order is cut, never the order itself, so sampling
nondeterminism inside ``repartitionByRange`` cannot change the result
(requires a total order — pass a unique tie-break column, or equal
keys get arbitrary but still deterministic-given-partitioning ranks;
every caller here orders by a key ending in a unique id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from spotify_app_etl_spark import io


def global_row_number(
    df: DataFrame,
    order_cols: list[Column | str],
    out: str = "rn",
    num_ranges: int | None = None,
) -> DataFrame:
    """Add an exact 1-based global row number under ``order_cols``.

    One range shuffle + one parallel per-partition window + an
    O(partitions) count collect. Compare: the naive
    ``row_number().over(Window.orderBy(...))`` is one shuffle to a
    SINGLE partition and a serial sort of the entire table.
    """
    ranked, _ = _global_row_number_with_total(df, order_cols, out, num_ranges)
    return ranked


def _global_row_number_with_total(
    df: DataFrame,
    order_cols: list[Column | str],
    out: str = "rn",
    num_ranges: int | None = None,
) -> tuple[DataFrame, int]:
    """(ranked df, total row count) — the counts collect that builds
    the prefix-sum offsets already knows N, so consumers that need it
    (ntile) must not launch a second full count() job over the table."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = num_ranges or df.sparkSession.sparkContext.defaultParallelism
    # monotonically_increasing_id above the in-partition sort IS the
    # local rank: upper bits carry the partition id, lower 33 bits the
    # 0-based record index in row order — which here is the sorted
    # order. One exchange total (the range shuffle); the equivalent
    # window over spark_partition_id() plans a second full-table hash
    # exchange. The bit layout is pinned by the equivalence property
    # tests in tests/test_rank.py, which compare against the single-
    # partition window bit-for-bit.
    local = (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        # one evaluation of the nondeterministic id, then pure
        # arithmetic on the materialized column
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.shiftright("__mid", 33).cast("int"))
        .withColumn(
            "__lrn",
            (F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)) + 1).cast("long"),
        )
        .drop("__mid")
    )
    # Two consumers read `local` (the counts action below and the
    # returned plan), and both must see the SAME range boundaries.
    # persist — not localCheckpoint — pins that: the counts action
    # materializes every partition, the final join reads the cached
    # blocks, and lineage survives, so a lost executor recomputes its
    # partitions instead of killing the job (checkpoint severs lineage
    # and makes any block loss fatal). The default DataFrame level
    # spills oversized partitions to disk rather than OOMing; the
    # storage bill is the ranked table either way — the price of
    # consistency, paid in evictable cache instead of mandatory
    # checkpoint blocks. (RangePartitioner samples with per-partition
    # fixed seeds, so even a recompute of a lost block re-derives
    # identical boundaries for deterministic input.) Registered with
    # the session-wide scoped-cache list so release_cached() frees it.
    from spotify_app_etl_spark.operators.persist import scoped_persist

    local = scoped_persist(local)
    counts = {r["__pid"]: r["n"] for r in local.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = io.local_table(
        df.sparkSession,
        {"__pid": list(offsets), "__off": list(offsets.values())},
        "__pid int not null, __off long not null",
    )
    ranked = (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn(out, (F.col("__off") + F.col("__lrn")).cast("long"))
        .drop("__pid", "__lrn", "__off")
    )
    return ranked, acc


def global_ntile(
    df: DataFrame,
    order_cols: list[Column | str],
    n_tiles: int,
    out: str = "bin",
    num_ranges: int | None = None,
) -> DataFrame:
    """Exact SQL ``ntile(n)`` semantics from the scalable global rank.

    Standard ntile: with N rows, the first ``N % n`` tiles get
    ``N // n + 1`` rows, the rest ``N // n`` — derived arithmetically
    from the global row number, so this matches the window function
    bit-for-bit while staying parallel.
    """
    rn = "__ntile_rn"
    # N rides along with the offsets collect inside the rank build — a
    # separate ranked.count() would launch one more whole-table job
    # (plus the broadcast join it contains) just to recompute a sum the
    # driver already took.
    ranked, n_rows = _global_row_number_with_total(
        df, order_cols, out=rn, num_ranges=num_ranges
    )
    big = n_rows % n_tiles  # tiles that get one extra row
    size_big = n_rows // n_tiles + 1
    size_small = n_rows // n_tiles
    cutoff = big * size_big  # rows covered by the big tiles
    r = F.col(rn)
    bin_col = F.when(
        F.lit(big > 0) & (r <= F.lit(cutoff)),
        F.floor((r - 1) / F.lit(max(size_big, 1))) + 1,
    ).otherwise(
        F.lit(big) + F.floor((r - 1 - F.lit(cutoff)) / F.lit(max(size_small, 1))) + 1
    )
    return ranked.withColumn(out, bin_col.cast("int")).drop(rn)
