"""Count-min sketch: a bounded, mergeable frequency summary.

Cormode & Muthukrishnan 2005: a ``depth x width`` counter matrix where
every key increments one counter per row (bucket = hash_d(key) % width)
and a key's estimate is the MINIMUM of its ``depth`` counters. Errors
are ONE-SIDED (estimate >= true count, always — collisions only add)
and bounded (estimate <= true + eps*N with high probability, eps ~
e/width, N = total increments).

Why this shape on Spark: the sketch build is a plain ``groupBy`` whose
KEY SPACE is capped at depth*width, so map-side partial aggregation
compresses every partition to at most depth*width rows before the
shuffle — shuffle volume is O(partitions * depth * width) REGARDLESS
of corpus size or key cardinality, where an exact frequency table
shuffles O(distinct keys). The sketch itself is a tiny DataFrame:
persist it with any writer, merge sketches of corpus deltas with
:func:`cms_merge` (counter-wise sum — the standard CMS merge), probe
it later without rescanning the corpus. That build-once/probe-many,
bounded-state contract is what the exact ``groupBy`` can't offer at
100 TB; for a one-shot exact top-k on a small vocab, use the exact
aggregate (``ns_text_vocab_topk``) instead.

Hashing is ``xxhash64(key, depth_row)`` — deterministic across runs
and engines' sessions, so estimates (and the registered query's
riders) are stable, reproducible values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from spotify_app_etl_spark import io

#: Sketch schema: one row per non-zero counter.
_SKETCH_SCHEMA = "d int, bucket int, cnt bigint"


def _name(col: str) -> str:
    """``col`` as a quoted SQL identifier."""
    return "`" + col.replace("`", "``") + "`"


def _bucket(key: str, d: str, width: int) -> str:
    """SQL for the row-``d`` bucket of ``key``: xxhash64 seeded by the
    row index. pmod (not %) so negative hashes land in [0, width)."""
    return f"CAST(pmod(xxhash64({key}, {d}), {width}) AS INT)"


def _check_params(depth: int, width: int) -> None:
    if depth <= 0 or width <= 0:
        raise ValueError(f"depth and width must be positive, got {depth}x{width}")


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a CMS over ``df[key_col]`` (one increment per row, or
    ``weight_col`` per row): returns the sketch as a ``(d, bucket,
    cnt)`` DataFrame with at most depth*width rows. NULL keys are
    skipped (they are not a frequency), NULL weights count 0.

    The explode-by-depth happens BEFORE the aggregate on purpose: the
    grouped key space (d, bucket) is capped at depth*width, so Spark's
    partial hash aggregation collapses each partition to sketch size
    map-side — the per-partition sketch + tree-merge pattern expressed
    as one declarative groupBy.
    """
    return _sum_counters(_increments(df, key_col, depth, width, weight_col))


def _increments(
    df: DataFrame, key_col: str, depth: int, width: int, weight_col: str | None
) -> DataFrame:
    """One ``(d, bucket, cnt)`` row per counter increment of ``df``.

    SQL expressions throughout: each ``F.col``/``alias`` is several JVM
    round trips while the plan is built.
    """
    _check_params(depth, width)
    key = _name(key_col)
    w = (
        "1L"
        if weight_col is None
        else f"coalesce(CAST({_name(weight_col)} AS BIGINT), 0)"
    )
    return (
        df.filter(f"{key} IS NOT NULL")
        .selectExpr(f"{key} AS __k", f"{w} AS __w")
        .selectExpr(f"explode(sequence(0, {depth - 1})) AS d", "__k", "__w")
        .selectExpr("d", f"{_bucket('__k', 'd', width)} AS bucket", "__w AS cnt")
    )


def _sum_counters(rows: DataFrame) -> DataFrame:
    return rows.groupBy("d", "bucket").agg(F.expr("sum(cnt) AS cnt"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Counter-wise sum of same-shape sketches — the CMS merge. Merging
    sketches of corpus deltas equals the sketch of the union (asserted
    in tests), which is what makes the summary incrementally
    maintainable without re-scanning history."""
    if not sketches:
        raise ValueError("cms_merge needs at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return _sum_counters(out)


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Point-query the sketch for every row of ``keys``: adds an
    ``est`` column = min over the ``depth`` counters. Keys absent from
    the sketched corpus get the collision floor (>= 0), never NULL —
    CMS has no membership test, only an upper-bounded count.

    ``depth``/``width`` must match the build (they are not stored in
    the sketch rows; at mismatch the bucket math silently probes wrong
    counters — pass them from the same config that built it). The
    sketch side is depth*width rows at most, so the join broadcasts;
    the keys side streams — probing N keys is one broadcast-join pass.
    """
    _check_params(depth, width)
    probes = keys.selectExpr(
        "*", f"explode(sequence(0, {depth - 1})) AS __d"
    ).selectExpr("*", f"{_bucket(_name(key_col), '__d', width)} AS __bucket")
    joined = probes.join(
        F.broadcast(sketch.withColumnRenamed("cnt", "__cnt")),
        F.expr("__d = d AND __bucket = bucket"),
        "left",
    )
    return joined.groupBy(*keys.columns).agg(F.expr("min(coalesce(__cnt, 0)) AS est"))


# ---------------------------------------------------------------------------
# Persisted sketch: generation-committed state for build-once/probe-many
# and streaming maintenance. Each generation is one parquet file under
# {path}/gen=N/, opened and committed through the protocol io owns
# (io.open_write / io.open_read, shared with the ANN and MinHash
# indexes): a write or commit that fails leaves readers, and the next
# merge, at the previous generation, and the path holds at most two.
# ---------------------------------------------------------------------------


def cms_state_read(spark, path: str):
    """The committed sketch at ``path`` as ``(sketch_df, record)``, or
    ``(None, None)`` if nothing is committed yet. Runs no Spark job:
    the record is read on the driver and the generation is opened with
    the sketch's declared schema."""
    gdir, record = io.open_read(
        spark, path, "count-min sketch", "read", missing_ok=True
    )
    if record is None:
        return None, None
    return spark.read.schema(_SKETCH_SCHEMA).parquet(gdir), record


def _merge_batch(
    prev: DataFrame | None,
    batch_df: DataFrame,
    key_col: str,
    depth: int,
    width: int,
    weight_col: str | None,
) -> DataFrame:
    """``cms_merge(prev, cms_build(batch_df, ...))`` with one aggregate:
    the committed counters and the batch's increments are summed in the
    same groupBy, one shuffle instead of two."""
    rows = _increments(batch_df, key_col, depth, width, weight_col)
    return _sum_counters(rows if prev is None else prev.unionByName(rows))


def cms_ingest_batch(
    batch_df: DataFrame,
    path: str,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
    weight_col: str | None = None,
    batch_id: int | None = None,
) -> None:
    """Merge one batch into the persisted sketch: counter-wise sum into
    a NEW generation, written as one file (it holds at most depth*width
    rows), then a commit record naming it.

    Retry-idempotent when ``batch_id`` is supplied (foreachBatch
    semantics): the commit record holds the last merged batch, and a
    re-delivered batch is skipped instead of double-counted. A failure
    anywhere before the record is in place leaves the committed state
    untouched, so the retry recomputes the SAME merge from the same
    previous generation — convergent, never cumulative. An empty batch
    commits a generation equal to the previous one.

    depth/width are sketch identity: a mismatch against the committed
    record raises (bucket math from a different geometry would merge
    garbage).
    """
    _check_params(depth, width)
    spark = batch_df.sparkSession
    g = io.open_write(
        spark, path, "count-min sketch", "merge", depth=depth, width=width
    )
    prev = None
    if g.record is not None:
        if batch_id is not None and g.record["last_batch"] == batch_id:
            return  # re-delivered batch: already committed, skip
        prev = spark.read.schema(_SKETCH_SCHEMA).parquet(g.live_dir)
    merged = _merge_batch(prev, batch_df, key_col, depth, width, weight_col)
    merged.coalesce(1).write.mode(g.mode).parquet(g.dir)
    g.commit(last_batch=batch_id)
