"""Structured Streaming jobs: windowed aggregation with watermarks,
session windows, stateful sessionization, and a streaming JDBC/parquet
sink via foreachBatch.

The reference's closest shape is the ``recent_tracks`` event log
(played_at event time, /root/reference/spotify-etl.py:179-185), which
it re-snapshots on every run instead of processing incrementally
(SURVEY.md §1.1). These jobs are the incremental treatment: the same
``F.window`` / ``F.session_window`` expressions as the batch queries in
plans/events.py — Spark uses one logical operator for both, so the
batch DuckDB-oracle checks validate the streaming semantics, and the
streaming tests only need to show batch/stream result equality.

Scale notes:
- Watermarks bound state: without one, a windowed agg keeps every
  window open forever (OOM at 100 TB/day). ``delay`` trades lateness
  tolerance for state size.
- Session windows with skewed user_id produce hot state partitions;
  ``spark.sql.shuffle.partitions`` sizes the state store spread, and
  the watermark evicts closed sessions (SURVEY.md §7 risk e).
- ``foreachBatch`` turns any batch sink (JDBC included) into a
  streaming sink with exactly-once-per-epoch semantics keyed on
  ``batch_id`` — the streaming upgrade of the reference's
  snapshot-replace load (A15).
- Watermark caveat (verified empirically, tests/test_streaming.py):
  since Spark 3.4 the engine keeps TWO watermarks — late-event
  filtering uses the *previous* micro-batch's value, state eviction
  the current one. A very-late row arriving in the same batch that
  first advances the watermark is NOT dropped; it lands in state and
  is evicted-and-emitted. Guaranteed-drop therefore needs the
  watermark to have advanced in an *earlier* batch.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from spotify_app_etl_spark import schemas


def read_event_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source event stream: parquet files arriving in a directory.

    The driver testdata ``events`` table stores ``ts`` as parquet
    TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ. Spark's
    event-time watermark requires TIMESTAMP, so the stream casts NTZ →
    TIMESTAMP at the source. That cast is 1:1 on wall-clock values —
    stream rows identical to the batch rows — only in a UTC session,
    which ``configure_session`` (run by whoever hands the session in:
    ``get_spark``, ``registry.queries()``) guarantees. The schema is
    the one typed definition in ``schemas.EVENTS`` — re-declaring it
    here is exactly the drift that module exists to prevent.
    """
    stream = (
        spark.readStream.schema(schemas.EVENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Per-window, per-type counts+sums; late data beyond the watermark
    is dropped (the fate the reference's snapshot model can't express).

    The sum is exact-decimal for determinism, but at decimal(38,2) —
    NOT the batch plans' decimal(12,2): under Spark 4's default ANSI
    mode a single out-of-range value would throw CAST_OVERFLOW, and in
    a streaming query that is a poison pill (the checkpoint replays the
    same batch on every restart, crashing forever). (38,2) quantizes
    identically for in-range values, so the stream==batch equality
    tests hold unchanged.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,2)")).cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "value_sum")
    )


def session_stats(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (gap-merged), watermark-evicted state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def user_activity_tracker(
    events: DataFrame, idle_timeout_ms: int | None = None
) -> DataFrame:
    """Custom stateful operator: per-user running activity summary via
    ``applyInPandasWithState`` — the escape hatch for stateful logic
    that windowed aggregation can't express (here: cumulative count +
    sum and the per-user max event time, emitted incrementally every
    micro-batch).

    State is one tuple per user (two longs, a double, a timestamp) —
    bounded by |users| — so a 1000-executor run shards state by
    user_id hash with no hot global state. ``idle_timeout_ms`` enables
    processing-time eviction of idle users for long-running
    deployments. Leave it None for drain-style runs: a registered
    processing-time timeout keeps ``trigger(availableNow)`` scheduling
    empty micro-batches until it fires, so the query never terminates
    (observed empirically).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, value_sum double, last_ts timestamp"
    state_schema = "n long, s double, last long"

    def track(key, pdfs, state: GroupState):
        import pandas as pd  # re-import: runs on executors

        if state.hasTimedOut:
            state.remove()  # idle eviction: free state, emit nothing
            return
        n, s, last = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            last = max(last, int(pdf["ts"].max().value // 1000))  # epoch micros
        state.update((n, s, last))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "value_sum": [s],
                "last_ts": [pd.Timestamp(last, unit="us")],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if idle_timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def click_purchase_interval_join(
    events: DataFrame, max_gap: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join: each click joined to same-user
    purchases within the preceding ``max_gap``.

    Both sides carry watermarks and the join condition bounds event
    time on both sides — the two requirements that let Spark expire
    join state (without them, stream-stream state grows forever).
    State per side ~ watermark + gap of data, sharded by user_id.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"c_user = p_user AND p_ts >= c_ts - INTERVAL {max_gap} AND p_ts <= c_ts"
        ),
        "inner",
    ).select("c_user", "click_id", "c_ts", "purchase_id", "p_ts", "purchase_value")


def enrich_with_static_profile(
    events: DataFrame, profile: DataFrame
) -> DataFrame:
    """Stream-static join: enrich each streaming event with a static
    per-user profile DataFrame (``user_id``, profile columns).

    The production enrichment shape: the static side is a dimension
    snapshot (user table, model scores, allow-list) that Spark re-reads
    per micro-batch — no state store involved, unlike stream-stream
    joins, and no watermark needed. At scale the static side should be
    broadcast-sized or pre-bucketed on the join key; Catalyst plans the
    per-batch join exactly like the batch equivalent, so the batch
    query IS the semantics oracle (asserted in tests/test_streaming.py).
    """
    # No forced broadcast: the static side is caller-provided and may
    # be dimension-snapshot-small (Catalyst broadcasts it per batch
    # when it measures under the threshold) or pre-bucketed/large — a
    # hint would foreclose the second path and OOM at scale.
    return events.join(profile, "user_id", "left").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        "profile_n_events",
        "profile_value_sum",
    )


def user_profile_snapshot(batch_events: DataFrame) -> DataFrame:
    """Static per-user profile for :func:`enrich_with_static_profile`:
    lifetime event count + quantized value total per user."""
    return batch_events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("profile_n_events"),
        (
            F.sum(F.floor(F.col("value") * 1_000_000).cast("bigint")).cast("double")
            / 1_000_000
        ).alias("profile_value_sum"),
    )


def dedup_within_watermark(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state.

    ``dropDuplicates`` on a stream keeps every key ever seen (state
    grows without bound — fatal for a continuous training-data intake).
    ``dropDuplicatesWithinWatermark`` keeps one row per key among
    duplicates arriving within the watermark delay of each other and
    evicts key state once the watermark passes it: state ~ one row per
    distinct key per watermark window, sharded by key hash. This is the
    streaming upgrade of the reference's driver-side
    ``set(ids)`` dedup (spotify-etl.py:250, operator A11) and the
    batch ``dropDuplicates`` query (q_drop_duplicates).
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def run_to_memory_sink(
    stream_df: DataFrame,
    query_name: str,
    spark: SparkSession,
    output_mode: str | None = None,
) -> DataFrame:
    """Drain the whole stream with availableNow (process everything
    currently in the source, then stop) into an in-memory table;
    returns the result as a DataFrame. Test/dev harness.

    ``output_mode`` defaults to "complete" (right for aggregations);
    pass "append" for non-aggregating streams (dedup, joins)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode or "complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def stream_to_batch_sink(
    stream_df: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    output_mode: str = "update",
    available_now: bool = False,
):
    """foreachBatch bridge: reuse any batch writer (io.write_jdbc,
    io.write_parquet) as a streaming sink. ``write_batch(df, batch_id)``
    can key idempotency on batch_id (exactly-once per epoch with the
    checkpoint). ``available_now=True`` drains the current source
    contents then stops. Returns the started StreamingQuery."""
    writer = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def user_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running totals on ``transformWithStateInPandas`` — the
    Spark 4 successor to ``applyInPandasWithState`` (SPARK-49564):
    typed per-key state handles (ValueState/ListState/MapState) with
    independent TTLs instead of one state tuple + one timeout, and an
    explicit processor lifecycle (init/handleInputRows/close).

    Same semantics as :func:`user_activity_tracker` (final row per user
    == the batch groupBy; asserted in tests/test_streaming.py), so the
    two APIs are directly comparable in this repo. State is one
    (count, sum) value per user — sharded by the grouping key, no
    global state.

    Runtime requirements (a real deployment has both; this container
    lacks the second, so the test self-skips): the RocksDB state store
    provider (``spark.sql.streaming.stateStore.providerClass``) and
    ``google.protobuf`` in the Python environment — the TWS driver
    worker serializes state requests over protobuf.
    """
    import pandas as pd

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("value_sum", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("s", DoubleType())]
    )

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, s = self._state.get() if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._state.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "value_sum": [s]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Totals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def streaming_dedup_ingest(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    available_now: bool = False,
):
    """Streaming corpus ingest with near-dup filtering against the
    persisted MinHash index (operators.dedup.minhash_dedup_incremental).

    Each micro-batch dedups against (a) all previously indexed
    documents and (b) itself, writes the surviving documents to
    ``out_path``, and only THEN appends the survivors' signatures to
    the index's live generation. State lives in the committed index,
    NOT the streaming state store: the stream restarts cold with full
    dedup history, and batch jobs share the same index.

    Ordering is load-bearing for retries: if the index append ran
    FIRST and the sink write failed, the re-run would find every
    surviving doc self-matching its own just-appended signature
    (est_jaccard = 1.0), drop the entire batch, and the documents
    would be lost permanently. Sink-before-index makes a retry after a
    mid-batch crash converge to the right END state instead; the
    residual risks are duplicate sink rows (crash between sink write
    and index append — the standard foreachBatch caveat; key the sink
    on batch_id for exactly-once) and duplicate index signatures
    (extra candidate checks, never wrong results).
    """
    from spotify_app_etl_spark.operators import dedup as DD
    from spotify_app_etl_spark.operators.persist import cache_scope

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # The dedup already computed every survivor's signature (the
        # dominant per-batch cost: shingling + 64-hash MinHash over full
        # text); take them back instead of re-deriving from raw text.
        # A fresh deployment's batch 0 bootstraps the index (no commit
        # record == empty index). An empty micro-batch runs like any
        # other rather than being probed for rows first, which would
        # cost every batch one more Spark job.
        # cache_scope, not the global release_cached(): this callback
        # runs on the streaming microbatch thread, and the process may
        # be running OTHER jobs concurrently (an ETL pipeline, a rank
        # operator holding a pinned range-partitioned table) whose
        # scoped caches a global release would unpersist mid-plan. The
        # scope releases exactly the caches THIS batch registered —
        # even on a failed sink/index write, where each foreachBatch
        # retry would otherwise persist another signature table
        # (unbounded cache growth across a flaky outage).
        with cache_scope():
            kept, kept_sig = DD.minhash_dedup_incremental(
                batch_df, index_path, text_col, id_col, threshold=threshold
            )
            # kept and kept_sig agree by construction: both derive from
            # the same eagerly-checkpointed drop set and the persisted
            # batch signatures, so no extra pinning join is needed.
            kept.write.mode("append").parquet(out_path)
            DD.minhash_index_append(kept_sig, index_path)

    return stream_to_batch_sink(
        docs_stream,
        process,
        checkpoint_dir,
        output_mode="append",
        available_now=available_now,
    )


def streaming_cms_ingest(
    keys_stream: DataFrame,
    sketch_path: str,
    checkpoint_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
    weight_col: str | None = None,
    available_now: bool = False,
):
    """Maintain a persisted count-min sketch over a key stream: each
    micro-batch builds its own bounded sketch (map-side partial agg —
    O(depth*width) rows regardless of batch size) and counter-wise
    merges it into the committed state (operators.cms.cms_ingest_batch).

    State lives in the generation-committed sketch parquet, NOT the
    streaming state store: the stream restarts cold with full history,
    batch jobs probe the same sketch concurrently, and a re-delivered
    micro-batch is skipped by the last_batch field of the commit record
    instead of double-counted — frequencies stay exactly
    merge-of-batches == sketch-of-union under retries. An empty
    micro-batch is merged like any other (a generation equal to the
    previous one) rather than probed for rows first, which would cost
    every batch one more Spark job.
    """
    from spotify_app_etl_spark.operators.cms import cms_ingest_batch

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cms_ingest_batch(
            batch_df,
            sketch_path,
            key_col,
            depth=depth,
            width=width,
            weight_col=weight_col,
            batch_id=batch_id,
        )

    return stream_to_batch_sink(
        keys_stream,
        process,
        checkpoint_dir,
        output_mode="append",
        available_now=available_now,
    )
