"""Structured Streaming: batch/stream equality, watermark late-data
drop, and the foreachBatch sink bridge.

Strategy (SURVEY.md §5): the streaming jobs share their window
expressions with the oracle-checked batch queries in plans/events.py,
so correctness here only needs (a) stream result == batch result over
the same input, (b) the streaming-only semantics (watermark eviction,
incremental micro-batches) behave as documented.
"""

from __future__ import annotations

import datetime
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from spotify_app_etl_spark.io import load_table
from spotify_app_etl_spark.streaming import jobs

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_dir(tmp_path):
    """Stream-source dir holding the sf0.001 events parquet."""
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_stream_tumbling_equals_batch(spark, events_dir, tmp_path):
    stream = jobs.read_event_stream(spark, events_dir)
    assert stream.isStreaming
    result = jobs.run_to_memory_sink(
        jobs.tumbling_counts(stream), "t_tumbling", spark
    )

    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,2)")).cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "value_sum")
    )
    assert sorted(map(tuple, result.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_session_equals_batch(spark, events_dir):
    stream = jobs.read_event_stream(spark, events_dir)
    result = jobs.run_to_memory_sink(jobs.session_stats(stream), "t_session", spark)
    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    assert sorted(map(tuple, result.collect())) == sorted(map(tuple, batch.collect()))


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-row filtering uses the PREVIOUS micro-batch's watermark
    (Spark keeps two watermarks since 3.4: one for late-event
    filtering, one for state eviction). So: batch 0 seeds event time,
    batch 1 advances the watermark, and batch 2's 10-day-late event
    must be dropped (numRowsDroppedByWatermark) and its window absent
    from append-mode output."""
    src = tmp_path / "late_in"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def write_file(name, rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / ("stage_" + name)))
        part = next(
            p for p in os.listdir(tmp_path / ("stage_" + name)) if p.endswith(".parquet")
        )
        shutil.copy(tmp_path / ("stage_" + name) / part, src / name)

    base = datetime.datetime(2023, 11, 14, 22, 13, 20)  # 2023-11-14T22:13:20
    hour = datetime.timedelta(hours=1)
    write_file("f1.parquet", [(1, base, 1, "click", 1.0, "{}")])
    time.sleep(0.05)
    write_file("f2.parquet", [(2, base + hour, 1, "click", 1.0, "{}")])
    time.sleep(0.05)
    # 10 days earlier → far past the batch-1 watermark (base-1h)
    write_file("f3.parquet", [(3, base - 240 * hour, 1, "click", 1.0, "{}")])

    stream = jobs.read_event_stream(spark, str(src), max_files_per_trigger=1)
    agg = jobs.tumbling_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p.get("stateOperators", [])
    )
    assert dropped >= 1, "late row was not dropped by watermark"
    starts = {r.window_start for r in spark.table("t_late").collect()}
    late_window_present = any(s.year == 2023 and s.month == 11 and s.day == 4 for s in starts)
    assert not late_window_present, f"late event leaked into {starts}"


def test_stream_stream_interval_join_equals_batch(spark, events_dir, tmp_path):
    ckpt = tmp_path / "ckpt_ssj"
    stream = jobs.read_event_stream(spark, events_dir)
    joined = jobs.click_purchase_interval_join(stream)
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssj")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.table("t_ssj").collect()))

    # batch equivalent: same join on the static frame (watermarks are
    # no-ops in batch mode, so reuse the job function directly)
    batch = jobs.click_purchase_interval_join(load_table(spark, SF, "events"))
    expected = sorted(map(tuple, batch.collect()))
    assert got == expected and len(got) > 0


def test_stateful_user_tracker(spark, events_dir, tmp_path):
    """applyInPandasWithState: final per-user totals must equal the
    batch groupBy over the same input."""
    ckpt = tmp_path / "ckpt_state"
    stream = jobs.read_event_stream(spark, events_dir)
    tracked = jobs.user_activity_tracker(stream)
    q = (
        tracked.writeStream.format("memory")
        .queryName("t_tracker")
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode appends one row per (user, batch); last row per user wins
    got = {
        r.user_id: (r.n_events, round(r.value_sum, 6))
        for r in spark.table("t_tracker").orderBy("n_events").collect()
    }
    expected = {
        r.user_id: (r.n, round(r.s, 6))
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == expected


def test_stream_static_enrich_equals_batch(spark, events_dir, tmp_path):
    """Stream-static join: per-micro-batch join against a static dim
    must produce exactly the batch join over the same input."""
    ckpt = tmp_path / "ckpt_enrich"
    batch_events = load_table(spark, SF, "events")
    profile = jobs.user_profile_snapshot(batch_events)

    stream = jobs.read_event_stream(spark, events_dir)
    enriched = jobs.enrich_with_static_profile(stream, profile)
    q = (
        enriched.writeStream.format("memory")
        .queryName("t_enrich")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.table("t_enrich").drop("ts").collect()))

    batch = jobs.enrich_with_static_profile(
        batch_events.withColumn("ts", F.col("ts").cast("timestamp")), profile
    )
    expected = sorted(map(tuple, batch.drop("ts").collect()))
    assert got == expected and len(got) > 0
    # every event matched a profile row (profile built from same input)
    assert all(r[-2] is not None for r in got)


def test_foreachbatch_parquet_sink(spark, events_dir, tmp_path):
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt2"
    stream = jobs.read_event_stream(spark, events_dir)
    batches = []

    def write(df, batch_id):
        batches.append(batch_id)
        df.write.mode("append").parquet(str(out))

    q = jobs.stream_to_batch_sink(
        stream.filter(F.col("event_type") == "click"),
        write,
        checkpoint_dir=str(ckpt),
        output_mode="append",
        available_now=True,
    )
    q.awaitTermination()
    assert batches, "no micro-batch was delivered"
    n_sink = spark.read.parquet(str(out)).count()
    n_src = load_table(spark, SF, "events").filter(F.col("event_type") == "click").count()
    assert n_sink == n_src


def test_foreachbatch_jdbc_sink(spark, events_dir, tmp_path):
    """Streaming upgrade of the reference's JDBC load stage (A15,
    spotify-etl.py:209-215): foreachBatch appends each micro-batch into
    an embedded-Derby table; the table must end up with exactly the
    batch rows."""
    from spotify_app_etl_spark import io as sio

    url = f"jdbc:derby:{tmp_path}/stream_db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    ckpt = tmp_path / "ckpt_jdbc"

    def write(df, batch_id):
        sio.write_jdbc(
            df.select("event_id", "user_id", "value"),
            url,
            "events_sink",
            mode="append",
            properties=props,
        )

    stream = jobs.read_event_stream(spark, events_dir).filter(
        F.col("event_type") == "purchase"
    )
    q = jobs.stream_to_batch_sink(
        stream, write, checkpoint_dir=str(ckpt), output_mode="append",
        available_now=True,
    )
    q.awaitTermination()
    back = spark.read.jdbc(url, "events_sink", properties=props)
    src = load_table(spark, SF, "events").filter(F.col("event_type") == "purchase")
    assert back.count() == src.count()
    assert {r.event_id for r in back.select("event_id").collect()} == {
        r.event_id for r in src.select("event_id").collect()
    }


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicated event_ids collapse to one row each; state is bounded
    by the watermark (semantics doc: jobs.dedup_within_watermark)."""
    # duplicate the raw file (same 200 rows twice) via duckdb so the
    # parquet physical type matches the driver testdata exactly
    import duckdb as _d
    import shutil as _sh
    raw_dir = str(tmp_path / "raw_in")
    os.makedirs(raw_dir, exist_ok=True)
    con = _d.connect()
    con.sql(
        f"COPY (SELECT * FROM '{SF}/events.parquet' LIMIT 200) TO '{raw_dir}/a.parquet' (FORMAT PARQUET)"
    )
    _sh.copy(f"{raw_dir}/a.parquet", f"{raw_dir}/b.parquet")  # same 200 rows again
    stream = jobs.read_event_stream(spark, raw_dir)
    out = jobs.run_to_memory_sink(
        jobs.dedup_within_watermark(stream), "t_dedup_wm", spark, output_mode="append"
    )
    got = out.select("event_id").collect()
    assert len(got) == len({r.event_id for r in got}), "duplicates survived"
    batch_ids = {
        r.event_id
        for r in spark.read.parquet(raw_dir).select("event_id").collect()
    }
    assert {r.event_id for r in got} == batch_ids


def test_transform_with_state_totals(spark, events_dir, tmp_path):
    """transformWithStateInPandas: final per-user totals must equal the
    batch groupBy (same contract as the applyInPandasWithState job).

    Skipped where google.protobuf is absent: the TWS driver worker
    serializes state over protobuf (SPARK-49564) and crashes without
    it — this container ships no protobuf, a real deployment does.
    """
    pytest.importorskip("google.protobuf")
    ckpt = tmp_path / "ckpt_tws"
    # transformWithState requires the RocksDB state store (ships with
    # Spark 4; the default HDFS-backed store does not implement it)
    saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = jobs.read_event_stream(spark, events_dir)
    q = (
        jobs.user_totals_tws(stream)
        .writeStream.format("memory")
        .queryName("t_tws")
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        if saved is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", saved)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    got = {
        r.user_id: (r.n_events, round(r.value_sum, 6))
        for r in spark.table("t_tws").orderBy("n_events").collect()
    }
    expected = {
        r.user_id: (r.n, round(r.s, 6))
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == expected


def test_streaming_dedup_ingest_against_persisted_index(spark, tmp_path):
    """Micro-batches dedup against the persisted MinHash index AND
    themselves; survivors land in the sink and grow the index so later
    batches see them."""
    from pyspark.sql import functions as F

    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.operators import dedup as DD

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "mh_index")
    DD.minhash_index_write(docs.filter(F.col("doc_id") < 100), "text", "doc_id", idx)

    # stream source: one parquet file per micro-batch
    src = tmp_path / "incoming"
    src.mkdir()
    # batch A: 20 novel docs + 10 near-copies of indexed docs
    novel_a = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
    copies = (
        docs.filter(F.col("doc_id") < 10)
        .select(
            (F.col("doc_id") + 50_000).alias("doc_id"),
            F.concat("text", F.lit(" tail")).alias("text"),
        )
    )
    novel_a.unionByName(copies).coalesce(1).write.mode("overwrite").parquet(
        str(src / "a.parquet")
    )
    # batch B: exact copies of batch A's novel docs (must be caught via
    # the signatures batch A appended) + 10 genuinely new docs
    copies_b = novel_a.select((F.col("doc_id") + 60_000).alias("doc_id"), "text")
    novel_b = docs.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 130))
    copies_b.unionByName(novel_b).coalesce(1).write.mode("overwrite").parquet(
        str(src / "b.parquet")
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    q = jobs.streaming_dedup_ingest(
        stream,
        idx,
        str(tmp_path / "kept"),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination()

    kept = {r.doc_id for r in spark.read.parquet(str(tmp_path / "kept")).collect()}
    # novel docs survive (tolerate a few organic near-dups in the corpus)
    assert sum(1 for i in range(100, 120) if i in kept) >= 18
    assert sum(1 for i in range(120, 130) if i in kept) >= 8
    # near-copies of the pre-indexed docs are dropped
    assert sum(1 for i in range(50_000, 50_010) if i in kept) <= 1
    # exact copies of batch A's survivors are dropped via the appended index
    assert sum(1 for i in range(60_100, 60_120) if i in kept) <= 1
    # index grew beyond the initial 100 signatures
    assert DD.minhash_index_read(spark, idx).count() >= 100 + len(kept)


def test_streaming_dedup_ingest_cold_start_bootstraps_index(spark, tmp_path):
    """A fresh deployment — index path never written — must not crash
    on batch 0: the first batch dedups against itself only and its
    survivors' signatures bootstrap the index for later batches."""
    from pyspark.sql import functions as F

    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.operators import dedup as DD

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "mh_index_fresh")  # never created
    src = tmp_path / "incoming"
    src.mkdir()
    # batch A: 20 docs, two of them exact dups within the batch
    batch_a = docs.filter(F.col("doc_id") < 20).unionByName(
        docs.filter(F.col("doc_id") < 2).select(
            (F.col("doc_id") + 70_000).alias("doc_id"), "text"
        )
    )
    batch_a.coalesce(1).write.mode("overwrite").parquet(str(src / "a.parquet"))
    # batch B: exact copies of batch A docs — caught only if batch A
    # actually bootstrapped the index
    docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 80_000).alias("doc_id"), "text"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b.parquet"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    q = jobs.streaming_dedup_ingest(
        stream, idx, str(tmp_path / "kept"), str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination()

    kept = {r.doc_id for r in spark.read.parquet(str(tmp_path / "kept")).collect()}
    assert sum(1 for i in range(0, 20) if i in kept) >= 18  # batch A survives
    assert not any(i in kept for i in range(70_000, 70_002))  # within-batch dups
    assert sum(1 for i in range(80_000, 80_010) if i in kept) <= 1  # vs bootstrap
    # index exists now and holds one signature per survivor
    assert DD.minhash_index_read(spark, idx).count() == len(kept)
