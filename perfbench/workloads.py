"""The benchmark's workloads and its metric names.

Each workload is a fixed list of operations run as a closed loop by one
client. The reasons for each choice, and the measurements behind them,
are in ``perfbench/README.md``.
"""

from __future__ import annotations

from dataclasses import dataclass

#: TPC-H scale factor of the generated inputs.
SCALE_FACTOR = 0.01

ETL = "etl_pipeline"
ETL_TABLES = (
    "playlists", "playlists_tracks", "saved_tracks",
    "recent_tracks", "followed_artists", "audio_features",
)


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    #: input tables each set-up cycle opens
    inputs: tuple[str, ...]
    #: typical pass time on the reference host; a run makes
    #: round(seconds / pass_s) passes, so both sides of a comparison do
    #: the same work however fast they are
    pass_s: float
    #: untimed passes between verification and the timed passes
    warm_passes: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "tpch_sql",
            ops=(
                "q01_pricing_summary",
                "q05_region_revenue",
                "q_window_moving_avg",
                "q_events_session",
                "q_join_asof",
            ),
            inputs=("lineitem", "orders", "customer", "supplier", "nation", "region", "events"),
            pass_s=3.0,
            warm_passes=1,
        ),
        Workload(
            "etl_load",
            ops=(ETL, "ns_streaming_cms_ingest"),
            inputs=("orders", "lineitem", "part", "supplier", "events", "documents"),
            pass_s=6.0,
            warm_passes=0,
        ),
    )
}

ALL_OPS = tuple(dict.fromkeys(op for w in WORKLOADS.values() for op in w.ops))

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_geomean_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

#: Per-layer metrics of a traced run; every workload reports all of them.
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "plans.build_s": "s",
    "plans.build_self_s": "s",
    "plans.build_jobs": "count",
    "plans.optimize_s": "s",
    "io.load_table_calls": "count",
    "io.load_table_s": "s",
    "io.scan_mb": "MB",
    "io.write_s": "s",
    "io.write_mb": "MB",
    "io.files_written": "count",
    "sources.requests": "count",
    "sources.throttled": "count",
    "sources.ok_ratio": "ratio",
    "sources.driver_fetch_s": "s",
    "etl.run_pipeline_s": "s",
    **{f"etl.sink_s.{t}": "s" for t in ETL_TABLES},
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "operators.persist_calls": "count",
    "python.sent_mb": "MB",
    "python.returned_mb": "MB",
    "python.start_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.fetch_wait_s": "s",
    "exec.spill_mb": "MB",
    "exec.busy_share": "ratio",
    "trace.overhead": "ratio",
    "fail_ratio": "ratio",
    **{f"op_s.{op}": "s" for op in ALL_OPS},
}
