"""Scoped persist: deterministic release of engine-internal caches.

Several operators persist intermediates because multiple consumers in
the returned plan re-read them (signature/gram tables in
``operators.dedup``, the range-partitioned table in
``operators.rank.global_row_number``, the successor-edge table in the
recursive-CTE walk). A persist with no matching unpersist accumulates
storage across invocations in a long-lived session (bench ``--all``,
driver loops, ``foreachBatch`` reuse) — the unified memory manager
will not evict cached blocks for execution, so leaked caches turn into
``UNABLE_TO_ACQUIRE_MEMORY`` under load long before the heap is
actually full.

Every internal persist registers here via :func:`scoped_persist`.
Single-tenant consumers (bench sweeps, test teardown) call
:func:`release_cached` after materializing each plan; consumers that
share the process with other live jobs wrap their work in
:func:`cache_scope`, which releases exactly the caches registered on
the current thread inside the block.

This module is the only import path for these names: plans, rank,
similarity, the SQL front-end, streaming, scripts and tests all import
them from here.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame

#: (scope token, df, is_checkpoint). Checkpoints release through
#: release_local_checkpoint (DataFrame.unpersist is a CacheManager
#: no-op for them); persisted frames through unpersist.
_PERSISTED: list[tuple[object, DataFrame, bool]] = []
_PERSIST_LOCK = threading.Lock()
_SCOPE_TL = threading.local()


def _release_entry(df: DataFrame, is_checkpoint: bool) -> None:
    if is_checkpoint:
        from spotify_app_etl_spark.operators.checkpoint import (
            release_local_checkpoint,
        )

        release_local_checkpoint(df)
    else:
        df.unpersist()


def scoped_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` (serialized MEMORY_AND_DISK) and register it for
    later release by :func:`release_cached` / :func:`cache_scope`."""
    from pyspark.storagelevel import StorageLevel

    token = getattr(_SCOPE_TL, "token", None)
    with _PERSIST_LOCK:
        # SERIALIZED memory+disk, not the deserialized default: persisted
        # intermediates here are data-sized (gram/shingle/signature
        # tables), and deserialized blocks carry ~48 B/row object
        # overhead that camps in the storage pool's protected fraction —
        # the same failure class the r08 128x probe found for iterative
        # loop state (operators/checkpoint.py). The r09 probe reproduced
        # it for the 64M-row gram table under ns_dedup_source_matrix:
        # execution tasks were denied their minimum page
        # (UNABLE_TO_ACQUIRE_MEMORY ... got 0) while the deserialized
        # cache held the pool. PySpark's MEMORY_AND_DISK constant IS the
        # serialized level (unlike Scala's).
        _PERSISTED.append((token, df.persist(StorageLevel.MEMORY_AND_DISK), False))
    return df


def scoped_checkpoint(df: DataFrame) -> DataFrame:
    """Eager serialized ``localCheckpoint`` registered for the same
    scoped release as :func:`scoped_persist`.

    For plan-shared tables whose PARTITIONING must survive re-reads: a
    persisted frame's output partitioning is not something consumers
    can rely on under ``canChangeCachedPlanOutputPartitioning=true``
    (AQE may re-coalesce it), while a checkpoint built under
    ``checkpoint.adaptive_off`` captures HashPartitioning + ordering
    into its LogicalRDD — e.g. the recursive-CTE successor-edge table,
    where the captured layout removes the per-recursion-level edge
    re-shuffle (measured at the 128x replica: walk 57 s → 34 s).

    Caveat vs :func:`scoped_persist`: a released checkpoint is
    UNRECOMPUTABLE (its lineage was cut), so after
    :func:`release_cached` / scope exit the plans built on it must not
    execute again. Every registry consumer (bench, explain audit,
    correctness harness, cache_scope blocks) already releases only
    after materializing — same contract the iterative operators'
    generation release relies on."""
    from spotify_app_etl_spark.operators.checkpoint import local_checkpoint_ser

    token = getattr(_SCOPE_TL, "token", None)
    ck = local_checkpoint_ser(df)
    with _PERSIST_LOCK:
        _PERSISTED.append((token, ck, True))
    return ck


@contextlib.contextmanager
def cache_scope():
    """Release ONLY the caches registered inside this block at exit.

    For consumers that share the process with other running jobs — a
    ``foreachBatch`` callback on the streaming thread, a driver loop
    overlapping an ETL run: the global :func:`release_cached` is a
    whole-process janitor and would unpersist the OTHER job's pinned
    tables mid-plan (e.g. ``rank.global_row_number``'s range-partitioned
    table between its counts collect and the final join, voiding its
    same-boundaries guarantee). Scope tracking is thread-local, so a
    concurrent thread's :func:`scoped_persist` calls are never captured
    by this block."""
    token = object()
    prev = getattr(_SCOPE_TL, "token", None)
    _SCOPE_TL.token = token
    try:
        yield
    finally:
        _SCOPE_TL.token = prev
        with _PERSIST_LOCK:
            mine = [(df, ck) for t, df, ck in _PERSISTED if t is token]
            _PERSISTED[:] = [e for e in _PERSISTED if e[0] is not token]
        for df, ck in mine:
            _release_entry(df, ck)


def release_cached() -> None:
    """Unpersist EVERY table cached via :func:`scoped_persist`, regardless
    of scope — the whole-process janitor for single-tenant loops (bench
    sweeps, test teardown, the explain audit) where nothing else is
    running. A consumer sharing the process with other live jobs must
    use :func:`cache_scope` instead: this releases other jobs' pinned
    tables too.

    Safe at any time for correctness: an unpersisted plan stays correct
    (it recomputes), so call this once the plans built since the last
    release have been materialized."""
    with _PERSIST_LOCK:
        all_entries = list(_PERSISTED)
        _PERSISTED.clear()
    for _, df, ck in all_entries:
        _release_entry(df, ck)
