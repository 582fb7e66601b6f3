"""Generic REST-source machinery: pagination, batched-key lookup,
rate limiting, bounded retry.

Re-expresses the reference's connector patterns (operators A1-A4,
SURVEY.md §2) with the bugs fixed (§2.9):

- **Pagination** (A1): cursor-follow loop over ``page['next']``
  (/root/reference/spotify-etl.py:71-75) — driver-side here, because a
  page chain is inherently sequential; the *result* becomes a
  DataFrame immediately, and independent endpoints fan out in Spark as
  independent DataFrames.
- **Batched-key lookup** (A3): the reference splits an id list into
  ≤100-id chunks with duplicated divisible/remainder loops
  (spotify-etl.py:151-166). Here: one :func:`fan_out` over the ids
  DataFrame, each partition slicing its distinct ids into ≤ batch-size
  chunks, distributed so 10⁹ keys fan out across executors.
- **Rate limiting** (A4): the reference constructs its
  ``asyncio.Semaphore(5)`` per call so the cap never binds
  (spotify-etl.py:48, §2.9 bug 1). Here one ``rate`` in requests/s
  binds on every request, retries included. Overlapped driver page
  chains share one :class:`TokenBucket` at ``rate``;
  :func:`fan_out` hash-partitions its keys to :func:`fan_out_width`
  partitions (the live context's default parallelism, capped at
  :data:`FANOUT_WIDTH`), each with its own bucket at ``rate / width``
  — a global cap with no cross-executor coordination. Every bucket
  holds :data:`BURST` tokens, so in any window of w seconds a path
  issues at most (its buckets × BURST) + rate × w requests, and a
  fan-out's burst never exceeds FANOUT_WIDTH × BURST. ``rate=None``
  is unthrottled.
- **Retry** (A4): the reference recurses unboundedly on HTTP 429
  (spotify-etl.py:59, §2.9 bug 3). Here: bounded attempts honoring
  ``Retry-After``, then raise (Spark's ``spark.task.maxFailures``
  supplies the outer retry loop at cluster level).

The transport is injected (any callable ``(url) -> dict``) so tests
and the ETL-parity pipeline use deterministic in-process fakes; a
production deployment would pass a real HTTP client. Transports must
be picklable — executors call them inside ``mapInPandas``.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

log = logging.getLogger(__name__)

Transport = Callable[[str], dict]

#: Most partitions a distributed fan-out runs: caps its total burst at
#: ``FANOUT_WIDTH × BURST`` however many cores the context has.
FANOUT_WIDTH = 8
#: Token capacity of every bucket the connector builds.
BURST = 2.0


class RetryBudgetExceeded(RuntimeError):
    """Raised when a request keeps returning 429 past max_attempts."""


@dataclass
class TokenBucket:
    """Minimal token-bucket rate limiter (monotonic clock).

    :func:`fan_out` builds one instance per partition at
    ``rate / width``, so the fleet-wide request rate is bounded
    without any cross-executor coordination.

    ``acquire`` is thread-safe (one lock around the read-modify-write):
    :func:`fetch_paginated_many` shares a single bucket across its
    driver threads, and without the lock two concurrent acquires both
    observe the same token count and both proceed — the cap the bucket
    exists to enforce silently stops binding. The lock is held through
    the sleep, which is exactly the semantics a shared budget needs
    (the next caller's wait starts after this one's token grant). The
    lock is deliberately non-pickled state: executors get their own
    per-partition instances, never a shared one.
    """

    rate: float  # tokens per second
    burst: float = BURST
    _tokens: float = field(default=0.0, init=False)
    _last: float = field(default=0.0, init=False)

    def __post_init__(self) -> None:
        import threading

        self._lock = threading.Lock()

    def __getstate__(self):
        state = self.__dict__.copy()
        del state["_lock"]  # locks don't pickle; executors re-init
        return state

    def __setstate__(self, state):
        import threading

        self.__dict__.update(state)
        self._lock = threading.Lock()

    def acquire(self) -> None:
        with self._lock:
            now = time.monotonic()
            if self._last == 0.0:
                self._last = now
                self._tokens = self.burst
            self._tokens = min(
                self.burst, self._tokens + (now - self._last) * self.rate
            )
            self._last = now
            if self._tokens < 1.0:
                wait = (1.0 - self._tokens) / self.rate
                time.sleep(wait)
                self._tokens = 1.0
                self._last = time.monotonic()
            self._tokens -= 1.0


def request_with_retry(
    transport: Transport,
    url: str,
    bucket: TokenBucket | None = None,
    max_attempts: int = 5,
) -> dict:
    """GET with bounded 429 retry honoring Retry-After (fixes §2.9 bug 3).

    A transport signals throttling by returning
    ``{"status": 429, "retry_after": seconds}``; any other dict is the
    payload. ``retry_after`` is server-controlled input and gets
    clamped to [0, 60]: a negative value would make ``time.sleep``
    raise (failing the request instead of retrying it), and an
    unbounded one would pin an executor slot for however long a
    hostile/buggy server asks — hours of stall that ``spark.task.
    maxFailures`` (the documented outer retry) can never interrupt.
    """
    for _ in range(max_attempts):
        if bucket is not None:
            bucket.acquire()
        payload = transport(url)
        if payload.get("status") == 429:
            time.sleep(min(60.0, max(0.0, float(payload.get("retry_after", 1.0)))))
            continue
        return payload
    raise RetryBudgetExceeded(f"{max_attempts} attempts exhausted for {url}")


class PaginationLoop(RuntimeError):
    """Raised when a ``next`` cursor repeats (self-referencing chain)."""


class PaginationTruncated(RuntimeError):
    """Raised under ``strict=True`` when ``max_pages`` fires with the
    chain unfinished (a non-null ``next`` remained)."""


def fetch_paginated(
    transport: Transport,
    url: str,
    bucket: TokenBucket | None = None,
    max_pages: int | None = 10_000,
    strict: bool = False,
) -> list[dict]:
    """Cursor-follow pagination (A1): accumulate ``items`` until
    ``next`` is null. ``max_pages=1`` gives the single-page variant
    (A2) — but as an explicit cap, not the reference's silent
    truncation (§2.9 bug 4). A repeated cursor URL (malformed API
    echoing itself) raises :class:`PaginationLoop` instead of spinning
    an executor task forever; ``max_pages`` (default 10k, pass None to
    disable) bounds non-repeating runaway chains. Hitting the cap with
    the chain unfinished (a non-null ``next`` remained) is logged —
    silent truncation indistinguishable from completion is exactly the
    reference bug this cap must not reintroduce — and raises
    :class:`PaginationTruncated` under ``strict=True`` for callers
    that need completeness guaranteed rather than observed."""
    items: list[dict] = []
    pages = 0
    seen: set[str] = set()
    while url:
        if url in seen:
            raise PaginationLoop(f"cursor already visited: {url}")
        seen.add(url)
        payload = request_with_retry(transport, url, bucket)
        items.extend(payload.get("items", []))
        pages += 1
        if max_pages is not None and pages >= max_pages:
            if payload.get("next"):
                msg = (
                    f"pagination capped at {max_pages} page(s) with more "
                    f"data remaining ({url} -> {payload.get('next')})"
                )
                if strict:
                    raise PaginationTruncated(msg)
                log.warning("%s", msg)
            break
        url = payload.get("next")
    return items


def fetch_paginated_many(
    transport: Transport,
    starts: dict[str, tuple[str, int | None]],
    rate: float | None = None,
) -> dict[str, list[dict]]:
    """Overlap INDEPENDENT endpoint page-chains on driver threads.

    Each chain is inherently sequential (page N+1's URL comes from page
    N), but separate endpoints have no ordering dependency — the
    reference overlaps its three endpoint fetches with
    ``asyncio.gather`` (spotify-etl.py:230-234, operator A16). Driver
    threads give the same wall-clock overlap for the extract phase; the
    *distributed* half of A16 (per-playlist and per-batch fan-out)
    lives in :func:`fan_out`, which is the part that must scale past
    one machine. All chains draw from one bucket at ``rate``, so the
    overlap never exceeds it.

    ``starts`` maps name → (start url, max_pages); returns name →
    items. Exceptions propagate from whichever chain failed.

    PRECONDITION: ``transport`` is called concurrently from these
    threads and must be thread-safe (the mock transport locks its
    request counter; an HTTP transport must not share one
    non-thread-safe session object across chains).
    """
    from concurrent.futures import ThreadPoolExecutor

    bucket = TokenBucket(rate) if rate else None
    with ThreadPoolExecutor(max_workers=max(1, len(starts))) as ex:
        futures = {
            name: ex.submit(fetch_paginated, transport, url, bucket, max_pages)
            for name, (url, max_pages) in starts.items()
        }
        return {name: f.result() for name, f in futures.items()}


def fan_out_width(spark: SparkSession) -> int:
    """Partitions of a :func:`fan_out` in ``spark``'s live context: its
    default parallelism, so the Python tasks run in one wave, capped at
    :data:`FANOUT_WIDTH`."""
    return min(FANOUT_WIDTH, spark.sparkContext.defaultParallelism)


def fan_out(
    keys: DataFrame,
    fetch_partition: Callable[
        [Iterator[pd.DataFrame], TokenBucket | None], Iterator[pd.DataFrame]
    ],
    schema,
    rate: float | None,
) -> DataFrame:
    """Distributed REST fan-out (A16): the distinct rows of ``keys``,
    hash-partitioned to :func:`fan_out_width` partitions, each running
    ``fetch_partition(frames, bucket)`` under its own bucket at
    ``rate / width`` (None when ``rate`` is None).
    ``fetch_partition`` passes the bucket to every request it makes.

    The repartition pins the partition count the rate is divided by:
    without it the key table could carry any number of partitions and
    the fleet-wide request rate would multiply accordingly. Duplicate
    keys are dropped inside that partitioning — the reference's
    dedup-before-fetch (spotify-etl.py:250) — so each key is fetched
    once and the fan-out costs one shuffle: the hash partitioning
    already satisfies the ``distinct``.
    """
    width = fan_out_width(keys.sparkSession)

    def run(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bucket = TokenBucket(rate / width) if rate else None
        return fetch_partition(frames, bucket)

    return (
        keys.repartition(width, *keys.columns)
        .distinct()
        .mapInPandas(run, schema=schema)
    )


def batched_lookup(
    ids: DataFrame,
    fetch_batch: Callable[[list[str], TokenBucket | None], list[dict]],
    result_schema,
    batch_size: int,
    rate: float | None = None,
) -> DataFrame:
    """Distributed batched-key REST lookup (A3, scaled out).

    ``ids`` — single-column DataFrame of keys, duplicates allowed. One
    :func:`fan_out`, which drops the duplicates: each partition slices
    its distinct ids into ≤ ``batch_size`` chunks and calls
    ``fetch_batch(chunk, bucket)`` per chunk, which passes the bucket
    to its requests.

    Batch COMPOSITION is partitioning-dependent, but the result rows
    are per-id and independent of how ids were grouped into requests,
    so the output is deterministic either way. Chunking inside the
    partition needs NO global ordering — an earlier version assigned
    batch ids with an unpartitioned row_number window (a documented
    single-partition shuffle); per-partition slicing removes that
    bottleneck entirely at the cost of at most one under-full request
    per partition.
    """

    def run(
        frames: Iterator[pd.DataFrame], bucket: TokenBucket | None
    ) -> Iterator[pd.DataFrame]:
        def fetch(chunk: list[str]) -> Iterator[pd.DataFrame]:
            rows = fetch_batch(chunk, bucket)
            if rows:
                yield pd.DataFrame(rows)

        # `frames` yields one pandas frame PER ARROW BATCH (default
        # 10,000 rows), not per partition — chunking each frame
        # independently would issue an under-full trailing request
        # every 10,000 ids instead of once per partition (the
        # documented bound, and real money against a rate-limited
        # API). Carry the remainder across frames; flush it once at
        # partition end.
        pending: list[str] = []
        for pdf in frames:
            pending.extend(pdf["__id"].tolist())
            full_end = len(pending) - (len(pending) % batch_size)
            for i in range(0, full_end, batch_size):
                yield from fetch(pending[i : i + batch_size])
            pending = pending[full_end:]
        if pending:
            yield from fetch(pending)

    keys = ids.select(F.col(ids.columns[0]).alias("__id"))
    return fan_out(keys, run, result_schema, rate)
