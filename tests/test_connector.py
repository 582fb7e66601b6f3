"""sources.rest machinery: token bucket, bounded retry, pagination."""

from __future__ import annotations

import time

import pytest

from spotify_app_etl_spark.sources import rest


def test_token_bucket_enforces_rate():
    bucket = rest.TokenBucket(rate=20.0, burst=1.0)
    t0 = time.monotonic()
    for _ in range(6):
        bucket.acquire()
    elapsed = time.monotonic() - t0
    # 6 acquires at 20/s with burst 1 → ≥ 5 waits of 50ms
    assert elapsed >= 0.2, elapsed


def test_token_bucket_cap_binds_across_threads():
    """fetch_paginated_many shares ONE bucket across driver threads;
    without the acquire lock, concurrent acquires both read the same
    token count and the cap silently stops binding."""
    from concurrent.futures import ThreadPoolExecutor

    bucket = rest.TokenBucket(rate=25.0, burst=1.0)
    t0 = time.monotonic()
    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(lambda _: bucket.acquire(), range(8)))
    elapsed = time.monotonic() - t0
    # 8 acquires at 25/s, burst 1 → ≥ 7 grants spaced 40ms
    assert elapsed >= 0.22, elapsed


def test_token_bucket_pickles_without_lock():
    """Executors get their own instances via pickle (mapInPandas);
    the lock must not break that and must be re-created on load."""
    import pickle

    bucket = rest.TokenBucket(rate=5.0)
    bucket.acquire()
    clone = pickle.loads(pickle.dumps(bucket))
    clone.acquire()  # usable: lock re-initialized on unpickle


def test_retry_honors_retry_after_then_succeeds():
    calls = []

    def transport(url):
        calls.append(url)
        if len(calls) < 3:
            return {"status": 429, "retry_after": 0.0}
        return {"items": [1, 2], "next": None}

    out = rest.request_with_retry(transport, "/x", max_attempts=5)
    assert out["items"] == [1, 2] and len(calls) == 3


def test_retry_budget_exhausted_raises():
    def transport(url):
        return {"status": 429, "retry_after": 0.0}

    with pytest.raises(rest.RetryBudgetExceeded):
        rest.request_with_retry(transport, "/x", max_attempts=3)


def test_token_provider_caches_and_refreshes():
    from spotify_app_etl_spark.sources.auth import TokenProvider

    clock = [0.0]
    issued = []

    def refresh():
        issued.append(len(issued))
        return f"tok{len(issued)}", 3600.0

    p = TokenProvider(refresh, slack_s=60, clock=lambda: clock[0])
    assert p.token() == "tok1" and p.auth_header() == {"Authorization": "Bearer tok1"}
    clock[0] = 1800.0
    assert p.token() == "tok1" and p.refresh_count == 1  # cached
    clock[0] = 3545.0  # inside the 60s slack window
    assert p.token() == "tok2" and p.refresh_count == 2  # pre-emptive refresh


def test_authenticated_transport_injects_header():
    from spotify_app_etl_spark.sources.auth import TokenProvider, authenticated_transport

    seen = {}

    def transport(url, headers=None):
        seen[url] = headers
        return {"items": [], "next": None}

    p = TokenProvider(lambda: ("abc", 3600.0))
    wrapped = authenticated_transport(transport, p)
    wrapped("/x")
    assert seen["/x"] == {"Authorization": "Bearer abc"}


def test_pagination_follows_cursor_and_caps():
    pages = {
        "/p?offset=0": {"items": [0, 1], "next": "/p?offset=2"},
        "/p?offset=2": {"items": [2, 3], "next": "/p?offset=4"},
        "/p?offset=4": {"items": [4], "next": None},
    }
    assert rest.fetch_paginated(pages.__getitem__, "/p?offset=0") == [0, 1, 2, 3, 4]
    # explicit single-page cap (A2) — not silent truncation
    assert rest.fetch_paginated(pages.__getitem__, "/p?offset=0", max_pages=1) == [0, 1]


def test_pagination_detects_cursor_cycle():
    # malformed API echoing its own URL as `next` must raise, not spin
    pages = {
        "/p?offset=0": {"items": [0], "next": "/p?offset=2"},
        "/p?offset=2": {"items": [1], "next": "/p?offset=0"},
    }
    with pytest.raises(rest.PaginationLoop):
        rest.fetch_paginated(pages.__getitem__, "/p?offset=0")


def test_pagination_max_pages_bounds_runaway_chain():
    # non-repeating infinite chain is cut by the default page cap
    def transport(url):
        n = int(url.rsplit("=", 1)[1])
        return {"items": [n], "next": f"/p?offset={n + 1}"}

    assert len(rest.fetch_paginated(transport, "/p?offset=0", max_pages=7)) == 7


def test_fetch_paginated_many_overlaps_independent_chains():
    """Two chains whose FIRST pages block on a shared barrier: only
    concurrent execution can satisfy both (sequential would deadlock —
    the barrier times out and raises instead)."""
    import threading

    barrier = threading.Barrier(2, timeout=10)

    def transport(url):
        if url in ("/a?offset=0", "/b?offset=0"):
            barrier.wait()
        name = url[1]
        page = int(url.split("offset=")[1])
        nxt = f"/{name}?offset={page + 1}" if page < 2 else None
        return {"items": [f"{name}{page}"], "next": nxt}

    out = rest.fetch_paginated_many(
        transport,
        {"a": ("/a?offset=0", 10), "b": ("/b?offset=0", 10)},
    )
    assert out == {"a": ["a0", "a1", "a2"], "b": ["b0", "b1", "b2"]}


def test_fetch_paginated_many_propagates_chain_failure():
    def transport(url):
        if url.startswith("/bad"):
            raise RuntimeError("boom")
        return {"items": [1], "next": None}

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="boom"):
        rest.fetch_paginated_many(
            transport, {"ok": ("/ok", 10), "bad": ("/bad", 10)}
        )


def test_batched_lookup_respects_batch_cap_and_covers_all_ids(spark):
    """Per-partition chunking must never exceed batch_size, and every
    id is fetched exactly once regardless of partitioning."""
    ids = spark.range(0, 537).selectExpr("CAST(id AS STRING) AS id")

    def fetch(chunk, bucket):
        return [{"id": x, "batch_len": len(chunk)} for x in chunk]

    out = rest.batched_lookup(
        ids, fetch, result_schema="id string, batch_len int", batch_size=100
    ).collect()
    assert len(out) == 537
    assert {r.id for r in out} == {str(i) for i in range(537)}
    assert max(r.batch_len for r in out) <= 100


def test_batched_lookup_at_most_one_underfull_request_per_partition(spark):
    """mapInPandas hands over one frame per ARROW BATCH, not per
    partition: the remainder must carry across frames so a partition
    spanning many batches still issues at most ONE under-full request
    (tagging each output row with its request's size makes the request
    log visible through the collected rows)."""
    n = 4000
    ids = spark.range(0, n).selectExpr("CAST(id AS STRING) AS id")

    def fetch(chunk, bucket):
        return [{"id": x, "batch_len": len(chunk)} for x in chunk]

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        out = rest.batched_lookup(
            ids, fetch, result_schema="id string, batch_len int", batch_size=64
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(out) == n
    assert {r.id for r in out} == {str(i) for i in range(n)}
    assert max(r.batch_len for r in out) <= 64
    # At most one under-full request per partition: over the fan-out's
    # partitions the rows carried by under-full requests total
    # < width × batch_size. (Without the remainder carry, every 100-row
    # Arrow frame ends in a 36-id request — ~500 ids per partition of 8
    # give ~180 such rows each, ~1440 in all — and this fails.)
    underfull_rows = [r for r in out if r.batch_len < 64]
    assert len(underfull_rows) < 64 * rest.fan_out_width(spark), len(underfull_rows)


def test_fan_out_fetches_each_distinct_key_once(spark):
    """Duplicate keys are dropped before the fetch (the reference's
    dedup-before-fetch), and the fan-out runs one task per partition of
    its live width."""
    import pandas as pd

    keys = spark.range(0, 600, numPartitions=5).selectExpr(
        "CAST(id % 200 AS STRING) AS k"
    )

    def fetch(frames, bucket):
        for pdf in frames:
            yield pd.DataFrame({"k": pdf["k"]})

    out = rest.fan_out(keys, fetch, "k string", None)
    fetched = [r.k for r in out.collect()]
    assert sorted(fetched) == sorted(str(i) for i in range(200))
    width = min(rest.FANOUT_WIDTH, spark.sparkContext.defaultParallelism)
    assert out.rdd.getNumPartitions() == width


def _static_refresh():
    return "tok", 3600.0


def test_token_provider_pickles_for_executor_shipping():
    """The documented production pattern ships the provider inside a
    transport closure to executors via cloudpickle; the internal lock
    must not poison the pickle (same contract as TokenBucket). Plain
    pickle + a module-level refresh_fn isolates exactly the lock
    handling (cloudpickle additionally handles closures)."""
    import pickle

    from spotify_app_etl_spark.sources.auth import TokenProvider

    provider = TokenProvider(_static_refresh)
    assert provider.token() == "tok"
    clone = pickle.loads(pickle.dumps(provider))
    assert clone.token() == "tok"  # lock re-initialized, still works


def test_refresh_grant_uses_rotated_refresh_token():
    """RFC 6749 §6: a provider that rotates refresh tokens revokes the
    old one — the SECOND refresh must send the rotated token, not the
    bootstrap-time token forever."""
    from spotify_app_etl_spark.sources.auth import refresh_grant_fn

    sent = []

    def post(endpoint, data):
        sent.append(data["refresh_token"])
        return {
            "access_token": f"at{len(sent)}",
            "expires_in": 1,
            "refresh_token": f"rt{len(sent)}",  # rotated every time
        }

    refresh = refresh_grant_fn(post, "https://api.example.local/token", "rt0", "cid")
    assert refresh()[0] == "at1"
    assert refresh()[0] == "at2"
    assert sent == ["rt0", "rt1"]  # second call used the rotated token


def test_unpickled_provider_refreshes_with_its_own_clock():
    """__getstate__ drops the cached token/expiry: time.monotonic's
    epoch is per-host (seconds since boot), so a carried _expires_at
    could read as "valid forever" on a host whose monotonic clock is
    behind the driver's — suppressing the first refresh and turning an
    expired token into persistent 401s. The clone must refresh on first
    use instead of trusting the carried expiry."""
    import pickle

    from spotify_app_etl_spark.sources.auth import TokenProvider

    provider = TokenProvider(_static_refresh)
    assert provider.token() == "tok"
    clone = pickle.loads(pickle.dumps(provider))
    assert clone._token is None and clone._expires_at == 0.0
    before = clone.refresh_count
    assert clone.token() == "tok"
    assert clone.refresh_count == before + 1  # refreshed, not carried


def test_rotated_provider_refuses_to_pickle():
    """Once the server rotates the refresh token (single-use grant),
    pickling the provider would fan one credential out to N processes;
    the first refresh revokes it for all others (invalid_grant outage).
    Fail fast at pickle time instead."""
    import pickle

    import pytest

    from spotify_app_etl_spark.sources.auth import TokenProvider, refresh_grant_fn

    n = [0]

    def post(endpoint, data):
        n[0] += 1
        return {
            "access_token": f"at{n[0]}",
            "expires_in": 3600,
            "refresh_token": f"rt{n[0]}",  # rotates every refresh
        }

    provider = TokenProvider(
        refresh_grant_fn(post, "https://api.example.local/token", "rt0", "cid")
    )
    provider.token()  # first refresh observes the rotation
    with pytest.raises(TypeError, match="rotated"):
        pickle.dumps(provider)


def test_non_rotating_provider_still_pickles():
    """A provider whose server echoes the same refresh token (or omits
    it) is safe to fan out; pickling must keep working. cloudpickle
    (what Spark actually uses for task closures) handles the closure."""
    from pyspark import cloudpickle

    from spotify_app_etl_spark.sources.auth import TokenProvider, refresh_grant_fn

    def post(endpoint, data):
        return {"access_token": "at", "expires_in": 3600, "refresh_token": "rt0"}

    provider = TokenProvider(
        refresh_grant_fn(post, "https://api.example.local/token", "rt0", "cid")
    )
    provider.token()
    clone = cloudpickle.loads(cloudpickle.dumps(provider))
    assert clone.token() == "at"


def test_declared_rotating_provider_refuses_to_pickle_before_first_refresh():
    """rotating=True closes the pre-first-refresh pickle window: a
    provider shipped to executors BEFORE any token() call would fan the
    single-use bootstrap refresh token out to N processes (the
    observation-based flag can't have tripped yet)."""
    import pickle

    import pytest

    from spotify_app_etl_spark.sources.auth import TokenProvider, refresh_grant_fn

    def post(endpoint, data):  # pragma: no cover - never reached
        raise AssertionError("no refresh should happen in this test")

    provider = TokenProvider(
        refresh_grant_fn(
            post, "https://api.example.local/token", "rt0", "cid", rotating=True
        )
    )
    with pytest.raises(TypeError, match="rotated"):
        pickle.dumps(provider)


def test_retry_after_is_clamped_and_truncation_is_loud():
    """Server-controlled retry_after must not crash (negative) or
    stall an executor unboundedly (huge); a pagination cap firing with
    pages left must be observable (warning) and strict-raisable —
    silent truncation is the reference bug the cap must not bring
    back."""
    import logging

    import pytest

    from spotify_app_etl_spark.sources import rest

    calls = []

    def throttling_transport(url):
        calls.append(url)
        if len(calls) == 1:
            return {"status": 429, "retry_after": -5}
        return {"items": [{"u": url}], "next": None}

    out = rest.request_with_retry(throttling_transport, "u0")
    assert out["items"] and len(calls) == 2  # negative -> clamped, retried

    def chain(url):
        n = int(url.rsplit("p", 1)[-1])
        return {"items": [{"n": n}], "next": f"p{n + 1}"}

    with pytest.raises(rest.PaginationTruncated):
        rest.fetch_paginated(chain, "p0", max_pages=3, strict=True)

    logger = logging.getLogger("spotify_app_etl_spark.sources.rest")
    records = []
    handler = logging.Handler()
    handler.emit = records.append
    logger.addHandler(handler)
    try:
        items = rest.fetch_paginated(chain, "p0", max_pages=3)
    finally:
        logger.removeHandler(handler)
    assert len(items) == 3
    assert any("capped" in r.getMessage() for r in records)


def _track_item(n: int) -> dict:
    return {
        "track": {
            "id": f"tr_{n}",
            "name": f"track {n}",
            "artists": [{"name": "artist"}],
            "album": {"name": "album"},
        },
        "added_at": None,
        "played_at": None,
    }


class _RecordingAPI:
    """Spotify-shaped fake that appends each request's ``(path kind,
    time.monotonic())`` to a Spark accumulator, the only way requests
    made inside executor tasks reach the driver.

    Sized so every request path overruns its burst: the driver endpoints
    make 17 requests (4 + 6 + 6 pages, one recently-played page); 16
    playlists of 4 track pages make 64 ``/playlists/*/tracks`` requests
    and 6400 distinct track ids, hence 64 or more ``/audio-features``
    requests of ≤100 ids.
    """

    PAGE, TRACK_PAGE, TRACK_PAGES = 4, 100, 4
    DRIVER = {
        "/me/playlists": (16, lambda k: {"id": f"pl_{k}", "name": f"playlist {k}"}),
        "/me/tracks": (24, _track_item),
        "/me/following": (24, lambda k: {"id": f"ar_{k}", "name": f"artist {k}"}),
    }

    def __init__(self, log):
        import threading

        self.log = log
        # the driver's page chains share this instance across threads,
        # and a driver-side accumulator add is a read-modify-write
        self._lock = threading.Lock()

    def __getstate__(self):
        return {"log": self.log}

    def __setstate__(self, state):
        self.__init__(state["log"])

    def __call__(self, url: str) -> dict:
        from urllib.parse import parse_qs, urlparse

        from spotify_app_etl_spark.sources.spotify_mock import audio_features_for_ids

        u = urlparse(url)
        query = parse_qs(u.query)
        if u.path == "/audio-features":
            kind = "lookup"
        elif u.path.startswith("/playlists/"):
            kind = "tracks"
        else:
            kind = "driver"
        with self._lock:
            self.log.add(((kind, time.monotonic()),))
        if kind == "lookup":
            return {"audio_features": audio_features_for_ids(query["ids"][0].split(","))}
        if u.path == "/me/player/recently-played":
            return {"items": [_track_item(k) for k in range(self.PAGE)], "next": None}
        offset = int(query["offset"][0])
        if kind == "tracks":
            pid = int(u.path.split("/")[2].removeprefix("pl_"))
            size, total = self.TRACK_PAGE, self.TRACK_PAGE * self.TRACK_PAGES
            first = pid * total
            items = [_track_item(first + k) for k in range(offset, offset + size)]
        else:
            size, (total, make) = self.PAGE, self.DRIVER[u.path]
            items = [make(k) for k in range(offset, offset + size)]
        more = offset + size < total
        nxt = url.replace(f"offset={offset}", f"offset={offset + size}") if more else None
        return {"items": items, "next": nxt}


def test_run_pipeline_rate_binds_on_every_request_path(spark):
    """``run_pipeline(rate=R)`` bounds all three request paths — the
    driver's page chains, the per-playlist fan-out and the audio-features
    lookup: no time window of w seconds holds more than the path's total
    burst plus R × w requests (plus R × 0.1 s of slack for the delay
    between a token grant and the request's timestamp)."""
    from pyspark.accumulators import AddingAccumulatorParam

    from spotify_app_etl_spark import etl
    from spotify_app_etl_spark.operators.persist import cache_scope

    rate = 40.0
    log = spark.sparkContext.accumulator((), AddingAccumulatorParam(()))
    with cache_scope():
        tables = etl.run_pipeline(
            spark, "", transport=_RecordingAPI(log), ingest_date=False, rate=rate
        )
        for df in tables.values():
            df.collect()

    fan_out_burst = rest.fan_out_width(spark) * rest.BURST
    bursts = {"driver": rest.BURST, "tracks": fan_out_burst, "lookup": fan_out_burst}
    for kind, burst in bursts.items():
        times = sorted(t for k, t in log.value if k == kind)
        assert len(times) > 2 * burst, (kind, len(times))  # overruns its burst
        excess = max(
            (j - i + 1) - rate * (times[j] - times[i])
            for i in range(len(times))
            for j in range(i, len(times))
        )
        assert excess <= burst + rate * 0.1, (kind, excess, burst)


#: logical-plan nodes that run Python, or scan an RDD (a PythonRDD when
#: built from a local list)
_PYTHON_NODES = ("Python", "Pandas", "Arrow", "LogicalRDD", "ExternalRDD")


def _plan_nodes(plan) -> list[str]:
    """Node names of a JVM logical plan, depth first (children only)."""
    names, stack = [], [plan]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        children = node.children()
        stack.extend(children.apply(i) for i in reversed(range(children.size())))
    return names


def _python_nodes(names: list[str]) -> list[str]:
    return [n for n in names if any(p in n for p in _PYTHON_NODES)]


def _sits_on_fan_out(names: list[str]) -> bool:
    """The one ``MapInPandas`` reads a hash repartition's distinct rows."""
    i = names.index("MapInPandas")
    return names[i + 1] in ("Deduplicate", "Aggregate") and (
        names[i + 2] == "RepartitionByExpression"
    )


def test_etl_runs_python_only_in_its_two_fan_outs(spark, sf_dir):
    """The four driver-side tables plan as local relations (empty ones
    too), so writing them runs no Python stage; the playlist walk and
    the audio-features lookup each plan one ``MapInPandas`` over their
    fan-out."""
    from spotify_app_etl_spark import etl
    from spotify_app_etl_spark.operators.persist import cache_scope

    driver = {
        "playlists": etl.extract_playlists,
        "saved_tracks": etl.extract_saved_tracks,
        "recent_tracks": etl.extract_recent_tracks,
        "followed_artists": etl.extract_followed_artists,
    }
    with cache_scope():
        tables = etl.run_pipeline(spark, sf_dir, ingest_date=False)
        for name, extract in driver.items():
            for df in (tables[name], extract(spark, [])):
                names = _plan_nodes(df._jdf.queryExecution().optimizedPlan())
                assert _python_nodes(names) == [], (name, names)
                assert "LocalRelation" in names, (name, names)
        # the persisted walk's own plan; audio_features reads it from
        # the cache, so its optimized plan holds the lookup alone
        walk = _plan_nodes(tables["playlists_tracks"]._jdf.queryExecution().analyzed())
        lookup = _plan_nodes(
            tables["audio_features"]._jdf.queryExecution().optimizedPlan()
        )
        assert "InMemoryRelation" in lookup, lookup
        for names in (walk, lookup):
            assert _python_nodes(names) == ["MapInPandas"], names
            assert _sits_on_fan_out(names), names
