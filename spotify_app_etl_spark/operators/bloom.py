"""Bloom-filter runtime join prefilter (semi-join pushdown).

The pattern Spark's own runtime row-group filtering uses, exposed as an
operator: build a Bloom filter over the (small, filtered) build side's
join keys, broadcast it, and drop probe-side rows that cannot match
BEFORE the shuffle join. False positives are fine — the join verifies —
so the final result stays exact while the shuffle moves only ~the
matching fraction of the probe side. At 100 TB this is the difference
between shuffling the whole fact table and shuffling the few percent
that survive a selective dim filter.

The filter itself is plain numpy (k hashes via splitmix64 remixes of
the key). The build is DISTRIBUTED: each build-side partition hashes
its keys into a local bitmap (Arrow-batched ``mapInPandas``), the
partial bitmaps are OR-merged executor-side per fixed-size chunk, and
the driver only ever assembles the FINAL m/8-byte bitset — the same
bytes it must broadcast to the probe side anyway. Build sides far
beyond broadcast budget therefore work: the driver's memory ceiling is
the filter size, never the key count. Probing is an Arrow-batched
pandas UDF that tests all k positions vectorized.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mixer (public-domain splitmix64 constants)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(
        0xFFFFFFFFFFFFFFFF
    )
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(
        0xFFFFFFFFFFFFFFFF
    )
    return x ^ (x >> np.uint64(31))


def _positions(keys: np.ndarray, n_hashes: int, m_bits: int) -> np.ndarray:
    """(len(keys), n_hashes) bit positions; double-hashing h1 + i*h2."""
    k = keys.astype(np.uint64)
    h1 = _splitmix64(k)
    h2 = _splitmix64(k ^ np.uint64(0xA076_1D64_78BD_642F)) | np.uint64(1)
    i = np.arange(n_hashes, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(
        np.int64
    )


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """Optimal (n_hashes, m_bits) for n keys at the target fpp."""
    if not 0.0 < fpp < 1.0:
        # fpp<=0 would die later as a bare 'math domain error' from
        # log(); fpp>=1 (e.g. 1.5 meant as 1.5%) silently sizes a
        # 64-bit filter that prefilters nothing while still paying two
        # full build-side scans
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    n = max(n, 1)
    m_bits = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    n_hashes = max(1, round(m_bits / n * math.log(2)))
    return n_hashes, m_bits


def _require_int_key(df: DataFrame, col: str, ctx: str) -> None:
    """The hash kernel works on int64 keys. A non-integer column would
    not fail here — it would CAST: under ANSI an opaque runtime error,
    without ANSI a silent NULL→key-0 probe against a filter whose build
    side nulled out the same way, i.e. every matching join row dropped
    with no error (verified on string keys). Loud beats wrong."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    dt = df.schema[col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"{ctx} requires an integer key column; {col} is "
            f"{dt.simpleString()} — map keys to integers (e.g. xxhash64) "
            "before the Bloom stage"
        )


def build_bloom_distributed(
    build: DataFrame,
    build_key: str,
    fpp: float = 0.01,
    max_build_partitions: int = 64,
    chunk_bytes: int = 1 << 22,
) -> tuple[bytes, int, int]:
    """Build a Bloom filter over a DataFrame column executor-side.

    Two stages, no driver-side key materialization:

    1. ``mapInPandas`` over (≤ ``max_build_partitions``) key partitions:
       each partition hashes its keys into a LOCAL bitmap and emits only
       its non-empty ``chunk_bytes``-sized slices — sparse partitions
       ship a few chunks, not the whole m/8 bytes.
    2. ``groupBy(chunk).applyInPandas`` OR-merges slices per chunk
       index; the driver collects exactly one row per non-empty chunk
       (≤ m/8 bytes total — the size of the filter it must broadcast
       regardless, so this is the floor, not a scalability cap).

    Sizing uses ``approx_count_distinct`` (±~2%), which only perturbs
    the achieved fpp marginally. The merge shuffle is bounded at
    ``max_build_partitions × m/8`` bytes by the coalesce — the same
    network cost Spark's own ``stat.bloomFilter`` treeAggregate pays.
    """
    _require_int_key(build, build_key, "build_bloom_distributed")
    keys_df = build.select(F.col(build_key).cast("long").alias("k")).filter(
        F.col("k").isNotNull()
    )
    n = keys_df.agg(F.approx_count_distinct("k").alias("n")).first()["n"]
    n_hashes, m_bits = _bloom_params(n, fpp)
    nbytes = (m_bits + 7) // 8
    n_chunks = -(-nbytes // chunk_bytes)
    # coalesce never increases partition count; this just caps the
    # number of partial bitmaps feeding the merge shuffle.
    keys_df = keys_df.coalesce(max_build_partitions)

    def partial(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.zeros(nbytes, dtype=np.uint8)
        touched = False
        for pdf in parts:
            k = pdf["k"].to_numpy(dtype=np.int64)
            if not len(k):
                continue
            touched = True
            pos = _positions(k, n_hashes, m_bits).ravel()
            np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        if touched:
            for ci in range(n_chunks):
                chunk = bits[ci * chunk_bytes : (ci + 1) * chunk_bytes]
                if chunk.any():
                    yield pd.DataFrame({"chunk": [ci], "bits": [chunk.tobytes()]})

    partials = keys_df.mapInPandas(partial, schema="chunk int, bits binary")

    def or_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc: np.ndarray | None = None
        for blob in pdf["bits"]:
            arr = np.frombuffer(blob, dtype=np.uint8)
            acc = arr.copy() if acc is None else np.bitwise_or(acc, arr, out=acc)
        return pd.DataFrame({"chunk": [int(pdf["chunk"].iloc[0])], "bits": [acc.tobytes()]})

    merged = (
        partials.groupBy("chunk")
        .applyInPandas(or_merge, schema="chunk int, bits binary")
        .collect()
    )
    bits = np.zeros(nbytes, dtype=np.uint8)
    for row in merged:
        arr = np.frombuffer(row["bits"], dtype=np.uint8)
        start = row["chunk"] * chunk_bytes
        bits[start : start + len(arr)] = arr
    return bits.tobytes(), n_hashes, m_bits


def might_contain(df: DataFrame, key_col: str | Column, bloom: tuple[bytes, int, int]) -> Column:
    """Boolean column: key possibly in the filter (no false negatives).

    Broadcast lifecycle: the bitset broadcast is referenced only by the
    returned Column's UDF closure — once the caller drops the plan that
    uses it, the driver-side Broadcast object becomes unreachable and
    Spark's ContextCleaner destroys the executor copies on the next
    driver GC cycle. Per-micro-batch callers should still not hoard the
    returned frames across batches, or the bitsets pile up until that
    GC runs.
    """
    blob, n_hashes, m_bits = bloom
    if isinstance(key_col, str):
        _require_int_key(df, key_col, "might_contain")
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.frombuffer(blob, dtype=np.uint8))

    @pandas_udf("boolean")
    def probe(keys: pd.Series) -> pd.Series:
        bits = bc.value
        if not len(keys):
            return pd.Series(np.zeros(0, dtype=bool))
        arr = keys.to_numpy()
        if not np.issubdtype(arr.dtype, np.integer):
            # A non-integer batch means a NULL slipped past the
            # coalesce guard below: Arrow hands a NULL-bearing int
            # column to pandas as float64, which silently rounds keys
            # above 2^53 — a corrupted key hashes to different bit
            # positions than the build side set, i.e. a Bloom FALSE
            # NEGATIVE that drops genuinely matching join rows. Fail
            # loudly rather than return a wrong answer.
            raise TypeError(
                f"bloom probe expected an integer batch, got {arr.dtype}: "
                "NULL keys must be coalesced out before the Arrow transfer "
                "(use might_contain, which guards this)"
            )
        pos = _positions(arr.astype(np.int64, copy=False), n_hashes, m_bits)
        hit = (bits[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
        return pd.Series(hit.all(axis=1))

    key_col = F.col(key_col) if isinstance(key_col, str) else key_col
    # NULL keys can never equi-match, so they are masked to False — but
    # the masking must happen JVM-side, not in the UDF: one NULL in an
    # Arrow batch turns the whole int64 batch into float64, corrupting
    # every key above 2^53 (observed: 1152921504606846977 →
    # …976 → false negative → silently dropped join rows). Coalescing
    # to 0 BEFORE the transfer keeps the batch integer end-to-end; the
    # `& isNotNull()` restores NULL → False regardless of what bit
    # pattern key 0 happens to probe.
    return probe(F.coalesce(key_col.cast("long"), F.lit(0))) & key_col.isNotNull()


def bloom_prefiltered_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    fpp: float = 0.01,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with a Bloom prefilter on the probe side.

    The filter is built executor-side (:func:`build_bloom_distributed`)
    so the build side may exceed broadcast budget — the driver holds
    only the final bitset, which is what gets broadcast to the probe
    scan. The join itself still executes, so Bloom false positives
    never reach the output: results are exactly ``probe ⋈ build``.

    Only probe-discarding join types are allowed: the prefilter drops
    probe rows that cannot match, which a probe-preserving join
    (``left``/``full``) is required to KEEP — silently losing them is
    a wrong answer, so those types are rejected loudly.
    """
    if how.replace("_", "").lower() not in ("inner", "semi", "leftsemi"):
        raise ValueError(
            f"bloom_prefiltered_join(how={how!r}): a Bloom prefilter is "
            "only sound for probe-discarding joins (inner/semi); a "
            "probe-preserving join must keep non-matching probe rows"
        )
    _require_int_key(probe, probe_key, "bloom_prefiltered_join (probe side)")
    _require_int_key(build, build_key, "bloom_prefiltered_join (build side)")
    bloom = build_bloom_distributed(build, build_key, fpp=fpp)
    pruned = probe.filter(might_contain(probe, probe_key, bloom))
    return pruned.join(build, on=pruned[probe_key] == build[build_key], how=how)
