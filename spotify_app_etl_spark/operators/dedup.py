"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The reference's only dedup is ``set(playlist_track_ids +
saved_track_ids)`` — a driver-side union+distinct over ids
(spotify-etl.py:250, operator A11). Here the full family a training-
data pipeline needs, each designed for 100 TB:

- **exact**: hash-groupBy on content (or its sha256) — one shuffle on
  the hash key; AQE handles skew (empty/boilerplate docs are the
  classic hot key, pre-salted here via the hash itself being uniform).
- **MinHash+LSH**: signatures are computed per-row with nested
  higher-order functions (zero shuffle, whole-stage codegen); only the
  tiny (band_id, band_hash, doc_id) stream shuffles for bucketing, and
  candidate verification re-joins signatures by doc_id. Cross-join is
  confined to within-bucket pairs — never O(n²) global.
- **SimHash**: 64-bit signature per row (JVM-side), Hamming-ball
  candidate search via 4×16-bit band buckets (exact for distance ≤ 3
  by pigeonhole when bands are chosen accordingly).
- **n-gram Jaccard**: exact token-shingle Jaccard via explode + join —
  the verification oracle for the approximate methods; at scale it is
  run only on LSH candidates, not all pairs.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from spotify_app_etl_spark import io
from spotify_app_etl_spark.operators.checkpoint import local_checkpoint_ser
from spotify_app_etl_spark.operators.conf import size_conf_bytes
from spotify_app_etl_spark.operators.persist import scoped_persist


def _fan_out(base: DataFrame, want: int) -> DataFrame:
    """Repartition up to ``want`` partitions for the signature kernel.

    Estimates the scan width WITHOUT ``.rdd.getNumPartitions()`` (the
    RDD accessor forces a full DataFrame→RDD plan conversion just to
    read a count). ``inputFiles()`` alone is not enough: Spark
    bin-packs files into ``FilePartition``s of
    ``min(maxPartitionBytes, max(openCostInBytes, paddedBytes/cores))``
    each, so many small files can still scan as few tasks when
    ``openCostInBytes`` is tuned low (or ``want`` exceeds the
    parallelism the packing targets). The guard below mirrors that
    formula with file sizes taken as 0 — a monotone LOWER bound on the
    real partition count (padded bytes only ever push the estimate up),
    so the only error direction is a redundant repartition, and the
    repartition payload here is the narrow (id, normalized-text)
    projection. Non-file sources report 0 files and always repartition,
    the safe direction for the fan-out.
    """
    n_files = len(base.inputFiles())
    if n_files < want:
        return base.repartition(want)
    spark = base.sparkSession
    open_cost = size_conf_bytes(
        spark, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024
    )
    max_pb = size_conf_bytes(
        spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024
    )
    cores = max(1, spark.sparkContext.defaultParallelism)
    padded_floor = n_files * open_cost
    target = min(max_pb, max(open_cost, padded_floor // cores))
    est_partitions = padded_floor // target if target else 0
    if est_partitions < want:
        return base.repartition(want)
    return base


def _cap_buckets(
    banded: DataFrame, key_cols: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop LSH buckets larger than ``max_bucket_size`` before a
    within-bucket self-join (None = keep all). The per-bucket count
    rides the same shuffle the join needs; see minhash_candidates'
    docstring for the recall reasoning."""
    if max_bucket_size is None:
        return banded
    from pyspark.sql import Window as _W

    return (
        banded.withColumn(
            "__bsz", F.count(F.lit(1)).over(_W.partitionBy(*key_cols))
        )
        .filter(F.col("__bsz") <= max_bucket_size)
        .drop("__bsz")
    )


# ---------------------------------------------------------------------------
# Banded-LSH building blocks shared by the batch candidates path and the
# persisted-index incremental path. ONE definition: the band layout and
# slot-equality rule ARE the index format — if the two paths drifted
# (different band seed, different substring layout), an index written by
# one would silently stop matching candidates from the other.
# ---------------------------------------------------------------------------


def _check_band_params(num_hashes: int, bands: int) -> None:
    """bands must evenly divide num_hashes, else fail loudly.

    bands > num_hashes makes rows_per_band = 0: every band substring is
    empty, every doc collides in every bucket, and the within-bucket
    self-join degenerates to the global O(n²) cross product this module
    exists to avoid — triggered silently by a parameter typo. A
    non-dividing combo silently ignores trailing signature slots.
    """
    if bands <= 0 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must be in [1, num_hashes] and divide "
            f"num_hashes={num_hashes} evenly (rows_per_band = "
            f"num_hashes/bands signature slots per band)"
        )


def _binary_slot_eq(num_hashes: int):
    """Per-slot equality array between two packed binary signatures."""
    return lambda x, y: F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda j: F.substring(x, j * 8 + 1, F.lit(8))
        == F.substring(y, j * 8 + 1, F.lit(8)),
    )


def _banded(
    sig: DataFrame, num_hashes: int, bands: int, keep_sig: bool = False
) -> DataFrame:
    """(__id[, __sig], band, bh) — one row per (doc, band) of the packed
    binary signature (8 bytes per hash slot), bh = seeded hash of the
    band's bytes. THE one band-explode definition: the batch and
    persisted-index paths both go through here, so the layout cannot
    drift between them."""
    width = num_hashes // bands * 8
    extra = ["__sig"] if keep_sig else []
    return sig.select(
        "__id",
        *extra,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.substring(F.col("__sig"), b * width + 1, F.lit(width)), b
                    ).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select("__id", *extra, "bb.band", "bb.bh")


# ---------------------------------------------------------------------------
# Shingling / tokenization building blocks (pure column expressions).
# ---------------------------------------------------------------------------


def normalized(text: str | Column) -> Column:
    """Lowercase, whitespace-collapsed view of a text column."""
    col = F.col(text) if isinstance(text, str) else text
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def char_shingles(
    text: str | Column, k: int = 9, *, assume_normalized: bool = False
) -> Column:
    """Distinct character k-shingles. Empty/short text → one shingle.

    Default k=9: for documents the shingle space must dwarf document
    length or every pair of same-vocabulary docs looks similar (k=5 on
    the sf0.1 corpus put 20% of ALL pairs in shared LSH buckets — 1M
    false candidates; k=9 cut that to ~500 while keeping every true
    near-dup pair). k≈5 suits short strings (titles, names) only.

    PERF: the source string is referenced *per element* inside the
    transform lambda. Pass a pre-projected plain column (and
    ``assume_normalized=True``) — an inline ``normalized(...)``
    expression would re-run the regexp once per shingle (measured 7x
    slowdown end-to-end). Operators below project ``__norm`` first.
    """
    col = F.col(text) if isinstance(text, str) else text
    norm = col if assume_normalized else normalized(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))),
            lambda i: F.substring(norm, i, F.lit(k)),
        )
    )


def token_ngrams(
    text: str | Column, n: int = 3, *, assume_tokens: bool = False
) -> Column:
    """Distinct word n-grams (ANSI-safe: try_element_at for short texts).

    Same per-element-reference caveat as :func:`char_shingles`: the
    token array is indexed 3x per gram — pass a pre-projected token
    array (``assume_tokens=True``) on hot paths.
    """
    col = F.col(text) if isinstance(text, str) else text
    toks = col if assume_tokens else F.split(normalized(col), " ")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))),
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(toks, i + F.lit(j)) for j in range(n)]
            ),
        )
    )


# ---------------------------------------------------------------------------
# Exact dedup.
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Group identical content; keep min-id representative + dup count.

    One shuffle on the content hash. Returns
    (content hash, representative id, n_copies).

    NULL content: ``sha2(NULL) = NULL`` and groupBy treats NULL as one
    key, so every NULL-content row lands in a single group — identical
    to the SQL ``GROUP BY sha256(text)`` this operator is
    oracle-checked against. That is the right semantics for a hash
    group-by, but the WRONG one if missing content means "unknown, not
    duplicate": a keep-representatives pipeline would silently drop
    all but one unfetched document. Filter NULL content upstream in
    that case (the composed prep pipeline's quality gate does).
    """
    return (
        df.groupBy(F.sha2(F.col(content_col), 256).alias("content_sha256"))
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH.
# ---------------------------------------------------------------------------


def _minhash_text_arrow_udf(num_hashes: int, shingle_k: int = 9):
    """End-to-end Arrow signature kernel: normalized text in, signature
    out. Byte-level k-shingles come from a numpy sliding window over the
    UTF-8 buffer, a 5-byte polynomial hash replaces per-substring
    xxhash64, and the universal-hash min is one (windows x num_hashes)
    matrix op. No JVM higher-order functions, no per-shingle string
    allocation, no array_distinct (duplicate shingles cannot change a
    min); recall is asserted against exact Jaccard in tests.

    Returns the signature PACKED AS BINARY (big-endian int64 x
    num_hashes): the columnar cache encodes a flat byte column ~4x
    faster than array<long> (measured 3.1s -> 0.7s at sf0.1), and
    band slicing is a byte substring instead of an array slice."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rng = np.random.RandomState(0xC0FFEE)
    mask = np.uint64(0x7FFFFFFFFFFFFFFF)
    a = rng.randint(1, 1 << 61, size=num_hashes).astype(np.uint64) | np.uint64(1)
    b = rng.randint(0, 1 << 61, size=num_hashes).astype(np.uint64)
    # odd base => bijective per byte position mod 2^64
    pows = (np.uint64(0x100000001B3) ** np.arange(shingle_k, dtype=np.uint64))[::-1].copy()

    @pandas_udf("binary")
    def sig(texts: pd.Series) -> pd.Series:
        out = []
        win = np.lib.stride_tricks.sliding_window_view
        for s in texts:
            raw = np.frombuffer((s or "").encode("utf-8"), dtype=np.uint8)
            if raw.size < shingle_k:
                # parity with char_shingles: short text -> one shingle
                raw = np.pad(raw, (0, shingle_k - raw.size))
                h = (raw.astype(np.uint64) * pows).sum(keepdims=True)
            else:
                h = win(raw, shingle_k).astype(np.uint64) @ pows
            m = (h[:, None] * a[None, :] + b[None, :]) & mask
            out.append(m.min(axis=0).astype(">i8").tobytes())
        return pd.Series(out)

    return sig


def minhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_k: int = 9,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH over MinHash.

    Pipeline: per-row signature (no shuffle) → explode ``bands`` band
    hashes (rows × bands, tiny: 3 longs each) → shuffle on
    (band, band_hash) → within-bucket self-join → distinct pairs →
    estimate Jaccard as the fraction of agreeing signature slots.
    Returns (id_a, id_b, est_jaccard) with id_a < id_b and
    est_jaccard ≥ threshold.

    ``max_bucket_size`` is the 100 TB safety valve: a boilerplate-heavy
    corpus puts millions of near-identical docs into ONE band bucket,
    and the within-bucket self-join is O(B²) per bucket — a single
    degenerate bucket kills the job. With a cap, buckets above it are
    EXCLUDED from pair generation (one cheap count over the banded
    stream first). Recall note: members of a dropped bucket usually
    still pair through their other ``bands - 1`` buckets; mass-identical
    content should be removed by :func:`exact_dedup` BEFORE LSH — that
    is the documented order of operations. Default None preserves exact
    candidate semantics for the oracle-checked queries.
    """
    _check_band_params(num_hashes, bands)
    # __norm is projected first so the signature kernel reads a plain
    # attribute instead of re-running the normalization regexp.
    base = df.select(F.col(id_col).alias("__id"), normalized(text_col).alias("__norm"))
    # Fan the signature kernel across all cores: a small corpus arrives
    # as one parquet file -> one task, serializing the UDF (measured 3x
    # end-to-end at sf0.1). The shuffled payload is just (id, norm). On
    # a real cluster the scan already has >= cores partitions and this
    # is skipped.
    base = _fan_out(base, df.sparkSession.sparkContext.defaultParallelism)
    # Persist: the band explode and the two verification joins each
    # consume the signatures; without the cache the Arrow kernel re-runs
    # per consumer (3x). The cached table is tiny — num_hashes longs per
    # doc. At cluster scale the signature table IS the LSH index — write
    # it to parquet once and reuse across runs.
    sig = scoped_persist(
        base.select(
            "__id",
            _minhash_text_arrow_udf(num_hashes, shingle_k)("__norm").alias("__sig"),
        )
    )
    # Materialize now: the three consumers otherwise race to build the
    # cache within one job (each stage recomputes the kernel on whatever
    # partitions it reaches first — measured 2x the whole pipeline at
    # sf0.1).
    sig.count()
    slot_eq = _binary_slot_eq(num_hashes)
    banded = _banded(sig, num_hashes, bands)
    banded = _cap_buckets(banded, ["band", "bh"], max_bucket_size)
    pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    est = (
        pairs.join(sig.withColumnsRenamed({"__id": "id_a", "__sig": "sig_a"}), "id_a")
        .join(sig.withColumnsRenamed({"__id": "id_b", "__sig": "sig_b"}), "id_b")
        .withColumn(
            "est_jaccard",
            F.size(F.filter(slot_eq(F.col("sig_a"), F.col("sig_b")), lambda eq: eq))
            / F.lit(float(num_hashes)),
        )
    )
    return est.filter(F.col("est_jaccard") >= threshold).select(
        "id_a", "id_b", "est_jaccard"
    )


def minhash_dedup(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.5, **kw
) -> DataFrame:
    """Greedy near-dup removal: drop any doc that pairs (est Jaccard ≥
    threshold) with a lower-id doc. One LSH pass — a lightweight
    approximation of connected components (cheap and deterministic;
    full CC would need iterative joins)."""
    drop = (
        minhash_candidates(df, text_col, id_col, threshold=threshold, **kw)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash.
# ---------------------------------------------------------------------------


def simhash_signature(text: str | Column, bits: int = 64) -> Column:
    """SimHash: sign-aggregate each bit of the token hashes.

    Pure column expressions, single pass: one fold over the token array
    carries an array of ``bits`` vote counters (each token is hashed
    exactly once — a per-bit fold would re-hash every token ``bits``
    times), then the sign vector reassembles into one long. No Python,
    no shuffle.
    """
    toks = F.split(normalized(text), " ")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # bit masks as data (1<<63 wraps to the sign bit of a signed long)
    masks = F.array(
        *[
            F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
            for b in range(bits)
        ]
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def _simhash_arrow_udf(bits: int = 64):
    """Arrow kernel producing the SAME signature as
    :func:`simhash_signature` from the same token-hash array (bit b of
    the result = sign of sum over tokens of ±1 by bit b of the hash):
    one (tokens x bits) boolean matrix per row instead of a 64-slot
    interpreted fold."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    masks = np.uint64(1) << np.arange(bits, dtype=np.uint64)

    @pandas_udf("long")
    def sig(hashes: pd.Series) -> pd.Series:
        # NULL token array (NULL text upstream) -> NULL signature, the
        # same value simhash_signature's expression fold produces — the
        # row then drops out of the null-unsafe chunk equi-join on both
        # impls instead of crashing np.asarray(None) here.
        out: list = [None] * len(hashes)
        for i, hs in enumerate(hashes):
            if hs is None:
                continue
            h = np.asarray(hs, dtype=np.int64).view(np.uint64)
            acc = np.uint64(0)
            if h.size:
                set_bits = (h[:, None] & masks[None, :]) != 0  # (n, bits)
                votes = 2 * set_bits.sum(axis=0) - h.size
                chosen = masks[votes > 0]
                if chosen.size:
                    acc = np.bitwise_or.reduce(chosen)
            out[i] = int(np.uint64(acc).view(np.int64))
        return pd.Series(out, dtype=object)

    return sig


def simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    impl: str = "arrow",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Banding: with 4 bands of 16 bits, any pair at Hamming ≤ 3 agrees
    exactly on ≥ 1 band (pigeonhole) → bucket join on (band, 16-bit
    chunk) finds ALL such pairs; exact distance then filters.
    ``max_bucket_size`` caps degenerate buckets exactly as in
    :func:`minhash_candidates` (opt-in; breaks the ≤3-completeness
    guarantee only for members of dropped buckets).
    """
    # persist: the signature expression would otherwise be inlined
    # into all 4 chunk expressions and both self-join sides
    if impl == "arrow":
        hs = df.select(
            F.col(id_col).alias("__id"), normalized(text_col).alias("__norm")
        ).select(
            "__id",
            F.transform(F.split("__norm", " "), lambda tk: F.xxhash64(tk)).alias("__hs"),
        )
        sig = scoped_persist(
            hs.select("__id", _simhash_arrow_udf()("__hs").alias("__sim"))
        )
    else:
        sig = scoped_persist(
            df.select(
                F.col(id_col).alias("__id"), simhash_signature(text_col).alias("__sim")
            )
        )
    chunks = sig.select(
        "__id",
        "__sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("__sim"), 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bc"),
    ).select("__id", "__sim", "bc.band", "bc.chunk")
    chunks = _cap_buckets(chunks, ["band", "chunk"], max_bucket_size)
    return (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.__sim").bitwiseXOR(F.col("b.__sim"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs.
# ---------------------------------------------------------------------------


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    blocks: int | None = None,
) -> DataFrame:
    """Exact near-dup pairs by embedding cosine >= threshold.

    Block-matrix all-pairs: vectors hash into ``blocks`` row-blocks;
    each unordered block pair (b_i <= b_j) becomes one task that scores
    its cross product with a single numpy matmul over Arrow batches.
    Exact O(n²/2) compute — but vectorized (BLAS, not a per-pair
    expression fold: the previous non-equi-join formulation was 30x
    slower at sf0.1) and fully distributed: no driver collect, shuffle
    volume = n·√(2·#tasks) rows (each block replicated ``blocks``
    times), and task count = blocks·(blocks+1)/2 keeps every core busy.

    ``blocks=None`` sizes adaptively from one count: the smallest block
    grid whose pair count covers the cluster's cores, widened when
    blocks would exceed ~10k vectors (matmul memory), capped at 256
    (past ~2.5M vectors the exact kernel's flops are the problem, not
    the grid). A fixed 32 was 528 near-empty tasks on a 2k-vector
    corpus — pure scheduling overhead (measured 4.2s -> 1.2s at sf0.1).

    Still the small-scale verification oracle: at corpus scale the
    LSH-bucketed variant below is the real path (this kernel's O(n²)
    flops are intrinsic to exactness, not to the plan).
    """
    import math

    from pyspark.sql.types import IntegerType, LongType, ShortType

    from spotify_app_etl_spark.operators.similarity import _as_double

    # The numpy kernel packs ids as int64 (np.fromiter + 'id_a long'
    # schema); a string-id corpus — valid input to every OTHER dedup
    # operator — would die with an opaque executor ValueError, so
    # reject it loudly at plan-build time instead.
    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (ShortType, IntegerType, LongType)):
        raise TypeError(
            f"embedding_cosine_pairs requires an integer id column; "
            f"{id_col} is {id_type.simpleString()}. Use "
            f"embedding_cosine_pairs_lsh (id-type-preserving) or map ids "
            f"to longs first."
        )
    # NULL and EMPTY vectors are dropped, same convention as the LSH
    # sibling (similarity kernels guard them because np.vstack over a
    # mixed batch dies with an opaque executor ValueError — nothing to
    # score against a missing/zero-dim vector).
    side = df.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
    ).select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
    )
    if blocks is None:
        # Persisted: sizing needs a count, and an unpersisted `side`
        # would re-scan + re-cast the full vector table once for the
        # count and again for the packed aggregate below.
        side = scoped_persist(side)
        n = side.count()
        par = df.sparkSession.sparkContext.defaultParallelism
        # smallest b with b(b+1)/2 >= par; isqrt FLOORS, so bump once
        # if the floored estimate undershoots (par=4 or 16 otherwise
        # leaves a core idle for the whole kernel)
        by_cores = max(1, math.ceil((math.isqrt(8 * par + 1) - 1) / 2))
        if by_cores * (by_cores + 1) // 2 < par:
            by_cores += 1
        by_memory = math.ceil(n / 10_000)
        blocks = max(1, min(max(by_cores, by_memory), 256))
    side = side.withColumn("__b", F.pmod(F.xxhash64("__id"), F.lit(blocks)))
    packed = side.groupBy("__b").agg(
        F.collect_list(F.struct("__id", "__v")).alias("__rows")
    )
    block_pairs = (
        packed.select(F.col("__b").alias("ba"), F.col("__rows").alias("rows_a"))
        .join(
            packed.select(F.col("__b").alias("bb"), F.col("__rows").alias("rows_b")),
            F.col("ba") <= F.col("bb"),
        )
        # one task per block pair: the matmul is the unit of work
        .repartition(blocks * (blocks + 1) // 2, "ba", "bb")
    )

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for rows_a, rows_b, same in zip(
                pdf["rows_a"], pdf["rows_b"], pdf["ba"].to_numpy() == pdf["bb"].to_numpy()
            ):
                ids_a = np.fromiter((r["__id"] for r in rows_a), dtype=np.int64)
                ids_b = np.fromiter((r["__id"] for r in rows_b), dtype=np.int64)
                ma = np.vstack([np.asarray(r["__v"], dtype=np.float64) for r in rows_a])
                mb = np.vstack([np.asarray(r["__v"], dtype=np.float64) for r in rows_b])
                ma /= np.linalg.norm(ma, axis=1, keepdims=True)
                mb /= np.linalg.norm(mb, axis=1, keepdims=True)
                cos = np.round(ma @ mb.T, 8)
                ia, ib = np.nonzero(cos >= threshold)
                if same:
                    # Same block on both sides: keep one orientation of
                    # each unordered pair and drop the self-diagonal —
                    # masked BY ID, not by position. rows_a and rows_b
                    # come from two independent evaluations of the
                    # unpersisted collect_list aggregate (the self-join
                    # re-executes it), and Spark does not guarantee the
                    # two lists share element order; a positional
                    # ia < ib mask under permuted orders can emit a
                    # pair twice, miss it entirely, or emit a spurious
                    # (x, x, 1.0) self-pair.
                    m = ids_a[ia] < ids_b[ib]
                    ia, ib = ia[m], ib[m]
                c = cos[ia, ib]
                # canonical id_a < id_b (ids are globally unique, so
                # lo == hi cannot occur)
                lo = np.minimum(ids_a[ia], ids_b[ib])
                hi = np.maximum(ids_a[ia], ids_b[ib])
                out_a.append(lo)
                out_b.append(hi)
                out_c.append(c)
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cos_sim": np.concatenate(out_c),
                    }
                )

    return block_pairs.mapInPandas(
        score, "id_a long, id_b long, cos_sim double"
    )


def lsh_auto_params(
    n: int,
    threshold: float,
    *,
    target_recall: float = 0.85,
    target_bucket: int = 32,
    min_planes: int = 4,
    max_planes: int = 24,
    max_tables: int = 64,
) -> tuple[int, int]:
    """Closed-form sign-LSH sizing from corpus size and threshold.

    A fixed ``planes`` is a hidden quadratic: 2^planes buckets is a
    CONSTANT, so bucket occupancy — and within-bucket pair work — grows
    linearly-then-quadratically with the corpus (the 128x probe killed
    the fixed planes=8 query with a heap OOM: 256k vectors / 256
    buckets ≈ 1k per bucket ≈ 1e9 candidate pairs). Both knobs follow
    from quantities known at plan time:

    * ``planes = log2(n / target_bucket)`` keeps expected bucket
      occupancy constant as the corpus grows (clamped to
      [min_planes, max_planes]; 24 planes ≈ 16.7M buckets).
    * raising planes lowers per-table collision probability for TRUE
      pairs — for a pair exactly at ``threshold`` it is
      ``p^planes`` with ``p = 1 - arccos(threshold)/π`` (Charikar
      2002) — so ``tables`` is solved to restore the recall target:
      ``1 - (1 - p^planes)^tables >= target_recall``. Pairs above the
      threshold collide more, so the target is the worst-case bound.

    Cost model: candidates ≈ n·target_bucket·tables/2 — LINEAR in n
    with a log-factor through tables. The one data-dependent input is a
    single count().
    """
    import math

    p = 1.0 - math.acos(max(min(float(threshold), 1.0), -1.0)) / math.pi
    planes = min_planes
    if n > target_bucket:
        planes = max(min_planes, min(max_planes, math.ceil(math.log2(n / target_bucket))))
    hit = p**planes
    if hit >= 1.0:
        tables = 1
    elif hit <= 0.0:
        # threshold clamped to -1 makes p = 0: no table can ever hit, so
        # log(1 - hit) = 0 would divide by zero. The clamp promised the
        # input is tolerated; the honest answer is "as many tables as
        # allowed" (recall target unreachable either way).
        tables = max_tables
    else:
        tables = max(
            1,
            min(max_tables, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - hit))),
        )
    return planes, tables


def embedding_cosine_pairs_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    planes: int | str = 8,
    tables: int | str = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by cosine >= threshold, confined to sign-LSH buckets.

    Scale path for :func:`embedding_cosine_pairs` (which stays the exact
    all-pairs verification oracle): each vector hashes into ``tables``
    independent random-hyperplane buckets (Arrow kernel, one matmul per
    batch); candidate pairs are generated ONLY within a (table, bucket)
    equi-join — one shuffle on the bucket key, never O(n²). A pair whose
    vectors agree on all ``planes`` sign bits in at least one table is a
    candidate; cosine is then scored INSIDE its bucket with the exact
    kernel's arithmetic (block matmuls), and the per-table results are
    merged across tables afterwards. Recall vs the exact variant is
    asserted in tests/test_operators.py.

    At 100 TB: pass ``planes="auto"`` / ``tables="auto"`` — bucket
    density and the recall target then size both knobs from one count()
    via :func:`lsh_auto_params`, keeping candidate volume LINEAR in the
    corpus at any scale (a fixed planes is a constant bucket count, so
    occupancy — and pair work — grows with the data; the 128x probe
    measured the failure). Fixed integers remain for deterministic
    small-scale runs. Score-then-merge keeps shuffle volume
    O(n · tables · dim) — vectors move once per bucket membership, and
    only surviving (above-threshold) pairs reach the cross-table merge.
    """
    from pyspark.sql import Window as _W

    from spotify_app_etl_spark.operators.similarity import (
        _as_double,
        _hyperplane_buckets_arrow,
    )

    side = df.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
    ).select(F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v"))
    if planes == "auto" or tables == "auto":
        # size from the frame the kernel actually runs on (null/empty
        # vectors are filtered out above) — semantic_dedup_pairs sizes
        # its n_cells the same way
        n = side.count()
        auto_planes, auto_tables = lsh_auto_params(n, threshold)
        planes = auto_planes if planes == "auto" else planes
        tables = auto_tables if tables == "auto" else tables
    bks = _hyperplane_buckets_arrow(tables, planes)
    # NOT repartitioned before the kernel: the numpy projection is
    # microseconds per batch even single-task; a fan-out here shuffles
    # the vectors once per downstream consumer and was measured 4x
    # slower end-to-end at sf0.1 (see spotify_app_etl_spark/operators/
    # similarity.py note on minhash, where the kernel IS the bottleneck
    # and the tradeoff flips).
    #
    # Scoring happens INSIDE each (table, bucket) group with one dense
    # matmul per within-bucket block pair — the exact kernel's
    # arithmetic, scoped to a bucket. The previous shape generated the
    # candidate-pair frame first and joined both endpoints' vectors
    # onto every pair: shuffle volume O(candidates · dim), which the
    # 128x probe measured at ~92 GB (769 s) for 90M candidates. Here
    # vectors move once per bucket MEMBERSHIP — O(n · tables · dim),
    # ~1.9 GB for the same workload — and only surviving pairs (rare,
    # above-threshold) reach the cross-table merge.
    idx = side.select(
        "__id",
        "__v",
        F.explode(
            F.transform(
                bks(F.col("__v")),
                lambda b, i: F.struct(i.alias("tbl"), b.alias("bkt")),
            )
        ).alias("tb"),
    ).select("__id", "__v", "tb.tbl", "tb.bkt")
    idx = _cap_buckets(idx, ["tbl", "bkt"], max_bucket_size)
    # Dense buckets split into hash blocks (the semantic-dedup grid,
    # scoped to a bucket): no task ever materializes more than two
    # _MAX_BLOCK_ROWS row-blocks, so a skewed bucket degrades into more
    # tasks, never into one giant matmul. Block count is a column (from
    # the bucket-size window), not driver state — bucket cardinality is
    # 2^planes x tables and must never be collected.
    max_rows = 2048
    blocked = idx.withColumn(
        "__nb",
        F.ceil(
            F.count(F.lit(1)).over(_W.partitionBy("tbl", "bkt")) / max_rows
        ).cast("int"),
    ).withColumn("__sb", F.pmod(F.xxhash64("__id"), F.col("__nb")).cast("int"))
    packed = blocked.groupBy("tbl", "bkt", "__sb").agg(
        F.collect_list(F.struct("__id", "__v")).alias("__rows")
    )
    block_pairs = (
        packed.select(
            "tbl", "bkt", F.col("__sb").alias("__ba"), F.col("__rows").alias("rows_a")
        )
        .join(
            packed.select(
                "tbl",
                "bkt",
                F.col("__sb").alias("__bb"),
                F.col("__rows").alias("rows_b"),
            ),
            ["tbl", "bkt"],
        )
        .filter(F.col("__ba") <= F.col("__bb"))
    )
    id_ddl = df.schema[id_col].dataType.simpleString()

    def score(batches):
        import numpy as np
        import pandas as pd

        def unpack(rows):
            ids = np.array([r["__id"] for r in rows], dtype=object)
            M = np.vstack([np.asarray(r["__v"], dtype=np.float64) for r in rows])
            norms = np.linalg.norm(M, axis=1, keepdims=True)
            Mn = np.divide(M, norms, out=np.zeros_like(M), where=norms > 0)
            return ids, Mn

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for same, rows_a, rows_b in zip(
                pdf["__ba"].to_numpy() == pdf["__bb"].to_numpy(),
                pdf["rows_a"],
                pdf["rows_b"],
            ):
                if same and len(rows_a) < 2:
                    continue
                ids_a, ma = unpack(rows_a)
                ids_b, mb = (ids_a, ma) if same else unpack(rows_b)
                cos = np.round(ma @ mb.T, 8)
                ia, ib = np.nonzero(cos >= threshold)
                # mask BY ID, not position (collect_list element order
                # is not guaranteed stable across the self-join's two
                # evaluations — same rationale as the exact kernel)
                m = ids_a[ia] < ids_b[ib]
                if same:
                    ia, ib = ia[m], ib[m]
                    lo, hi = ids_a[ia], ids_b[ib]
                    cs = cos[ia, ib]
                else:
                    lo = np.where(m, ids_a[ia], ids_b[ib])
                    hi = np.where(m, ids_b[ib], ids_a[ia])
                    cs = cos[ia, ib]
                out_a.append(lo)
                out_b.append(hi)
                out_c.append(cs)
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cos_sim": np.concatenate(out_c),
                    }
                )

    # The same pair can surface in several tables, and the two sightings
    # may ride different BLAS block shapes — at a round(,8) boundary the
    # rounded scores can then differ by one ulp, so a full-row distinct
    # could emit the pair twice. Merge BY KEY and keep the max: one row
    # per (id_a, id_b), deterministic score.
    return (
        block_pairs.mapInPandas(score, f"id_a {id_ddl}, id_b {id_ddl}, cos_sim double")
        .groupBy("id_a", "id_b")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (verification oracle / small-scale path).
# ---------------------------------------------------------------------------


#: Corpus size (docs) above which ngram_jaccard_pairs switches from the
#: naive gram self-join to the prefix-filtered AllPairs plan. Below it
#: the naive join's single shuffle beats PPJoin's fixed overhead (three
#: extra exchanges + a window sort: measured 1.6 s vs 4.7 s at sf0.1's
#: 5k docs); above it the naive join's (docs-per-gram)² fan-out grows
#: without bound (OOM at 640k docs in the 128x probe rig) while PPJoin
#: stays linear. 50k sits comfortably inside the naive join's measured
#: safe range (160k docs = 8.43x at 32x, pre-rewrite) with margin.
PREFIX_FILTER_MIN_DOCS = 50_000

#: Per-task input-text cap for the AllPairs gram explode (see the
#: fan-out note in ngram_jaccard_pairs): 8 MB of text explodes to a
#: ~80 MB sorter working set, well under local[32]'s 0.25 GiB/task —
#: the measured r09 floor was ~24 MB/task text starving that budget.
ALLPAIRS_TEXT_BYTES_PER_TASK = 8 << 20


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool | str = "auto",
) -> DataFrame:
    """Exact Jaccard over word n-gram sets, prefix-filtered (AllPairs).

    Exactness is unchanged — the result is every pair with set-Jaccard
    >= threshold, bit-identical to the naive explode + equi-join (the
    SQL oracles don't change). What changed (r09) is HOW candidates are
    generated. The naive gram self-join fans out (docs-per-gram)² rows
    for every gram, and frequent grams (stop-word n-grams on real
    corpora; the translation-surviving grams on the probe replica) make
    that component genuinely quadratic in the corpus — the 128x probe
    killed `ns_dedup_source_matrix` with executor-memory exhaustion
    inside that join's aggregation.

    Prefix filtering (Chaudhuri et al. SSJoin 2006; Bayardo et al.
    AllPairs WWW'07; Xiao et al. PPJoin) removes it: order grams by
    ascending global document frequency (ties by gram string — any
    CONSISTENT total order works), and for each doc keep only the
    prefix of its p = |A| - ceil(t*|A|) + 1 rarest grams. Theorem: if
    J(A,B) >= t, the globally-smallest common gram lies in BOTH
    prefixes — J >= t implies |A∩B| >= t*|A| (and t*|B|); were all
    common grams outside A's prefix they'd fit in its suffix of
    ceil(t*|A|) - 1 slots, a contradiction — so joining prefixes only
    loses nothing. Frequent grams sort LAST within a doc and drop out
    of most prefixes, so the quadratic fan-out collapses to the rare
    tail (max per-gram fan-out 2944 → 21 on the 128x probe replica).

    Two further PPJoin filters run inside the candidate join, each a
    provable no-false-negative bound, OR-ed over a pair's sightings
    (the smallest common gram's sighting always carries a valid bound,
    so a pair killed on EVERY sighting is truly impossible):

    * length: J <= min(|A|,|B|)/max(|A|,|B|), so require
      min >= t*max;
    * positional: a common gram at ranks (i, j) caps the overlap at
      1 + min(|A|-i, |B|-j), which must reach
      ceil(t/(1+t) * (|A|+|B|)) — the minimum overlap J >= t implies.

    Measured on the 128x replica: 57.8M candidate sightings → 16.7M
    distinct candidates. Exact verification on candidates then computes
    true |A∩B|: grams are dictionary-encoded to DENSE int vocabulary
    ids ordered rarest-first (one distributed range-rank over the
    distinct-gram table — operators/rank.py, injective by
    construction, so no hash-collision certificate is needed), each
    doc's encoded gram set is collected once (bounded: grams-per-doc,
    4 bytes per gram), and n_common = array_intersect on the two
    arrays — JVM-side, no per-candidate gram explosion (the
    explode-style verification join was measured spilling >70 GB at
    128x). The dense id doubles as the prefix order, so the window
    rank needs no frequency join, and gram STRINGS never enter an
    exchange wider than the vocabulary itself — the r10 512x disk
    watcher measured the string/long-array bytes exhausting the probe
    host's 70 GB before this encoding. Cost: linear aggregations + a
    prefix-confined pair join + a candidates x 2-array join. No
    (docs-per-gram)² term anywhere.

    ``prefix_filter``: ``True`` forces the AllPairs plan, ``False`` the
    naive gram self-join (single shuffle — faster below ~50k docs where
    fan-out is harmless), ``"auto"`` (default, the registered queries'
    configuration) picks by one corpus aggregate (doc count vs
    :data:`PREFIX_FILTER_MIN_DOCS`; the same scan also measures total
    text bytes, which size the AllPairs fan-out width) — the same
    self-sizing convention as :func:`lsh_auto_params`. Both plans
    return identical rows (tests/test_operators.py pins each against a
    Python reference).

    Jaccard is a ratio of integers → bit-exact across engines
    (SQL-oracle-able).

    **Eager materialization (r09 ADVICE, documented contract):** with
    ``prefix_filter=True`` (or ``"auto"`` above the threshold) this is
    NOT a lazy plan builder. It runs Spark jobs at CALL time — the
    auto-mode sizing aggregate (doc count + text bytes), the dense
    gram-vocabulary range-rank per-partition counts collect
    (``operators.rank.global_row_number``), and the candidate-set
    ``localCheckpoint`` (the lineage barrier that releases
    candidate-generation shuffle files mid-plan; SCALING.md eleventh
    family) — and the checkpoint FREEZES the input
    snapshot: the returned DataFrame re-derives verification from the
    checkpointed candidates, not from ``df``'s then-current contents.
    Callers that build but never execute the plan still pay full
    candidate-generation cost, and mutating the source between call
    and execution does not change the candidate set. Compose it
    eagerly (call it when you mean to run it); the naive
    ``prefix_filter=False`` plan remains fully lazy.
    """
    from pyspark.sql import Window as _W

    text_bytes = None
    if prefix_filter == "auto":
        # one corpus scan sizes BOTH decisions: the plan pick (doc
        # count vs PREFIX_FILTER_MIN_DOCS) and, below, the AllPairs
        # fan-out width (total text bytes)
        n_docs, text_bytes = df.agg(
            F.count(F.lit(1)), F.sum(F.octet_length(F.col(text_col)))
        ).first()
        prefix_filter = n_docs >= PREFIX_FILTER_MIN_DOCS

    # Fan-out width. Baseline: one task per core (a one-file corpus
    # scan would otherwise build the whole persisted gram table in a
    # single task). For the AllPairs plan the width must additionally
    # scale with CORPUS SIZE, not core count: the gram explode expands
    # per-task text ~10x through the shuffle-write sorter, and the r09
    # 512x probe measured a ~0.5 GiB/task execution-memory floor at
    # core-count width (~24 MB text/task at that scale) — the one
    # provisioning constraint the round left open. Capping per-task
    # INPUT text at ALLPAIRS_TEXT_BYTES_PER_TASK makes the explode
    # working set scale-independent (~80 MB/task), so the kernel fits
    # local[32]'s 0.25 GiB/task at any corpus size; extra partitions
    # just queue. Sized from the same scan as the auto-mode count (the
    # kernel is eager by contract — see docstring).
    want = df.sparkSession.sparkContext.defaultParallelism
    if prefix_filter:
        if text_bytes is None:  # prefix_filter forced True by caller
            text_bytes = df.agg(F.sum(F.octet_length(F.col(text_col)))).first()[0]
        want = max(want, -(-int(text_bytes or 0) // ALLPAIRS_TEXT_BYTES_PER_TASK))

    # persist: consumed by the size agg, the frequency agg, the prefix
    # ranking and both verification joins; token array projected first
    # (per-element reference, see token_ngrams)
    grams = scoped_persist(
        _fan_out(
            df.select(
                F.col(id_col).alias("__id"),
                F.split(normalized(text_col), " ").alias("__toks"),
            ),
            want,
        )
        .select(
            "__id",
            F.explode(token_ngrams("__toks", n, assume_tokens=True)).alias("gram"),
        )
    )
    if not prefix_filter:
        # naive small-corpus plan: one gram self-join, no window/freq
        # machinery — identical output (see prefix_filter note above)
        sizes = grams.groupBy("__id").agg(F.count(F.lit(1)).alias("sz"))
        inter = (
            grams.alias("a")
            .join(
                grams.alias("b"),
                (F.col("a.gram") == F.col("b.gram"))
                & (F.col("a.__id") < F.col("b.__id")),
            )
            .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        return (
            inter.join(sizes.withColumnsRenamed({"__id": "id_a", "sz": "sz_a"}), "id_a")
            .join(sizes.withColumnsRenamed({"__id": "id_b", "sz": "sz_b"}), "id_b")
            .withColumn(
                "jaccard",
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast("double"),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "n_common", F.round("jaccard", 6).alias("jaccard"))
        )
    # Dense integer gram vocabulary, rarest-first (r10). The r09 plan
    # carried the gram STRING (~25 B + header per row) through every
    # wide exchange — the freq join, the per-doc window sort, the
    # prefix self-join — and shipped per-doc gram sets as array<long>
    # xxhash64 codes (with an injectivity-certificate branch) through
    # the verification joins. The 512x disk watcher pinned the probe
    # host's 70 GB exhaustion to exactly those bytes: candidate
    # generation burned 70→45 GB and the array-carrying verification
    # join burned the rest. Assigning each distinct gram a dense int
    # id ordered by (document frequency, gram) — one distributed
    # range-rank over the vocabulary, operators/rank.py, no
    # single-partition window — makes every downstream exchange ship
    # ints: the dense id IS the rare-first prefix order (no freq join
    # into the window), per-doc sets become array<int> (half the
    # array<long> bytes, a quarter of the strings), and hash
    # injectivity is by construction, deleting the certificate job and
    # its string fallback. Gram strings now leave the plan at the
    # vocab join below and never enter a shuffle wider than the
    # vocabulary itself.
    from spotify_app_etl_spark.operators.rank import _global_row_number_with_total

    gram_freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    # The rank's own counts collect already knows the vocabulary size,
    # so the int narrowing is GUARDED, not assumed: past 2^31-1
    # distinct grams the ids stay long (2x the array bytes, but
    # injectivity — the justification for deleting the r09 hash
    # certificate — survives unconditionally; an unguarded cast would
    # throw under ANSI and silently alias gram ids on a non-ANSI
    # session).
    ranked, vocab_n = _global_row_number_with_total(
        gram_freq, ["__df", "gram"], out="__gid"
    )
    gid_type = "int" if vocab_n <= 2**31 - 1 else "long"
    vocab = ranked.select("gram", F.col("__gid").cast(gid_type).alias("__gid"))
    # one gram-table-wide string join, then ints everywhere
    gi = scoped_persist(grams.join(vocab, "gram").select("__id", "__gid"))
    # per-doc size via the same window partitioning as the rank — no
    # separate sizes aggregation/join
    by_doc = _W.partitionBy("__id")
    # ceil(t*sz) with a downward epsilon: float error can only ever
    # LENGTHEN the prefix (more candidates, never a lost pair)
    p_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)) + 1
    prefix = (
        gi.withColumn("sz", F.count(F.lit(1)).over(by_doc))
        .withColumn("__rn", F.row_number().over(by_doc.orderBy("__gid")))
        .filter(F.col("__rn") <= p_len)
        .select("__id", "__gid", "__rn", "sz")
    )
    pa = prefix.select(
        F.col("__id").alias("id_a"),
        F.col("__gid").alias("__g"),
        F.col("__rn").alias("__rn_a"),
        F.col("sz").alias("__sz_a"),
    )
    pb = prefix.select(
        F.col("__id").alias("id_b"),
        F.col("__gid").alias("__g"),
        F.col("__rn").alias("__rn_b"),
        F.col("sz").alias("__sz_b"),
    )
    # minimum overlap J >= t implies: ceil(t/(1+t) * (|A|+|B|))
    required = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("__sz_a") + F.col("__sz_b"))
        - F.lit(1e-9)
    )
    cand = (
        pa.join(pb, ["__g"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: J <= min/max
            & (
                F.least("__sz_a", "__sz_b")
                >= F.lit(threshold) * F.greatest("__sz_a", "__sz_b") - F.lit(1e-9)
            )
            # positional filter: overlap cap from this sighting's ranks
            & (
                F.lit(1)
                + F.least(
                    F.col("__sz_a") - F.col("__rn_a"),
                    F.col("__sz_b") - F.col("__rn_b"),
                )
                >= required
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # Disk high-water-mark barrier: Spark holds every live job's
    # shuffle files until their dependencies are GC'd, so the
    # candidate-GENERATION shuffles (freq join + per-doc window sort +
    # prefix pair join — the widest exchanges in the plan) would
    # otherwise still be on local disk while the verification join
    # writes its own. The candidate set itself is two ids per row;
    # checkpointing it cuts the lineage, and the GC nudge lets
    # ContextCleaner delete the superseded shuffle files mid-plan —
    # the 512x probe hit this rig's 70 GB free-disk ceiling exactly
    # here with linear (not superlinear) byte growth. Values
    # unaffected; release is best-effort by contract.
    from spotify_app_etl_spark.operators.checkpoint import local_checkpoint_ser

    cand = local_checkpoint_ser(cand)
    try:
        df.sparkSession.sparkContext._jvm.System.gc()
    except Exception:  # JVM surface is an optimization hook only
        pass
    # Exact verification on candidates: intersect per-doc gram-ID sets
    # JVM-side. IDs are the dense int vocabulary codes — injective by
    # construction (each distinct gram got exactly one rank), so the
    # r09 xxhash64 injectivity certificate and its string fallback are
    # gone, and the arrays ship at 4 bytes per gram.
    doc_sets = gi.groupBy("__id").agg(F.collect_list("__gid").alias("__gs"))
    return (
        cand.join(
            doc_sets.select(
                F.col("__id").alias("id_a"), F.col("__gs").alias("__gs_a")
            ),
            "id_a",
        )
        .join(
            doc_sets.select(
                F.col("__id").alias("id_b"), F.col("__gs").alias("__gs_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            # cast: F.size is IntegerType while the naive path's F.count
            # is LongType — auto mode must return ONE schema either way
            # (a consumer unioning scales, or the driver's schema hash,
            # would otherwise see int below the cutoff and bigint above)
            F.size(F.array_intersect("__gs_a", "__gs_b")).cast("long").alias("n_common"),
            F.size("__gs_a").cast("long").alias("sz_a"),
            F.size("__gs_b").cast("long").alias("sz_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_on(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY for the given candidate pairs.

    This is the contract :func:`ngram_jaccard_pairs`'s docstring
    promises at scale — LSH proposes, exact Jaccard disposes — as an
    API: ``pairs`` is any (id_a, id_b) DataFrame (minhash_candidates,
    simhash_candidates, …); the gram table is computed only for ids
    that appear in some pair (semi-join pruning), and the gram
    intersection join touches candidate pairs instead of every pair
    sharing a gram. Cost ∝ |candidates| × grams-per-doc — independent
    of corpus size once candidates are bounded, which is what makes
    exact verification affordable at 100 TB.

    Returns (id_a, id_b, n_common, jaccard) for pairs with jaccard ≥
    threshold — same schema/semantics as :func:`ngram_jaccard_pairs`,
    so the standalone and candidates-only paths interchange.
    """
    # NOT persisted: the candidate plan is inlined into all three
    # consumers (wanted×2, inter), but every copy reads the persisted
    # signature table and AQE's exchange reuse dedupes the identical
    # subtrees at runtime — an explicit persist+materialize here was
    # measured 2x SLOWER at sf0.1 (extra job barrier, lost pipelining).
    cand = pairs.select("id_a", "id_b").distinct()
    wanted = (
        cand.select(F.col("id_a").alias("__id"))
        .unionByName(cand.select(F.col("id_b").alias("__id")))
        .distinct()
    )
    grams = scoped_persist(
        df.select(
            F.col(id_col).alias("__id"),
            F.split(normalized(text_col), " ").alias("__toks"),
        )
        .join(wanted, "__id", "left_semi")
        .select(
            "__id",
            F.explode(token_ngrams("__toks", n, assume_tokens=True)).alias("gram"),
        )
    )
    sizes = grams.groupBy("__id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cand.join(
            grams.withColumnsRenamed({"__id": "id_a", "gram": "gram_a"}), "id_a"
        )
        .join(
            grams.withColumnsRenamed({"__id": "__gid_b", "gram": "gram_b"}),
            (F.col("id_b") == F.col("__gid_b")) & (F.col("gram_a") == F.col("gram_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"__id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"__id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted signature index.
# ---------------------------------------------------------------------------


def minhash_index_write(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    num_hashes: int = 64,
    shingle_k: int = 9,
    mode: str = "overwrite",
) -> None:
    """Materialize the MinHash signature table as the corpus dedup INDEX.

    This is the production shape at 100 TB: signatures are computed
    once per document ever (the expensive Arrow kernel), stored as a
    compact parquet table (id + num_hashes packed bytes ≈ 520 B/doc —
    ~0.5% of a 100 KB document), and every future ingest batch dedups
    against the index without touching historical text. Generations
    follow :func:`io.open_write` (an append to a missing index builds
    generation 1); the record pins ``num_hashes``, ``shingle_k`` and
    the id type, so other parameters raise instead of keeping copies.
    """
    base = df.select(
        F.col(id_col).alias("__id"), normalized(text_col).alias("__norm")
    )
    want = df.sparkSession.sparkContext.defaultParallelism
    base = _fan_out(base, want)
    sig = base.select(
        "__id",
        _minhash_text_arrow_udf(num_hashes, shingle_k)("__norm").alias("__sig"),
    )
    _commit_signatures(sig, path, mode, num_hashes, shingle_k)


def minhash_index_append(
    sig: DataFrame, path: str, num_hashes: int = 64, shingle_k: int = 9
) -> None:
    """Append ``kept_sig`` of :func:`minhash_dedup_incremental` to the
    index without re-shingling its text. A retried append adds the same
    signatures again: extra candidate checks, never a wrong result."""
    _commit_signatures(sig, path, "append", num_hashes, shingle_k)


def _commit_signatures(
    sig: DataFrame, path: str, mode: str, num_hashes: int, shingle_k: int
) -> None:
    g = io.open_write(
        sig.sparkSession, path, "MinHash index", mode,
        num_hashes=num_hashes, shingle_k=shingle_k,
        id_type=sig.schema["__id"].dataType.simpleString(),
    )
    sig.write.mode(g.mode).parquet(g.dir)
    g.commit()


def minhash_index_read(
    spark: SparkSession, path: str, num_hashes: int = 64, shingle_k: int = 9
) -> DataFrame | None:
    """The live signature table of the index at ``path``, or None when
    nothing is committed there. Runs no Spark job: the record is read on
    the driver and pins the id type the generation is opened with."""
    gdir, record = io.open_read(
        spark, path, "MinHash index", "dedup", missing_ok=True,
        num_hashes=num_hashes, shingle_k=shingle_k,
    )
    if record is None:
        return None
    return spark.read.schema(f"__id {record['id_type']}, __sig binary").parquet(gdir)


def minhash_dedup_incremental(
    new_docs: DataFrame,
    index_path: str,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_k: int = 9,
) -> tuple[DataFrame, DataFrame]:
    """Dedup an ingest batch against the persisted index AND itself;
    returns ``(kept, kept_sig)``: the kept new rows and their
    signatures, which :func:`minhash_index_append` adds to the index.

    Plan shape: new-batch signatures (one Arrow pass over the BATCH
    only) → band join against the index's banded view → est-Jaccard
    filter → drop matched new ids; then a second, batch-local LSH pass
    removes within-batch near-dups (keeping the min id). Cost scales
    with |batch| + |index ∩ candidate buckets| — history is never
    re-shingled, which is the whole point of keeping the index.
    ``num_hashes`` and ``shingle_k`` must equal the index's record.

    Cold start: an index with no commit record is empty (within-batch
    dedup only), and appending batch 0's ``kept_sig`` bootstraps it.
    A caller needing sink-before-index order (the streaming ingest)
    appends ``kept_sig`` after its sink write. It rides on the scoped
    signature persist; append it before
    :func:`operators.persist.release_cached`.
    """
    spark = new_docs.sparkSession
    _check_band_params(num_hashes, bands)
    index_sig = minhash_index_read(spark, index_path, num_hashes, shingle_k)

    def banded(sig: DataFrame) -> DataFrame:
        # the SHARED banding helper: index interop requires the
        # incremental path to band exactly like minhash_candidates
        return _banded(sig, num_hashes, bands, keep_sig=True)

    base = new_docs.select(
        F.col(id_col).alias("__id"), normalized(text_col).alias("__norm")
    )
    want = spark.sparkContext.defaultParallelism
    base = _fan_out(base, want)
    new_sig = scoped_persist(
        base.select(
            "__id",
            _minhash_text_arrow_udf(num_hashes, shingle_k)("__norm").alias("__sig"),
        )
    )
    new_sig.count()

    slot_eq = _binary_slot_eq(num_hashes)

    def est_filter(pairs: DataFrame) -> DataFrame:
        return pairs.withColumn(
            "est_jaccard",
            F.size(F.filter(slot_eq(F.col("sig_a"), F.col("sig_b")), lambda e: e))
            / F.lit(float(num_hashes)),
        ).filter(F.col("est_jaccard") >= threshold)

    # vs index: every (new, indexed) bucket collision, est-verified.
    # No index yet (fresh deployment, batch 0) → nothing to collide
    # with; the within-batch pass below still runs.
    if index_sig is not None:
        vs_index = (
            banded(new_sig)
            .alias("n")
            .join(
                banded(index_sig).alias("i"),
                (F.col("n.band") == F.col("i.band"))
                & (F.col("n.bh") == F.col("i.bh")),
            )
            .select(
                F.col("n.__id").alias("new_id"),
                F.col("n.__sig").alias("sig_a"),
                F.col("i.__sig").alias("sig_b"),
            )
            .distinct()
        )
        dup_vs_index = (
            est_filter(vs_index).select(F.col("new_id").alias("__id")).distinct()
        )
    else:
        dup_vs_index = new_sig.select("__id").limit(0)

    # within-batch: standard LSH pairs, drop the higher id of each pair
    nb = banded(new_sig)
    within = (
        nb.alias("a")
        .join(
            nb.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("b.__id").alias("drop_id"),
            F.col("a.__sig").alias("sig_a"),
            F.col("b.__sig").alias("sig_b"),
        )
        .distinct()
    )
    dup_within = est_filter(within).select(F.col("drop_id").alias("__id")).distinct()

    # Materialize the drop set BEFORE appending to the index: the
    # returned `kept` plan must not depend on index_path once new
    # signatures land there, or a caller materializing `kept` after the
    # append (with a refreshed file listing) would see new docs match
    # their own just-appended signatures (est_jaccard=1.0) and drop
    # everything. localCheckpoint severs that lineage eagerly; the
    # checkpointed set is just the dropped ids — tiny.
    drop = local_checkpoint_ser(dup_vs_index.unionByName(dup_within).distinct())
    kept = new_docs.join(
        drop.withColumnRenamed("__id", id_col), id_col, "left_anti"
    )
    kept_sig = new_sig.join(drop, "__id", "left_anti").select("__id", "__sig")
    return kept, kept_sig


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style): KMeans cells + within-cell cosine.
# ---------------------------------------------------------------------------


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_cells: int | str = 16,
    seed: int = 42,
    max_cell_rows: int = 10_000,
) -> DataFrame:
    """Semantic near-dup pairs, confined to KMeans cells (the SemDeDup
    recipe — Abbas et al. 2023: cluster the embedding space, compare
    only within a cluster).

    Where the sign-LSH sibling buckets by random projections, this
    buckets by LEARNED structure: one Spark-ML KMeans fit (a few corpus
    passes), then each cell's members score pairwise in dense numpy
    matmuls (`mapInPandas`) — the same vectorized kernel shape
    as :func:`embedding_cosine_pairs`, but the candidate universe is
    within-cell only, never O(n²) global. The one data shuffle is the
    groupBy on (cell, block) id.

    Output: (id_a, id_b, cos_sim, cell, cent_sim_a, cent_sim_b) with
    id_a < id_b; ``cent_sim_*`` is each endpoint's cosine to its cell
    centroid — the keep-policy input for :func:`semantic_dedup` (the
    paper keeps the LEAST central member of a duplicate group).

    Scale (100 TB): ``n_cells`` is the knob — the paper runs 50k cells
    on 100M+ docs so each cell is a few thousand vectors (one matmul
    task). KMeans cells are NOT balanced, though — real embedding
    corpora pile near-dups into a few dense cells, exactly the rows
    this operator exists to find — so a cell larger than
    ``max_cell_rows`` is split into hash blocks and scored block-pair
    by block-pair (the :func:`embedding_cosine_pairs` grid, scoped to
    one cell): same within-cell-complete result, but no task ever
    materializes more than two ``max_cell_rows`` blocks, where the
    single-row-per-cell packing would OOM on the one skewed cell.
    Block counts are per cell (from one persisted count pass), so a
    million near-empty cells don't pay the dense cell's grid.
    Cross-cell near-dups are missed by design; that recall cost
    is measured against the exact kernel in tests and in the registered
    query's rider. Integer ids required, as in the exact kernel (the
    numpy pack is int64).

    NULL / NaN / empty vectors are dropped (KMeans dies on them), same
    convention as every vector kernel here.
    """
    import math

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.types import IntegerType, LongType, ShortType

    from spotify_app_etl_spark.operators.similarity import _as_double, _valid_vec

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (ShortType, IntegerType, LongType)):
        raise TypeError(
            f"semantic_dedup_pairs requires an integer id column; "
            f"{id_col} is {id_type.simpleString()}"
        )
    if max_cell_rows <= 0:
        raise ValueError(f"max_cell_rows must be positive, got {max_cell_rows}")
    side = df.filter(_valid_vec(F.col(vec_col))).select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
    )
    if n_cells == "auto":
        # Constant expected cell occupancy from one count — the paper's
        # own sizing (50k cells for 100M+ docs ≈ a few thousand vectors
        # per cell). A FIXED n_cells makes within-cell pair work grow
        # quadratically with the corpus: the 128x probe measured 89x
        # time for 128x rows at n_cells=8 vs ~9x with cells scaled.
        # The 50k cap bounds KMeans driver state (centroid matrix) the
        # same way the paper's deployment does.
        n_cells = max(1, min(50_000, math.ceil(side.count() / 2048)))
    if n_cells == 1:
        # Spark ML KMeans rejects k=1; the degenerate grid (useful as
        # the exact-equivalence oracle in tests) needs no fit — every
        # vector is cell 0 and the centroid is the mean vector (one
        # O(dim)-row aggregate).
        mean = (
            side.select(F.posexplode("__v").alias("__d", "__x"))
            .groupBy("__d")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        centers = [[r["__m"] for r in sorted(mean, key=lambda r: r["__d"])]]
        assigned = side.select("__id", "__v", F.lit(0).alias("__cell"))
    else:
        feat = side.withColumn("__features", array_to_vector(F.col("__v")))
        # maxIter=8 as in the IVF kernel: rough Voronoi cells are enough —
        # the threshold does the precision work, cells only bound candidates
        model = KMeans(
            k=n_cells, seed=seed, maxIter=8, featuresCol="__features"
        ).fit(feat)
        centers = [[float(x) for x in c] for c in model.clusterCenters()]
        assigned = model.transform(feat).select(
            "__id", "__v", F.col("prediction").alias("__cell")
        )
    # Per-cell block counts: one tiny (n_cells-row) aggregate over the
    # persisted assignment. Driver state is O(n_cells) — the same budget
    # as `centers` above. 256 is the exact kernel's grid cap (past
    # ~2.5M rows per cell the matmul flops are the problem, not the
    # grid; such a cell means n_cells is set far too low).
    assigned = scoped_persist(assigned)
    cell_counts = {
        r["__cell"]: r["__n"]
        for r in assigned.groupBy("__cell").agg(F.count(F.lit(1)).alias("__n")).collect()
    }
    nblocks = {
        c: max(1, min(256, math.ceil(n / max_cell_rows))) for c, n in cell_counts.items()
    }
    tasks = sum(b * (b + 1) // 2 for b in nblocks.values())
    blocks_local = io.local_table(
        df.sparkSession,
        {"__cell": list(nblocks), "__nb": list(nblocks.values())},
        "__cell int not null, __nb int not null",
    )
    blocks_df = F.broadcast(blocks_local)
    packed = (
        assigned.join(blocks_df, "__cell")
        .withColumn("__sb", F.pmod(F.xxhash64("__id"), F.col("__nb")).cast("int"))
        .groupBy("__cell", "__sb")
        .agg(F.collect_list(F.struct("__id", "__v")).alias("__rows"))
    )
    # one matmul task per within-cell block pair (ba <= bb)
    block_pairs = (
        packed.select("__cell", F.col("__sb").alias("__ba"), F.col("__rows").alias("rows_a"))
        .join(
            packed.select(
                "__cell", F.col("__sb").alias("__bb"), F.col("__rows").alias("rows_b")
            ),
            "__cell",
        )
        .filter(F.col("__ba") <= F.col("__bb"))
        .repartition(max(1, tasks), "__cell", "__ba", "__bb")
    )

    def score(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(centers, dtype=np.float64)
        c_norm = np.linalg.norm(C, axis=1)

        def unpack(rows, cell):
            ids = np.fromiter((r["__id"] for r in rows), dtype=np.int64)
            M = np.vstack([np.asarray(r["__v"], dtype=np.float64) for r in rows])
            norms = np.linalg.norm(M, axis=1, keepdims=True)
            Mn = np.divide(M, norms, out=np.zeros_like(M), where=norms > 0)
            cn = c_norm[cell]
            cent = np.round(
                (Mn @ C[cell]) / cn if cn > 0 else np.zeros(len(rows)), 8
            )
            return ids, Mn, cent

        for pdf in batches:
            out = {k: [] for k in ("id_a", "id_b", "cos_sim", "cell", "cent_sim_a", "cent_sim_b")}
            for cell, same, rows_a, rows_b in zip(
                pdf["__cell"],
                pdf["__ba"].to_numpy() == pdf["__bb"].to_numpy(),
                pdf["rows_a"],
                pdf["rows_b"],
            ):
                if same and len(rows_a) < 2:
                    continue
                ids_a, ma, cent_a = unpack(rows_a, cell)
                ids_b, mb, cent_b = (
                    (ids_a, ma, cent_a) if same else unpack(rows_b, cell)
                )
                cos = np.round(ma @ mb.T, 8)
                ia, ib = np.nonzero(cos >= threshold)
                # mask BY ID, not position (same rationale as the exact
                # kernel: the self-join re-evaluates the collect_list,
                # whose element order is not guaranteed stable)
                m = ids_a[ia] < ids_b[ib]
                if same:
                    ia, ib = ia[m], ib[m]
                    lo, hi = ids_a[ia], ids_b[ib]
                    c_lo, c_hi = cent_a[ia], cent_b[ib]
                else:
                    # cross-block: both orientations are valid pairs;
                    # canonicalize to id_a < id_b and carry each
                    # endpoint's own centroid-cosine with it
                    lo = np.where(m, ids_a[ia], ids_b[ib])
                    hi = np.where(m, ids_b[ib], ids_a[ia])
                    c_lo = np.where(m, cent_a[ia], cent_b[ib])
                    c_hi = np.where(m, cent_b[ib], cent_a[ia])
                out["id_a"].append(lo)
                out["id_b"].append(hi)
                out["cos_sim"].append(cos[ia, ib])
                out["cell"].append(np.full(lo.size, cell, dtype=np.int32))
                out["cent_sim_a"].append(c_lo)
                out["cent_sim_b"].append(c_hi)
            if out["id_a"]:
                yield pd.DataFrame(
                    {k: np.concatenate(v) for k, v in out.items()}
                )

    return block_pairs.mapInPandas(
        score,
        "id_a long, id_b long, cos_sim double, cell int, "
        "cent_sim_a double, cent_sim_b double",
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_cells: int | str = 16,
    seed: int = 42,
    keep: str = "least_central",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Drop semantic near-dups: for every within-cell pair at cosine ≥
    threshold, the endpoint LATER in the keep order loses; survivors
    are rows that never lose a pair. Pass precomputed (persisted)
    ``pairs`` from :func:`semantic_dedup_pairs` to reuse its expensive
    KMeans + per-cell matmul across the kept set and any side outputs
    (the registered query does this for its verification riders);
    threshold/n_cells/seed are then ignored — the pairs ARE the
    candidate set.

    ``keep='least_central'`` (the SemDeDup paper's policy — retain the
    most atypical member, it carries the most marginal information)
    orders by (centroid-cosine asc, id asc); ``keep='min_id'`` orders
    by id alone (deterministic, embedding-independent). Either way the
    order's minimum inside each duplicate GROUP can never lose, so at
    least one member of every group always survives — the greedy
    pair-drop needs no connected-components pass (a chain a~b~c keeps
    its order-minimum even when a~c is not itself a pair).

    One extra shuffle beyond the pair kernel: the losers' distinct-id
    anti-join back onto the corpus.
    """
    if pairs is None:
        pairs = semantic_dedup_pairs(
            df, vec_col, id_col, threshold=threshold, n_cells=n_cells, seed=seed
        )
    return df.join(semantic_losers(pairs, id_col, keep), id_col, "left_anti")


def semantic_losers(pairs: DataFrame, id_col: str, keep: str = "least_central") -> DataFrame:
    """The distinct ids dropped by :func:`semantic_dedup`'s greedy
    keep policy, as a 1-column frame named ``id_col`` — the ONE
    definition of the policy (the operator and the registered query's
    conservation rider both consume it, so they cannot drift)."""
    if keep not in ("least_central", "min_id"):
        raise ValueError(f"keep must be 'least_central' or 'min_id', got {keep!r}")
    if keep == "least_central":
        a_wins = (F.col("cent_sim_a") < F.col("cent_sim_b")) | (
            (F.col("cent_sim_a") == F.col("cent_sim_b"))
            & (F.col("id_a") < F.col("id_b"))
        )
    else:
        a_wins = F.col("id_a") < F.col("id_b")  # always true; loser = id_b
    return pairs.select(
        F.when(a_wins, F.col("id_b")).otherwise(F.col("id_a")).alias(id_col)
    ).distinct()


# Public names for the fan-out helpers other modules consume
# (plans.indexing, plans.prep, functions.text, functions.multimodal) —
# cross-module imports should not touch _-prefixed symbols.
fan_out = _fan_out
cap_buckets = _cap_buckets
