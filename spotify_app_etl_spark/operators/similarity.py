"""Similarity search over embedding columns (array<float>).

Brute-force top-k cosine as the exact baseline, and a random-
hyperplane LSH-bucketed ANN as the scale path. All vector math is
column expressions over arrays (zip_with / aggregate folds → whole-
stage codegen); no Python in the hot path.

Determinism: dot products are left-fold sums in array order — the same
order DuckDB's list_reduce uses — so the exact variant is SQL-oracle-
able bit-for-bit (after a defensive round).

Scale (100 TB): brute force is O(|queries| × |corpus|); it is only the
baseline and the within-bucket kernel. The ANN variant buckets corpus
and queries by 16 sign-bits of deterministic random projections: the
corpus shuffles once on bucket id, each query joins only its bucket
(plus its 1-bit multiprobe neighbors for recall).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from spotify_app_etl_spark import io


def _as_double(arr: Column) -> Column:
    return arr.cast("array<double>")


def _valid_vec(v: Column) -> Column:
    """Non-NULL, NON-EMPTY vector with no NULL/NaN elements — the only
    input the hash/centroid kernels can meaningfully place. A vector
    containing one NULL element is NOT caught by ``isNotNull()`` (the
    array is non-null) yet folds every projection/distance to NULL or
    NaN: unguarded, such rows hash to bucket 0 of every LSH table
    (phantom neighbors for any bucket-0 probe) and crash or poison
    KMeans. An EMPTY array has no direction either — it projects to
    bucket 0 and np.vstack's dimension mismatch kills the numpy
    kernels."""
    return (
        v.isNotNull()
        & (F.size(v) > 0)
        & ~F.exists(_as_double(v), lambda x: x.isNull() | F.isnan(x))
    )


# NOTE on parallelism: unlike the minhash text kernel (operators/
# dedup.py, where per-row shingle hashing dominates and an explicit
# repartition before the kernel was a measured 3x win), the hyperplane
# projection is one tiny matmul per batch — repartitioning the vector
# table before it was measured 1.5-4x SLOWER end-to-end at sf0.1
# because every downstream consumer (bucketing + two scoring joins)
# then pays the shuffle. Leave the scan partitioning alone here.


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product (order matches DuckDB list_reduce)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(_as_double(a), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    The (small) query side is broadcast; the corpus streams through the
    join without shuffling. The only shuffle is the final per-query
    window, keyed on query_id (cardinality = |queries|) — at scale,
    replace with a partial top-k per partition before the window (AQE
    keeps it cheap at our sizes). Cosine is rounded to 8 digits to
    absorb last-ulp libm differences; ties break on corpus id.
    """
    # Pre-cast to double and precompute each side's L2 norm ONCE —
    # inside the |q|x|c| join, cosine() would otherwise re-fold both
    # norms per pair (3x the work in the quadratic hot loop).
    q = queries.select(
        F.col(query_id),
        _as_double(F.col(vec)).alias("__qv"),
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    c = corpus.select(
        F.col(corpus_id),
        _as_double(F.col(vec)).alias("__cv"),
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    scored = (
        c.join(F.broadcast(q))
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")), 8
            ),
        )
        .drop("__qv", "__cv", "__qn", "__cn")
    )
    w = W.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (random hyperplane / sign LSH).
# ---------------------------------------------------------------------------


def _cell_rank(centers: list[list[float]], v: Column, k: int | None = None) -> Column:
    """Array of IVF cell ids ranked by squared centroid distance to
    ``v`` (ascending; ties by cell id via the struct sort order),
    truncated to the first ``k`` when given. Callers should pass the
    ``k`` they actually consume (1 for append assignment, ``n_probe``
    for search): on the Arrow path the truncation happens kernel-side,
    so only O(k) ids per row cross the Arrow boundary instead of the
    full n_cells ranking — at 4096 cells that is the difference
    between ~16 KB and a few bytes per appended vector.

    THE one ranking definition — in-memory probing
    (:func:`cosine_topk_ivf`), persisted-index append assignment
    (:func:`ivf_index_write`), and persisted-index search
    (:func:`ivf_index_search`) must rank identically, or vectors
    appended to "their nearest cell" land in cells the search never
    probes. ``centers[i]`` is cell ``i``'s centroid (cell ids are
    contiguous 0..n-1 by construction on every path).

    Below ``_LITERAL_BUDGET`` centroid literals this is a pure column
    expression (whole-stage codegen, no Python). Above it — production
    shapes like 4096 cells × 768 dims would put millions of literal
    nodes through Catalyst analysis — it switches to an Arrow-batched
    kernel closing over a numpy centroid matrix. The size regime is a
    property of the index's (n_cells, dim), so append/search/in-memory
    callers of one index always take the SAME path and rank
    identically; the two paths can differ in last-ULP distance
    rounding, which only matters across paths, never within one.
    """
    kk = len(centers) if k is None else min(k, len(centers))
    if len(centers) * (len(centers[0]) if centers else 0) > _LITERAL_BUDGET:
        return _cell_rank_arrow(centers, kk)(v)
    structs = [
        F.struct(
            F.aggregate(
                F.zip_with(
                    v,
                    F.array(*[F.lit(float(x)) for x in center]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            F.lit(i).alias("cell"),
        )
        for i, center in enumerate(centers)
    ]
    ranked = F.transform(F.array_sort(F.array(*structs)), lambda s: s["cell"])
    if kk < len(centers):
        ranked = F.slice(ranked, 1, kk)
    # NULL vector -> NULL ranking (not the cell-id-order array that all-
    # NULL distances would sort to) — matches the Arrow twin; callers
    # filter NULLs, this is the backstop that keeps both paths honest.
    return F.when(v.isNotNull(), ranked)


#: Max centroid literals (n_cells × dim) :func:`_cell_rank` inlines
#: into its per-row expression. Above this, analysis/codegen time
#: dominates and its Arrow kernel takes over.
_LITERAL_BUDGET = 50_000


def _cell_rank_arrow(centers: list[list[float]], k: int | None = None):
    """Arrow-batched twin of the :func:`_cell_rank` expression for
    large centroid tables: ranked cell-id array per vector (first
    ``k`` ids when given — the full stable sort still runs kernel-side
    so tie order stays identical to the expression path; only the
    TRANSFER is truncated), squared L2 via the ``|q|² - 2q·C + |c|²``
    expansion (O(batch × n_cells) memory, one BLAS matmul per batch),
    ties broken by cell id (stable argsort over contiguous ids)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centers, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)
    kk = len(centers) if k is None else min(k, len(centers))

    @pandas_udf("array<int>")
    def rank(col: pd.Series) -> pd.Series:
        out: list = [None] * len(col)
        vals = [None if q is None else np.asarray(q, dtype=np.float64) for q in col]
        idx = [i for i, q in enumerate(vals) if q is not None]
        if idx:
            Q = np.stack([vals[i] for i in idx])
            d = (Q * Q).sum(axis=1)[:, None] - 2.0 * (Q @ C.T) + c_sq[None, :]
            order = np.argsort(d, axis=1, kind="stable")[:, :kk].astype(np.int32)
            for j, i in enumerate(idx):
                out[i] = order[j]
        return pd.Series(out, dtype=object)

    return rank


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans-partition the corpus into
    ``n_cells`` cells, then each query scores only the ``n_probe``
    nearest cells' members.

    Index build = one KMeans fit (Spark ML, a few corpus passes) + one
    narrow cell-assignment projection; the only index shuffle is the
    candidates join on cell id. Centroids are tiny (n_cells x dim) and
    travel as literal expressions — no broadcast plumbing. With
    ``n_probe == n_cells`` the search is exhaustive and must equal
    brute force exactly (asserted in tests).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # NULL / NULL-element / NaN vectors are dropped on BOTH sides
    # (same convention as every other kernel here): a single such
    # corpus row otherwise crashes KMeans.fit with an executor NPE.
    c_feat = corpus.filter(_valid_vec(F.col(vec))).select(
        F.col(corpus_id),
        _as_double(F.col(vec)).alias("__cv"),
    ).withColumn("__features", array_to_vector(F.col("__cv")))
    queries = queries.filter(_valid_vec(F.col(vec)))
    # maxIter=8: IVF needs rough Voronoi cells, not converged clusters —
    # probe multiplicity covers boundary error; halves index-build time
    model = KMeans(k=n_cells, seed=seed, maxIter=8, featuresCol="__features").fit(c_feat)
    centers = [[float(x) for x in c] for c in model.clusterCenters()]

    # __cv rides through the cell assignment into the candidates join:
    # scoring then needs NO second corpus scan/shuffle (cn=None).
    assigned = model.transform(c_feat).select(
        corpus_id, "__cv", F.col("prediction").alias("__cell")
    )

    # rank cells per query by centroid distance, probe the closest
    # n_probe — _cell_rank is the ONE ranking definition shared with
    # the persisted index's build and search
    q = queries.select(
        F.col(query_id), _as_double(F.col(vec)).alias("__qv")
    ).withColumn(
        "__cells", _cell_rank(centers, F.col("__qv"), n_probe)
    )
    probes = q.select(query_id, F.explode("__cells").alias("__cell"))
    candidates = assigned.join(F.broadcast(probes), "__cell").select(
        query_id, corpus_id, "__cv"
    )

    qn = q.select(query_id, "__qv").withColumn("__qn", l2_norm(F.col("__qv")))
    return _score_topk(candidates, qn, None, k, query_id, corpus_id)


def _score_topk(
    candidates: DataFrame,
    qn: DataFrame,
    cn: DataFrame | None,
    k: int,
    query_id: str,
    corpus_id: str,
    dedup: bool = False,
) -> DataFrame:
    """Shared scoring tail for every candidate-based kernel: join the
    (small, broadcast) query vectors and the corpus vectors onto the
    candidate pairs, compute rounded cosine, keep each query's top-k
    (ties broken on corpus id).

    ``qn`` must carry (query_id, __qv, __qn), ``cn`` (corpus_id, __cv,
    __cn) — or pass ``cn=None`` when ``candidates`` already carries
    ``__cv`` (the vectors rode the candidates join): that skips the
    corpus-side scoring join entirely, i.e. one fewer full corpus scan
    AND its shuffle, at the price of recomputing the norm per candidate
    row (a dim-length arithmetic fold — cheap next to a corpus scan).
    One definition so tie-breaking, rounding, and dedup semantics
    cannot drift between the five kernels that previously each carried
    a copy of this block. ``dedup`` drops repeated (query, corpus) rows
    BEFORE ranking — required for the persisted indexes, where a
    crashed-then-retried append leaves duplicate rows (identical
    scores, so dropping any one is exact).
    """
    if cn is None:
        base = candidates.withColumn("__cn", l2_norm(F.col("__cv")))
    else:
        base = candidates.join(cn, corpus_id)
    scored = (
        base.join(F.broadcast(qn), query_id)
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")), 8
            ),
        )
        .drop("__qv", "__cv", "__qn", "__cn")
    )
    if dedup:
        scored = scored.dropDuplicates([query_id, corpus_id])
    w = W.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _hyperplane_buckets_arrow(tables: int, planes: int, seed: int = 7):
    """Arrow kernel: all ``tables`` bucket ids in one numpy matmul per
    batch — sign bits of V @ W.T with a seeded ±1 plane matrix."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    pow2 = 1 << np.arange(planes, dtype=np.int64)

    def plane_matrix(dim: int):
        # deterministic per (seed, dim): every executor — and both the
        # query and corpus side — derives the identical ±1 matrix
        local = np.random.RandomState(seed + dim)
        return np.where(local.standard_normal((tables * planes, dim)) > 0, 1.0, -1.0)

    @pandas_udf("array<int>")
    def buckets(vecs: pd.Series) -> pd.Series:
        out = []
        w = None
        for v in vecs:
            if v is None:
                # NULL embedding → NULL bucket array (out of the
                # bucket equi-join); the np.asarray(None) TypeError
                # would otherwise kill the whole task from deep inside
                # a Python worker.
                out.append(None)
                continue
            x = np.asarray(v, dtype=np.float64)
            if np.isnan(x).any():
                # element-NULL (→ nan here) or genuine NaN: no
                # direction to hash — NULL buckets, the rows _valid_vec
                # rejects, never bucket 0
                out.append(None)
                continue
            if w is None or w.shape[1] != x.size:
                w = plane_matrix(x.size)
            proj = (w @ x).reshape(tables, planes) > 0
            out.append((proj * pow2[None, :]).sum(axis=1).astype(np.int32).tolist())
        return pd.Series(out)

    return buckets


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    planes: int = 8,
    tables: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compare only within matching LSH buckets.

    ``tables`` independent hash tables multiply recall (candidate set =
    union over tables) at the cost of ``tables``× corpus index rows —
    the standard LSH tradeoff; the corpus-side explode is the index
    build, one shuffle on (table, bucket). Each query additionally
    probes the ``planes`` buckets at Hamming distance 1 per table
    (:func:`_probe_structs`, the same probe set as
    :func:`signlsh_index_search`).

    De-dup before scoring: a pair found in several tables is scored
    once (distinct on (query, corpus)), keeping cost ∝ unique
    candidates.
    """
    bks = _hyperplane_buckets_arrow(tables, planes)
    c0 = corpus.select(
        F.col(corpus_id), _as_double(F.col(vec)).alias("__cv")
    ).withColumn("__bks", bks(F.col("__cv")))
    q0 = queries.select(
        F.col(query_id), _as_double(F.col(vec)).alias("__qv")
    ).withColumn("__bks", bks(F.col("__qv")))
    c = c0.select(
        corpus_id,
        "__cv",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        F.element_at(F.col("__bks"), t + 1).cast("int").alias("bkt"),
                    )
                    for t in range(tables)
                ]
            )
        ).alias("tb"),
    ).select(corpus_id, "__cv", "tb.tbl", "tb.bkt")
    q = q0.select(
        query_id,
        "__qv",
        F.explode(F.array_distinct(F.array(*_probe_structs(tables, planes)))).alias("tb"),
    ).select(query_id, "__qv", "tb.tbl", "tb.bkt")
    # __cv rides the bucket join (c carries it), so the pair dedup
    # keeps it and scoring needs NO second corpus scan/shuffle
    # (cn=None) — the same vectors-ride-the-join shape the persisted
    # index uses. dropDuplicates on the id pair is exact: every copy
    # of a (query, corpus) pair carries the identical vector.
    candidates = (
        c.join(F.broadcast(q.drop("__qv")), ["tbl", "bkt"])
        .select(query_id, corpus_id, "__cv")
        .dropDuplicates([query_id, corpus_id])
    )
    qn = q0.select(query_id, "__qv").withColumn("__qn", l2_norm(F.col("__qv")))
    return _score_topk(candidates, qn, None, k, query_id, corpus_id)


# ---------------------------------------------------------------------------
# Range search (all neighbors above a similarity floor).
# ---------------------------------------------------------------------------


def cosine_range_search(
    queries: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.8,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
) -> DataFrame:
    """All (query, corpus) pairs with cosine ≥ threshold — range search,
    the retrieval mode where the neighbor COUNT is the unknown (top-k
    fixes count, range search fixes quality).

    Pairs whose ids are EQUAL are dropped — the self-join shape (corpus
    searched against itself, where (x, x) at cosine 1.0 is noise).
    Queries and corpus from distinct tables whose id namespaces overlap
    must be given disjoint ids first: there, query 7 and document 7 are
    unrelated rows. The top-k kernels never id-filter.

    Same exact kernel as :func:`cosine_topk_bruteforce` (broadcast
    query side, pre-hoisted norms, left-fold dot product → bit-exact
    vs the DuckDB oracle) minus the per-query window: the output is
    filter-defined, so no rank shuffle at all — the only exchange in
    the plan is the broadcast. At scale the same threshold filter
    drops into the LSH-bucketed candidate stream
    (dedup.embedding_cosine_pairs_lsh) instead of the cross join.
    """
    q = queries.select(
        F.col(query_id),
        _as_double(F.col(vec)).alias("__qv"),
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    c = corpus.select(
        F.col(corpus_id),
        _as_double(F.col(vec)).alias("__cv"),
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    out = (
        c.join(F.broadcast(q))
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")), 8
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    # null-safe inequality: a plain != evaluates to NULL when either
    # id is NULL, silently dropping genuine above-threshold pairs —
    # only true id-equal pairs may be excluded
    out = out.filter(~F.col(query_id).eqNullSafe(F.col(corpus_id)))
    return out.select(query_id, corpus_id, "cos_sim")


# ---------------------------------------------------------------------------
# Persisted ANN index: build the sign-LSH tables once, probe many times.
# ---------------------------------------------------------------------------


def _probe_structs(tables: int, planes: int) -> list[Column]:
    """Probe (tbl, bkt) structs for a query row holding its bucket array
    in ``__bks`` — the exact bucket per table plus the ``planes``
    Hamming-1 neighbors per table (1-bit multiprobe)."""
    out: list[Column] = []
    for tb in range(tables):
        b0 = F.element_at(F.col("__bks"), tb + 1).cast("int")
        out.append(F.struct(F.lit(tb).alias("tbl"), b0.alias("bkt")))
        for p in range(planes):
            out.append(
                F.struct(
                    F.lit(tb).alias("tbl"),
                    b0.bitwiseXOR(F.lit(1 << p)).alias("bkt"),
                )
            )
    return out


def signlsh_index_write(
    corpus: DataFrame,
    path: str,
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    planes: int = 8,
    tables: int = 4,
    seed: int = 7,
    mode: str = "overwrite",
) -> None:
    """Materialize the sign-LSH ANN index for a corpus.

    The production retrieval shape at 100 TB: hyperplane signatures are
    computed ONCE per corpus vector (the Arrow matmul kernel), and two
    parquet tables persist as the index — ``buckets`` (corpus_id, tbl,
    bkt; the inverted file) and ``vectors`` (corpus_id, normalized
    vector + norm; the scoring payload) — plus a commit record
    (:func:`io.write_commit`) pinning (planes, tables, seed, dim) and
    the live GENERATION. Every future query batch probes the stored
    buckets without touching raw corpus embeddings again;
    ``mode='append'`` is the ingest path for new corpus batches (the
    hash family is deterministic per (seed, dim), so appended batches
    land in compatible buckets), and appending to a missing index
    builds generation 1. Appending with different params than the
    committed record raises — mixed-family buckets silently lose
    recall. Generations and commits follow the protocol :mod:`io` owns
    (:func:`io.open_write`). An append writes vectors first and buckets last: a doc is only
    reachable through its bucket rows, so a crash between the writes
    leaves orphan vector rows (storage waste) rather than bucket rows
    pointing at nothing; a retry re-appends both and the search-side
    candidate dedup absorbs the duplicates.

    NULL embeddings (and vectors holding NULL/NaN elements) are
    dropped at build: they have no direction to hash or score, and the
    Arrow kernel's null bucket array would otherwise silently produce
    an unreachable vectors row anyway.
    """
    # dim is part of the hash family: the plane matrix is derived per
    # (seed, dim), so a batch of different-dim vectors (the upstream
    # embedding model changed) would land in an INCOMPATIBLE family
    # sharing the same int bucket space — numerically colliding with
    # real buckets and silently degrading recall.
    g = io.open_write(
        corpus.sparkSession, path, "sign-LSH index", mode,
        dim=_first_vec_dim(corpus, vec), planes=planes, tables=tables, seed=seed,
    )
    bks = _hyperplane_buckets_arrow(tables, planes, seed)
    from pyspark.storagelevel import StorageLevel

    c0 = (
        corpus.filter(_valid_vec(F.col(vec)))
        .select(
            F.col(corpus_id).alias("corpus_id"), _as_double(F.col(vec)).alias("v")
        )
        .withColumn("__bks", bks(F.col("v")))
        .withColumn("norm", l2_norm(F.col("v")))
        # Persist across the two table writes: without it each write
        # re-runs the Arrow hyperplane kernel over the whole batch —
        # the dominant build cost, paid twice (measured 2x build wall
        # at sf0.1). MEMORY_AND_DISK so an executor that can't hold its
        # slice spills instead of recomputing; released below.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    buckets = c0.select(
        "corpus_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        F.element_at(F.col("__bks"), t + 1).cast("int").alias("bkt"),
                    )
                    for t in range(tables)
                ]
            )
        ).alias("tb"),
    ).select("corpus_id", "tb.tbl", "tb.bkt")
    try:
        c0.select("corpus_id", "v", "norm").write.mode(g.mode).parquet(
            f"{g.dir}/vectors"
        )
        buckets.write.mode(g.mode).parquet(f"{g.dir}/buckets")
    finally:
        c0.unpersist()
    g.commit()


def _first_vec_dim(df: DataFrame, vec: str) -> int:
    """Dimension of the first valid vector (0 if the frame has none) —
    one tiny action; index builds/appends already pay whole-corpus
    passes, so this is noise, and it is what lets the commit record pin
    the hash family's dim."""
    row = (
        df.filter(_valid_vec(F.col(vec)))
        .select(F.size(vec).alias("d"))
        .first()
    )
    return int(row["d"]) if row is not None else 0


def signlsh_index_search(
    spark,
    queries: DataFrame,
    path: str,
    k: int = 5,
    query_id: str = "query_id",
    vec: str = "embedding",
) -> DataFrame:
    """Top-k ANN against a persisted sign-LSH index.

    Hash params and the live generation come from the index's latest
    commit record, so a query batch can never probe with a mismatched
    family or read a half-committed rebuild. Plan shape matches the
    in-memory :func:`cosine_topk_lsh`: broadcast the (small) probe set against
    the bucket table, dedup candidates, score against the stored
    normalized vectors, per-query top-k window. The corpus-side cost is
    ONE scan of the bucket/vector parquet — no re-hashing. Candidate
    dedup absorbs the duplicate rows a crashed-then-retried append
    leaves (identical scores, exact to drop).
    """
    # query dim must match the stored hash family (plane matrix is
    # per-dim); mismatched queries would probe numerically-colliding
    # but semantically-unrelated buckets — silent garbage, not an error
    gdir, meta = io.open_read(
        spark, path, "sign-LSH index", "search", dim=_first_vec_dim(queries, vec)
    )
    planes, tables, seed = meta["planes"], meta["tables"], meta["seed"]
    buckets = spark.read.parquet(f"{gdir}/buckets")
    vectors = spark.read.parquet(f"{gdir}/vectors")

    bks = _hyperplane_buckets_arrow(tables, planes, seed)
    q0 = (
        queries.select(F.col(query_id), _as_double(F.col(vec)).alias("__qv"))
        .withColumn("__bks", bks(F.col("__qv")))
        .withColumn("__qn", l2_norm(F.col("__qv")))
    )
    probes = q0.select(
        query_id,
        F.explode(
            F.array_distinct(F.array(*_probe_structs(tables, planes)))
        ).alias("tb"),
    ).select(query_id, "tb.tbl", "tb.bkt")
    candidates = (
        buckets.join(F.broadcast(probes), ["tbl", "bkt"])
        .select(query_id, "corpus_id")
        .distinct()
    )
    qn = q0.select(query_id, "__qv", "__qn")
    cn = vectors.select(
        "corpus_id", F.col("v").alias("__cv"), F.col("norm").alias("__cn")
    )
    return _score_topk(candidates, qn, cn, k, query_id, "corpus_id", dedup=True)


def ivf_index_write(
    corpus: DataFrame,
    path: str,
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    mode: str = "overwrite",
) -> None:
    """Materialize the IVF ANN index: centroids + cell assignments.

    IVF is the index family where persistence pays most — the KMeans
    fit is several corpus passes, so rebuilding it per query batch (as
    the in-memory :func:`cosine_topk_ivf` must) is exactly what a
    production pipeline avoids. Stored tables: ``centroids`` (cell id +
    center vector), ``assigned`` (corpus_id, cell, normalized vector +
    norm), under a GENERATION directory named by a commit record (the
    protocol :func:`io.open_write` owns): a crash mid-rebuild
    can never leave new centroids paired with old assignments (cells
    ranked by one clustering, members fetched from another — silently
    wrong neighbors); the latest record still names the old,
    consistent generation. ``mode='append'`` assigns a NEW corpus batch
    to the CURRENT generation's centroids (no refit — cells drift only
    if the data distribution does; periodic full rebuild is the remedy,
    same as every IVF system) and refuses a cell-count mismatch; a
    retried append's duplicate rows are absorbed by search-side dedup.
    NULL embeddings are dropped at build (nothing to assign or score).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    c_feat = corpus.filter(_valid_vec(F.col(vec))).select(
        F.col(corpus_id).alias("corpus_id"), _as_double(F.col(vec)).alias("v")
    ).withColumn("__features", array_to_vector(F.col("v")))
    # appending different-dim vectors against the stored centroids
    # either crashes the distance kernel or assigns cells from all-NULL
    # distances — fail loudly instead
    g = io.open_write(
        spark, path, "IVF index", mode, dim=_first_vec_dim(corpus, vec),
        create=False, n_cells=n_cells,
    )
    if g.mode == "append":
        stored = spark.read.parquet(f"{g.dir}/centroids").collect()
        centers = [list(r["center"]) for r in sorted(stored, key=lambda r: r["cell"])]

        # _cell_rank: the SAME ranking the search side uses — appended
        # vectors must land in the cell the search will probe for them
        assigned = c_feat.select(
            "corpus_id",
            "v",
            F.element_at(_cell_rank(centers, F.col("v"), 1), 1)
            .cast("int")
            .alias("cell"),
        )
    else:
        model = KMeans(
            k=n_cells, seed=seed, maxIter=8, featuresCol="__features"
        ).fit(c_feat)
        centers = [[float(x) for x in c] for c in model.clusterCenters()]
        cent_df = io.local_table(
            spark,
            {"cell": list(range(len(centers))), "center": centers},
            "cell int not null, center array<double> not null",
        )
        cent_df.coalesce(1).write.mode("overwrite").parquet(f"{g.dir}/centroids")
        assigned = model.transform(c_feat).select(
            "corpus_id", "v", F.col("prediction").cast("int").alias("cell")
        )

    assigned.withColumn("norm", l2_norm(F.col("v"))).select(
        "corpus_id", "cell", "v", "norm"
    ).write.mode(g.mode).parquet(f"{g.dir}/assigned")
    # the commit point: the record names the new generation only after
    # BOTH tables exist and are internally consistent
    g.commit(seed=seed)


def ivf_index_search(
    spark,
    queries: DataFrame,
    path: str,
    k: int = 5,
    n_probe: int = 4,
    query_id: str = "query_id",
    vec: str = "embedding",
) -> DataFrame:
    """Top-k ANN against a persisted IVF index.

    Centroids load once (n_cells × dim — literal-sized) and rank cells
    per query as a pure projection; only the ``n_probe`` nearest
    cells' stored members are scored. With ``n_probe == n_cells`` the
    search is exhaustive over the indexed corpus. The generation read
    comes from the latest commit record, so a mid-rebuild crash can
    never serve mixed centroid/assignment state.
    """
    # mismatched query dim vs the stored centroid space is silent
    # garbage (or a kernel crash), never a compatible probe
    gdir, _ = io.open_read(
        spark, path, "IVF index", "search", dim=_first_vec_dim(queries, vec)
    )
    stored = spark.read.parquet(f"{gdir}/centroids").collect()
    centers = {r["cell"]: list(r["center"]) for r in stored}
    assigned = spark.read.parquet(f"{gdir}/assigned")

    q0 = queries.select(
        F.col(query_id), _as_double(F.col(vec)).alias("__qv")
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    # cell ids are contiguous 0..n-1 (written as range(n) at build), so
    # the sorted-key list indexes line up with _cell_rank's enumerate —
    # the SAME ranking the build side used to assign appended vectors
    center_list = [centers[i] for i in sorted(centers)]
    q = q0.withColumn(
        "__cells", _cell_rank(center_list, F.col("__qv"), n_probe)
    )
    probes = q.select(query_id, F.explode("__cells").alias("cell"))
    # Not _score_topk: the assigned table already carries (v, norm), so
    # the vectors ride the ONE probes join — a candidates/cn split
    # would scan the assigned parquet twice. Same rounding/tie-break/
    # dedup semantics as the helper.
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .join(F.broadcast(q0.select(query_id, "__qv", "__qn")), query_id)
        .withColumn(
            "cos_sim",
            F.round(dot(F.col("__qv"), F.col("v")) / (F.col("__qn") * F.col("norm")), 8),
        )
        .drop("__qv", "__qn", "v", "norm", "cell")
        # retry-duplicate absorption, as in _score_topk(dedup=True)
        .dropDuplicates([query_id, "corpus_id"])
    )
    w = W.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.col("corpus_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN: m-byte codes + ADC scoring + exact re-rank.
# ---------------------------------------------------------------------------


def _pq_split(dim: int, m: int) -> int:
    """Subspace width; loud on a non-dividing ``m`` — silently padding
    or truncating would quantize a different vector than the caller
    stored and every downstream score would be quietly wrong."""
    if m <= 0 or dim % m != 0:
        raise ValueError(
            f"PQ subspace count m={m} must divide the embedding dim {dim}"
        )
    return dim // m


def _pq_normalize(mat):
    """Row-normalize to unit L2; zero rows stay zero. Only the training
    path can legitimately see a zero row (a zero training point is a
    harmless origin sample) — the encode/LUT kernels EXCLUDE zero
    vectors up front (NULL codes, same convention as NULL/NaN), because
    a zero vector has no direction: encoding it would hand it real
    argmin codes and its exact re-rank cosine is 0/0 = NaN, which
    Spark's ordering ranks FIRST, not last."""
    import numpy as np

    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    return np.divide(mat, norms, out=np.zeros_like(mat), where=norms > 0)


def _check_books_dim(books, dim: int):
    """Validate caller-supplied codebooks against the data they will
    quantize: a (m, ksub, dsub) array with m*dsub == the vector dim.
    Without this, mismatched books make the encode kernel emit NULL
    for EVERY vector and the shortlist degenerates to arbitrary ids —
    silently wrong top-k, the worst failure mode."""
    import numpy as np

    books = np.asarray(books, dtype=np.float64)
    if books.ndim != 3:
        raise ValueError(
            f"books must be a (m, ksub, dsub) array; got shape {books.shape}"
        )
    if dim and books.shape[0] * books.shape[2] != dim:
        raise ValueError(
            f"books quantize {books.shape[0] * books.shape[2]}-dim vectors "
            f"(m={books.shape[0]} × dsub={books.shape[2]}); the data is "
            f"{dim}-dim — every code would be NULL and the result arbitrary"
        )
    return books


def pq_train(
    corpus: DataFrame,
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    train_sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
):
    """Train PQ codebooks: ``m`` independent KMeans(ksub) fits, one per
    dim/m-wide subspace, over a bounded, DETERMINISTIC training sample
    (the ``train_sample`` smallest ids — a distributed TakeOrdered, not
    a full sort). Returns a (m, ksub, dsub) float64 numpy array.

    This is the piece that makes 100 TB embedding search feasible at
    all: a 768-dim float corpus is ~3 KB/vector, its PQ codes are
    ``m`` BYTES/vector (m=8 → 384× smaller). Training on a bounded
    sample is the standard practice (FAISS trains on ~100k vectors
    regardless of corpus size); the driver holds sample × dim doubles,
    a constant w.r.t. corpus size. Codebooks themselves are
    m × ksub × dsub = one dim × ksub matrix — literal-sized, they ride
    into the Arrow kernels as closures, no broadcast plumbing.

    Vectors are L2-normalized before quantization so that minimizing
    subspace L2 error approximates maximizing cosine — the re-rank
    stage (see :func:`cosine_topk_pq`) then scores true cosine on the
    original vectors, so quantization error only affects WHICH
    candidates are shortlisted, never the returned scores.
    """
    import numpy as np

    sample = (
        corpus.filter(_valid_vec(F.col(vec)))
        .select(F.col(corpus_id).alias("__id"), _as_double(F.col(vec)).alias("__v"))
        .orderBy("__id")
        .limit(train_sample)
        .select("__v")
        .collect()
    )
    if not sample:
        raise ValueError("pq_train: corpus has no valid vectors to train on")
    X = _pq_normalize(np.asarray([r["__v"] for r in sample], dtype=np.float64))
    dsub = _pq_split(X.shape[1], m)
    if ksub > X.shape[0]:
        raise ValueError(
            f"pq_train: ksub={ksub} exceeds the {X.shape[0]}-row training sample"
        )
    rng = np.random.RandomState(seed)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        # seeded kmeans++-lite init: distinct sample rows
        centers = S[rng.choice(S.shape[0], size=ksub, replace=False)].copy()
        for _ in range(iters):
            d = ((S[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for r in range(ksub):
                pts = S[assign == r]
                if len(pts):
                    centers[r] = pts.mean(axis=0)
                else:
                    # empty cell: re-seed on a random sample row so the
                    # codebook keeps ksub usable entries
                    centers[r] = S[rng.randint(S.shape[0])]
        books[j] = centers
    return books


def _pq_encode_arrow(books):
    """Arrow kernel: vector → array<int> of ``m`` codebook entry ids
    (nearest sub-centroid per subspace on the NORMALIZED vector).
    NULL / NaN-element vectors → NULL codes, same convention as the
    LSH/IVF kernels — never a phantom code row."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    B = np.asarray(books, dtype=np.float64)  # (m, ksub, dsub)
    m, ksub, dsub = B.shape
    b_sq = (B * B).sum(axis=2)  # (m, ksub)

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        out: list = [None] * len(vecs)
        vals = [
            None if v is None else np.asarray(v, dtype=np.float64) for v in vecs
        ]
        idx = [
            i
            for i, v in enumerate(vals)
            if v is not None
            and v.size == m * dsub
            and not np.isnan(v).any()
            and (v != 0).any()  # zero vectors: no direction → NULL
        ]
        if idx:
            V = _pq_normalize(np.stack([vals[i] for i in idx]))
            S = V.reshape(len(idx), m, dsub)  # (n, m, dsub)
            # ||s - c||² = |s|² - 2 s·c + |c|²; |s|² is rank-constant
            dots = np.einsum("nmd,mkd->nmk", S, B)
            codes = (b_sq[None, :, :] - 2.0 * dots).argmin(axis=2).astype(np.int32)
            for j, i in enumerate(idx):
                out[i] = codes[j]
        return pd.Series(out, dtype=object)

    return encode


def _pq_lut_arrow(books):
    """Arrow kernel for the (small, broadcast) query side: vector →
    flattened m*ksub array<double> LUT where entry ``j*ksub + r`` is
    dot(q̂_subspace_j, codebook[j][r]) — the per-query half of ADC.
    Rounded to 12 digits so the JVM-side fold is deterministic across
    BLAS builds."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    B = np.asarray(books, dtype=np.float64)
    m, ksub, dsub = B.shape

    @pandas_udf("array<double>")
    def lut(vecs: pd.Series) -> pd.Series:
        out: list = [None] * len(vecs)
        vals = [
            None if v is None else np.asarray(v, dtype=np.float64) for v in vecs
        ]
        idx = [
            i
            for i, v in enumerate(vals)
            if v is not None
            and v.size == m * dsub
            and not np.isnan(v).any()
            and (v != 0).any()  # zero vectors: no direction → NULL
        ]
        if idx:
            Q = _pq_normalize(np.stack([vals[i] for i in idx])).reshape(
                len(idx), m, dsub
            )
            tabs = np.round(np.einsum("nmd,mkd->nmk", Q, B), 12).reshape(
                len(idx), m * ksub
            )
            for j, i in enumerate(idx):
                out[i] = tabs[j]
        return pd.Series(out, dtype=object)

    return lut


def _adc_score(codes: Column, lut: Column, ksub: int) -> Column:
    """JVM-side asymmetric-distance score: Σ_j lut[j*ksub + codes[j]]
    ≈ cos(q, c) for unit vectors. Pure column fold over an m-entry int
    array and table lookups — the corpus side of ADC never leaves
    whole-stage codegen, which is the point: the big side's per-row
    cost is m adds, independent of the embedding dim."""
    return F.aggregate(
        F.zip_with(
            codes,
            F.sequence(F.lit(0), F.size(codes) - 1),
            lambda c, j: F.element_at(lut, j * ksub + c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk_pq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    refine: int = 64,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    seed: int = 42,
    books=None,
) -> DataFrame:
    """PQ-accelerated top-k cosine: ADC shortlist → exact re-rank.

    Stage 1 (shortlist): every corpus vector is collapsed to ``m``
    codebook ids (Arrow kernel, one pass); each query carries a m×ksub
    lookup table. The |corpus| × |queries| scoring pass then runs
    ENTIRELY JVM-side over the m-int code arrays (:func:`_adc_score`)
    — per pair it does m table lookups instead of a dim-length float
    fold, and the scan payload is m ints instead of the embedding.
    A per-query window keeps the ``refine`` best ADC candidates.

    Stage 2 (re-rank): the shortlist joins back to the TRUE corpus
    vectors (a |queries|·refine-row probe — AQE broadcasts it into the
    corpus scan) and exact rounded cosine re-ranks the top ``k``
    through :func:`_score_topk` — identical rounding/tie-break
    semantics to every other kernel here, and returned scores are
    exact, never quantized.

    With ``refine >= |corpus|`` the ADC ordering is irrelevant and the
    result must equal :func:`cosine_topk_bruteforce` exactly (asserted
    in tests). NULL/NaN vectors drop on both sides, as everywhere;
    ZERO vectors drop too (NULL codes/LUT — no direction to quantize),
    one deliberate divergence from brute force, which surfaces a zero
    vector as a NaN score that IEEE ordering ranks first.

    Scale note (100 TB): stage 1 reads the code table (m bytes/vector
    — the only full-corpus artifact the query path touches); stage 2
    touches raw vectors for |queries|·refine rows only. Pass a
    pre-trained ``books`` (from :func:`pq_train`) to amortize training
    across query batches — the production shape; when omitted, one is
    trained inline on the bounded deterministic sample.
    """
    if books is None:
        books = pq_train(
            corpus, corpus_id=corpus_id, vec=vec, m=m, ksub=ksub, seed=seed
        )
    else:
        books = _check_books_dim(books, _first_vec_dim(corpus, vec))
        m, ksub = len(books), len(books[0])
    encode, lut = _pq_encode_arrow(books), _pq_lut_arrow(books)

    c = corpus.filter(_valid_vec(F.col(vec))).select(
        F.col(corpus_id), _as_double(F.col(vec)).alias("__cv")
    )
    # zero vectors encode to NULL (no direction to quantize) — drop
    # their code rows so they can never occupy shortlist slots
    codes = c.select(corpus_id, encode(F.col("__cv")).alias("__codes")).filter(
        F.col("__codes").isNotNull()
    )
    q0 = queries.filter(_valid_vec(F.col(vec))).select(
        F.col(query_id), _as_double(F.col(vec)).alias("__qv")
    )
    q_lut = q0.select(query_id, lut(F.col("__qv")).alias("__lut")).filter(
        F.col("__lut").isNotNull()
    )

    adc = codes.join(F.broadcast(q_lut)).select(
        query_id,
        corpus_id,
        _adc_score(F.col("__codes"), F.col("__lut"), ksub).alias("__adc"),
    )
    w = W.partitionBy(query_id).orderBy(F.desc("__adc"), F.col(corpus_id))
    shortlist = (
        adc.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= refine)
        .select(query_id, corpus_id)
    )

    cn = c.withColumn("__cn", l2_norm(F.col("__cv")))
    qn = q0.withColumn("__qn", l2_norm(F.col("__qv")))
    return _score_topk(shortlist, qn, cn, k, query_id, corpus_id)


def pq_index_write(
    corpus: DataFrame,
    path: str,
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    train_sample: int = 10_000,
    seed: int = 42,
    mode: str = "overwrite",
    books=None,
) -> None:
    """Materialize the PQ ANN index: codebooks + m-int code rows + the
    raw vectors the exact re-rank needs. Pass pre-trained ``books``
    (from :func:`pq_train`) to skip the fresh-build training pass —
    e.g. codebooks trained on a wider corpus than this build's batch;
    they must match ``m``/``ksub`` (checked) and are ignored on append
    (the STORED codebooks are authoritative — encoding a batch under
    different books than the index serves would corrupt every ADC
    score).

    PQ persistence is what turns :func:`cosine_topk_pq` into the
    production shape — the codebook training pass and the full-corpus
    encode are paid ONCE, and every query batch afterwards scans only
    the m-ints-per-vector ``codes`` table (the 100 TB point: the
    shortlist stage reads m bytes/vector, not the embedding). Stored
    tables under a generation directory: ``codebooks`` (subspace,
    entry, center), ``codes`` (corpus_id, codes), ``vectors``
    (corpus_id, v, norm — the re-rank side), named by a commit record
    (the protocol :func:`io.open_write` owns): a crash mid-rebuild can
    never pair new codebooks with old codes (codes are meaningless
    under the wrong codebook — silently garbage ADC scores), because
    the latest record still names the old, internally-consistent
    generation.

    ``mode='append'`` encodes a NEW batch against the CURRENT
    generation's codebooks (no retrain — quantization drifts only if
    the data distribution does; periodic full rebuild is the remedy,
    as in every PQ system) and refuses an m/ksub/dim mismatch; a
    crashed-then-retried append's duplicate rows are absorbed by
    search-side dedup. NULL/NaN vectors are dropped at build, the
    module-wide convention.
    """
    spark = corpus.sparkSession
    c0 = corpus.filter(_valid_vec(F.col(vec))).select(
        F.col(corpus_id).alias("corpus_id"), _as_double(F.col(vec)).alias("v")
    )
    dim = _first_vec_dim(corpus, vec)
    # an append must keep the stored codebook shape: codes are
    # meaningless across shapes
    g = io.open_write(
        spark, path, "PQ index", mode, dim=dim, create=False, m=m, ksub=ksub
    )
    if g.mode == "append":
        books = _read_codebooks(spark, g.dir)
    else:
        if books is None:
            books = pq_train(
                corpus,
                corpus_id=corpus_id,
                vec=vec,
                m=m,
                ksub=ksub,
                train_sample=train_sample,
                seed=seed,
            )
        else:
            books = _check_books_dim(books, dim)
            if books.shape[:2] != (m, ksub):
                raise ValueError(
                    f"pre-trained books shape {books.shape} does not match "
                    f"m={m}, ksub={ksub}"
                )
        cb_df = io.local_table(
            spark,
            {
                "subspace": [j for j in range(m) for _ in range(ksub)],
                "entry": [r for _ in range(m) for r in range(ksub)],
                "center": books.reshape(m * ksub, -1).tolist(),
            },
            "subspace int not null, entry int not null, center array<double> not null",
        )
        cb_df.coalesce(1).write.mode("overwrite").parquet(f"{g.dir}/codebooks")

    encode = _pq_encode_arrow(books)
    # Zero vectors are excluded from BOTH tables (the encode kernel
    # returns NULL for them — no direction to quantize; see
    # _pq_normalize); filtering on the vector side keeps codes and
    # vectors row-for-row consistent.
    c1 = c0.withColumn("norm", l2_norm(F.col("v"))).filter(F.col("norm") > 0)
    # Two writes share only the narrow (id, v) scan; the Arrow encode
    # kernel runs once (codes write only), so no cross-write persist is
    # needed here, unlike the sign-LSH build.
    c1.write.mode(g.mode).parquet(f"{g.dir}/vectors")
    c1.select("corpus_id", encode(F.col("v")).alias("codes")).write.mode(
        g.mode
    ).parquet(f"{g.dir}/codes")
    g.commit(seed=seed)


def _read_codebooks(spark, gdir: str):
    """The stored (m, ksub, dsub) codebook array, reconstructed in
    subspace/entry order — one tiny collect (m*ksub rows)."""
    import numpy as np

    rows = spark.read.parquet(f"{gdir}/codebooks").collect()
    if not rows:
        raise ValueError(f"empty codebooks table under {gdir}")
    m = 1 + max(r["subspace"] for r in rows)
    ksub = 1 + max(r["entry"] for r in rows)
    dsub = len(rows[0]["center"])
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for r in rows:
        books[r["subspace"], r["entry"]] = r["center"]
    return books


def pq_index_search(
    spark,
    queries: DataFrame,
    path: str,
    k: int = 5,
    refine: int = 64,
    query_id: str = "query_id",
    vec: str = "embedding",
) -> DataFrame:
    """Top-k ANN against a persisted PQ index: ADC shortlist over the
    stored code table, exact cosine re-rank against the stored raw
    vectors.

    Codebook shape and the live generation come from the latest commit
    record, so a query batch can never score codes under a mismatched
    codebook or read a half-committed rebuild. Plan shape matches the in-memory
    :func:`cosine_topk_pq` — the corpus-side cost is ONE scan of the
    m-int code parquet (never a re-encode), plus the |queries|*refine
    vector fetch for the re-rank. With ``refine`` >= the indexed corpus
    the result equals brute force over the indexed vectors exactly.
    Duplicate rows left by a crashed-then-retried append are absorbed
    both in the shortlist (dropDuplicates pre-window) and in the
    re-rank (:func:`_score_topk` ``dedup=True``).
    """
    gdir, meta = io.open_read(
        spark, path, "PQ index", "search", dim=_first_vec_dim(queries, vec)
    )
    ksub = meta["ksub"]
    books = _read_codebooks(spark, gdir)
    codes = spark.read.parquet(f"{gdir}/codes")
    vectors = spark.read.parquet(f"{gdir}/vectors")

    lut = _pq_lut_arrow(books)
    q0 = queries.filter(_valid_vec(F.col(vec))).select(
        F.col(query_id), _as_double(F.col(vec)).alias("__qv")
    )
    # zero-vector queries have NULL LUTs (no direction — same exclusion
    # as at build time); NULL code rows are additionally dropped in
    # case an index written before the zero-vector exclusion holds them
    q_lut = q0.select(query_id, lut(F.col("__qv")).alias("__lut")).filter(
        F.col("__lut").isNotNull()
    )
    adc = (
        codes.filter(F.col("codes").isNotNull()).join(F.broadcast(q_lut))
        .select(
            query_id,
            "corpus_id",
            _adc_score(F.col("codes"), F.col("__lut"), ksub).alias("__adc"),
        )
        # retry-duplicate absorption BEFORE the rank window — duplicate
        # code rows carry identical ADC scores, so dropping any is exact
        .dropDuplicates([query_id, "corpus_id"])
    )
    w = W.partitionBy(query_id).orderBy(F.desc("__adc"), F.col("corpus_id"))
    shortlist = (
        adc.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= refine)
        .select(query_id, "corpus_id")
    )
    qn = q0.withColumn("__qn", l2_norm(F.col("__qv")))
    cn = vectors.select(
        "corpus_id", F.col("v").alias("__cv"), F.col("norm").alias("__cn")
    )
    return _score_topk(shortlist, qn, cn, k, query_id, "corpus_id", dedup=True)
