"""Embedding-column analytics: per-label centroids and norm profiles.

Cross-engine float determinism: summing doubles is order-dependent, and
Spark's partial/final aggregation order differs from DuckDB's. Both
queries therefore quantize per-component/per-norm doubles to integers
FIRST — ``floor(x * 1e6)`` is the same IEEE multiply + floor on both
engines — and aggregate the exact integers; the final division back to
double is a single deterministic op. (Same rationale as the
DECIMAL(12,2) money trick in plans/common.py, applied to floats that
are not 2-decimal.)

Scale notes: both queries are explode → hash-aggregate on (label, pos)
— one shuffle, map-side combinable, 64·n rows in flight but only
64·|labels| out. The norm fold stays inside ``F.aggregate`` (codegen,
no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from spotify_app_etl_spark.io import local_table
from spotify_app_etl_spark.plans.common import t
from spotify_app_etl_spark.plans.northstar import _EMB_PLANTED_SQL
from spotify_app_etl_spark.registry import query

_Q = 1_000_000  # quantization: 6 fractional digits of a float32 payload


@query(
    "ns_embed_centroid",
    note="per-label centroid in long form (label, pos, centroid, n): "
    "posexplode → integer-quantized component sums — exact, "
    "order-independent, one map-combinable shuffle on (label, pos)",
    oracle=f"""
WITH e AS (
  SELECT label,
         unnest(range(1, len(embedding) + 1)) AS pos,
         unnest(list_transform(CAST(embedding AS DOUBLE[]),
                               x -> CAST(floor(x * {_Q}) AS BIGINT))) AS q
  FROM embeddings
)
SELECT label, CAST(pos AS INTEGER) AS pos,
       CAST(SUM(q) AS DOUBLE) / COUNT(*) / {_Q} AS centroid,
       COUNT(*) AS n
FROM e GROUP BY label, pos
""",
    tags=("northstar", "embedding", "centroid"),
)
def ns_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "comp")
    ).select(
        "label",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.floor(F.col("comp").cast("double") * _Q).cast("bigint").alias("q"),
    )
    return comp.groupBy("label", "pos").agg(
        (F.sum("q").cast("double") / F.count(F.lit(1)) / F.lit(_Q)).alias("centroid"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "ns_embed_norm_stats",
    note="per-label L2-norm profile: left-fold dot product inside "
    "codegen (mirrors DuckDB list_reduce bit-for-bit), norms "
    "integer-quantized before avg/min/max so the aggregation is "
    "order-independent on both engines",
    oracle=f"""
WITH n AS (
  SELECT label,
         -- empty-array guard: DuckDB list_reduce ERRORS on an empty
         -- list while Spark's aggregate yields the 0.0 seed — the
         -- CASE keeps both engines at norm 0 for degenerate vectors
         CASE WHEN len(embedding) = 0 THEN 0
              ELSE CAST(floor(sqrt(list_reduce(
                list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
                (a, b) -> a + b)) * {_Q}) AS BIGINT) END AS norm_q
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n,
       CAST(SUM(norm_q) AS DOUBLE) / COUNT(*) / {_Q} AS avg_norm,
       CAST(MIN(norm_q) AS DOUBLE) / {_Q} AS min_norm,
       CAST(MAX(norm_q) AS DOUBLE) / {_Q} AS max_norm
FROM n GROUP BY label
""",
    tags=("northstar", "embedding", "norms"),
)
def ns_embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    # aggregate() left-folds in element order — same order DuckDB's
    # list_reduce uses, so the pre-quantization double is bit-identical
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norms = emb.select(
        "label", F.floor(F.sqrt(sq) * _Q).cast("bigint").alias("norm_q")
    )
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("norm_q").cast("double") / F.count(F.lit(1)) / F.lit(_Q)).alias(
            "avg_norm"
        ),
        (F.min("norm_q").cast("double") / F.lit(_Q)).alias("min_norm"),
        (F.max("norm_q").cast("double") / F.lit(_Q)).alias("max_norm"),
    )


@query(
    "ns_embed_semantic_clusters",
    note="semantic dedup clusters: exact cosine ≥ 0.9 pairs over the "
    "planted-near-dup corpus (block-matmul kernel) closed into "
    "connected components by min-label propagation — component id is "
    "the kept representative; vs a recursive-CTE fixpoint oracle",
    oracle=f"""
WITH RECURSIVE base AS ({_EMB_PLANTED_SQL}),
v AS (
  SELECT vec_id, ev,
         sqrt(list_reduce(list_transform(ev, x -> x*x), (a,b) -> a+b)) AS nrm
  FROM base
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE round(list_reduce(list_transform(range(1, len(a.ev)+1),
                                         i -> a.ev[i]*b.ev[i]), (x,y) -> x+y)
              / (a.nrm * b.nrm), 8) >= 0.9
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(node, lab) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node
), cc AS (
  SELECT node, MIN(lab) AS component FROM reach GROUP BY node
)
SELECT node, component,
       COUNT(*) OVER (PARTITION BY component) AS cluster_size
FROM cc
""",
    tags=("northstar", "embedding", "dedup", "cluster"),
)
def ns_embed_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_app_etl_spark.operators import cluster as CL
    from spotify_app_etl_spark.operators import dedup as DD
    from spotify_app_etl_spark.plans.northstar import _emb_with_planted

    pairs = DD.embedding_cosine_pairs(
        _emb_with_planted(spark, sf_dir), "embedding", "vec_id", threshold=0.9
    )
    return CL.dedup_clusters(pairs.select("id_a", "id_b"))


def _power_iteration(emb: DataFrame, vec_col: str, iters: int = 8):
    """Driver-coordinated power iteration for the corpus covariance's
    top eigenvector (uncentered Gram matrix X'X, the PCA-without-mean
    variant): v ← normalize(Σ_i x_i (x_i·v)).

    Per iteration ONE distributed pass: the per-row projection x·v is
    pre-projected as a plain column (the per-element-reference rule —
    inlining it into all ``dim`` component sums would fold the dot 64
    times), then ``dim`` map-side-combinable SUM aggregates ship one
    64-double row to the driver, which renormalizes and re-broadcasts
    v as literals. The same coordination shape as Spark ML's KMeans —
    per-iteration driver state is O(dim), never O(rows).
    """
    import numpy as np

    # loud preconditions instead of opaque executor/NaN failures: an
    # empty table (first() is None) or a NULL leading vector would
    # TypeError here, and an all-zero corpus would divide by a zero
    # eigenvalue below and emit NaN loadings that LOOK like results
    probe = emb.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if probe is None:
        raise ValueError(
            "_power_iteration: no non-NULL vectors to iterate over"
        )
    dim = len(probe[0])
    x = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).cast("array<double>").alias("__x")
    )
    v = np.ones(dim) / np.sqrt(dim)
    eigvals: list[float] = []
    for _ in range(iters):
        vlit = F.array(*[F.lit(float(c)) for c in v])
        dot = F.aggregate(
            F.zip_with(F.col("__x"), vlit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, y: acc + y,
        )
        row = (
            x.withColumn("__dot", dot)
            .select(
                *[
                    F.sum(F.element_at("__x", j + 1) * F.col("__dot")).alias(f"s{j}")
                    for j in range(dim)
                ]
            )
            .first()
        )
        w = np.array(row, dtype=np.float64)
        eigvals.append(float(np.linalg.norm(w)))
        if eigvals[-1] == 0.0:
            raise ValueError(
                "_power_iteration: zero Gram norm (all-zero corpus?) — "
                "no principal direction exists; refusing to emit NaNs"
            )
        v = w / eigvals[-1]
    return v, eigvals


def _eigvec_oracle(iters: int = 8, dim: int = 64, slack: float = 1e-9) -> str:
    """DuckDB replay of the fixed-rounds Gram power iteration: each
    round is two materialized 1-row CTEs — per-position sums of
    x[pos]·(x·v) and the renormalized next vector. Both sides round
    (loadings 8 dp, eigenvalue 5 dp) so cross-engine float-sum order
    differences (~1e-12 relative over 8 rounds) can't flip a digit."""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""",
d{i} AS MATERIALIZED (
  SELECT x.pos, SUM(x.val * list_dot_product(x.emb, r{i - 1}.v)) AS w
  FROM (SELECT CAST(embedding AS DOUBLE[]) AS emb,
               unnest(CAST(embedding AS DOUBLE[])) AS val,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings WHERE embedding IS NOT NULL) x
  CROSS JOIN r{i - 1}
  GROUP BY x.pos
),
r{i} AS MATERIALIZED (
  SELECT sqrt(list_dot_product(list(w ORDER BY pos),
              list(w ORDER BY pos))) AS norm,
         list_transform(list(w ORDER BY pos),
           e -> e / sqrt(list_dot_product(list(w ORDER BY pos),
                         list(w ORDER BY pos)))) AS v
  FROM d{i}
)""")
    mono = " AND ".join(
        f"(SELECT norm FROM r{j + 1}) >= (SELECT norm FROM r{j}) * (1.0 - {slack})"
        for j in range(1, iters)
    )
    return f"""
WITH r0 AS MATERIALIZED (
  SELECT list_transform(range(1, {dim + 1}), i -> 1.0 / sqrt({dim})) AS v
){''.join(steps)},
mono AS (SELECT {mono} AS rayleigh_monotone_ok)
SELECT CAST(p.pos AS INT) AS pos,
       round(p.val, 8) AS loading,
       round((SELECT norm FROM r{iters}), 5) AS eigenvalue,
       mono.rayleigh_monotone_ok
FROM (SELECT unnest(v) AS val, unnest(range(1, {dim + 1})) AS pos
      FROM r{iters}) p
CROSS JOIN mono
"""


@query(
    "ns_embed_top_eigvec",
    note="distributed power iteration (8 rounds) for the top "
    "eigenvector of the corpus Gram matrix — one pass per round, "
    "O(dim) driver state, KMeans-style coordination; "
    "distributed==local equality and spiked-data convergence vs numpy "
    "eigendecomposition asserted in tests/test_operators.py (the "
    "i.i.d. testdata spectrum is too flat for 8 rounds to converge to "
    "eigh — by design it reports the 8-round iterate, which IS the "
    "deterministic contract). Oracle-checked since r07: the fixed "
    "8-round iteration replays in DuckDB as a materialized WITH chain "
    "(like ns_graph_pagerank); loadings round to 8 dp and the "
    "eigenvalue to 5 dp on BOTH sides so cross-engine float-sum order "
    "can't flip a digit. Self-verifying rider kept: "
    "rayleigh_monotone_ok asserts the per-round norm estimates "
    "||X'X v_k|| never decrease — a theorem for power iteration on "
    "PSD Gram matrices, so any broken dot/sum kernel flips it.",
    oracle=_eigvec_oracle(),
    tags=("northstar", "embedding", "pca"),
)
def ns_embed_top_eigvec(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    v, eigvals = _power_iteration(emb, "embedding", iters=8)
    # Monotone Rayleigh check (ppm-level slack for float-sum noise):
    # power iteration on a PSD matrix can only grow the norm estimate.
    monotone = all(
        b >= a * (1.0 - 1e-9) for a, b in zip(eigvals, eigvals[1:])
    )
    return local_table(
        spark,
        {
            "pos": list(range(1, len(v) + 1)),
            "loading": [round(float(c), 8) for c in v],
            "eigenvalue": [round(float(eigvals[-1]), 5)] * len(v),
            "rayleigh_monotone_ok": [bool(monotone)] * len(v),
        },
        "pos int not null, loading double not null, "
        "eigenvalue double not null, rayleigh_monotone_ok boolean not null",
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (engine-exact).
# ---------------------------------------------------------------------------

#: JL output dimension. 16 on purpose: sqrt(16) = 4 is a power of two,
#: so the final /4.0 is EXACT in IEEE double — the whole projection is
#: then bit-reproducible across engines (per-row sequential fold, no
#: cross-row float aggregation anywhere).
_JL_DIM = 16

#: Deterministic ±1 sign matrix entry for (input dim i, output dim j):
#: integer LCG-style mix, identical arithmetic on both engines (all
#: terms non-negative, % semantics agree). The Achlioptas (2003)
#: database-friendly JL construction uses exactly such ±1 entries —
#: no gaussians needed, and a seeded FORMULA beats a stored random
#: matrix (nothing to broadcast, nothing to version).
_JL_MIX_A = 2654435761
_JL_MIX_B = 40503
_JL_MOD = 2147483647


@query(
    "ns_embed_random_projection",
    note="Johnson-Lindenstrauss dimensionality reduction 64→16 "
    "(Achlioptas ±1 construction): proj[j] = Σ_i emb[i]·sign(i,j) / "
    "√16, with the sign matrix a deterministic integer formula — no "
    "stored matrix, no broadcast, map-only (zero shuffles; the "
    "projection inlines into whole-stage codegen). ENGINE-EXACT "
    "despite being float math: the fold is per-row sequential (no "
    "cross-row float aggregation), products by ±1 are exact, and "
    "√16 = 4 makes the final division exact — so the oracle "
    "hash-matches bit-for-bit, unusual for a float transform.",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embd FROM embeddings
)
, p AS (
  SELECT vec_id,
         -- + 0.0 canonicalizes a possible -0.0 (Spark's fold seeds
         -- with +0.0, which normalizes it there); / 4.0 = / sqrt(16),
         -- exact because 4 is a power of two
         list_transform(range(0, {_JL_DIM}), j ->
           (list_reduce(
              list_transform(range(0, len(embd)), i ->
                embd[i + 1] * (CASE WHEN ((i * {_JL_MIX_A} + j * {_JL_MIX_B})
                                          % {_JL_MOD}) % 2 = 0
                               THEN 1.0 ELSE -1.0 END)),
              (a, b) -> a + b) + 0.0) / 4.0
           ) AS proj
  FROM e
)
-- long form (vec_id, pos, value): the driver contract forbids
-- array-typed output columns; DuckDB zips equal-length unnests
SELECT vec_id,
       unnest(range(1, {_JL_DIM} + 1)) AS pos,
       unnest(proj) AS value
FROM p
""",
    tags=("northstar", "embedding", "projection"),
)
def ns_embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embd"),
    )

    def sign(i, j):
        return F.when(
            ((i * F.lit(_JL_MIX_A) + j * F.lit(_JL_MIX_B)) % F.lit(_JL_MOD)) % 2 == 0,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))

    # Guard the index sequence: F.sequence(0, size-1) on an EMPTY array
    # infers step -1 and yields the descending [0, -1], so element_at
    # would then be probed out of range (error under ANSI mode). The
    # embeddings table is fixed-width today, but keep the empty-array
    # arm explicit so the query matches the DuckDB oracle's
    # range(0, len(embd)) → empty → dot = 0.0 semantics on any input.
    def jl_dot(j):
        return F.when(
            F.size("embd") > 0,
            F.aggregate(
                F.sequence(F.lit(0), F.greatest(F.size("embd"), F.lit(1)) - 1),
                F.lit(0.0),
                lambda acc, i: acc + F.element_at(F.col("embd"), i + 1) * sign(i, j),
            ),
        ).otherwise(F.lit(0.0))

    proj = F.transform(
        F.sequence(F.lit(0), F.lit(_JL_DIM - 1)),
        lambda j: jl_dot(j) / F.lit(4.0),
    )
    # long form — no array-typed output columns (driver contract);
    # posexplode is narrow (no shuffle), the query stays map-only
    return emb.select("vec_id", F.posexplode(proj).alias("pos0", "value")).select(
        "vec_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "value"
    )
