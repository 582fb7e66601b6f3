"""North-star LLM-data-pipeline queries (BASELINE.json): dedup,
similarity search, text analysis — over the ``documents`` and
``embeddings`` testdata tables.

Exact/deterministic operators carry full DuckDB oracles (including the
n-gram Jaccard join and the brute-force cosine top-k — both bit-exact
across engines). Hash-family operators (MinHash/SimHash/LSH) are
engine-defined → rows-only here, with recall/self-consistency checks
in tests/test_operators.py against the exact variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from spotify_app_etl_spark.functions import multimodal as MM
from spotify_app_etl_spark.functions import text as TX
from spotify_app_etl_spark.operators import dedup as DD
from spotify_app_etl_spark.operators import similarity as SIM
from spotify_app_etl_spark.plans.common import SQL_TOKS, t
from spotify_app_etl_spark.registry import query

#: SQL fragment: normalized token list — the shared single definition
#: (plans.common.SQL_TOKS), aliased for the f-string oracles below.
_TOKS = SQL_TOKS


@query(
    "ns_dedup_exact",
    note="exact content dedup by sha256 hash-groupBy (scales: one "
    "shuffle on a uniform key)",
    oracle="""
SELECT sha256(text) AS content_sha256,
       MIN(doc_id)  AS representative_id,
       COUNT(*)     AS n_copies
FROM documents
GROUP BY sha256(text)
""",
    tags=("northstar", "dedup"),
)
def ns_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "ns_dedup_ngram_jaccard",
    note="exact word-3-gram Jaccard ≥ 0.5 near-dup pairs via explode + "
    "gram equi-join (integer-ratio math → bit-exact oracle)",
    oracle=f"""
WITH norm AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(toks)-2, 1) + 1),
           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS gram
  FROM norm
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       round(n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.5
""",
    tags=("northstar", "dedup"),
)
def ns_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), "text", "doc_id", n=3, threshold=0.5
    )


@query(
    "ns_dedup_minhash_pairs",
    note="MinHash(64)+LSH(16 bands) candidate pairs, est. Jaccard ≥ 0.5 "
    "— hash-defined → rows-only; self-verifying: emits recall_vs_exact/"
    "recall_ok — the fraction of EXACT word-3-gram Jaccard ≥ 0.5 pairs "
    "within the FIXED doc_id < 1000 window that the LSH candidates "
    "recover, ≥ 0.7 (tests assert ≥ 0.9 on this corpus; the in-query "
    "floor is looser because LSH recall is data-dependent). Bounding "
    "the exact pass to a constant window keeps the rider O(1) in "
    "corpus size — the convention every rider here follows; the "
    "testdata plants its near-dups in that window, and if a future "
    "corpus has none there the rider degrades to vacuous recall 1.0, "
    "not a false failure",
    tags=("northstar", "dedup", "lsh"),
    bench_fn=lambda s, d: ns_dedup_minhash_pairs(s, d, verify=False),
)
def ns_dedup_minhash_pairs(
    spark: SparkSession, sf_dir: str, verify: bool = True
) -> DataFrame:
    from spotify_app_etl_spark.operators.persist import scoped_persist

    docs = t(spark, sf_dir, "documents")
    if not verify:
        # rider-free arm (perfbench): the banded LSH candidate join is
        # the operator; the exact-Jaccard recall pass is the proof
        return DD.minhash_candidates(docs, "text", "doc_id", threshold=0.5)
    # Persisted: the candidate frame feeds both the output and the
    # recall scalar; without the pin, AQE's exchange reuse is
    # nondeterministic and the banded self-join can execute twice.
    cand = scoped_persist(
        DD.minhash_candidates(docs, "text", "doc_id", threshold=0.5)
    )
    exact = DD.ngram_jaccard_pairs(
        # bounded O(1) rider window: the AllPairs switch can never
        # trigger, so skip auto's count() job outright
        docs.filter(F.col("doc_id") < 1000), "text", "doc_id", n=3, threshold=0.5,
        prefix_filter=False,
    )
    return cand.crossJoin(
        F.broadcast(_recall_scalar(exact, _pairs_in(cand, lambda c: c < 1000)))
    ).withColumn("recall_ok", F.col("recall_vs_exact") >= 0.7)


@query(
    "ns_dedup_minhash_apply",
    note="end-to-end fuzzy dedup: corpus minus greedy near-dup closure "
    "(drop every id_b of a candidate pair — operators/dedup.py "
    "minhash_dedup, inlined here so the candidate frame is computed "
    "once). Self-verifying: closure_ok re-runs the LSH candidate pass "
    "on the KEPT docs within the fixed doc_id < 1000 window and "
    "asserts zero pairs — definitionally true when per-doc signatures "
    "are corpus-independent, so a flip means the signature pipeline "
    "leaked corpus state (normalization, capping, banding)",
    tags=("northstar", "dedup", "lsh"),
)
def ns_dedup_minhash_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_app_etl_spark.operators.persist import scoped_persist

    docs = t(spark, sf_dir, "documents")
    # Persisted: feeds the drop-set anti-join on BOTH the output branch
    # and the rider's kept-window branch.
    cand = scoped_persist(
        DD.minhash_candidates(docs, "text", "doc_id", threshold=0.5)
    )
    drop = cand.select(F.col("id_b").alias("doc_id")).distinct()
    kept = docs.join(drop, "doc_id", "left_anti")
    residual = DD.minhash_candidates(
        kept.filter(F.col("doc_id") < 1000), "text", "doc_id", threshold=0.5
    )
    closure = residual.agg((F.count(F.lit(1)) == F.lit(0)).alias("closure_ok"))
    return (
        kept.select("doc_id", "lang", "source", "n_chars")
        .crossJoin(F.broadcast(closure))
    )


@query(
    "ns_dedup_minhash_verified",
    note="the scale contract end-to-end: MinHash+LSH proposes candidate "
    "pairs, exact n-gram Jaccard verifies ONLY those (ngram_jaccard_on) "
    "— candidate set is hash-defined → rows-only; equivalence to "
    "standalone exact Jaccard on the candidate set asserted in "
    "tests/test_operators.py. Self-verifying: recall_vs_exact vs the "
    "full exact word-3-gram Jaccard ≥ 0.5 pairs within the FIXED "
    "doc_id < 1000 window, floor 0.7 (the end-to-end twin of "
    "ns_dedup_minhash_pairs' rider: here a miss can come from the LSH "
    "proposal OR the verification join dropping a true pair)",
    tags=("northstar", "dedup", "lsh"),
    bench_fn=lambda s, d: ns_dedup_minhash_verified(s, d, verify=False),
)
def ns_dedup_minhash_verified(
    spark: SparkSession, sf_dir: str, verify: bool = True
) -> DataFrame:
    from spotify_app_etl_spark.operators.persist import scoped_persist

    docs = t(spark, sf_dir, "documents")
    cand = DD.minhash_candidates(docs, "text", "doc_id", threshold=0.5)
    if not verify:
        # rider-free arm (perfbench): propose + exact-verify IS the
        # operator (the scale contract); the windowed recall pass
        # (~1.2 s of the ~5.7 s wall at sf0.1) is the proof
        return DD.ngram_jaccard_on(cand, docs, "text", "doc_id", n=3, threshold=0.5)
    # Persisted: the verified pairs feed both the output and the recall
    # scalar (same rationale as ns_dedup_minhash_pairs).
    out = scoped_persist(
        DD.ngram_jaccard_on(cand, docs, "text", "doc_id", n=3, threshold=0.5)
    )
    exact = DD.ngram_jaccard_pairs(
        # bounded O(1) rider window: the AllPairs switch can never
        # trigger, so skip auto's count() job outright
        docs.filter(F.col("doc_id") < 1000), "text", "doc_id", n=3, threshold=0.5,
        prefix_filter=False,
    )
    return out.crossJoin(
        F.broadcast(_recall_scalar(exact, _pairs_in(out, lambda c: c < 1000)))
    ).withColumn("recall_ok", F.col("recall_vs_exact") >= 0.7)


@query(
    "ns_dedup_simhash_pairs",
    note="SimHash-64 near-dup pairs at Hamming ≤ 3 via 4×16-bit band "
    "buckets (pigeonhole-complete) — hash-defined → rows-only; "
    "self-verifying: recall_vs_exact vs an exact all-pairs Hamming "
    "pass over the FIXED doc_id < 1000 window must be EXACTLY 1.0 — "
    "banding is not probabilistic like MinHash: 3 bit flips cannot "
    "touch all 4 bands, so a recall below 1.0 means the band split "
    "itself is broken. The exact pass is an O(1)-bounded broadcast "
    "NLJ (constant window), keeping the rider free at corpus scale",
    tags=("northstar", "dedup", "simhash"),
)
def ns_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # Persisted for the same reason as ns_dedup_minhash_pairs: the
    # banded self-join must not execute twice when the frame feeds both
    # the output and the recall scalar.
    from spotify_app_etl_spark.operators.persist import scoped_persist

    cand = scoped_persist(DD.simhash_candidates(docs, "text", "doc_id"))
    sig = docs.filter(F.col("doc_id") < 1000).select(
        F.col("doc_id").alias("__id"),
        DD.simhash_signature("text").alias("__sim"),
    )
    exact = (
        sig.select(F.col("__id").alias("id_a"), F.col("__sim").alias("s_a"))
        .join(
            F.broadcast(
                sig.select(F.col("__id").alias("id_b"), F.col("__sim").alias("s_b"))
            ),
            F.col("id_a") < F.col("id_b"),
        )
        .filter(F.bit_count(F.col("s_a").bitwiseXOR(F.col("s_b"))) <= 3)
        .select("id_a", "id_b")
    )
    return cand.crossJoin(
        F.broadcast(_recall_scalar(exact, _pairs_in(cand, lambda c: c < 1000)))
    ).withColumn("recall_ok", F.col("recall_vs_exact") == 1.0)


@query(
    "ns_sim_topk_bruteforce",
    note="exact top-5 cosine neighbors for query vectors vec_id<20; "
    "left-fold double math mirrors DuckDB list_reduce bit-for-bit",
    oracle="""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 20
), c AS (
  SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
), scored AS (
  SELECT query_id, corpus_id,
         round(
           list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*cv[i]), (a,b) -> a+b)
           / (sqrt(list_reduce(list_transform(qv, x -> x*x), (a,b) -> a+b))
              * sqrt(list_reduce(list_transform(cv, x -> x*x), (a,b) -> a+b))), 8) AS cos_sim
  FROM c CROSS JOIN q
)
SELECT query_id, corpus_id, cos_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, corpus_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    tags=("northstar", "similarity"),
)
def ns_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    out = SIM.cosine_topk_bruteforce(
        emb.filter(F.col("vec_id") < 20).select(F.col("vec_id").alias("query_id"), "embedding"),
        emb.select(F.col("vec_id").alias("corpus_id"), "embedding"),
        k=5,
    )
    return out.select("query_id", "corpus_id", "cos_sim", "rank")


def _scratch_index_dir(spark: SparkSession, name: str) -> str:
    """Deterministic scratch path for a registered query's persisted
    index, cleared on every call and scoped to THIS Spark application.

    Registered queries can't clean up AFTER themselves — the DataFrame
    they return is lazy, and the index parquet must still exist when
    the caller executes it. Clearing at the START of the next
    invocation instead bounds disk use to one live index copy per
    query (tempfile.mkdtemp-per-call leaked a full corpus-vector copy
    every bench repeat / test run until /tmp filled). The
    ``applicationId`` segment keeps concurrent sessions (parallel
    pytest workers, bench running alongside the driver) from deleting
    each other's live index mid-read or mixing generations across
    runs; each app's whole tree is removed at interpreter exit so the
    per-app scoping doesn't re-leak across many short runs (both via
    common.app_scratch_base).
    """
    import shutil

    from spotify_app_etl_spark.plans.common import app_scratch_base

    path = f"{app_scratch_base(spark, 'spark_graft_scratch_idx')}/{name}"
    shutil.rmtree(path, ignore_errors=True)
    return path


def _pairs_in(found: DataFrame, pred) -> DataFrame:
    """Restrict a pair frame to pairs with BOTH endpoints inside the
    rider's window (``pred`` maps an id column to a boolean).

    Every exact pair lies in the window by construction, so filtering
    ``found`` this way cannot change ``exact ∩ found`` — but it turns
    the recall check's membership join from a shuffle of the
    corpus-wide pair set into a broadcast-sized probe, keeping the
    rider O(window) at 100 TB like the exact pass itself.
    """
    return found.filter(pred(F.col("id_a")) & pred(F.col("id_b")))


def _recall_scalar(exact: DataFrame, found: DataFrame) -> DataFrame:
    """1-row ``recall_vs_exact`` frame: the fraction of ``exact``'s
    (id_a, id_b) pairs present in ``found`` (callers pass ``found``
    through :func:`_pairs_in` so this join never shuffles the full
    corpus-wide pair set).

    One pass over ``exact`` — hit and total come from a single
    left-join-marker aggregation. The obvious two-reference shape
    (semi-join for hits crossJoined with a separate total count) made
    the exact subtree appear twice in the plan whenever AQE declined to
    reuse its exchange, nondeterministically doubling the expensive
    exact kernel (and flaking the plan-audit NLJ gate).
    """
    marked = exact.select("id_a", "id_b").join(
        found.select("id_a", "id_b").withColumn("__hit", F.lit(1)),
        ["id_a", "id_b"],
        "left",
    )
    return marked.agg(
        F.round(
            F.coalesce(
                F.count("__hit") / F.nullif(F.count(F.lit(1)), F.lit(0)),
                F.lit(1.0),
            ),
            4,
        ).alias("recall_vs_exact")
    )


def _with_recall_rider(
    ann: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_sample: int,
    bound: float,
) -> DataFrame:
    """Attach ``recall_sample`` / ``recall_ok`` verification columns to
    an ANN top-k result: recall@k vs exact brute force over the FIXED
    query prefix ``query_id < n_sample``.

    This makes the driver's rows-only check carry semantic weight — the
    hash covers a deterministic recall number, not just engine-defined
    bucket contents. Cost is bounded by design: the exact pass scans the
    corpus once for a CONSTANT number of sample queries (O(n_sample·
    |corpus|), same order as the ANN probe itself), so the rider
    survives a 100× corpus scale-up; it is the per-run canary a real
    pipeline would keep, not a debug artifact.
    """
    sample_q = queries.filter(F.col("query_id") < n_sample)
    exact = SIM.cosine_topk_bruteforce(sample_q, corpus, k=k).select(
        "query_id", "corpus_id"
    )
    recall = (
        ann.join(exact, ["query_id", "corpus_id"], "left_semi")
        .agg(
            F.round(F.count(F.lit(1)) / F.lit(n_sample * k), 4).alias(
                "recall_sample"
            )
        )
    )
    return ann.crossJoin(F.broadcast(recall)).withColumn(
        "recall_ok", F.col("recall_sample") >= F.lit(bound)
    )


@query(
    "ns_sim_topk_lsh",
    note="ANN variant: sign-LSH, 8 tables × 8 planes + 1-bit multiprobe "
    "— bucket-dependent → rows-only; self-verifying: emits "
    "recall_sample/recall_ok vs an exact pass over a fixed 5-query "
    "sample (plus the full-corpus recall assertions in "
    "tests/test_operators.py)",
    tags=("northstar", "similarity", "lsh"),
    bench_fn=lambda s, d: ns_sim_topk_lsh(s, d, verify=False),
)
def ns_sim_topk_lsh(
    spark: SparkSession, sf_dir: str, verify: bool = True
) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    out = SIM.cosine_topk_lsh(queries, corpus, k=5, planes=8, tables=8)
    out = out.select("query_id", "corpus_id", "cos_sim", "rank")
    if not verify:
        # rider-free arm (perfbench): the bucketed probe is the
        # operator; the exact 5-query pass is the proof
        return out
    return _with_recall_rider(out, queries, corpus, k=5, n_sample=5, bound=0.5)


@query(
    "ns_sim_topk_ivf",
    note="IVF ANN: KMeans cells + 4-of-16 probe — centroid-dependent → "
    "rows-only; self-verifying: emits recall_sample/recall_ok vs an "
    "exact pass over a fixed 5-query sample (full-probe==bruteforce "
    "equality asserted in tests)",
    tags=("northstar", "similarity", "ivf"),
)
def ns_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    out = SIM.cosine_topk_ivf(queries, corpus, k=5, n_cells=16, n_probe=4)
    out = out.select("query_id", "corpus_id", "cos_sim", "rank")
    return _with_recall_rider(out, queries, corpus, k=5, n_sample=5, bound=0.5)


@query(
    "ns_sim_topk_pq",
    note="product-quantization ANN (operators/similarity.py "
    "cosine_topk_pq): corpus collapsed to m=8 codebook bytes/vector, "
    "JVM-side ADC table-lookup scoring shortlists refine=64 "
    "candidates/query, exact cosine re-ranks the top-5 on the raw "
    "vectors — the artifact that makes 100 TB embedding search "
    "feasible (scan m bytes, not the embedding). Codebook-dependent "
    "→ rows-only; self-verifying: recall_sample/recall_ok vs an "
    "exact pass over a fixed 5-query sample (refine==|corpus| == "
    "bruteforce equality asserted in tests/test_pq.py)",
    tags=("northstar", "similarity", "pq"),
    bench_fn=lambda s, d: ns_sim_topk_pq(s, d, verify=False),
)
def ns_sim_topk_pq(
    spark: SparkSession, sf_dir: str, verify: bool = True
) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    out = SIM.cosine_topk_pq(queries, corpus, k=5, m=8, ksub=16, refine=64)
    out = out.select("query_id", "corpus_id", "cos_sim", "rank")
    if not verify:
        # rider-free arm (perfbench): train + encode + ADC + re-rank is
        # the operator; the exact 5-query pass is the proof
        return out
    return _with_recall_rider(out, queries, corpus, k=5, n_sample=5, bound=0.5)


@query(
    "ns_sim_topk_lsh_indexed",
    note="persisted sign-LSH ANN: build the parquet index (buckets + "
    "normalized vectors + generation-committed meta) from half the "
    "corpus, APPEND the other half, then probe — the production "
    "build-once/probe-many shape (operators/similarity.py "
    "signlsh_index_write/search). Bucket-dependent → rows-only; "
    "self-verifying: matches_inmemory asserts the indexed search "
    "equals the in-memory cosine_topk_lsh with the same hash family "
    "(same planes/tables/seed → identical candidates, scores, "
    "tie-breaks)",
    tags=("northstar", "similarity", "lsh", "index"),
    bench_fn=lambda s, d: ns_sim_topk_lsh_indexed(s, d, verify=False),
)
def ns_sim_topk_lsh_indexed(
    spark: SparkSession, sf_dir: str, verify: bool = True
) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    # The index build is part of the query under test (the driver's eye
    # covers write→append→probe); the scratch path is FIXED and cleared
    # at invocation start, so repeated runs (bench best-of-3, pytest,
    # driver sweeps) hold at most ONE index copy on disk instead of
    # leaking a full corpus-vector copy per call. In production this is
    # a warehouse URI with generation GC as retention policy.
    idx = _scratch_index_dir(spark, "signlsh")
    SIM.signlsh_index_write(
        corpus.filter(F.col("corpus_id") % 2 == 0), idx, planes=8, tables=8
    )
    SIM.signlsh_index_write(
        corpus.filter(F.col("corpus_id") % 2 == 1),
        idx,
        planes=8,
        tables=8,
        mode="append",
    )
    out = SIM.signlsh_index_search(spark, queries, idx, k=5).select(
        "query_id", "corpus_id", "cos_sim", "rank"
    )
    if not verify:
        # rider-free arm (perfbench): the operator is write→append→probe;
        # the in-memory parity recomputation is the PROOF the driver
        # hashes, roughly doubling wall time — keep it out of BENCH
        return out
    inmem = SIM.cosine_topk_lsh(queries, corpus, k=5, planes=8, tables=8).select(
        "query_id", "corpus_id", "cos_sim", "rank"
    )
    # Parity rider: symmetric difference must be empty. Both sides
    # round cos_sim to 8 digits and tie-break on corpus_id, so the
    # comparison is exact, not tolerance-based. Anti-joins instead of
    # exceptAll: both results are duplicate-free (row_number ≤ k), and
    # exceptAll's replicate-and-sum rewrite trips an optimizer bug
    # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) over the Generate+Window
    # subplans here.
    cols = ["query_id", "corpus_id", "cos_sim", "rank"]
    diff = out.join(inmem, cols, "left_anti").unionByName(
        inmem.join(out, cols, "left_anti")
    )
    parity = diff.agg((F.count(F.lit(1)) == F.lit(0)).alias("matches_inmemory"))
    return out.crossJoin(F.broadcast(parity))


@query(
    "ns_sim_topk_pq_indexed",
    note="persisted PQ ANN: train codebooks + encode the even half of "
    "the corpus into m-int code rows, APPEND the odd half encoded "
    "under the STORED codebooks, then probe (operators/similarity.py "
    "pq_index_write/search) — the build-once/probe-many shape where "
    "query batches scan m bytes/vector, never the embeddings. "
    "Codebook-dependent → rows-only; self-verifying: "
    "matches_inmemory asserts the indexed search equals the in-memory "
    "cosine_topk_pq under the same codebooks (deterministic training "
    "sample + seed → identical shortlists, scores, tie-breaks)",
    tags=("northstar", "similarity", "pq", "index"),
    bench_fn=lambda s, d: ns_sim_topk_pq_indexed(s, d, verify=False),
)
def ns_sim_topk_pq_indexed(
    spark: SparkSession, sf_dir: str, verify: bool = True
) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    idx = _scratch_index_dir(spark, "pq")
    # Codebooks must come from the FULL corpus's deterministic training
    # sample (not the even half's) so the in-memory parity arm below
    # quantizes identically; production would pass a pre-trained books
    # the same way.
    books = SIM.pq_train(corpus, m=8, ksub=16, seed=42)
    SIM.pq_index_write(
        corpus.filter(F.col("corpus_id") % 2 == 0), idx, m=8, ksub=16, books=books
    )
    SIM.pq_index_write(
        corpus.filter(F.col("corpus_id") % 2 == 1),
        idx,
        m=8,
        ksub=16,
        mode="append",
    )
    out = SIM.pq_index_search(spark, queries, idx, k=5, refine=64).select(
        "query_id", "corpus_id", "cos_sim", "rank"
    )
    if not verify:
        # rider-free arm (perfbench): train+write+append+probe is the
        # operator; the full in-memory ADC recomputation below is the
        # parity proof — see ns_sim_topk_lsh_indexed
        return out
    inmem = SIM.cosine_topk_pq(
        queries, corpus, k=5, refine=64, books=books
    ).select("query_id", "corpus_id", "cos_sim", "rank")
    # Parity rider, anti-join form (see ns_sim_topk_lsh_indexed on why
    # not exceptAll): symmetric difference must be empty.
    cols = ["query_id", "corpus_id", "cos_sim", "rank"]
    diff = out.join(inmem, cols, "left_anti").unionByName(
        inmem.join(out, cols, "left_anti")
    )
    parity = diff.agg((F.count(F.lit(1)) == F.lit(0)).alias("matches_inmemory"))
    return out.crossJoin(F.broadcast(parity))


@query(
    "ns_dedup_minhash_incremental",
    note="incremental near-dup ingest vs the persisted MinHash "
    "signature index (operators/dedup.py minhash_dedup_incremental): "
    "build the index from the even-doc_id history, dedup the odd-id "
    "batch against it AND itself, append the survivors' signatures. "
    "Hash-defined → rows-only; self-verifying: idempotent_ok asserts "
    "a RERUN of the same batch against the now-updated index keeps "
    "zero docs (every batch doc matches its own appended signature at "
    "est_jaccard=1.0) — the crashed-batch-retry convergence property",
    tags=("northstar", "dedup", "minhash", "index"),
    bench_fn=lambda s, d: ns_dedup_minhash_incremental(s, d, verify=False),
)
def ns_dedup_minhash_incremental(
    spark: SparkSession, sf_dir: str, verify: bool = True
) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    # Fixed self-clearing scratch path — see ns_sim_topk_lsh_indexed.
    idx = _scratch_index_dir(spark, "minhash") + "/sig"
    DD.minhash_index_write(history, "text", "doc_id", idx)
    kept, kept_sig = DD.minhash_dedup_incremental(batch, idx, "text", "doc_id")
    DD.minhash_index_append(kept_sig, idx)
    if not verify:
        # rider-free arm (perfbench): build + dedup-vs-index+self +
        # append is the operator; the idempotence rerun is the proof
        return kept.select("doc_id").withColumn("src", F.lit("batch_kept"))
    rerun, _ = DD.minhash_dedup_incremental(batch, idx, "text", "doc_id")
    idempotent = rerun.agg((F.count(F.lit(1)) == F.lit(0)).alias("idempotent_ok"))
    return (
        kept.select("doc_id")
        .crossJoin(F.broadcast(idempotent))
        .withColumn("src", F.lit("batch_kept"))
    )


@query(
    "ns_streaming_dedup_ingest",
    note="STREAMING near-dup ingest under the driver's eye: build the "
    "MinHash index from the even-id history, write the odd-id batch "
    "as a parquet stream source, drain it with trigger(availableNow) "
    "through streaming/jobs.streaming_dedup_ingest (foreachBatch: "
    "dedup vs index+self → sink → append signatures; sink-before-"
    "index retry ordering), then return the sink contents. Survivors "
    "are hash-defined → rows-only; self-verifying: idempotent_ok "
    "re-runs the same batch against the post-stream index and must "
    "keep zero docs — every survivor now self-matches its appended "
    "signature at est_jaccard 1.0. Restart-safety/cold-start are "
    "covered in tests/test_streaming.py; this query exists so the "
    "streaming path is exercised by the external driver, not only "
    "pytest",
    tags=("northstar", "dedup", "minhash", "streaming"),
    bench_fn=lambda s, d: ns_streaming_dedup_ingest(s, d, verify=False),
)
def ns_streaming_dedup_ingest(
    spark: SparkSession, sf_dir: str, verify: bool = True
) -> DataFrame:
    from spotify_app_etl_spark.streaming import jobs as SJ

    docs = t(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    # Fixed self-clearing scratch root — see ns_sim_topk_lsh_indexed.
    # The sink parquet must survive until the caller executes the
    # returned DataFrame, so cleanup happens on the NEXT invocation.
    root = _scratch_index_dir(spark, "stream_ingest")
    idx, src = f"{root}/sig", f"{root}/src"
    out, ckpt = f"{root}/out", f"{root}/ckpt"
    DD.minhash_index_write(history, "text", "doc_id", idx)
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = SJ.streaming_dedup_ingest(
        stream, idx, out, ckpt, available_now=True
    )
    q.awaitTermination()
    kept = spark.read.parquet(out)
    if not verify:
        # rider-free arm (perfbench): source→foreachBatch dedup→sink is
        # the operator; the rerun-idempotence pass below is the proof
        return kept.select("doc_id").withColumn("src", F.lit("stream_kept"))
    rerun, _ = DD.minhash_dedup_incremental(batch, idx, "text", "doc_id")
    idempotent = rerun.agg((F.count(F.lit(1)) == F.lit(0)).alias("idempotent_ok"))
    return (
        kept.select("doc_id")
        .crossJoin(F.broadcast(idempotent))
        .withColumn("src", F.lit("stream_kept"))
    )


@query(
    "ns_text_stats",
    note="token counting, punctuation/digit profiling, language-ID "
    "heuristic, quality score — all JVM-side column expressions",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
), hits AS (
  SELECT doc_id, text, toks,
    len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','that','for','with','a'], t))) AS h_en,
    len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','un','los','por','una'], t))) AS h_es,
    len(list_filter(toks, t -> list_contains(['der','die','und','das','nicht','von','ist','mit','den','ein'], t))) AS h_de,
    len(list_filter(toks, t -> list_contains(['le','la','les','des','est','une','dans','pour','que','sur'], t))) AS h_fr
  FROM base
)
SELECT doc_id,
       len(toks) AS n_tokens,
       length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
       round(length(regexp_replace(text, '[^0-9]', '', 'g'))
             / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS digit_ratio,
       round(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a,b) -> a+b)
             / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS mean_tok_len,
       h_en AS en_stopword_hits,
       CASE WHEN h_en = greatest(h_en,h_es,h_de,h_fr) AND greatest(h_en,h_es,h_de,h_fr) > 0 THEN 'en'
            WHEN h_es = greatest(h_en,h_es,h_de,h_fr) AND greatest(h_en,h_es,h_de,h_fr) > 0 THEN 'es'
            WHEN h_de = greatest(h_en,h_es,h_de,h_fr) AND greatest(h_en,h_es,h_de,h_fr) > 0 THEN 'de'
            WHEN h_fr = greatest(h_en,h_es,h_de,h_fr) AND greatest(h_en,h_es,h_de,h_fr) > 0 THEN 'fr'
            ELSE 'und' END AS lang_guess,
       round(greatest(least(
           0.5 * least(len(toks) / 50.0, 1.0)
         + 0.5 * least(h_en / 5.0, 1.0)
         - length(regexp_replace(text, '[^0-9]', '', 'g'))
             / CAST(greatest(length(text), 1) AS DOUBLE),
         1.0), 0.0), 6) AS quality
FROM hits
""",
    tags=("northstar", "text"),
)
def ns_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.punct_count("text").alias("n_punct"),
        F.round(TX.digit_ratio("text"), 6).alias("digit_ratio"),
        F.round(TX.mean_token_length("text"), 6).alias("mean_tok_len"),
        TX.stopword_hits("text", "en").alias("en_stopword_hits"),
        TX.language_id("text").alias("lang_guess"),
        TX.quality_score("text").alias("quality"),
    )


@query(
    "ns_text_language_profile",
    note="corpus profile: docs + mean quality per detected language",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
), hits AS (
  SELECT doc_id, text, toks,
    len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','that','for','with','a'], t))) AS h_en,
    len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','un','los','por','una'], t))) AS h_es,
    len(list_filter(toks, t -> list_contains(['der','die','und','das','nicht','von','ist','mit','den','ein'], t))) AS h_de,
    len(list_filter(toks, t -> list_contains(['le','la','les','des','est','une','dans','pour','que','sur'], t))) AS h_fr
  FROM base
), scored AS (
  SELECT doc_id,
       CASE WHEN h_en = greatest(h_en,h_es,h_de,h_fr) AND greatest(h_en,h_es,h_de,h_fr) > 0 THEN 'en'
            WHEN h_es = greatest(h_en,h_es,h_de,h_fr) AND greatest(h_en,h_es,h_de,h_fr) > 0 THEN 'es'
            WHEN h_de = greatest(h_en,h_es,h_de,h_fr) AND greatest(h_en,h_es,h_de,h_fr) > 0 THEN 'de'
            WHEN h_fr = greatest(h_en,h_es,h_de,h_fr) AND greatest(h_en,h_es,h_de,h_fr) > 0 THEN 'fr'
            ELSE 'und' END AS lang_guess,
       round(greatest(least(
           0.5 * least(len(toks) / 50.0, 1.0)
         + 0.5 * least(h_en / 5.0, 1.0)
         - length(regexp_replace(text, '[^0-9]', '', 'g'))
             / CAST(greatest(length(text), 1) AS DOUBLE),
         1.0), 0.0), 6) AS quality
  FROM hits
)
SELECT lang_guess, COUNT(*) AS n_docs,
       CAST(SUM(CAST(quality AS DECIMAL(10,6))) AS DOUBLE) / COUNT(*) AS mean_quality
FROM scored GROUP BY lang_guess
""",
    tags=("northstar", "text", "agg"),
)
def ns_text_language_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = t(spark, sf_dir, "documents").select(
        TX.language_id("text").alias("lang_guess"),
        TX.quality_score("text").alias("quality"),
    )
    return scored.groupBy("lang_guess").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("quality").cast("decimal(10,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_quality"),
    )


@query(
    "ns_token_count_bpe",
    note="BPE-ish subword token counting via regexp_count (word pieces "
    "+ single digits + punctuation runs) next to whitespace tokens",
    oracle=f"""
SELECT doc_id,
       len({_TOKS}) AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]+')) AS n_bpe_ish
FROM documents
""",
    tags=("northstar", "text"),
)
def ns_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        TX.token_count("text").alias("n_ws_tokens"),
        TX.bpe_ish_token_count("text").alias("n_bpe_ish"),
    )


def _emb_with_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings ∪ planted near-duplicates.

    The testdata embeddings are i.i.d. random (max pairwise cosine ≈
    0.55 — no true near-dups), so the dedup queries plant one for each
    vector: a copy (vec_id + 100000) with even dims × 0.8 and odd dims
    × 1.2. With norm fraction f in the scaled-up dims the pair's cosine
    is (0.8 + 0.4 f) / sqrt(0.64 + 0.8 f), minimized at f = 1/2 →
    cos ∈ [0.9806, 1.0] for EVERY vector, while cross pairs stay below
    0.55 — a deterministic, engine-agnostic near-dup fixture.
    """
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * F.when(i % 2 == 0, F.lit(0.8)).otherwise(F.lit(1.2)),
        ).alias("embedding"),
    )
    return emb.unionByName(planted)


#: DuckDB mirror of :func:`_emb_with_planted` (1-based positions: DuckDB
#: pos 1 ↔ Spark index 0, so odd positions get the 0.8 factor).
_EMB_PLANTED_SQL = """
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(list_zip(CAST(embedding AS DOUBLE[]),
                                 range(1, len(embedding)+1)),
                        s -> s[1] * CASE WHEN s[2] % 2 = 1 THEN 0.8 ELSE 1.2 END)
  FROM embeddings
"""


@query(
    "ns_dedup_embedding_cosine",
    note="exact embedding-cosine near-dup pairs (>= 0.9) over the corpus "
    "with planted near-dups, precomputed norms + one dot fold per pair; "
    "exact baseline — the LSH variant below is the scale path",
    oracle=f"""
WITH base AS ({_EMB_PLANTED_SQL}),
v AS (
  SELECT vec_id, ev,
         sqrt(list_reduce(list_transform(ev, x -> x*x), (a,b) -> a+b)) AS nrm
  FROM base
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_reduce(list_transform(range(1, len(a.ev)+1),
                                        i -> a.ev[i]*b.ev[i]), (x,y) -> x+y)
             / (a.nrm * b.nrm), 8) AS cos_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_reduce(list_transform(range(1, len(a.ev)+1),
                                       i -> a.ev[i]*b.ev[i]), (x,y) -> x+y)
            / (a.nrm * b.nrm), 8) >= 0.9
""",
    tags=("northstar", "dedup", "similarity"),
)
def ns_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.embedding_cosine_pairs(
        _emb_with_planted(spark, sf_dir), "embedding", "vec_id", threshold=0.9
    )


@query(
    "ns_dedup_embedding_cosine_lsh",
    note="scale path for embedding near-dup: candidate pairs confined to "
    "sign-LSH (table, bucket) equi-join buckets — one shuffle, never "
    "O(n²). planes/tables are AUTO-SIZED from one corpus count "
    "(operators/dedup.py lsh_auto_params): planes keeps expected "
    "bucket occupancy constant as the corpus grows, tables is solved "
    "in closed form from the Charikar collision probability to hold "
    "the recall target — candidate volume stays linear at any scale "
    "(a fixed planes is a constant bucket count; the 128x probe "
    "OOM'd it). Bucket-dependent → rows-only; self-verifying: emits "
    "recall_vs_exact/recall_ok vs the exact block-matmul kernel "
    "restricted to a FIXED 400-vector window (vec_id < 200 plus its "
    "planted twins at 100000+i — O(1) in corpus size, so the scale "
    "path stays O(n) end-to-end), ≥ 0.7 in-query (tests assert ≥ 0.8 "
    "corpus-wide; the floor is looser because LSH recall is "
    "data-dependent). Every emitted pair also re-scores cosine "
    "exactly, so precision is 1.0 by construction — recall is the one "
    "quantity only a rider can witness",
    tags=("northstar", "dedup", "similarity", "lsh"),
    bench_fn=lambda s, d: ns_dedup_embedding_cosine_lsh(s, d, verify=False),
)
def ns_dedup_embedding_cosine_lsh(
    spark: SparkSession, sf_dir: str, verify: bool = True
) -> DataFrame:
    from spotify_app_etl_spark.operators.persist import scoped_persist

    emb = _emb_with_planted(spark, sf_dir)
    if not verify:
        # rider-free arm (perfbench): the bucketed LSH pair join is the
        # operator; the windowed exact block-matmul pass is the proof
        return DD.embedding_cosine_pairs_lsh(
            emb, "embedding", "vec_id", threshold=0.9, planes="auto", tables="auto"
        )
    # Persisted: the LSH pair frame feeds both the output and the
    # recall scalar (see ns_dedup_minhash_pairs).
    lsh = scoped_persist(
        DD.embedding_cosine_pairs_lsh(
            emb, "embedding", "vec_id", threshold=0.9, planes="auto", tables="auto"
        )
    )
    # Exact pass over a constant window: _emb_with_planted plants each
    # near-dup as (i, 100000+i), so the window holds 200 original
    # vectors and their 200 twins — 400 vectors, O(1) in corpus size.
    sample = emb.filter(
        (F.col("vec_id") < 200)
        | ((F.col("vec_id") >= 100000) & (F.col("vec_id") < 100200))
    )
    exact = DD.embedding_cosine_pairs(sample, "embedding", "vec_id", threshold=0.9)
    in_win = lambda c: (c < 200) | ((c >= 100000) & (c < 100200))
    return lsh.crossJoin(
        F.broadcast(_recall_scalar(exact, _pairs_in(lsh, in_win)))
    ).withColumn("recall_ok", F.col("recall_vs_exact") >= 0.7)


@query(
    "ns_dedup_semantic",
    note="SemDeDup (Abbas et al. 2023): semantic near-dup removal via "
    "KMeans cells + within-cell dense-cosine pairs, keeping each dup "
    "group's LEAST-central member (operators/dedup.py semantic_dedup). "
    "Where the LSH sibling buckets by random projections, this buckets "
    "by LEARNED structure — n_cells is AUTO-SIZED from one corpus "
    "count to constant expected cell occupancy (the paper's own "
    "sizing: 50k cells for 100M+ docs; a fixed n_cells makes "
    "within-cell pair work quadratic in the corpus — the 128x probe "
    "measured 89x time for 128x rows at n_cells=8 vs ~9x with cells "
    "scaled). Centroid-dependent → "
    "rows-only; self-verifying: recall_vs_exact vs the exact kernel on "
    "the FIXED 400-vector window ≥ 0.6 (cells drop cross-cell pairs by "
    "design; n_cells=1 == exact equality is asserted in "
    "tests/test_semantic_dedup.py), and kept_plus_lost_ok asserts "
    "kept + dropped == corpus (the anti-join loses nobody silently)",
    tags=("northstar", "dedup", "semantic"),
    bench_fn=lambda s, d: ns_dedup_semantic(s, d, verify=False),
)
def ns_dedup_semantic(
    spark: SparkSession, sf_dir: str, verify: bool = True
) -> DataFrame:
    from spotify_app_etl_spark.operators.persist import scoped_persist

    emb = _emb_with_planted(spark, sf_dir)
    pairs = scoped_persist(
        DD.semantic_dedup_pairs(
            emb, "embedding", "vec_id", threshold=0.9, n_cells="auto"
        )
    )
    # keep = least_central over the SAME persisted pair frame (the
    # expensive KMeans + per-cell matmul runs once for pairs, kept AND
    # the rider); the policy lives in ONE place — dedup.semantic_losers
    losers = DD.semantic_losers(pairs, "vec_id", keep="least_central")
    kept = DD.semantic_dedup(emb, "embedding", "vec_id", pairs=pairs)
    if not verify:
        # rider-free arm (perfbench): KMeans + cell-scoped pair scoring +
        # the keep-policy anti-join is the operator; the exact-kernel
        # recall and conservation counts below are the driver's proof
        return kept.select("vec_id")
    counts = kept.agg(F.count(F.lit(1)).alias("__nk")).crossJoin(
        losers.agg(F.count(F.lit(1)).alias("__nl"))
    ).crossJoin(emb.agg(F.count(F.lit(1)).alias("__na")))
    conserved = counts.select(
        (F.col("__nk") + F.col("__nl") == F.col("__na")).alias("kept_plus_lost_ok")
    )
    # recall rider over the same fixed window as the LSH sibling
    sample = emb.filter(
        (F.col("vec_id") < 200)
        | ((F.col("vec_id") >= 100000) & (F.col("vec_id") < 100200))
    )
    exact = DD.embedding_cosine_pairs(sample, "embedding", "vec_id", threshold=0.9)
    in_win = lambda c: (c < 200) | ((c >= 100000) & (c < 100200))
    return (
        kept.select("vec_id")
        .crossJoin(F.broadcast(_recall_scalar(exact, _pairs_in(pairs, in_win))))
        .crossJoin(F.broadcast(conserved))
        .withColumn("recall_ok", F.col("recall_vs_exact") >= 0.6)
    )


@query(
    "ns_mm_metadata",
    note="multimodal table: opaque binary payload + typed metadata; "
    "metadata-only queries never touch payload bytes (column pruning)",
    oracle="""
SELECT doc_id,
       'fake/rgb8' AS format,
       octet_length(encode(text)) AS n_bytes,
       CAST(doc_id % 640 + 1 AS INT) AS width,
       CAST(doc_id % 480 + 1 AS INT) AS height,
       sha256(text) AS payload_sha256
FROM documents
""",
    tags=("northstar", "multimodal"),
)
def ns_mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = MM.documents_as_binary(t(spark, sf_dir, "documents"))
    return mm.select(
        "doc_id",
        F.col("meta.format").alias("format"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.sha2("payload", 256).alias("payload_sha256"),
    )


@query(
    "ns_mm_features",
    note="Arrow-batched mapInPandas decode/feature stage (deterministic "
    "fake decoder — real codecs absent; plumbing is real). "
    "Oracle-checked since r07: the fake decoder is pure byte "
    "statistics over the UTF-8 payload, so DuckDB replays it exactly — "
    "bytes materialize via hex-nibble parsing of hex(encode(text)) "
    "(general, no ASCII assumption), byte_mean is an exact integer-sum "
    "division on both engines (bit-identical, no rounding needed). "
    "Self-verifying rider kept: bytes_ok cross-checks the Arrow kernel "
    "against the JVM within the FIXED doc_id < 1000 window — n_bytes "
    "must equal octet_length(payload) computed JVM-side, and byte_min "
    "≤ byte_mean ≤ byte_max — so a truncated Arrow batch or payload/"
    "doc_id misalignment flips it (the oracle emits the trivially-true "
    "literal; a Spark-side false hashes differently and flags).",
    oracle="""
WITH b AS (
  SELECT doc_id, lower(hex(encode(text))) AS h,
         octet_length(encode(text)) AS n
  FROM documents
), bytes AS (
  SELECT doc_id, n, h,
    list_transform(range(1, n + 1),
      i -> (strpos('0123456789abcdef', substr(h, CAST(2*i-1 AS INT), 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(h, CAST(2*i AS INT), 1)) - 1)) AS bs
  FROM b
)
SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
  CASE WHEN n = 0 THEN 0.0 ELSE CAST(list_sum(bs) AS DOUBLE) / n END AS byte_mean,
  CAST(CASE WHEN n = 0 THEN 0 ELSE list_min(bs) END AS INT) AS byte_min,
  CAST(CASE WHEN n = 0 THEN 0 ELSE list_max(bs) END AS INT) AS byte_max,
  CAST(len(list_distinct(bs)) AS INT) AS n_distinct_bytes,
  substr(h, 1, 16) AS head_hex,
  TRUE AS bytes_ok
FROM bytes
""",
    tags=("northstar", "multimodal", "pandas-udf"),
)
def ns_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_app_etl_spark.operators.persist import scoped_persist

    mm = MM.documents_as_binary(t(spark, sf_dir, "documents"))
    feats = scoped_persist(MM.extract_features(mm))
    jvm = mm.filter(F.col("doc_id") < 1000).select(
        "doc_id", F.col("meta.n_bytes").alias("__jvm_bytes")
    )
    bad = (
        F.col("n_bytes") != F.col("__jvm_bytes")
    ) | (F.col("byte_min") > F.col("byte_mean")) | (
        F.col("byte_mean") > F.col("byte_max")
    )
    chk = (
        feats.filter(F.col("doc_id") < 1000)
        .join(F.broadcast(jvm), "doc_id")
        .agg((F.count(F.when(bad, 1)) == F.lit(0)).alias("bytes_ok"))
    )
    return feats.crossJoin(F.broadcast(chk))


@query(
    "ns_mm_frame_sample",
    note="frame sampling over 'video' payloads: mapInPandas explode "
    "(row-count-changing). Oracle-checked since r07: frame slicing + "
    "sha256 replay exactly in DuckDB — its sha256 only takes VARCHAR, "
    "so the oracle slices the text by characters, which equals byte "
    "slicing because the testdata corpus is pure ASCII (verified "
    "octet_length == length at every sf; non-ASCII data would hash-"
    "mismatch loudly, not silently pass). Self-verifying rider kept: "
    "counts_ok recomputes the expected kept-frame count JVM-side from "
    "meta.n_bytes (ceil(ceil(n/256)/4)) for every doc in the FIXED "
    "doc_id < 1000 window and asserts the exploded output matches "
    "doc-by-doc — a kernel that drops or duplicates frames, or "
    "misaligns payloads across an Arrow batch, flips it. Windowed so "
    "the verification groupBy/join never shuffles the full corpus",
    oracle="""
WITH b AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
), f AS (
  SELECT doc_id, text, n,
         unnest(range(0, CAST(ceil(n / 256.0) AS BIGINT), 4)) AS frame_idx
  FROM b
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(least(256, n - frame_idx * 256) AS BIGINT) AS frame_bytes,
       substr(sha256(substr(text, CAST(frame_idx * 256 + 1 AS BIGINT), 256)),
              1, 16) AS frame_hash,
       TRUE AS counts_ok
FROM f
""",
    tags=("northstar", "multimodal", "pandas-udf"),
)
def ns_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_app_etl_spark.operators.persist import scoped_persist

    mm = MM.documents_as_binary(t(spark, sf_dir, "documents"))
    frames = scoped_persist(MM.sample_frames(mm))
    got = (
        frames.filter(F.col("doc_id") < 1000)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__got"))
    )
    want = mm.filter(F.col("doc_id") < 1000).select(
        "doc_id",
        F.ceil(F.ceil(F.col("meta.n_bytes") / 256) / 4).alias("__want"),
    )
    chk = (
        want.join(F.broadcast(got), "doc_id", "left")
        .agg(
            (
                F.count(F.when(F.coalesce("__got", F.lit(0)) != F.col("__want"), 1))
                == F.lit(0)
            ).alias("counts_ok")
        )
    )
    return frames.crossJoin(F.broadcast(chk))


@query(
    "ns_doc_fingerprint",
    note="polynomial rolling-hash fingerprint (mod 2^31-1), left fold "
    "over normalized characters — exact SQL mirror via list_reduce",
    oracle="""
WITH norm AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
  FROM documents
)
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, greatest(length(nt), 1) + 1),
                          i -> CAST(greatest(unicode(nt[i]), 0) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % 2147483647) AS fingerprint
FROM norm
""",
    tags=("northstar", "text", "hash"),
)
def ns_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", DD.normalized("text").alias("__norm"))
        .select(
            "doc_id",
            TX.fingerprint("__norm", assume_normalized=True).alias("fingerprint"),
        )
    )


@query(
    "ns_pipeline_training_prep",
    note="composed training-data prep: language filter → quality gate "
    "→ exact dedup (min-id representative per normalized content) → "
    "per-doc stats. One pass of column expressions, one window on the "
    "content key (the dedup shuffle), no Python.",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text,
         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm,
         {_TOKS} AS toks
  FROM documents
), hits AS (
  SELECT doc_id, text, norm, toks,
    len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','that','for','with','a'], t))) AS h_en,
    len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','un','los','por','una'], t))) AS h_es,
    len(list_filter(toks, t -> list_contains(['der','die','und','das','nicht','von','ist','mit','den','ein'], t))) AS h_de,
    len(list_filter(toks, t -> list_contains(['le','la','les','des','est','une','dans','pour','que','sur'], t))) AS h_fr
  FROM base
), scored AS (
  SELECT doc_id, norm, len(toks) AS n_tokens,
       CASE WHEN h_en = greatest(h_en,h_es,h_de,h_fr) AND greatest(h_en,h_es,h_de,h_fr) > 0 THEN 'en'
            WHEN h_es = greatest(h_en,h_es,h_de,h_fr) AND greatest(h_en,h_es,h_de,h_fr) > 0 THEN 'es'
            WHEN h_de = greatest(h_en,h_es,h_de,h_fr) AND greatest(h_en,h_es,h_de,h_fr) > 0 THEN 'de'
            WHEN h_fr = greatest(h_en,h_es,h_de,h_fr) AND greatest(h_en,h_es,h_de,h_fr) > 0 THEN 'fr'
            ELSE 'und' END AS lang_guess,
       round(greatest(least(
           0.5 * least(len(toks) / 50.0, 1.0)
         + 0.5 * least(h_en / 5.0, 1.0)
         - length(regexp_replace(text, '[^0-9]', '', 'g'))
             / CAST(greatest(length(text), 1) AS DOUBLE),
         1.0), 0.0), 6) AS quality
  FROM hits
), gated AS (
  SELECT * FROM scored WHERE lang_guess = 'en' AND quality >= 0.3
), ranked AS (
  SELECT doc_id, n_tokens, quality,
         ROW_NUMBER() OVER (PARTITION BY norm ORDER BY doc_id) AS rn,
         COUNT(*)    OVER (PARTITION BY norm) AS n_copies
  FROM gated
)
SELECT doc_id, n_tokens, quality, n_copies
FROM ranked WHERE rn = 1
""",
    tags=("northstar", "text", "dedup", "pipeline"),
)
def ns_pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        DD.normalized("text").alias("__norm"),
        TX.token_count("text").alias("n_tokens"),
        TX.language_id("text").alias("lang_guess"),
        TX.quality_score("text").alias("quality"),
    )
    gated = scored.filter(
        (F.col("lang_guess") == "en") & (F.col("quality") >= 0.3)
    )
    w = W.partitionBy("__norm")
    ranked = gated.select(
        "doc_id",
        "n_tokens",
        "quality",
        F.row_number().over(w.orderBy("doc_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )
    return ranked.filter(F.col("rn") == 1).drop("rn")


@query(
    "ns_sim_range_search",
    note="exact cosine range search (all neighbors ≥ 0.25, self "
    "excluded) for query vectors vec_id % 97 = 0: same bit-exact "
    "broadcast kernel as ns_sim_topk_bruteforce but filter-defined — "
    "no rank window, no shuffle beyond the broadcast; the scale path "
    "drops the same threshold into the LSH candidate stream",
    oracle="""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 97 = 0
), c AS (
  SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
)
SELECT query_id, corpus_id,
       round(
         list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*cv[i]), (a,b) -> a+b)
         / (sqrt(list_reduce(list_transform(qv, x -> x*x), (a,b) -> a+b))
            * sqrt(list_reduce(list_transform(cv, x -> x*x), (a,b) -> a+b))), 8) AS cos_sim
FROM c CROSS JOIN q
WHERE query_id != corpus_id
  AND round(
        list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*cv[i]), (a,b) -> a+b)
        / (sqrt(list_reduce(list_transform(qv, x -> x*x), (a,b) -> a+b))
           * sqrt(list_reduce(list_transform(cv, x -> x*x), (a,b) -> a+b))), 8) >= 0.25
""",
    tags=("northstar", "similarity", "range-search"),
)
def ns_sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return SIM.cosine_range_search(
        emb.filter(F.col("vec_id") % 97 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        emb.select(F.col("vec_id").alias("corpus_id"), "embedding"),
        threshold=0.25,
    )


@query(
    "ns_doc_winnowing",
    note="winnowing fingerprints (Schleimer et al. 2003): distinct "
    "window-4 minima of char-8-gram rolling hashes — any shared "
    "substring of length ≥ 11 yields a shared fingerprint; staged "
    "projections keep every array a per-row attribute (zero shuffle); "
    "same (acc*31+c) mod-2^31-1 fold as ns_doc_fingerprint",
    oracle="""
WITH norm AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
  FROM documents
), cps AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(nt), 1) + 1),
                        i -> CAST(greatest(unicode(nt[i]), 0) AS BIGINT)) AS cp
  FROM norm
), gh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(cp) - 7, 1) + 1),
                        i -> list_reduce(list_prepend(CAST(0 AS BIGINT), cp[i:i+7]),
                                         (a, c) -> (a * 31 + c) % 2147483647)) AS g
  FROM cps
), wins AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(g) - 3, 1) + 1),
                        j -> list_aggregate(g[j:j+3], 'min')) AS w
  FROM gh
)
SELECT doc_id, unnest(list_distinct(w)) AS fp FROM wins
""",
    tags=("northstar", "text", "hash", "fingerprint"),
)
def ns_doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.winnowing_fingerprints(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=8, window=4
    )


@query(
    "ns_mm_phash_pairs",
    note="perceptual-hash near-dup over binary payloads: 64-bit dHash "
    "(byte-grid cell means → neighbor-difference bits) per payload via "
    "one Arrow crossing, then the SimHash 4×16-bit pigeonhole banding "
    "— complete for Hamming ≤ 3 without all-pairs. The corpus has no "
    "byte-level near-dups, so every 7th doc gets a planted copy with "
    "every 97th char flipped (same length — dHash cell strides are "
    "length-relative, so in-place edits move few bits while an "
    "append shifts all of them). Oracle-checked since r07: the dHash "
    "is pure integer/exact-division math over UTF-8 bytes, so DuckDB "
    "replays it (nibble-parsed bytes → 72 stride-mean cells → 64 "
    "neighbor bits → lo/hi 32-bit words) and emits the BRUTE-FORCE "
    "all-pairs Hamming ≤ 3 set — a hash match is a machine-checked "
    "proof the radius-derived banding lost no pair, the same "
    "completeness contract as the fuzzy-match oracles. "
    "Self-verifying rider kept: recall_vs_exact vs an exact all-pairs "
    "pass over the FIXED window must be EXACTLY 1.0 (O(1)-bounded "
    "broadcast NLJ)",
    oracle="""
WITH corpus AS (
  SELECT doc_id, lower(hex(encode(text))) AS h, octet_length(encode(text)) AS n
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, lower(hex(encode(text))) AS h,
         octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 7 = 0
), bytes AS (
  -- planted copies flip every 97th byte to 'z' (122); the corpus is
  -- ASCII so byte edits == the Spark side's char edits
  SELECT doc_id, n,
    list_transform(range(1, n + 1),
      i -> CASE
             WHEN doc_id >= 1000000 AND (i - 1) % 97 = 0 THEN 122
             ELSE (strpos('0123456789abcdef', substr(h, CAST(2*i-1 AS INT), 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(h, CAST(2*i AS INT), 1)) - 1)
           END) AS bs
  FROM corpus
), cells AS (
  -- 72 equal-width stride cells: mean byte per cell, exact
  -- integer-sum / count division (bit-identical to numpy). Empty
  -- payloads are KEPT (greatest(n, 1) divisor, coalesced sum): all
  -- cells 0 -> all bits false -> the all-zero signature, matching the
  -- Spark side's dhash64(b'') = 0 convention, so an empty doc pairs
  -- identically on both sides instead of silently vanishing here
  SELECT doc_id,
    list_transform(range(0, 72), j ->
      CAST(coalesce(list_sum(list_transform(range(1, n + 1),
             i -> CASE WHEN ((i-1) * 72) // greatest(n, 1) = j
                       THEN bs[CAST(i AS INT)] ELSE 0 END)), 0) AS DOUBLE)
      / greatest(len(list_filter(range(1, n + 1),
             i -> ((i-1) * 72) // greatest(n, 1) = j)), 1)) AS cl
  FROM bytes
), bits AS (
  SELECT doc_id,
    list_transform(range(0, 64),
      k -> cl[CAST((k // 8) * 9 + (k % 8) + 1 AS INT)]
         > cl[CAST((k // 8) * 9 + (k % 8) + 2 AS INT)]) AS bl
  FROM cells
), sig AS (
  SELECT doc_id,
    list_sum(list_transform(range(1, 33),
      i -> CASE WHEN bl[CAST(i AS INT)]
                THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INT)) ELSE 0 END)) AS lo,
    list_sum(list_transform(range(33, 65),
      i -> CASE WHEN bl[CAST(i AS INT)]
                THEN (CAST(1 AS BIGINT) << CAST(i - 33 AS INT)) ELSE 0 END)) AS hi
  FROM bits
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT)
         AS hamming,
       1.0 AS recall_vs_exact,
       TRUE AS recall_ok
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
""",
    tags=("northstar", "multimodal", "dedup"),
    bench_fn=lambda s, d: ns_mm_phash_pairs(s, d, verify=False),
)
def ns_mm_phash_pairs(
    spark: SparkSession, sf_dir: str, verify: bool = True
) -> DataFrame:
    from spotify_app_etl_spark.operators.persist import scoped_persist

    docs = t(spark, sf_dir, "documents")
    edited = F.concat_ws(
        "",
        F.transform(
            F.split(F.col("text"), ""),
            lambda c, i: F.when(i % 97 == 0, F.lit("z")).otherwise(c),
        ),
    )
    planted = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), edited.alias("text")
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    if not verify:
        # rider-free arm (perfbench): dHash + banded join + exact
        # Hamming filter is the operator; the windowed all-pairs
        # recall pass is the proof
        return MM.phash_near_dup_pairs(
            MM.documents_as_binary(corpus), max_hamming=3
        )
    # Persisted: the banded self-join feeds both the output and the
    # recall scalar (same rationale as ns_dedup_simhash_pairs).
    cand = scoped_persist(
        MM.phash_near_dup_pairs(MM.documents_as_binary(corpus), max_hamming=3)
    )
    window = corpus.filter(
        (F.col("doc_id") < 1000)
        | ((F.col("doc_id") >= 1000000) & (F.col("doc_id") < 1001000))
    )
    sig = MM.perceptual_hashes(MM.documents_as_binary(window))
    exact = (
        sig.select(F.col("doc_id").alias("id_a"), F.col("phash").alias("p_a"))
        .join(
            F.broadcast(
                sig.select(F.col("doc_id").alias("id_b"), F.col("phash").alias("p_b"))
            ),
            F.col("id_a") < F.col("id_b"),
        )
        .filter(F.bit_count(F.col("p_a").bitwiseXOR(F.col("p_b"))) <= 3)
        .select("id_a", "id_b")
    )
    in_win = lambda c: (c < 1000) | ((c >= 1000000) & (c < 1001000))
    return cand.crossJoin(
        F.broadcast(_recall_scalar(exact, _pairs_in(cand, in_win)))
    ).withColumn("recall_ok", F.col("recall_vs_exact") == 1.0)


@query(
    "ns_streaming_cms_ingest",
    note="STREAMING frequency-sketch maintenance under the driver's "
    "eye: bootstrap the persisted CMS from the even-id docs' tokens, "
    "stream the odd-id docs' tokens through trigger(availableNow) "
    "foreachBatch merges (operators.cms.cms_ingest_batch — "
    "generation-committed, last_batch-idempotent under retries), then "
    "probe the final sketch for the exact top-20 tokens of the FULL "
    "corpus. Rows-only (hash-layout-defined estimates); "
    "self-verifying: lower_ok pins the CMS one-sided guarantee "
    "against full-corpus exact counts, and merge_exact_ok asserts the "
    "streamed-and-merged sketch is row-identical to a one-shot batch "
    "build over the whole corpus — the merge-of-parts == "
    "sketch-of-union law, end to end through the streaming machinery.",
    tags=("northstar", "sketch", "cms", "streaming"),
)
def ns_streaming_cms_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_app_etl_spark.operators.cms import (
        cms_build,
        cms_estimate,
        cms_ingest_batch,
        cms_state_read,
    )
    from spotify_app_etl_spark.operators.persist import scoped_persist
    from spotify_app_etl_spark.streaming import jobs as SJ

    depth, width = 4, 2048
    docs = t(spark, sf_dir, "documents")
    tok = scoped_persist(
        docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))
    )
    root = _scratch_index_dir(spark, "stream_cms")
    sk, src, ckpt = f"{root}/sketch", f"{root}/src", f"{root}/ckpt"
    # bootstrap: the even-id history merges as one batch job…
    cms_ingest_batch(tok.filter(F.col("doc_id") % 2 == 0), sk, "tok", depth, width)
    # …the odd-id delta arrives as a stream
    batch = tok.filter(F.col("doc_id") % 2 == 1).select("tok")
    batch.write.parquet(src)
    q = SJ.streaming_cms_ingest(
        spark.readStream.schema(batch.schema).parquet(src),
        sk,
        ckpt,
        "tok",
        depth=depth,
        width=width,
        available_now=True,
    )
    q.awaitTermination()
    sketch, _ = cms_state_read(spark, sk)
    whole = cms_build(tok, "tok", depth=depth, width=width)
    mismatches = (
        sketch.join(whole, ["d", "bucket"], "full")
        .filter(
            (sketch["cnt"].isNull())
            | (whole["cnt"].isNull())
            | (sketch["cnt"] != whole["cnt"])
        )
        .agg((F.count(F.lit(1)) == F.lit(0)).alias("merge_exact_ok"))
    )
    exact_top = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), "tok")
        .limit(20)
    )
    return (
        cms_estimate(sketch, exact_top, "tok", depth=depth, width=width)
        .withColumn("lower_ok", F.col("est") >= F.col("n_exact"))
        .crossJoin(F.broadcast(mismatches))
        .orderBy(F.desc("n_exact"), "tok")
    )
