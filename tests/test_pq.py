"""Product-quantization ANN (operators/similarity.py PQ section):
exactness when the shortlist is exhaustive, recall when it is not,
determinism of the codebooks, and the NULL/NaN/shape guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_app_etl_spark.io import load_table
from spotify_app_etl_spark.operators import similarity as SIM

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


def _qc(emb, nq=10):
    q = emb.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    return q, c


def test_pq_full_refine_equals_bruteforce(spark, emb):
    """With refine >= |corpus| the ADC stage cannot drop anything, so
    the exact re-rank must equal brute force bit-for-bit (same scoring
    kernel, rounding and tie-breaks)."""
    q, c = _qc(emb)
    n = c.count()
    bf = sorted(
        (r.query_id, r.corpus_id, r.rank, r.cos_sim)
        for r in SIM.cosine_topk_bruteforce(q, c, k=5).collect()
    )
    pq = sorted(
        (r.query_id, r.corpus_id, r.rank, r.cos_sim)
        for r in SIM.cosine_topk_pq(q, c, k=5, refine=n).collect()
    )
    assert pq == bf


def test_pq_shortlist_recall(spark, emb):
    """A bounded ADC shortlist must still recover most true neighbors —
    and every returned score is EXACT cosine (subset of the brute-force
    scored universe), because re-ranking uses the raw vectors."""
    q, c = _qc(emb, nq=20)
    bf = {
        (r.query_id, r.corpus_id): r.cos_sim
        for r in SIM.cosine_topk_bruteforce(q, c, k=5).collect()
    }
    pq = {
        (r.query_id, r.corpus_id): r.cos_sim
        for r in SIM.cosine_topk_pq(q, c, k=5, refine=64).collect()
    }
    recall = len(set(bf) & set(pq)) / len(bf)
    assert recall >= 0.7, f"PQ recall {recall}"
    for pair in set(bf) & set(pq):
        assert bf[pair] == pq[pair], pair  # exact re-rank, not ADC estimate


def test_pq_train_deterministic_codes_bounded(spark, emb):
    import numpy as np

    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    b1 = SIM.pq_train(c, m=8, ksub=16, seed=7)
    b2 = SIM.pq_train(c, m=8, ksub=16, seed=7)
    assert np.array_equal(b1, b2)
    assert b1.shape == (8, 16, 8)  # dim 64 → dsub 8
    codes = (
        c.select(SIM._pq_encode_arrow(b1)(F.col("embedding").cast("array<double>")).alias("c"))
        .collect()
    )
    for r in codes:
        assert r.c is not None and len(r.c) == 8
        assert all(0 <= x < 16 for x in r.c)


def test_pq_dim_not_divisible_raises(spark, emb):
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    with pytest.raises(ValueError, match="must divide"):
        SIM.pq_train(c, m=7)


def test_pq_ksub_exceeds_sample_raises(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(4)],
        "corpus_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="training sample"):
        SIM.pq_train(df, m=2, ksub=16)


def test_pq_null_and_nan_vectors_dropped(spark):
    """NULL vectors, element-NULL vectors and NaN vectors must vanish
    from both sides — never a phantom all-zero code row."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, None),
        (3, [1.0, None, 0.0, 0.0]),
        (4, [float("nan"), 0.0, 0.0, 0.0]),
        (5, [0.0, 1.0, 0.0, 0.0]),
        (6, [0.1, 0.9, 0.0, 0.0]),
        (7, [0.5, 0.5, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.select(F.col("vec_id").alias("query_id"), "embedding")
    c = df.select(F.col("vec_id").alias("corpus_id"), "embedding")
    out = SIM.cosine_topk_pq(q, c, k=3, m=2, ksub=4, refine=10).collect()
    ids = {r.query_id for r in out} | {r.corpus_id for r in out}
    assert ids == {0, 1, 5, 6, 7}


# ---------------------------------------------------------------------------
# Persisted PQ index: build/append/probe, commit protocol, param guards.
# ---------------------------------------------------------------------------


def test_pq_index_search_equals_inmemory(spark, emb, tmp_path):
    """Same codebooks (deterministic training sample + seed) → the
    persisted search must equal the in-memory kernel exactly —
    candidates, scores, tie-breaks."""
    q, c = _qc(emb, nq=10)
    idx = str(tmp_path / "pq")
    SIM.pq_index_write(c, idx, m=8, ksub=16, seed=42)
    out = sorted(
        (r.query_id, r.corpus_id, r.rank, r.cos_sim)
        for r in SIM.pq_index_search(spark, q, idx, k=5, refine=64).collect()
    )
    inmem = sorted(
        (r.query_id, r.corpus_id, r.rank, r.cos_sim)
        for r in SIM.cosine_topk_pq(q, c, k=5, refine=64, seed=42).collect()
    )
    assert out == inmem


def test_pq_index_append_then_exhaustive_equals_bruteforce(spark, emb, tmp_path):
    """Build on the even half, append the odd half (encoded under the
    STORED codebooks), then search with refine >= |corpus| — must equal
    brute force over the full corpus."""
    q, c = _qc(emb)
    idx = str(tmp_path / "pq")
    SIM.pq_index_write(c.filter(F.col("corpus_id") % 2 == 0), idx, m=8, ksub=16)
    SIM.pq_index_write(
        c.filter(F.col("corpus_id") % 2 == 1), idx, m=8, ksub=16, mode="append"
    )
    n = c.count()
    out = sorted(
        (r.query_id, r.corpus_id, r.rank, r.cos_sim)
        for r in SIM.pq_index_search(spark, q, idx, k=5, refine=n).collect()
    )
    bf = sorted(
        (r.query_id, r.corpus_id, r.rank, r.cos_sim)
        for r in SIM.cosine_topk_bruteforce(q, c, k=5).collect()
    )
    assert out == bf


def test_pq_index_retried_append_absorbed(spark, emb, tmp_path):
    """A crashed-then-retried append leaves duplicate code/vector rows;
    search-side dedup must absorb them (identical scores — exact)."""
    q, c = _qc(emb)
    idx = str(tmp_path / "pq")
    half = c.filter(F.col("corpus_id") % 2 == 0)
    batch = c.filter(F.col("corpus_id") % 2 == 1)
    SIM.pq_index_write(half, idx, m=8, ksub=16)
    SIM.pq_index_write(batch, idx, m=8, ksub=16, mode="append")
    once = sorted(
        (r.query_id, r.corpus_id, r.rank, r.cos_sim)
        for r in SIM.pq_index_search(spark, q, idx, k=5, refine=64).collect()
    )
    SIM.pq_index_write(batch, idx, m=8, ksub=16, mode="append")  # the retry
    twice = sorted(
        (r.query_id, r.corpus_id, r.rank, r.cos_sim)
        for r in SIM.pq_index_search(spark, q, idx, k=5, refine=64).collect()
    )
    assert twice == once


def test_pq_index_param_guards(spark, emb, tmp_path):
    q, c = _qc(emb)
    idx = str(tmp_path / "pq")
    with pytest.raises(ValueError, match="no PQ index"):
        SIM.pq_index_search(spark, q, idx)
    with pytest.raises(ValueError, match="no PQ index"):
        SIM.pq_index_write(c, idx, mode="append")
    SIM.pq_index_write(c, idx, m=8, ksub=16)
    with pytest.raises(ValueError, match="refusing to append"):
        SIM.pq_index_write(c, idx, m=4, ksub=16, mode="append")
    with pytest.raises(ValueError, match="refusing to append"):
        SIM.pq_index_write(c, idx, m=8, ksub=32, mode="append")
    bad_dim = spark.createDataFrame(
        [(0, [1.0, 0.0])], "corpus_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="refusing to"):
        SIM.pq_index_write(bad_dim, idx, m=2, ksub=1, mode="append")
    with pytest.raises(ValueError, match="refusing to"):
        SIM.pq_index_search(
            spark,
            bad_dim.select(F.col("corpus_id").alias("query_id"), "embedding"),
            idx,
        )


def test_pq_index_rebuild_bumps_generation(spark, emb, tmp_path):
    """A full rebuild writes a NEW generation and commits its record
    last — the crash-consistency protocol shared with the sign-LSH/IVF
    indexes and the persisted CMS."""
    from spotify_app_etl_spark import io

    q, c = _qc(emb)
    idx = str(tmp_path / "pq")
    SIM.pq_index_write(c, idx, m=8, ksub=16)
    m1 = io.read_commit(spark, idx)
    SIM.pq_index_write(c, idx, m=8, ksub=16)
    m2 = io.read_commit(spark, idx)
    assert (m1["gen"], m2["gen"]) == (1, 2)
    out = SIM.pq_index_search(spark, q, idx, k=5, refine=64)
    assert out.count() == 50


def test_pq_books_dim_mismatch_raises(spark, emb):
    """Pre-trained codebooks for a different embedding dim must be
    refused loudly — mismatched books would NULL-encode every vector
    and the shortlist would be arbitrary ids (silently wrong top-k)."""
    import numpy as np

    q, c = _qc(emb)
    bad = np.zeros((8, 16, 4))  # quantizes 32-dim; corpus is 64-dim
    with pytest.raises(ValueError, match="64-dim"):
        SIM.cosine_topk_pq(q, c, k=5, books=bad)


def test_pq_index_books_dim_mismatch_raises(spark, emb, tmp_path):
    import numpy as np

    _, c = _qc(emb)
    bad = np.zeros((8, 16, 4))
    with pytest.raises(ValueError, match="64-dim"):
        SIM.pq_index_write(c, str(tmp_path / "pq"), m=8, ksub=16, books=bad)


def test_pq_zero_vectors_excluded(spark, tmp_path):
    """Zero vectors have no direction: they must never occupy shortlist
    slots (their exact cosine is 0/0 = NaN, which IEEE ordering would
    rank FIRST) — dropped on both sides, in-memory and persisted."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero corpus vector
        (5, [0.0, 1.0, 0.0, 0.0]),
        (6, [0.1, 0.9, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.select(F.col("vec_id").alias("query_id"), "embedding")
    c = df.select(F.col("vec_id").alias("corpus_id"), "embedding")
    out = SIM.cosine_topk_pq(q, c, k=5, m=2, ksub=4, refine=10).collect()
    ids = {r.query_id for r in out} | {r.corpus_id for r in out}
    assert 2 not in ids
    idx = str(tmp_path / "pq")
    SIM.pq_index_write(c, idx, m=2, ksub=4)
    out2 = SIM.pq_index_search(spark, q, idx, k=5, refine=10).collect()
    ids2 = {r.query_id for r in out2} | {r.corpus_id for r in out2}
    assert 2 not in ids2
