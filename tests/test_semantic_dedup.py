"""SemDeDup-style semantic dedup (operators/dedup.py
semantic_dedup_pairs / semantic_dedup): single-cell equivalence to the
exact kernel, recall of the cell-confined pass, keep-policy semantics,
and the input guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_app_etl_spark.io import load_table
from spotify_app_etl_spark.operators import dedup as DD

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    # raw embeddings are i.i.d. (no near-dups); plant them the way the
    # registered dedup queries do (copy at vec_id+100000, cos >= 0.98)
    from spotify_app_etl_spark.plans.northstar import _emb_with_planted

    return _emb_with_planted(spark, SF).cache()


def test_single_cell_equals_exact_kernel(spark, emb):
    """n_cells=1 puts every vector in one cell — the within-cell pass
    must then equal the exact all-pairs kernel bit-for-bit (same
    normalization, rounding, id canonicalization)."""
    exact = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in DD.embedding_cosine_pairs(
            emb, "embedding", "vec_id", threshold=0.9
        ).collect()
    }
    sem = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in DD.semantic_dedup_pairs(
            emb, "embedding", "vec_id", threshold=0.9, n_cells=1
        ).collect()
    }
    assert exact, "fixture should contain cosine>=0.9 near-dup pairs"
    assert sem == exact


def test_cell_confined_recall(spark, emb):
    """Cells bound the candidate universe; cross-cell pairs are missed
    by design but most near-dups co-cluster — recall vs exact must hold
    the bound the registered query's rider uses."""
    exact = {
        (r.id_a, r.id_b)
        for r in DD.embedding_cosine_pairs(
            emb, "embedding", "vec_id", threshold=0.9
        ).collect()
    }
    sem = {
        (r.id_a, r.id_b)
        for r in DD.semantic_dedup_pairs(
            emb, "embedding", "vec_id", threshold=0.9, n_cells=8
        ).collect()
    }
    recall = len(exact & sem) / len(exact)
    assert recall >= 0.6, f"semantic recall {recall} over {len(exact)} pairs"
    assert sem <= exact, "within-cell pairs must be a subset of exact pairs"


def test_blocked_cells_equal_unblocked(spark, emb):
    """A cell larger than max_cell_rows splits into hash blocks and
    scores block-pair by block-pair; the result (including cent_sim
    endpoint alignment) must be identical to the single-block packing —
    blocking is a memory bound, never a semantics change."""

    def run(mcr):
        return {
            (r.id_a, r.id_b, r.cos_sim, r.cent_sim_a, r.cent_sim_b)
            for r in DD.semantic_dedup_pairs(
                emb, "embedding", "vec_id", threshold=0.9, n_cells=4,
                max_cell_rows=mcr,
            ).collect()
        }

    blocked, whole = run(7), run(10_000)
    assert whole, "fixture should contain within-cell near-dup pairs"
    assert blocked == whole
    # and through the degenerate n_cells=1 path too (one cell = the
    # whole corpus — exactly the skew case the blocking exists for)
    one_blocked = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in DD.semantic_dedup_pairs(
            emb, "embedding", "vec_id", threshold=0.9, n_cells=1,
            max_cell_rows=13,
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in DD.embedding_cosine_pairs(
            emb, "embedding", "vec_id", threshold=0.9
        ).collect()
    }
    assert one_blocked == exact

    with pytest.raises(ValueError, match="max_cell_rows"):
        DD.semantic_dedup_pairs(emb, "embedding", "vec_id", max_cell_rows=0)


def test_keep_policies(spark, emb):
    pairs = DD.semantic_dedup_pairs(
        emb, "embedding", "vec_id", threshold=0.9, n_cells=8
    ).collect()
    assert pairs

    kept_min = {
        r.vec_id
        for r in DD.semantic_dedup(
            emb, "embedding", "vec_id", threshold=0.9, n_cells=8, keep="min_id"
        ).collect()
    }
    for p in pairs:
        assert p.id_b not in kept_min  # min_id: higher id always loses

    kept_lc = {
        r.vec_id
        for r in DD.semantic_dedup(
            emb, "embedding", "vec_id", threshold=0.9, n_cells=8
        ).collect()
    }
    for p in pairs:
        # least_central: exactly the more-central endpoint loses this
        # pair (it may survive only if... no — a loser is always dropped)
        loser = (
            p.id_b
            if (p.cent_sim_a, p.id_a) < (p.cent_sim_b, p.id_b)
            else p.id_a
        )
        assert loser not in kept_lc
        # and at least one endpoint of the pair's group survives
    n_all = emb.count()
    assert len(kept_lc) < n_all and len(kept_min) < n_all


def test_string_id_raises(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 0.0])], "doc string, embedding array<double>"
    )
    with pytest.raises(TypeError, match="integer id"):
        DD.semantic_dedup_pairs(df, "embedding", "doc")


def test_null_nan_vectors_dropped(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.99, 0.01]),
        (2, None),
        (3, [float("nan"), 1.0]),
        (4, [1.0, None]),
        (5, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = DD.semantic_dedup_pairs(
        df, "embedding", "vec_id", threshold=0.9, n_cells=2, seed=1
    ).collect()
    touched = {p.id_a for p in pairs} | {p.id_b for p in pairs}
    assert touched <= {0, 1, 5}
    kept = {
        r.vec_id
        for r in DD.semantic_dedup(
            df, "embedding", "vec_id", threshold=0.9, n_cells=2, seed=1
        ).collect()
    }
    # invalid-vector rows are never LOST from the corpus — they just
    # can't participate in pairs
    assert {2, 3, 4} <= kept
    # no valid vector at all (auto sizing gives one cell): an empty
    # cell-block table, no pairs
    invalid = df.filter(F.col("vec_id").isin(2, 3, 4))
    pairs = DD.semantic_dedup_pairs(invalid, "embedding", "vec_id", n_cells="auto")
    assert pairs.collect() == []
    kept_invalid = DD.semantic_dedup(
        invalid, "embedding", "vec_id", n_cells="auto"
    ).collect()
    assert {r.vec_id for r in kept_invalid} == {2, 3, 4}


def test_auto_cells_sizing_and_recall(spark, emb):
    """n_cells='auto' sizes cells to constant expected occupancy from
    one count (tiny corpus -> 1 cell == the exact kernel) and keeps the
    exact kernel's scoring convention for every emitted pair."""
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in DD.embedding_cosine_pairs(
            emb, "embedding", "vec_id", threshold=0.9
        ).collect()
    }
    auto = {
        (r.id_a, r.id_b): r.cos_sim
        for r in DD.semantic_dedup_pairs(
            emb, "embedding", "vec_id", threshold=0.9, n_cells="auto"
        ).collect()
    }
    # sf0.001 planted corpus is far under one cell's occupancy target,
    # so auto resolves to the single-cell (exact) path
    assert auto == exact
    # and the auto path feeds semantic_dedup unchanged
    kept = DD.semantic_dedup(
        emb, "embedding", "vec_id", threshold=0.9, n_cells="auto"
    )
    assert kept.count() < emb.count()  # planted dups actually dropped
