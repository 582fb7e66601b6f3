"""Error-bound + driver-contract checks for the sketch queries.

The sketch estimators register rows-only (values are implementation-
defined), so their accuracy is asserted here against the exact answers,
and their output schemas are checked against the driver canonicalizer's
contract: scalar columns only (pandas cannot hash numpy arrays — the
CORRECTNESS_r03 crash on ``q_agg_approx_percentile``).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from spotify_app_etl_spark.io import load_table
from spotify_app_etl_spark.registry import load_all

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _no_complex_columns(df):
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    return bad


def test_approx_percentile_scalar_columns_and_bounds(spark):
    q = load_all()["q_agg_approx_percentile"].fn
    out = q(spark, SF)
    assert _no_complex_columns(out) == []
    rows = {r["l_returnflag"]: r for r in out.collect()}

    li = load_table(spark, SF, "lineitem")
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95))"
            ).alias("q"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .collect()
    }
    assert set(rows) == set(exact)
    for flag, r in rows.items():
        e = exact[flag]
        spread = e["hi"] - e["lo"]
        for i, col in enumerate(["p25", "p50", "p75", "p95"]):
            # GK with accuracy 10_000 → rank error ≤ n/10_000; on these
            # row counts that is well under 1% of the value spread.
            assert abs(r[col] - e["q"][i]) <= 0.01 * spread, (flag, col)
        assert r["p25"] <= r["p50"] <= r["p75"] <= r["p95"]


def test_hll_merge_error_bound(spark):
    q = load_all()["q_hll_sketch_merge"].fn
    out = q(spark, SF)
    assert _no_complex_columns(out) == []
    approx = {r["month"]: r["approx_customers"] for r in out.collect()}

    orders = load_table(spark, SF, "orders")
    exact = {
        r["month"]: r["n"]
        for r in orders.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        )
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for month, n in exact.items():
        assert abs(approx[month] - n) <= max(0.02 * n, 2), (month, approx[month], n)


@pytest.mark.slow
def test_registered_queries_emit_scalar_columns_only(spark):
    """Driver contract: no registered query may output array/map/struct
    columns — the driver's pandas canonicalizer crashes on them.

    Building every query plan executes driver actions for the
    iterative operators (CC fixpoint, power iteration, KMeans), so
    this is a full-surface sweep — marked slow, and caches released
    per query so 153 plans don't accumulate storage in one session.
    """
    from spotify_app_etl_spark.operators.persist import release_cached

    offenders = {}
    for name, q in load_all().items():
        df = q.fn(spark, SF)
        bad = _no_complex_columns(df)
        release_cached()
        if bad:
            offenders[name] = bad
    assert offenders == {}


def test_recall_scalar_is_falsifiable(spark):
    """The rider machinery must be able to report sub-1.0 recall — a
    tautological rider (e.g. comparing a frame to itself) would always
    emit 1.0 and verify nothing. Constructed cases: partial hit,
    full hit, and the documented vacuous-1.0 on an empty exact set."""
    from spotify_app_etl_spark.plans.northstar import _recall_scalar

    exact = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (7, 8)], "id_a long, id_b long"
    )
    found = spark.createDataFrame([(1, 2), (5, 6), (9, 10)], "id_a long, id_b long")
    assert _recall_scalar(exact, found).first()["recall_vs_exact"] == 0.5
    assert _recall_scalar(exact, exact).first()["recall_vs_exact"] == 1.0
    empty = exact.filter("id_a < 0")
    assert _recall_scalar(empty, found).first()["recall_vs_exact"] == 1.0


def test_self_verifying_invariant_columns(spark):
    """Round-5 hardening: the rows-only queries carry in-query
    verification columns (recall vs brute force, error vs exact,
    index==in-memory parity, rerun idempotence) so the driver's
    rows-only hash pins a semantic bound. This test asserts the
    invariants actually hold — a broken sketch/index flips the boolean
    and fails here before it ships."""
    from spotify_app_etl_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    registry = load_all()
    for name, col in [
        ("ns_sim_topk_lsh", "recall_ok"),
        ("ns_sim_topk_ivf", "recall_ok"),
        ("q_agg_approx_percentile", "err_ok"),
        ("q_approx_count_distinct", "err_ok"),
        ("q_hll_sketch_merge", "err_ok"),
        ("ns_sim_topk_lsh_indexed", "matches_inmemory"),
        ("ns_dedup_minhash_incremental", "idempotent_ok"),
        ("ns_streaming_dedup_ingest", "idempotent_ok"),
        ("ns_embed_top_eigvec", "rayleigh_monotone_ok"),
        ("ns_dedup_minhash_pairs", "recall_ok"),
        ("ns_dedup_simhash_pairs", "recall_ok"),
        ("ns_mm_phash_pairs", "recall_ok"),
        ("ns_dedup_minhash_apply", "closure_ok"),
        ("ns_dedup_minhash_verified", "recall_ok"),
        ("ns_mm_features", "bytes_ok"),
        ("ns_mm_frame_sample", "counts_ok"),
        ("ns_dedup_embedding_cosine_lsh", "recall_ok"),
        ("ns_layout_compact_roundtrip", "rows_preserved"),
        ("ns_layout_compact_roundtrip", "compacted"),
    ]:
        rows = registry[name].fn(spark, sf).collect()
        assert rows, name
        bad = [r for r in rows if not r[col]]
        assert not bad, f"{name}: {len(bad)} rows with {col}=False"


def test_sorted_percentile_operator_matches_builtins(spark):
    """operators/percentiles.py claims bit-compatibility with the
    buffering builtins (percentile / percentile_disc) — prove it on
    real data AND on adversarial tiny groups (n=1, n=2, ties), where
    the rank arithmetic has its edge cases."""
    from pyspark.sql import functions as F

    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.operators.percentiles import (
        percentile_cont_by,
        percentile_disc_by,
    )

    qs = {"p10": 0.10, "p50": 0.50, "p95": 0.95}

    def check(df, key, val):
        cont = percentile_cont_by(df, key, val, qs).orderBy(key).collect()
        disc = percentile_disc_by(df, key, val, qs).orderBy(key).collect()
        b = (
            df.groupBy(key)
            .agg(
                *[F.percentile(val, F.lit(q)).alias(n) for n, q in qs.items()],
                *[
                    F.expr(
                        f"percentile_disc({q}) WITHIN GROUP (ORDER BY {val})"
                    ).alias(f"d_{n}")
                    for n, q in qs.items()
                ],
            )
            .orderBy(key)
            .collect()
        )
        # Same GROUP SET as the builtins, not just same values on the
        # shared groups — zip() alone would silently truncate to the
        # shorter list and mask a dropped group (e.g. an all-NULL one).
        assert len(cont) == len(disc) == len(b), (
            [r[key] for r in cont],
            [r[key] for r in disc],
            [r[key] for r in b],
        )
        for ours_c, ours_d, ref in zip(cont, disc, b):
            assert ours_c[key] == ours_d[key] == ref[key]
            for n in qs:
                assert ours_c[n] == ref[n], (n, ours_c, ref)
                assert ours_d[n] == ref[f"d_{n}"], (n, ours_d, ref)

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    check(li, "l_returnflag", "l_extendedprice")

    edge = spark.createDataFrame(
        [("a", 1.0), ("b", 5.0), ("b", 3.0), ("c", 2.0), ("c", 2.0), ("c", 9.0)],
        "k string, v double",
    )
    check(edge, "k", "v")

    # NULLs must be ignored exactly like the builtins do (counting
    # them into n / ranking them first shifts every pick); an
    # all-NULL group ('b') is KEPT with NULL percentile values on both
    # sides — the builtins' groupBy emits every group.
    nulls = spark.createDataFrame(
        [("a", None), ("a", 1.0), ("a", 3.0), ("b", None), ("b", None)],
        "k string, v double",
    )
    check(nulls, "k", "v")

    # NULL group KEYS form a group like any other (groupBy treats NULL
    # as a value); the operator must compute that group's real
    # percentiles, not conflate it with an all-NULL-values group. This
    # is exactly the case a null-unsafe equi-join against a target
    # table would silently corrupt.
    nullkey = spark.createDataFrame(
        [(None, 1.0), (None, 3.0), ("a", 5.0), (None, None), ("b", None)],
        "k string, v double",
    )
    check(nullkey, "k", "v")

    # count_col reports count(*) — NULLs included — matching a
    # COUNT(*) alongside the builtin aggregates.
    counts = {
        r["k"]: r["n"]
        for r in percentile_disc_by(nulls, "k", "v", qs, count_col="n").collect()
    }
    assert counts == {"a": 3, "b": 2}, counts
    counts = {
        r["k"]: r["n"]
        for r in percentile_cont_by(nulls, "k", "v", qs, count_col="n").collect()
    }
    assert counts == {"a": 3, "b": 2}, counts


def test_sorted_percentile_operator_randomized(spark):
    """Randomized adversarial check of the bit-compat claim: many
    group sizes (including 1 and 2), duplicated values, negative and
    huge magnitudes, and irrational quantiles whose q*(n-1)/q*n hit
    floating-point rank boundaries."""
    import random

    from pyspark.sql import functions as F

    from spotify_app_etl_spark.operators.percentiles import (
        percentile_cont_by,
        percentile_disc_by,
    )

    rng = random.Random(20260814)
    rows = []
    for g in range(30):
        n = rng.choice([1, 2, 3, 5, 17, 100, 101])
        vals = [
            rng.choice(
                [
                    round(rng.uniform(-1e6, 1e6), 3),
                    float(rng.randint(-5, 5)),  # force ties
                ]
            )
            for _ in range(n)
        ]
        rows += [(f"g{g}", v) for v in vals]
    df = spark.createDataFrame(rows, "k string, v double")
    qs = {f"q{i}": q for i, q in enumerate([0.01, 1 / 3, 0.5, 2 / 3, 0.907, 0.999])}

    cont = {r["k"]: r for r in percentile_cont_by(df, "k", "v", qs).collect()}
    disc = {r["k"]: r for r in percentile_disc_by(df, "k", "v", qs).collect()}
    ref = {
        r["k"]: r
        for r in df.groupBy("k")
        .agg(
            *[F.percentile("v", F.lit(q)).alias(n) for n, q in qs.items()],
            *[
                F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY v)").alias(
                    f"d_{n}"
                )
                for n, q in qs.items()
            ],
        )
        .collect()
    }
    assert set(cont) == set(ref) == set(disc)
    for k, r in ref.items():
        for n in qs:
            assert cont[k][n] == r[n], (k, n, cont[k][n], r[n])
            assert disc[k][n] == r[f"d_{n}"], (k, n, disc[k][n], r[f"d_{n}"])


def test_corpus_overlap_sketch(spark):
    """Inclusion-exclusion overlap estimates stay within the registered
    err_ok bound AND the exact rider obeys set algebra (overlap <= each
    side, union = a + b - overlap) — a broken pairing join would
    violate one of these long before the sketch error bound trips."""
    pdf = load_all()["ns_corpus_overlap_sketch"].fn(spark, SF).toPandas()
    assert len(pdf) > 0
    assert pdf["err_ok"].all(), pdf[~pdf["err_ok"]]
    assert (pdf["exact_overlap"] <= pdf[["exact_a", "exact_b"]].min(axis=1)).all()
    assert (
        pdf["exact_union"] == pdf["exact_a"] + pdf["exact_b"] - pdf["exact_overlap"]
    ).all()
    assert (pdf["side_a"] < pdf["side_b"]).all()
    # every unordered slice pair appears exactly once
    sides = set(pdf["side_a"]) | set(pdf["side_b"])
    assert len(pdf) == len(sides) * (len(sides) - 1) // 2
