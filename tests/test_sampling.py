"""Unit tests for deterministic sampling/splitting and decontamination."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from spotify_app_etl_spark.operators import decontam as DC
from spotify_app_etl_spark.operators import sampling as SA

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_threshold_hex_bounds():
    assert SA.threshold_hex(0.0) == "00000000"
    assert SA.threshold_hex(0.5) == "80000000"
    assert SA.threshold_hex(1.0) == "g" * 8  # sorts after every hex prefix
    # rates that ROUND to the full space must clamp to keep-all, not
    # overflow to a 9-char threshold that keeps ~6% of rows
    assert SA.threshold_hex(1 - 1e-11) == "g" * 8
    assert len(SA.threshold_hex(1 - 1e-9)) == 8  # below rounding → normal
    with pytest.raises(ValueError):
        SA.threshold_hex(1.5)


def test_near_one_rate_keeps_everything(spark, docs):
    assert SA.hash_sample(docs, "doc_id", 1 - 1e-11, seed=3).count() == docs.count()


def test_null_keys_dropped_not_collapsed(spark):
    """NULL keys have no identity: samplers must drop them (three-valued
    comparison), never collapse them onto one all-or-nothing hash block."""
    df = spark.range(0, 1000).select(
        F.when(F.col("id") % 2 == 0, F.col("id")).otherwise(None).alias("k")
    )
    kept = SA.hash_sample(df, "k", 0.5, seed=11)
    assert kept.filter(F.col("k").isNull()).count() == 0
    n = kept.count()  # ~250 of the 500 non-null keys
    assert 150 <= n <= 350
    # split_assign stays exhaustive: null-key rows all land in 'train'
    split = SA.split_assign(df, "k", eval_frac=0.2, seed=11)
    assert split.filter(F.col("k").isNull() & (F.col("split") != "train")).count() == 0
    assert split.count() == 1000


def test_hash_sample_rate_and_determinism(spark, docs):
    kept = SA.hash_sample(docs, "doc_id", 0.2, seed=7)
    n, total = kept.count(), docs.count()
    # 500 Bernoulli(0.2) draws: expect ~100, allow 5 sigma (~±45).
    assert 55 <= n <= 145
    # Partition layout must not change membership (unlike df.sample).
    again = SA.hash_sample(docs.repartition(13), "doc_id", 0.2, seed=7)
    assert sorted(r.doc_id for r in kept.select("doc_id").collect()) == sorted(
        r.doc_id for r in again.select("doc_id").collect()
    )
    # Different seed → different (but similarly sized) sample.
    other = SA.hash_sample(docs, "doc_id", 0.2, seed=8)
    assert sorted(r.doc_id for r in other.select("doc_id").collect()) != sorted(
        r.doc_id for r in kept.select("doc_id").collect()
    )
    assert total == 500


def test_hash_sample_monotone_in_rate(spark, docs):
    """A 10% sample is a subset of the 30% sample at the same seed —
    the property that lets you grow a sample without resampling."""
    small = {r.doc_id for r in SA.hash_sample(docs, "doc_id", 0.1, seed=5).collect()}
    big = {r.doc_id for r in SA.hash_sample(docs, "doc_id", 0.3, seed=5).collect()}
    assert small <= big


def test_stratified_rates(spark, docs):
    kept = SA.stratified_sample(
        docs, "doc_id", "lang", {"en": 1.0, "zh": 0.0}, default_rate=0.5, seed=1
    )
    by_lang = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by_lang["en"] == totals["en"]  # rate 1.0 keeps everything
    assert "zh" not in by_lang  # rate 0.0 drops everything
    for lang in ("de", "es", "fr"):  # default 0.5 ± 5 sigma
        assert 0.15 * totals[lang] <= by_lang[lang] <= 0.85 * totals[lang]


def test_split_assign_disjoint_exhaustive(spark, docs):
    out = SA.split_assign(docs, "doc_id", eval_frac=0.1, seed=3)
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= {"train", "eval"}
    assert sum(counts.values()) == docs.count()
    # eval ~10% of 500 → 5 sigma ≈ ±34
    assert 16 <= counts.get("eval", 0) <= 84


def test_sampler_plan_has_no_shuffle(spark, docs):
    plan = SA.hash_sample(docs, "doc_id", 0.2, seed=7)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure filter: scan → filter, codegen


def test_contamination_planted(spark):
    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (10, "he saw the quick brown fox yesterday"),  # shares 2 grams
            (11, "completely unrelated sentence about spark"),
            (12, "THE  QUICK   BROWN fox"),  # normalization: shares grams
        ],
        ["doc_id", "text"],
    )
    rep = {
        r.doc_id: (r.n_shared_grams, r.n_bench_docs)
        for r in DC.contamination_report(train, bench, "text", "doc_id", n=3).collect()
    }
    assert rep[10] == (2, 1)  # 'the quick brown', 'quick brown fox'
    assert rep[12] == (2, 1)
    assert 11 not in rep
    clean = DC.decontaminate(train, bench, "text", "doc_id", n=3)
    assert [r.doc_id for r in clean.collect()] == [11]


def test_contamination_broadcast_in_plan(spark, docs):
    bench = docs.filter(F.col("doc_id") % 41 == 0)
    train = docs.filter(F.col("doc_id") % 41 != 0)
    plan = (
        DC.contamination_report(train, bench, "text", "doc_id", n=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_leakage_safe_split_keeps_clusters_together(spark):
    """No near-dup pair may straddle train/eval — the property the
    per-doc hash split cannot guarantee."""
    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.operators import dedup as DD
    from spotify_app_etl_spark.operators.persist import release_cached
    from spotify_app_etl_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    split = load_all()["ns_split_leakage_safe"].fn(spark, sf)
    assign = {r.doc_id: r.split for r in split.collect()}
    pairs = DD.ngram_jaccard_pairs(
        load_table(spark, sf, "documents"), "text", "doc_id", n=3, threshold=0.5
    ).collect()
    release_cached()
    assert pairs, "fixture lost its near-dup pairs"
    straddling = [
        (p.id_a, p.id_b) for p in pairs if assign[p.id_a] != assign[p.id_b]
    ]
    assert not straddling, f"near-dup pairs split across train/eval: {straddling[:5]}"
    assert {"train", "eval"} == set(assign.values())


def test_decontaminate_ignores_short_and_blank_docs(spark):
    """The contamination contract is "shares a FULL n-gram": blank/
    NULL/whitespace-only docs and docs shorter than n tokens must
    never match (token_ngrams' short-doc floor would otherwise let one
    blank benchmark row flag every blank training row, and a 2-token
    benchmark answer string would remove every equal 2-token doc)."""
    bench = spark.createDataFrame(
        [(100, ""), (101, "hello world"), (102, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   "), (4, "hello world"),
         (5, "alpha beta gamma delta epsilon"), (6, "totally unrelated text here")],
        "doc_id long, text string",
    )
    report = {r["doc_id"] for r in
              DC.contamination_report(train, bench, "text", "doc_id", n=3).collect()}
    assert report == {5}, report  # only the real full-3-gram overlap
    clean = {r["doc_id"] for r in
             DC.decontaminate(train, bench, "text", "doc_id", n=3).collect()}
    assert clean == {1, 2, 3, 4, 6}, clean


def _py_uniform01(key, seed: int) -> float:
    """Driver-side mirror of SA.uniform01 — same sha256, same 52-bit
    prefix, same exact double arithmetic."""
    import hashlib

    h = hashlib.sha256(f"{seed}|{key}".encode()).hexdigest()[:13]
    return (int(h, 16) + 0.5) / 2**52


def test_uniform01_matches_python_mirror(spark, docs):
    rows = (
        docs.select("doc_id", SA.uniform01("doc_id", 19).alias("u"))
        .orderBy("doc_id")
        .limit(25)
        .collect()
    )
    for r in rows:
        assert r["u"] == _py_uniform01(r["doc_id"], 19), r
        assert 0.0 < r["u"] < 1.0


def test_weighted_sample_deterministic_and_guards(spark):
    df = spark.createDataFrame(
        [(i, float(1 + i % 7)) for i in range(200)], "id long, w double"
    )
    a = sorted(r["id"] for r in SA.weighted_sample(df, "id", "w", 20, seed=5).collect())
    b = sorted(r["id"] for r in SA.weighted_sample(df, "id", "w", 20, seed=5).collect())
    assert a == b and len(a) == 20
    c = sorted(r["id"] for r in SA.weighted_sample(df, "id", "w", 20, seed=6).collect())
    assert a != c  # a different seed draws a different sample

    bad = spark.createDataFrame(
        [(1, 2.0), (2, 0.0), (3, -1.0), (4, None)], "id long, w double"
    )
    got = {r["id"] for r in SA.weighted_sample(bad, "id", "w", 10).collect()}
    assert got == {1}  # zero/negative/NULL weights carry no mass

    with pytest.raises(ValueError, match="k must be positive"):
        SA.weighted_sample(bad, "id", "w", 0)


def test_weighted_sample_inclusion_scales_with_weight(spark):
    """A-ES with k=1 selects row i with probability w_i / sum(w)
    exactly. The uniform is a pure (seed, key) hash, so the law is
    checked over 4000 seeds in the python mirror (same arithmetic as
    the Spark expression, proven equal above), plus a handful of live
    Spark draws as plumbing proof."""
    import math

    weights = {"a": 4.0, "b": 1.0}
    wins = {"a": 0, "b": 0}
    for seed in range(4000):
        best = max(
            weights, key=lambda k: math.log(_py_uniform01(k, seed)) / weights[k]
        )
        wins[best] += 1
    p_a = wins["a"] / 4000
    assert abs(p_a - 0.8) < 0.03, p_a  # 4/(4+1), ±5 sigma

    df = spark.createDataFrame([("a", 4.0), ("b", 1.0)], "id string, w double")
    live = {
        seed: SA.weighted_sample(df, "id", "w", 1, seed=seed).first()["id"]
        for seed in range(8)
    }
    mirror = {
        seed: max(weights, key=lambda k: math.log(_py_uniform01(k, seed)) / weights[k])
        for seed in range(8)
    }
    assert live == mirror


def test_weighted_sample_by_quota_and_determinism(spark):
    """Every stratum gets exactly min(k, |stratum|) rows; the within-
    stratum pick matches the python mirror of the A-ES ranking."""
    import math

    rows = [(f"d{i}", "x" if i % 3 else "y", float(1 + i % 5)) for i in range(60)]
    df = spark.createDataFrame(rows, "id string, g string, w double")
    got = SA.weighted_sample_by(df, "id", "w", "g", 5, seed=9).collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["g"], set()).add(r["id"])
    assert {g: len(v) for g, v in by_g.items()} == {"x": 5, "y": 5}

    for g in ("x", "y"):
        members = [(i, w) for i, gg, w in rows if gg == g]
        ranked = sorted(
            members,
            key=lambda t: (-(math.log(_py_uniform01(t[0], 9)) / t[1]), t[0]),
        )
        assert by_g[g] == {i for i, _ in ranked[:5]}

    # a stratum smaller than k yields all its (positive-weight) rows
    small = spark.createDataFrame(
        [("a", "g1", 1.0), ("b", "g1", 0.0), ("c", "g2", 2.0)],
        "id string, g string, w double",
    )
    got2 = {(r["id"], r["g"]) for r in SA.weighted_sample_by(small, "id", "w", "g", 5).collect()}
    assert got2 == {("a", "g1"), ("c", "g2")}

    with pytest.raises(ValueError, match="k must be positive"):
        SA.weighted_sample_by(small, "id", "w", "g", -1)
