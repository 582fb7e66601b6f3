"""Sketch / approximate-aggregate queries + Bloom-prefiltered join.

The 100 TB rationale: exact global aggregates need either a full
shuffle (percentiles: total sort or two-pass) or unbounded state
(count-distinct: a hash table the size of the key space). The sketch
versions are one map-side pass producing KB-sized mergeable summaries —
`percentile_approx` (Greenwald-Khanna), HLL++ sketches with explicit
partial/merge stages, and a Bloom-filter runtime prefilter that cuts
probe-side shuffle volume while keeping the join exact.

Estimator outputs are implementation-defined, so `q_agg_approx_*` and
`q_hll_*` register rows-only for the driver (precedent:
``q_approx_count_distinct``); their error bounds vs the exact answers
are asserted in ``tests/test_sketches.py``. The Bloom join is exact and
carries a full oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from spotify_app_etl_spark.operators import bloom
from spotify_app_etl_spark.plans.common import dec, dsum, t
from spotify_app_etl_spark.registry import query


@query(
    "q_agg_approx_percentile",
    note="Greenwald-Khanna approximate percentiles (p25/p50/p75/p95) of "
    "l_extendedprice per return flag — mergeable map-side sketches, "
    "no total sort (rows-only: estimator-defined values). Output is "
    "scalar columns, not array<double>: the driver canonicalizer sorts "
    "via pandas and cannot hash numpy arrays (CORRECTNESS_r03 crash). "
    "Self-verifying: err_ok asserts each approx quantile lies between "
    "the EXACT quantiles at ±0.02 rank (GK guarantees ±1/accuracy = "
    "±1e-4), so the driver's rows-only hash pins a semantic bound, not "
    "just row count; groups under 1000 rows pass vacuously (the "
    "nearest-rank vs interpolated definitions diverge legitimately "
    "there)",
    oracle=None,
    tags=("sketch", "percentile", "aggregate"),
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # One sketch pass for all four quantiles, then unpack — the array
    # never leaves the plan, so downstream consumers see only scalars.
    qs = F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.75, 0.95], 10_000)
    # Verification rider: exact quantiles bracketing each target rank
    # at ±0.02. Values are monotone in rank, so GK's ±1e-4 rank bound
    # implies approx ∈ [exact(q-0.02), exact(q+0.02)] with huge margin.
    # The exact brackets come from the spill-safe sort-based operator
    # (operators/percentiles.py), NOT the buffering percentile builtin,
    # so the canary itself survives 100 TB group sizes; the GK sketch
    # remains the scale path for the headline numbers.
    from spotify_app_etl_spark.operators.percentiles import percentile_cont_by

    brackets = percentile_cont_by(
        li,
        "l_returnflag",
        "l_extendedprice",
        {
            "_b1": 0.23, "_b2": 0.27, "_b3": 0.48, "_b4": 0.52,
            "_b5": 0.73, "_b6": 0.77, "_b7": 0.93, "_b8": 0.97,
        },
    )
    within = (
        F.col("p25").between(F.col("_b1"), F.col("_b2"))
        & F.col("p50").between(F.col("_b3"), F.col("_b4"))
        & F.col("p75").between(F.col("_b5"), F.col("_b6"))
        & F.col("p95").between(F.col("_b7"), F.col("_b8"))
    )
    # The bracket compares a NEAREST-RANK approx value against
    # INTERPOLATED exact quantiles; below ~1/0.02 = 50 rows the two
    # definitions legitimately diverge by more than the bracket width
    # (e.g. percentile_approx picks a data value while the exact
    # quantile interpolates between two far-apart values), so the
    # invariant only claims groups large enough for the ±0.02-rank
    # bracket to be meaningful.
    within = within | (F.col("n_items") < 1000)
    return (
        li.groupBy("l_returnflag")
        .agg(qs.alias("_q"), F.count(F.lit(1)).alias("n_items"))
        .select(
            "l_returnflag",
            F.element_at("_q", 1).alias("p25"),
            F.element_at("_q", 2).alias("p50"),
            F.element_at("_q", 3).alias("p75"),
            F.element_at("_q", 4).alias("p95"),
            "n_items",
        )
        .join(F.broadcast(brackets), "l_returnflag")
        .withColumn("err_ok", within)
        .drop(*[f"_b{i}" for i in range(1, 9)])
    )


@query(
    "q_hll_sketch_merge",
    note="two-level HLL++: per-(month, shard) partial sketches → "
    "hll_union_agg per month → estimate. The partial/merge split is "
    "the scale path: shard sketches are KB-sized and commutative, so "
    "a 1000-executor rollup merges without re-scanning keys "
    "(rows-only: estimator-defined). Self-verifying: emits rel_err vs "
    "the exact per-month distinct count and err_ok (≤4% ≈ 5 sigma at "
    "lgConfigK=14's ~0.8% standard error — wide enough to hold for "
    "every month on any dataset, tight enough to catch a broken "
    "merge), so the driver's rows-only hash carries the accuracy bound",
    oracle=None,
    tags=("sketch", "hll", "aggregate"),
)
def q_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    partials = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        (F.col("o_orderkey") % 8).alias("shard"),
    ).agg(F.hll_sketch_agg("o_custkey", 14).alias("sketch"))
    merged = (
        partials.groupBy("month")
        .agg(F.hll_union_agg("sketch").alias("merged"))
        .select(
            "month",
            F.hll_sketch_estimate("merged").alias("approx_customers"),
        )
    )
    # Verification rider: exact distinct count per month (its own
    # distinct shuffle — the sketch stays the scale path; the rider is
    # the per-run accuracy canary). Deterministic hashing → rel_err is
    # stable across runs, so it hashes cleanly in the driver check.
    exact = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.count_distinct("o_custkey").alias("_exact"))
    rel_err = F.round(
        F.abs(F.col("approx_customers") - F.col("_exact")) / F.col("_exact"), 6
    )
    return (
        merged.join(exact, "month")
        .withColumn("rel_err", rel_err)
        # 0.04 ≈ 5 sigma at lgConfigK=14 (se = 1.04/sqrt(2^14) ≈ 0.8%):
        # with ~80 per-month estimates, a 2.5-sigma bound would flip on
        # a healthy sketch for SOME month on some datasets (~1% per
        # estimate compounds to a coin flip across 80); 5 sigma stays a
        # real bound — a broken merge is off by far more.
        .withColumn("err_ok", F.col("rel_err") <= 0.04)
        .drop("_exact")
    )


@query(
    "q_join_bloom_prefilter",
    note="runtime Bloom semi-filter: build over ASIA suppliers' keys "
    "(driver-side, broadcast-small by construction), probe lineitem "
    "with a vectorized Arrow UDF BEFORE the shuffle — only ~1/5 of "
    "the fact rows shuffle; the join re-verifies, so the result is "
    "exactly lineitem ⋈ asian suppliers",
    oracle="""
SELECT s.s_suppkey, s.s_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (CAST(1.0 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2))))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY s.s_suppkey, s.s_name
""",
    tags=("sketch", "bloom", "join"),
)
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation").join(
        region, F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = (
        t(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    joined = bloom.bloom_prefiltered_join(li, supp, "l_suppkey", "s_suppkey")
    rev = dec("l_extendedprice") * (F.lit("1.0").cast("decimal(12,2)") - dec("l_discount"))
    return joined.groupBy("s_suppkey", "s_name").agg(
        dsum(rev, "revenue"), F.count(F.lit(1)).alias("n_items")
    )


@query(
    "ns_corpus_overlap_sketch",
    note="cross-corpus vocabulary overlap from HLL sketches: one "
    "9-char-shingle pass builds a KB-sized sketch per corpus slice "
    "(lang), then every slice PAIR gets |A∩B| and Jaccard by "
    "inclusion-exclusion over merged sketches — the dataset-mixing "
    "question ('how redundant are these two sources?') answered "
    "without ever joining the corpora. At 100 TB the sketches are the "
    "only cross-slice artifact (a k-row table; pairing is a tiny "
    "self-join), vs the exact path's shingle-keyed shuffle join of "
    "everything against everything. Rows-only (estimator-defined "
    "values); self-verifying: the exact overlap rides along and "
    "err_ok bounds the estimate within 8% of the exact union "
    "(~5.7 sigma at lgConfigK=14's 0.81% standard error compounded "
    "over the three estimates in the inclusion-exclusion — wide "
    "enough to hold for every pair on any dataset, tight enough to "
    "catch a broken pairing join).",
    oracle=None,
    tags=("sketch", "hll", "northstar", "dedup"),
    bench_fn=lambda s, d: ns_corpus_overlap_sketch(s, d, verify=False),
)
def ns_corpus_overlap_sketch(
    spark: SparkSession, sf_dir: str, verify: bool = True
) -> DataFrame:
    from spotify_app_etl_spark.operators.dedup import char_shingles, normalized
    from spotify_app_etl_spark.operators.persist import scoped_persist

    docs = t(spark, sf_dir, "documents")
    if not verify:
        # rider-free arm (perfbench): the shingle DISTINCT is
        # DELIBERATELY EXCLUDED here, and that is the one plan-shape
        # difference vs the fn arm. The distinct exists only as rider
        # infrastructure — the exact-overlap self-join needs a minimal
        # (side, shingle) set to count each overlap once — while HLL is
        # duplicate-insensitive in the registers, so the plan a 100 TB
        # deployment would actually run has no distinct (and no
        # persist): explode → map-side partial HLL agg → a k-row sketch
        # shuffle → tiny pair join. Benchmarking the fn arm's distinct
        # would charge the engine for the proof (3.9 vs 3.0 s at
        # sf0.1). Consequence: estimates differ from the fn path by
        # ~0.3% — DataSketches' HIP estimator is merge-layout-
        # sensitive, the same error class the 8% rider bound covers —
        # and tests/test_bench_variants.py value-pins both arms inside
        # that contract. The driver hashes only the fn path.
        sh_raw = docs.select(
            F.col("lang").alias("side"), normalized(F.col("text")).alias("__norm")
        ).select(
            "side",
            F.explode(
                char_shingles("__norm", 9, assume_normalized=True)
            ).alias("sh"),
        )
        per_rf = sh_raw.groupBy("side").agg(F.hll_sketch_agg("sh", 14).alias("sk"))
        return (
            per_rf.select(F.col("side").alias("side_a"), F.col("sk").alias("sk_a"))
            .join(
                per_rf.select(
                    F.col("side").alias("side_b"), F.col("sk").alias("sk_b")
                ),
                F.col("side_a") < F.col("side_b"),
            )
            .select(
                "side_a",
                "side_b",
                F.hll_sketch_estimate("sk_a").alias("est_a"),
                F.hll_sketch_estimate("sk_b").alias("est_b"),
                F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).alias(
                    "est_union"
                ),
            )
            .select(
                "side_a",
                "side_b",
                F.round(
                    F.col("est_a") + F.col("est_b") - F.col("est_union"), 2
                ).alias("overlap_est"),
                F.round(
                    (F.col("est_a") + F.col("est_b") - F.col("est_union"))
                    / F.col("est_union"),
                    6,
                ).alias("jaccard_est"),
            )
        )
    # one shingle pass feeds both the sketch and the exact rider
    # (persisted: three consumers below); __norm pre-projected per the
    # char_shingles contract; distinct (side, shingle) first so the
    # rider's self-join is over the minimal set (HLL is
    # duplicate-insensitive either way)
    sh = scoped_persist(
        docs.select(
            F.col("lang").alias("side"), normalized(F.col("text")).alias("__norm")
        )
        .select(
            "side",
            F.explode(char_shingles("__norm", 9, assume_normalized=True)).alias("sh"),
        )
        .distinct()
    )
    per = sh.groupBy("side").agg(
        F.hll_sketch_agg("sh", 14).alias("sk"),
        F.count(F.lit(1)).alias("exact_n"),
    )
    pairs = (
        per.select(
            F.col("side").alias("side_a"),
            F.col("sk").alias("sk_a"),
            F.col("exact_n").alias("exact_a"),
        )
        .join(
            per.select(
                F.col("side").alias("side_b"),
                F.col("sk").alias("sk_b"),
                F.col("exact_n").alias("exact_b"),
            ),
            F.col("side_a") < F.col("side_b"),
        )
        .select(
            "side_a",
            "side_b",
            "exact_a",
            "exact_b",
            F.hll_sketch_estimate("sk_a").alias("est_a"),
            F.hll_sketch_estimate("sk_b").alias("est_b"),
            F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).alias("est_union"),
        )
    )
    # exact rider: true pairwise overlap via the shingle-keyed
    # self-join — the cost the sketch path exists to avoid, carried
    # here as the per-run accuracy canary
    exact_overlap = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .filter(F.col("a.side") < F.col("b.side"))
        .groupBy(
            F.col("a.side").alias("side_a"), F.col("b.side").alias("side_b")
        )
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return (
        pairs.join(exact_overlap, ["side_a", "side_b"], "left")
        .withColumn("exact_overlap", F.coalesce("exact_overlap", F.lit(0)))
        .withColumn(
            "overlap_est",
            F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 2),
        )
        .withColumn(
            "jaccard_est", F.round(F.col("overlap_est") / F.col("est_union"), 6)
        )
        .withColumn("exact_union", F.col("exact_a") + F.col("exact_b") - F.col("exact_overlap"))
        # 0.08 of the union ≈ 5.7 sigma: the inclusion-exclusion error
        # compounds three lgConfigK=14 estimates (1σ ≈ √3·0.81% ≈ 1.4%
        # of union, scale-free), and like q_hll_sketch_merge the bound
        # must hold for EVERY pair on any dataset while still tripping
        # on a broken pairing join (off by tens of percent). Measured
        # error at sf0.1: 0.3-2% of union.
        .withColumn(
            "err_ok",
            F.abs(F.col("overlap_est") - F.col("exact_overlap"))
            <= 0.08 * F.col("exact_union"),
        )
        .drop("est_a", "est_b")
        .orderBy("side_a", "side_b")
    )


@query(
    "ns_vocab_cms_estimate",
    note="count-min sketch frequency estimates for the exact top-30 "
    "tokens: the sketch build is a groupBy whose key space is capped "
    "at depth*width, so map-side partial aggregation bounds shuffle "
    "volume at O(partitions * depth * width) regardless of corpus or "
    "vocabulary size — the bounded, mergeable, probe-without-rescan "
    "summary an exact frequency table can't be at 100 TB. Rows-only "
    "(sketch values are hash-layout-defined but deterministic: "
    "xxhash64). Self-verifying riders: lower_ok pins the CMS "
    "one-sided guarantee (est >= exact, always), upper_ok pins the "
    "collision bound (est <= exact + 5*N/width — ~5 expected "
    "collision masses; a broken merge or bucket map inflates far "
    "past it).",
    oracle=None,
    tags=("sketch", "cms", "northstar", "text"),
)
def ns_vocab_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_app_etl_spark.functions.text import tokens
    from spotify_app_etl_spark.operators.cms import cms_build, cms_estimate
    from spotify_app_etl_spark.operators.persist import scoped_persist

    depth, width = 4, 2048
    docs = t(spark, sf_dir, "documents")
    tok = scoped_persist(
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    )
    sketch = cms_build(tok, "tok", depth=depth, width=width)
    exact_top = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), "tok")
        .limit(30)
    )
    total = tok.agg(F.count(F.lit(1)).alias("__n"))
    return (
        cms_estimate(sketch, exact_top, "tok", depth=depth, width=width)
        .crossJoin(F.broadcast(total))
        .withColumn("lower_ok", F.col("est") >= F.col("n_exact"))
        .withColumn(
            "upper_ok",
            F.col("est") <= F.col("n_exact") + F.lit(5.0) * F.col("__n") / width,
        )
        .drop("__n")
        .orderBy(F.desc("n_exact"), "tok")
    )


@query(
    "ns_vocab_heavy_hitters",
    note="Misra-Gries heavy hitters for the token vocabulary — the "
    "top-k sibling of ns_vocab_cms_estimate (CMS overestimates "
    "frequencies of known keys; MG finds the frequent keys with an "
    "UNDERestimate and a completeness guarantee). One O(k) streaming "
    "pass per partition, summaries merged by a plain sum (mergeable "
    "per Agarwal et al. 2012), merged size ≤ k × partitions — never a "
    "full vocabulary shuffle. Rows-only (estimates are "
    "arrival-order-defined but deterministic per layout); riders pin "
    "the one-sided guarantee (under_ok: est ≤ exact, always) and the "
    "decrement bound (err_ok: exact − est ≤ n/(k+1)); the exact "
    "counts come from a candidate-bounded groupBy (corpus filtered by "
    "the broadcast 30-key candidate set), so the rider stays "
    "scale-safe.",
    oracle=None,
    tags=("sketch", "heavy-hitters", "northstar", "text"),
)
def ns_vocab_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_app_etl_spark.functions.text import tokens
    from spotify_app_etl_spark.operators.persist import scoped_persist
    from spotify_app_etl_spark.operators.heavyhitters import mg_summary

    k, top = 64, 30
    docs = t(spark, sf_dir, "documents")
    tok = scoped_persist(
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    )
    cand = scoped_persist(
        mg_summary(tok, "tok", k)
        .withColumnRenamed("key", "tok")
        .orderBy(F.desc("est"), "tok")
        .limit(top)
    )
    exact = (
        tok.join(F.broadcast(cand.select("tok")), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    total = tok.agg(F.count(F.lit(1)).alias("__n"))
    return (
        cand.join(exact, "tok")
        .crossJoin(F.broadcast(total))
        .withColumn("under_ok", F.col("est") <= F.col("n_exact"))
        .withColumn(
            "err_ok",
            F.col("n_exact") - F.col("est") <= F.col("__n") / F.lit(float(k + 1)),
        )
        .drop("__n")
        .orderBy(F.desc("est"), "tok")
    )
