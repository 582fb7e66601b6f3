"""Target-distribution data selection: DSIR-style importance scoring
and the discriminative classifier filter.

Given a corpus with a small TARGET subset (the distribution you want
more of — curated text, a quality domain) and a large RAW pool, score
every raw document by how target-like it is and keep the top-k. Two
families, one contract: the generative importance ratio
(:func:`importance_select`) and the trained linear classifier
(:func:`classifier_select` — the GPT-3/LLaMA-pipeline shape).

The importance scoring is the selection step of Data Selection via
Importance Resampling (Xie et al. 2023): DSIR fits target vs raw
unigram/bigram distributions over hashed n-gram buckets and weights
each document by its importance ratio. Here the features are the
bigrams themselves, capped to the ``vocab_size`` most frequent
corpus-wide — at 100 TB the vocab cap plays the role DSIR's hashing
plays (bounds the feature table so it broadcasts), without hash
collisions muddying the estimates.

Two scoring modes:

* ``log_ratio`` (the paper's scoring): per-gram weight
  ``ln(p_target(g) / p_raw(g))`` with add-one smoothing over the
  vocab; a document's score is its m-weighted mean weight. Float —
  correct to double precision, but cross-engine ``ln`` is not
  guaranteed bit-identical, so the oracle-checked query uses:
* ``rate_diff``: per-gram weight ``tc*SCALE div tN - rc*SCALE div
  rN`` (integer per-million rates; ``div`` truncates — identical to
  DuckDB ``//`` for the non-negative counts here). All-integer until
  ONE final double division per document, so a SQL oracle reproduces
  it bit-for-bit. Monotone-comparable to log_ratio in the
  small-weight regime (ln(a/b) ≈ (a-b)/b); ranking agreement on real
  corpora is asserted in tests, not assumed.

Scale notes (100 TB): the gram→stats table is capped at
``vocab_size`` rows (broadcast join — the per-document scoring never
shuffles the corpus on gram), the vocab pick is a distributed
TakeOrdered, and the final top-k is another TakeOrdered, never a
single-partition window. Documents whose bigrams all fall outside the
vocab have no in-vocab evidence and are not selected (they drop from
the scoring join); the oracle mirrors this via the same inner join.

The resampling half of DSIR (Gumbel-noise sampling proportional to
importance) is deliberately out of scope: at pipeline scale the
deterministic top-k is what reproducible data recipes use, and a
seeded-hash Gumbel column composes on top of ``scored`` if needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from spotify_app_etl_spark.functions.text import bigrams, tokens

#: Integer rate scale (events per million). Bounded so ``count *
#: _SCALE`` stays far from int64 overflow: a 100 TB corpus has ~1e13
#: bigram instances; 1e13 * 1e6 = 1e19 would overflow, so counts that
#: large must raise, not wrap — ANSI mode does exactly that.
_SCALE = 1_000_000


def importance_score_grams(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target: Column,
    vocab_size: int = 2000,
    scoring: str = "rate_diff",
) -> DataFrame:
    """Per-RAW-document importance scores: (id, n_grams, score).

    ``is_target`` is a boolean Column over ``df`` marking the target
    subset; every other row is the raw pool being scored. ``score`` is
    the m-weighted mean per-gram weight (mode semantics in the module
    docstring): double in both modes, but in ``rate_diff`` it is the
    ratio of two exactly-computed integers, so it is reproducible
    bit-for-bit across engines.
    """
    if scoring not in ("rate_diff", "log_ratio"):
        raise ValueError(f"scoring must be 'rate_diff' or 'log_ratio', got {scoring!r}")
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be positive, got {vocab_size}")

    base = df.select(
        F.col(id_col).alias("__id"),
        is_target.alias("__t"),
        tokens(F.col(text_col)).alias("__tk"),
    )
    from spotify_app_etl_spark.operators.persist import scoped_persist

    # per_doc feeds BOTH the corpus-wide gram totals and the final
    # scoring join; persisted so the tokenize+explode pass runs once
    # (AQE exchange reuse would often dedup it, but reuse is plan-shape
    # dependent — a pin beats a hope at corpus scale)
    per_doc = scoped_persist(
        base.select("__id", "__t", F.explode(bigrams(F.col("__tk"))).alias("__g"))
        .groupBy("__id", "__t", "__g")
        .agg(F.count(F.lit(1)).alias("__m"))
    )
    gram_tot = per_doc.groupBy("__g").agg(
        F.sum(F.when(F.col("__t"), F.col("__m")).otherwise(F.lit(0))).alias("__tc"),
        F.sum(F.when(~F.col("__t"), F.col("__m")).otherwise(F.lit(0))).alias("__rc"),
        F.sum("__m").alias("__c"),
    )
    # Distributed TakeOrdered, not a global window: the vocab cap is
    # what keeps the weight table broadcast-sized at any corpus scale.
    # Persisted (≤ vocab_size rows) — consumed by tots AND the
    # weight projection.
    vocab = scoped_persist(
        gram_tot.orderBy(F.desc("__c"), "__g").limit(vocab_size)
    )
    tots = vocab.agg(
        F.sum("__tc").alias("__tn"),
        F.sum("__rc").alias("__rn"),
        F.count(F.lit(1)).alias("__v"),
    )
    rated = vocab.crossJoin(F.broadcast(tots))
    if scoring == "rate_diff":
        # integer per-million rates; div truncation == DuckDB // for
        # the non-negative counts here, so the weight is engine-exact
        weights = rated.select(
            "__g",
            (
                F.when(
                    F.col("__tn") > 0,
                    F.expr(f"{_SCALE}L * __tc div __tn"),
                ).otherwise(F.lit(0))
                - F.when(
                    F.col("__rn") > 0,
                    F.expr(f"{_SCALE}L * __rc div __rn"),
                ).otherwise(F.lit(0))
            ).alias("__w"),
        )
        agg_score = (
            F.sum(F.col("__m") * F.col("__w")).cast("double") / F.sum("__m")
        ).alias("score")
    else:
        # add-one smoothing over the vocab: every in-vocab gram has a
        # finite weight even when absent from one side
        weights = rated.select(
            "__g",
            (
                F.log((F.col("__tc") + 1).cast("double") / (F.col("__tn") + F.col("__v")))
                - F.log((F.col("__rc") + 1).cast("double") / (F.col("__rn") + F.col("__v")))
            ).alias("__w"),
        )
        agg_score = (F.sum(F.col("__m") * F.col("__w")) / F.sum("__m")).alias("score")
    return (
        per_doc.filter(~F.col("__t"))
        .join(F.broadcast(weights), "__g")
        .groupBy("__id")
        .agg(F.sum("__m").alias("n_grams"), agg_score)
        .select(F.col("__id").alias(id_col), "n_grams", "score")
    )


def importance_select(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target: Column,
    k: int,
    vocab_size: int = 2000,
    scoring: str = "rate_diff",
) -> DataFrame:
    """The top-``k`` most target-like raw documents: (id, n_grams,
    score), ties broken on id. Distributed TakeOrdered — ``k`` bounds
    driver/output size, never a single-partition sort of the corpus."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    scored = importance_score_grams(
        df, text_col, id_col, is_target, vocab_size=vocab_size, scoring=scoring
    )
    return scored.orderBy(F.desc("score"), id_col).limit(k)


def classifier_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target: Column,
    n_features: int = 4096,
    max_iter: int = 30,
    reg_param: float = 0.01,
) -> DataFrame:
    """P(target-like) for EVERY document under a logistic regression
    trained to separate the TARGET subset from the raw pool — the
    discriminative sibling of :func:`importance_score_grams`
    (GPT-3/LLaMA-style data filtering trains exactly this shape: a
    linear classifier over hashed n-gram features scoring 'looks like
    the curated corpus').

    Features are hashed token counts (``HashingTF`` — JVM murmur3, no
    Python in the featurize path), so the feature space is a fixed
    ``n_features`` regardless of vocabulary: the model is one
    ``n_features``-long coefficient vector (bounded driver state), the
    LBFGS fit aggregates gradients executor-side (treeAggregate), and
    scoring is a broadcast dot product per row. Deterministic: no
    sampling anywhere, LBFGS from a fixed start on fixed data.

    Scoring deliberately does NOT use ``model.transform``: the fitted
    model carries its training summary, the summary holds the
    SparkSession, and serializing the prediction closure then tries to
    serialize the session itself — which blows up with
    ``NotSerializableException: ObservationManager`` whenever any
    ``df.observe`` has run in the session (order-dependent, so it
    passes alone and fails in a suite). Instead the coefficient vector
    and intercept come to the driver once (``n_features`` doubles —
    bounded model state, the same budget the docstring already claims)
    and the sigmoid margin is a pure column expression over the sparse
    vector via ``unwrap_udt``: per-row cost stays O(distinct tokens),
    and no ML object ever enters a task closure.

    Returns (id, is_target, score, n_tokens) for every row, score
    rounded to 9 digits. Target rows ride along so callers can check
    separation (do held-in target docs actually score higher?) without
    a second fit.
    """
    if n_features <= 1:
        raise ValueError(f"n_features must be > 1, got {n_features}")
    if n_features > 65536:
        # the coefficient vector rides the plan as a literal array —
        # the same bounded-literal trade as the IVF cell ranking
        # (operators/similarity.py _cell_rank, _LITERAL_BUDGET); beyond this,
        # switch to a (bucket, coef) broadcast-join scoring path
        raise ValueError(
            f"n_features {n_features} exceeds the literal-array scoring "
            "budget (65536)"
        )
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF

    from spotify_app_etl_spark.operators.persist import scoped_persist

    base = df.select(
        F.col(id_col).alias("__id"),
        is_target.alias("__t"),
        tokens(F.col(text_col)).alias("__tk"),
    )
    tf = HashingTF(inputCol="__tk", outputCol="features", numFeatures=n_features)
    # Persist BEFORE fit: the tokenize+HashingTF lineage otherwise
    # re-runs for the LBFGS passes AND a second full time for the
    # scoring select below, which reuses the same frame (measured ~20%
    # off the warm fit plus one whole featurization pass saved; the
    # KMeans callers skip this — Spark's clusterer showed no cached-vs-
    # uncached fit difference, so an extra materialization only added
    # cost there).
    feat = scoped_persist(
        tf.transform(base).withColumn("label", F.col("__t").cast("double"))
    )
    model = LogisticRegression(
        maxIter=max_iter, regParam=reg_param, standardization=False
    ).fit(feat)
    coef = [float(c) for c in model.coefficients.toArray()]
    coef_arr = F.array(*[F.lit(c) for c in coef])
    sv = F.unwrap_udt(F.col("features"))
    # HashingTF always emits sparse vectors (type 0: size/indices/
    # values); keep a dense arm anyway so a swapped featurizer can't
    # silently mis-score
    sparse_dot = F.aggregate(
        F.zip_with(
            sv["indices"],
            sv["values"],
            lambda i, v: F.element_at(coef_arr, i + F.lit(1)) * v,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # F.sequence(1, 0) on an empty dense vector is the DESCENDING
    # [1, 0] (step inferred -1), and element_at(coef_arr, 0) errors
    # under ANSI mode. Unreachable with HashingTF (always sparse), but
    # this arm exists precisely to survive a swapped featurizer, so
    # guard it: empty vector → dot product 0.0.
    dense_dot = F.when(
        F.size(sv["values"]) > 0,
        F.aggregate(
            F.zip_with(
                sv["values"],
                F.sequence(F.lit(1), F.greatest(F.size(sv["values"]), F.lit(1))),
                lambda v, j: F.element_at(coef_arr, j) * v,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    ).otherwise(F.lit(0.0))
    margin = F.lit(float(model.intercept)) + F.when(
        sv["type"] == 0, sparse_dot
    ).otherwise(dense_dot)
    # P(label=1) — the target class
    prob_target = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return feat.select(
        F.col("__id").alias(id_col),
        F.col("__t").alias("is_target"),
        F.round(prob_target, 9).alias("score"),
        F.size("__tk").alias("n_tokens"),
    )


def classifier_select(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target: Column,
    k: int,
    n_features: int = 4096,
    max_iter: int = 30,
    reg_param: float = 0.01,
    scores: DataFrame | None = None,
) -> DataFrame:
    """The top-``k`` most target-like RAW documents under
    :func:`classifier_scores` (pass precomputed/persisted ``scores`` to
    reuse one fit across the selection and any riders): (id, score,
    n_tokens), ties broken on id — a distributed TakeOrdered, never a
    global sort."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if scores is None:
        scores = classifier_scores(
            df,
            text_col,
            id_col,
            is_target,
            n_features=n_features,
            max_iter=max_iter,
            reg_param=reg_param,
        )
    return (
        scores.filter(~F.col("is_target"))
        .drop("is_target")
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )
