"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

Reference parity: none — part of the LLM-data-pipeline surface beyond
the reference ETL script. Standard practice (GPT-3 appx. C, PaLM §6,
The Pile) is to drop any training document sharing a long-enough token
n-gram with a benchmark item; the gram length is the caller's knob.

Scale shape: the benchmark side is small *by definition* (eval suites
are 1e3–1e6 items, bounded and human-curated) while the training side
is the 100 TB corpus. So the plan is:

* distinct grams per side (``array_distinct`` before explode keeps the
  exploded row count minimal),
* hash-join on the gram string with the **benchmark gram set
  broadcast** — the one forced-broadcast in this package that is
  justified, because the build side is dim-scale by construction,
* one map-side-combinable aggregation per contaminated train doc.

No shuffle of the training corpus ever happens: the explode and the
broadcast-hash-join are narrow, and the only exchange is the final
groupBy on ``id_col`` over the (tiny) matched subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from spotify_app_etl_spark.operators.dedup import normalized, token_ngrams


def _grams(df: DataFrame, text_col: str, id_col: str, n: int, out_id: str) -> DataFrame:
    """(id, gram) pairs, distinct FULL n-grams per document.

    Tokens are pre-projected so the n-gram transform never re-runs the
    normalization regexp per element (see dedup.char_shingles PERF note).

    Documents with fewer than ``n`` tokens emit NO grams — including
    NULL/empty/whitespace-only text. ``token_ngrams``'s short-doc floor
    (one degraded sub-n gram, right for similarity estimation) would be
    a correctness bug here: every blank doc folds to the '' gram, so a
    single blank benchmark row would flag every blank training row as
    "contamination", and a 1-2-token benchmark answer string ('paris')
    would remove every training doc equal to it via grams SHORTER than
    the caller's requested n. The module contract is "shares a
    long-enough n-gram", so short docs simply cannot match.
    """
    toks = F.col("__toks")
    return (
        df.select(
            F.col(id_col).alias(out_id),
            F.split(normalized(text_col), " ").alias("__toks"),
        )
        .select(
            out_id,
            F.explode(
                F.when(
                    F.size(toks) >= n, token_ngrams(toks, n, assume_tokens=True)
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )
    )


def contamination_report(
    train: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Per-train-document contamination evidence.

    Returns ``(id_col, n_shared_grams, n_bench_docs)`` for every train
    document sharing at least one word ``n``-gram with any benchmark
    document: how many distinct grams overlap, and with how many
    distinct benchmark documents.
    """
    bench_grams = F.broadcast(_grams(bench, text_col, id_col, n, "bench_id"))
    hits = _grams(train, text_col, id_col, n, id_col).join(bench_grams, "gram")
    return hits.groupBy(id_col).agg(
        F.countDistinct("gram").alias("n_shared_grams"),
        F.countDistinct("bench_id").alias("n_bench_docs"),
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """The clean corpus: train rows sharing NO word n-gram with bench.

    A left-anti join against the contaminated id set — the id set is
    tiny (matched subset only), so AQE turns this into a second
    broadcast join; the full train relation is still never shuffled.

    The id set is a plain ``distinct`` over the matched ids, NOT
    ``contamination_report(...).select(id_col)``: the report's two
    COUNT(DISTINCT) aggregates would be computed and thrown away, and
    multi-distinct forces Catalyst's Expand — every matched row
    duplicated per distinct aggregate through the only exchange this
    module has.
    """
    bench_grams = F.broadcast(
        _grams(bench, text_col, id_col, n, "bench_id").select("gram")
    )
    flagged = (
        _grams(train, text_col, id_col, n, id_col)
        .join(bench_grams, "gram", "left_semi")
        .select(id_col)
        .distinct()
    )
    return train.join(flagged, id_col, "left_anti")
