"""Byte-pair-encoding tokenizer: distributed training + application.

Sennrich et al. 2016: start from characters, repeatedly merge the most
frequent adjacent symbol pair. The published training shape (and the
one every production trainer uses — BPE trains on a WORD-FREQUENCY
table, not the raw corpus): one distributed word count bounds the
corpus to a vocab-capped ``(word, count)`` table, the merge loop runs
over that bounded table, and applying the tokenizer segments each
DISTINCT word once, never the token stream.

Scale decomposition (100 TB):

* ``bpe_train``: one shuffle (the word-count groupBy, map-side
  combinable) + a distributed TakeOrdered for the vocab cap. Driver
  state is ``vocab_cap`` words — the same bounded-sample budget as
  PQ/IVF codebook training (FAISS trains on ~100k vectors regardless
  of corpus size; BPE trains on the frequency table, whose cap loses
  only rare-word counts that cannot win a merge vote anyway).
* ``bpe_segment``: an Arrow kernel over DISTINCT words (vocab-sized
  input, not corpus-sized), memoized per batch — the token stream then
  equi-joins the word→pieces table (broadcast at any realistic vocab).

Determinism: merge votes tie-break lexicographically, so the learned
merge list is a pure function of the word-frequency table.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from spotify_app_etl_spark import io
from spotify_app_etl_spark.functions.text import tokens


def bpe_train(
    df: DataFrame,
    text_col: str,
    num_merges: int = 200,
    vocab_cap: int = 50_000,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus word-frequency
    table (capped to the ``vocab_cap`` most frequent words). Returns
    the ordered merge list — the whole tokenizer state, JSON-friendly.

    Merges never cross word boundaries (the standard word-internal
    BPE); single-character words contribute nothing to pair votes but
    cost nothing either.
    """
    if num_merges <= 0:
        raise ValueError(f"num_merges must be positive, got {num_merges}")
    if vocab_cap <= 0:
        raise ValueError(f"vocab_cap must be positive, got {vocab_cap}")
    rows = (
        df.select(F.explode(tokens(F.col(text_col))).alias("__w"))
        .filter(F.col("__w") != "")
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.desc("__n"), "__w")
        .limit(vocab_cap)
        .collect()
    )
    if not rows:
        raise ValueError("bpe_train: corpus has no tokens to train on")
    # driver-side merge loop over the bounded table (tuple-of-symbols
    # per word, weighted pair votes — Sennrich Algorithm 1)
    words: dict[tuple[str, ...], int] = {}
    for r in rows:
        words[tuple(r["__w"])] = words.get(tuple(r["__w"]), 0) + r["__n"]
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        votes: dict[tuple[str, str], int] = {}
        for syms, n in words.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                votes[p] = votes.get(p, 0) + n
        if not votes:
            break  # every word is a single symbol — nothing to merge
        # max count, ties broken lexicographically → deterministic
        best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        joined = best[0] + best[1]
        out: dict[tuple[str, ...], int] = {}
        for syms, n in words.items():
            if best[0] in syms:
                new = []
                i = 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == best[0]
                        and syms[i + 1] == best[1]
                    ):
                        new.append(joined)
                        i += 2
                    else:
                        new.append(syms[i])
                        i += 1
                syms = tuple(new)
            out[syms] = out.get(syms, 0) + n
        words = out
    return merges


def segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE application: repeatedly merge the LOWEST-RANK adjacent
    pair (training order), exactly as trained. Unseen words/characters
    degrade gracefully to finer pieces — never an error."""
    syms = list(word)
    while len(syms) > 1:
        best_i, best_rank = -1, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_i, best_rank = i, r
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def _segment_arrow(merges: list[tuple[str, str]]):
    """Arrow kernel: word → array of BPE pieces. Memoized per batch —
    the intended input is DISTINCT words, but even on a raw token
    stream repeats hit the memo."""
    from pyspark.sql.functions import pandas_udf

    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @pandas_udf("array<string>")
    def seg(words: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}
        out = []
        for w in words:
            if w is None:
                out.append(None)
                continue
            got = memo.get(w)
            if got is None:
                got = memo[w] = segment_word(w, ranks)
            out.append(got)
        return pd.Series(out, dtype=object)

    return seg


def bpe_segment(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    out_col: str = "bpe_pieces",
) -> DataFrame:
    """Add ``out_col``: the BPE piece list of every token of
    ``text_col``, applied at the DISTINCT-WORD level: segment each
    unique word once (vocab-sized Arrow pass), then re-join onto the
    token stream — the token-stream side only pays an equi-join
    against the word→pieces table, no Python. Word order within the
    document is preserved; empty/NULL texts yield an empty piece list.
    ``df``'s rows must be distinct (the re-group keys on all its
    columns — pass an id-keyed projection, as every caller here does).
    """
    seg = _segment_arrow(merges)
    tok = df.select("*", F.posexplode_outer(tokens(F.col(text_col))).alias("__p", "__w"))
    pieces = (
        tok.filter(F.col("__w").isNotNull() & (F.col("__w") != ""))
        .select("__w")
        .distinct()
        .select("__w", seg(F.col("__w")).alias("__pieces"))
    )
    rejoined = (
        tok.join(pieces, "__w", "left")
        .groupBy(*df.columns)
        .agg(
            F.flatten(
                F.array_compact(
                    F.array_sort(
                        F.collect_list(F.struct("__p", "__pieces"))
                    ).getField("__pieces")
                )
            ).alias(out_col)
        )
    )
    return rejoined


def bpe_save(spark, merges: list[tuple[str, str]], path: str) -> None:
    """Persist the merge list as a (rank, left, right) parquet — the
    whole tokenizer state, engine-neutral. Overwrites atomically enough
    for this shape (one tiny file; the read side orders by rank, so a
    torn listing is unreadable, not silently reordered)."""
    if not merges:
        raise ValueError("bpe_save: empty merge list")
    df = io.local_table(
        spark,
        {
            "rank": list(range(len(merges))),
            "left": [a for a, _ in merges],
            "right": [b for _, b in merges],
        },
        "rank int not null, left string not null, right string not null",
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)


def bpe_load(spark, path: str) -> list[tuple[str, str]]:
    """Load a merge list saved by :func:`bpe_save`, in training order."""
    rows = spark.read.parquet(path).orderBy("rank").collect()
    if not rows:
        raise ValueError(f"bpe_load: no merges at {path}")
    if [r["rank"] for r in rows] != list(range(len(rows))):
        raise ValueError(f"bpe_load: merge ranks at {path} are not contiguous")
    return [(r["left"], r["right"]) for r in rows]
