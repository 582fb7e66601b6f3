"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, document fingerprinting.

All pure column expressions (whole-stage codegen, no Python in the hot
path) and all deterministic — each has an exact ANSI-SQL equivalent so
the DuckDB oracle can verify them bit-for-bit.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves postponed pandas_udf type hints
from pyspark.sql import Column, functions as F

from spotify_app_etl_spark.operators.dedup import normalized

#: Tiny stopword lists for the n-gram-free language-ID heuristic.
#: (Public common-word lists; good enough for a routing heuristic.)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "por", "una"],
    "de": ["der", "die", "und", "das", "nicht", "von", "ist", "mit", "den", "ein"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour", "que", "sur"],
}


def tokens(text: str | Column) -> Column:
    """Whitespace tokens of the normalized text; empty text → [].

    The empty-token filter matters only for empty/whitespace-only
    documents: split('', ' ') yields [''] — one phantom token — which
    inflates token_count to 1 and makes empty docs unfilterable by
    ``token_count >= 1``. Normalization collapses+trims whitespace, so
    non-empty text never produces '' tokens and is unaffected. Mirrored
    in every SQL oracle via list_filter over the same split.
    """
    return F.filter(F.split(normalized(text), " "), lambda tk: tk != "")


def token_count(text: str | Column) -> Column:
    return F.size(tokens(text))


def bigrams(tk: Column) -> Column:
    """Non-distinct consecutive bigrams of a pre-projected token array;
    a 1-token doc yields its lone token (concat_ws skips the NULL
    second element — mirrored on the SQL side, where the list is
    1-indexed the same way), and an EMPTY array yields [] — without
    the trailing filter, concat_ws(NULL, NULL) hands every empty doc
    a phantom '' gram that counts as corpus evidence (real grams are
    never '': tokens() filters empty tokens). Keep in sync with
    ``plans.common.SQL_BIGRAMS``. Pass a MATERIALIZED token column,
    not an inline ``tokens(text)`` expression: per-element lambda
    references re-evaluate their argument, so inlining re-runs the
    whole tokenization chain once per bigram (a measured 7x)."""
    return F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(tk) - F.lit(1), F.lit(1))),
            lambda i: F.concat_ws(
                " ", F.try_element_at(tk, i), F.try_element_at(tk, i + F.lit(1))
            ),
        ),
        lambda g: g != "",
    )


def transitions(tk: Column) -> Column:
    """Consecutive (prev, cur) token transitions of a pre-projected
    token array, as ``array<struct<prev,cur>>`` — the bigram *events* a
    language model scores (``w_i | w_{i-1}`` for i ≥ 2). Unlike
    :func:`bigrams` there is no 1-token fallback and no string
    concatenation: a doc with fewer than 2 tokens has NO transitions
    and yields []. Built from two shifted slices zipped positionally —
    pure column expression, no shuffle, no Python. SQL mirror:
    ``plans.common.sql_transitions`` (two zipped unnests over the same
    slices — DuckDB aligns equal-length unnests positionally)."""
    n1 = F.greatest(F.size(tk) - F.lit(1), F.lit(0))
    return F.zip_with(
        F.slice(tk, F.lit(1), n1),
        F.slice(tk, F.lit(2), n1),
        lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
    )


def stopword_hits(text: str | Column, lang: str) -> Column:
    """Number of token occurrences that are stopwords of ``lang``."""
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(text), lambda tk: F.array_contains(words, tk)))


def language_id(text: str | Column) -> Column:
    """Argmax of stopword-hit counts; 'und' (undetermined) when no
    language scores a hit. Ties resolve in en>es>de>fr order
    (deterministic CASE chain — mirrored exactly in the SQL oracle)."""
    hits = {lang: stopword_hits(text, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    for lang in reversed(list(STOPWORDS)):  # build CASE bottom-up
        expr = F.when((hits[lang] == best) & (best > 0), lang).otherwise(expr)
    return expr


#: BPE-ish pre-tokenizer: the COUNTED pieces — letter runs, single
#: digits, punctuation runs (whitespace is the separator, never a
#: token, mirroring how GPT-2-family tokenizers fold it into the next
#: word's leading space). An approximation of the GPT-2 split pattern
#: using capabilities common to Spark's and DuckDB's regex engines
#: (no \p classes, no lookahead), so counts are oracle-exact.
BPE_ISH_PATTERN = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]+"


def bpe_ish_token_count(text: str | Column) -> Column:
    """Approximate subword-token count: number of ``BPE_ISH_PATTERN``
    matches, digits counted singly (as GPT-2-family tokenizers do)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(col, F.lit(BPE_ISH_PATTERN))


def punct_count(text: str | Column) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    return F.length(F.regexp_replace(col, r"[^.!?,;:]", ""))


def digit_ratio(text: str | Column) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    return F.length(F.regexp_replace(col, r"[^0-9]", "")) / F.greatest(
        F.length(col), F.lit(1)
    ).cast("double")


def mean_token_length(text: str | Column) -> Column:
    tks = tokens(text)
    total = F.aggregate(tks, F.lit(0), lambda acc, tk: acc + F.length(tk))
    return total / F.greatest(F.size(tks), F.lit(1)).cast("double")


def quality_score(text: str | Column) -> Column:
    """Heuristic [0,1] quality score: length band + stopword presence −
    digit noise. Deterministic rational arithmetic (oracle-able)."""
    n_tok = token_count(text).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    stop_score = F.least(
        stopword_hits(text, "en").cast("double") / F.lit(5.0), F.lit(1.0)
    )
    noise = digit_ratio(text)
    return F.round(
        F.greatest(
            F.least(
                F.lit(0.5) * len_score + F.lit(0.5) * stop_score - noise, F.lit(1.0)
            ),
            F.lit(0.0),
        ),
        6,
    )


def compression_signal():
    """Arrow-batched zlib compression-ratio kernel: UTF-8 text in,
    ``struct<orig_bytes, comp_bytes>`` out (ratio left to the caller so
    it stays one exact integer division site). The
    compression-ratio quality signal from the RefinedWeb/FineWeb
    family of pipelines: highly repetitive text (boilerplate, spam,
    generator loops) compresses far below normal prose, binary-ish
    noise barely compresses at all. zlib at a FIXED level (6) is
    deterministic — same bytes in, same length out, every run, every
    machine — so the signal is reproducible even though no SQL oracle
    can mirror it (rows-only + riders at the query level). Python is
    the sanctioned Arrow-batch slow path here; the per-row work is
    C-speed zlib, not Python arithmetic. NULL text → (NULL, NULL)
    fields (Arrow struct columns carry field-level nulls); empty text
    → (0, NULL) — a 0-byte payload has no meaningful ratio, and
    zlib's 8-byte header would masquerade as infinite bloat."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<orig_bytes: long, comp_bytes: long>")
    def sig(texts: pd.Series) -> pd.DataFrame:
        orig, comp = [], []
        for s in texts:
            if s is None:
                orig.append(None)
                comp.append(None)
                continue
            raw = s.encode("utf-8")
            orig.append(len(raw))
            comp.append(len(zlib.compress(raw, 6)) if raw else None)
        return pd.DataFrame({"orig_bytes": orig, "comp_bytes": comp})

    return sig


def fingerprint(
    text: str | Column, mod: int = 2147483647, *, assume_normalized: bool = False
) -> Column:
    """Polynomial rolling hash over characters: acc = (acc*31 + code) % m.

    Left fold in character order — identical to DuckDB's list_reduce —
    and kept under 2^36 so ANSI-mode arithmetic never overflows.

    Characters come from ``split(norm, '')`` (one pass, O(L)) rather
    than per-index ``substring`` (O(L) seek per char on non-ASCII);
    ``split('', '')`` yields ``['']`` and ``ascii('') = 0``, matching
    the empty-doc fold of the SQL oracle. Entirely JVM-side /
    whole-stage codegen.

    PERF: pre-project the normalized text and pass
    ``assume_normalized=True`` on hot paths (an inline normalization
    would re-run its regexp once per character).
    """
    col = F.col(text) if isinstance(text, str) else text
    norm = col if assume_normalized else normalized(col)
    codes = F.transform(F.split(norm, ""), lambda ch: F.ascii(ch))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % F.lit(mod).cast("long"),
    )


def winnowing_fingerprints(
    df,
    text_col: str,
    id_col: str,
    k: int = 8,
    window: int = 4,
    mod: int = 2147483647,
):
    """Winnowing fingerprint set (Schleimer et al., SIGMOD 2003): the
    distinct window-minima of the char-k-gram rolling hashes, as
    ``(id_col, fp)`` rows.

    Where :func:`fingerprint` hashes the WHOLE document (one flipped
    byte → different hash), winnowing guarantees any shared substring
    of length ≥ k + window - 1 yields at least one shared fingerprint —
    the robust local-similarity primitive under partial edits
    (passage-level plagiarism/near-dup detection).

    Arrow-batched numpy kernel (r08; same decision as the minhash
    signature kernel): the previous pure-column version chained three
    higher-order ``transform`` lambdas, and Spark evaluates those
    per-element INTERPRETED (higher-order functions sit outside
    whole-stage codegen) — O(len × k) lambda dispatches per document
    made this the one plan in SCALING.md that barely amortized (20.6×
    time at 32× data, vs 2–9× for every other probed plan: it was
    CPU-bound on lambda dispatch from sf0.1 onward). The kernel does
    the identical math vectorized: codepoints via UTF-32 (the
    :func:`fingerprint` parity convention), gram hashes as a
    sliding-window dot with the precomputed 31-power vector
    (products < 2^52, k-sums < 2^55 — exact in int64, one final
    ``% mod`` equals the stepwise-mod fold), minima via a second
    sliding window, distinct via ``np.unique``. Value-identical to
    the column version on every document shape (empty → the [0]
    codepoint of ``split('', '')``, shorter-than-k → one partial
    gram, fewer-grams-than-window → one min; NULL text emits no
    rows), and to the registered DuckDB replay oracle. Zero shuffle;
    one Arrow crossing.
    """
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    from spotify_app_etl_spark.operators.dedup import fan_out

    norm = df.select(
        F.col(id_col), normalized(text_col).alias("__norm")
    )
    # Same fan-out rationale as the minhash Arrow kernel: a small
    # corpus arrives as ONE parquet file -> one task, serializing the
    # per-doc kernel (O(len x k) work per doc dominates the narrow
    # (id, norm) shuffle by orders of magnitude). On a real cluster
    # the scan already has >= cores partitions and this no-ops.
    norm = fan_out(norm, df.sparkSession.sparkContext.defaultParallelism)
    id_type = df.schema[id_col].dataType.simpleString()
    pw = np.array([pow(31, k - 1 - j, mod) for j in range(k)], dtype=np.int64)

    def run(parts):
        for pdf in parts:
            ids, fps, counts = [], [], []
            for did, s in zip(pdf[id_col].values, pdf["__norm"].values):
                if s is None:
                    continue  # explode(null) row-drop parity
                c = np.frombuffer(
                    s.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                if c.size == 0:
                    c = np.zeros(1, np.int64)  # split('','') == ['']
                if c.size < k:
                    g = np.array(
                        [int((c * pw[k - c.size :]).sum() % mod)], dtype=np.int64
                    )
                else:
                    g = (sliding_window_view(c, k) * pw).sum(axis=1) % mod
                if g.size < window:
                    w = np.array([g.min()], np.int64)
                else:
                    w = sliding_window_view(g, window).min(axis=1)
                u = np.unique(w)
                ids.append(did)
                counts.append(u.size)
                fps.append(u)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(
                        np.asarray(ids, dtype=object), counts
                    )
                    if ids
                    else [],
                    "fp": np.concatenate(fps) if fps else [],
                }
            )

    return norm.mapInPandas(run, schema=f"{id_col} {id_type}, fp long")
