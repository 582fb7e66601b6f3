#!/usr/bin/env python3
"""Compare the generated inputs with a directory of reference tables.

Usage, from the root of the repository:

    python3 perfbench/compare_inputs.py REFERENCE_DIR --scale-factor 0.01 --seed 1

``REFERENCE_DIR`` holds the ten tables as ``<name>.parquet`` at the
given scale factor. The script builds the benchmark's tables for the
same scale factor and seed in memory (``datagen.build``) and prints one
line per statistic: the reference value, the generated value and their
ratio. The statistics are row counts, key fan-outs, value ranges, event
gaps, document lengths, vocabulary and the near-duplicate rate.
"""

from __future__ import annotations

import argparse
import sys
from collections import Counter, defaultdict
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path[0] = str(Path(__file__).resolve().parent.parent)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
#: word n-gram length and Jaccard threshold of the near-duplicate rate
SHINGLE, NEAR = 5, 0.8


def _fanout(keys: np.ndarray) -> tuple[float, float]:
    """(mean, max) rows per distinct key."""
    _, counts = np.unique(keys, return_counts=True)
    return float(counts.mean()), float(counts.max())


def near_dup_share(texts: list[str], k: int = SHINGLE, threshold: float = NEAR) -> float:
    """Share of documents with another document whose word ``k``-gram sets
    have Jaccard similarity at least ``threshold``."""
    sets = []
    for t in texts:
        w = t.split()
        sets.append({" ".join(w[i:i + k]) for i in range(max(1, len(w) - k + 1))})
    postings: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(sets):
        for g in s:
            postings[g].append(i)
    near: set[int] = set()
    for i, s in enumerate(sets):
        shared = Counter(j for g in s for j in postings[g] if j > i)
        for j, inter in shared.items():
            if inter / (len(s) + len(sets[j]) - inter) >= threshold:
                near.update((i, j))
    return len(near) / len(texts) if texts else 0.0


def profile(tables: dict[str, pa.Table]) -> dict[str, float]:
    """Scale-dependent statistics of the ten tables."""
    p: dict[str, float] = {f"rows.{n}": tables[n].num_rows for n in TABLES}
    col = lambda t, c: tables[t].column(c).to_numpy(zero_copy_only=False)  # noqa: E731

    p["orders.per_customer.mean"], p["orders.per_customer.max"] = _fanout(col("orders", "o_custkey"))
    p["orders.totalprice.mean"] = float(col("orders", "o_totalprice").mean())
    p["lineitem.per_order.mean"], p["lineitem.per_order.max"] = _fanout(col("lineitem", "l_orderkey"))
    p["lineitem.per_part.mean"], _ = _fanout(col("lineitem", "l_partkey"))
    p["lineitem.quantity.mean"] = float(col("lineitem", "l_quantity").mean())
    p["lineitem.extendedprice.mean"] = float(col("lineitem", "l_extendedprice").mean())
    p["lineitem.discount.mean"] = float(col("lineitem", "l_discount").mean())
    ship = col("lineitem", "l_shipdate").astype("datetime64[D]").astype(np.int64)
    p["lineitem.shipdate.span_days"] = float(ship.max() - ship.min())

    ts = np.sort(col("events", "ts").astype("datetime64[us]").astype(np.int64)) / 1e6
    gaps = np.diff(ts)
    p["events.users"] = float(len(np.unique(col("events", "user_id"))))
    p["events.per_user.max"] = _fanout(col("events", "user_id"))[1]
    p["events.gap_s.mean"] = float(gaps.mean())
    p["events.gap_s.cv"] = float(gaps.std() / gaps.mean())
    p["events.span_days"] = float((ts[-1] - ts[0]) / 86400)
    p["events.value.mean"] = float(col("events", "value").mean())
    types = Counter(col("events", "event_type"))
    p["events.type_share.max"] = max(types.values()) / len(ts)

    texts = [str(t) for t in col("documents", "text")]
    toks = np.array([len(t.split()) for t in texts])
    p["documents.tokens.mean"] = float(toks.mean())
    p["documents.tokens.min"], p["documents.tokens.max"] = float(toks.min()), float(toks.max())
    p["documents.vocabulary"] = float(len({w for t in texts for w in t.split()}))
    p["documents.exact_dup_share"] = 1.0 - len(set(texts)) / len(texts)
    p[f"documents.near_dup_share(j>={NEAR},{SHINGLE}-grams)"] = near_dup_share(texts)
    p["documents.lang_en_share"] = float(np.mean(col("documents", "lang") == "en"))

    vecs = np.stack(col("embeddings", "embedding"))
    p["embeddings.dim"] = float(vecs.shape[1])
    p["embeddings.norm.mean"] = float(np.linalg.norm(vecs, axis=1).mean())
    p["embeddings.labels"] = float(len(np.unique(col("embeddings", "label"))))
    return p


def main(argv: list[str] | None = None) -> int:
    from perfbench import datagen
    from perfbench.workloads import SCALE_FACTOR

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("reference", type=Path)
    ap.add_argument("--scale-factor", type=float, default=SCALE_FACTOR)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    ref = profile({n: pq.read_table(args.reference / f"{n}.parquet") for n in TABLES})
    gen = profile(datagen.build(args.seed, args.scale_factor))
    print(f"{'statistic':44s} {'reference':>14s} {'generated':>14s} {'ratio':>7s}")
    for k, r in ref.items():
        g = gen[k]
        ratio = g / r if r else float("nan")
        print(f"{k:44s} {r:14.4g} {g:14.4g} {ratio:7.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
