"""Executed-plan scale guard: no O(n²) join strategies sneak into the
registered surface.

Runs every registered query at sf0.001, finalizes its adaptive plan
(collect — count()/save() execute a cloned query and leave the plan
un-finalized), and asserts:

- ZERO ``CartesianProduct`` anywhere, ever;
- ``BroadcastNestedLoopJoin`` only in the whitelisted queries below,
  each of which broadcasts a side that is O(1) in corpus/fact size, so
  the "nested loop" is really a map-side scalar/bounded-set probe.

This is the automated version of the PLANS.md red-flag audit — a
forced broadcast of an sf-growing relation or a dropped equi-condition
turns a green sf0.1 run into an OOM at 100×, and this test is where
that regression surfaces first.
"""

from __future__ import annotations

import re

import pytest

from spotify_app_etl_spark.operators.persist import release_cached
from spotify_app_etl_spark.registry import load_all

SF = "/root/testdata/sf0.001"

#: Queries where a BroadcastNestedLoopJoin is the intended plan, with
#: the bounded broadcast side that makes it O(n):
NLJ_ALLOWED = {
    # 1-row scalar-subquery joins (global counts / totals / thresholds)
    "q_events_funnel": 2,  # funnel-stage count scalars
    "q22_dormant_customers": 1,  # avg-balance threshold scalar
    "q11_important_stock": 1,  # total stock-value scalar
    "ns_tfidf_topterms": 1,  # corpus doc-count scalar
    "ns_bm25_search": 1,  # (avgdl, n_docs) scalar
    "ns_hybrid_rrf_search": 2,  # bm25 scalar + single query vector
    # bounded query-set broadcasts (exact similarity baselines; the
    # LSH/IVF variants are the corpus-scale path)
    "ns_sim_topk_bruteforce": 1,
    "ns_sim_range_search": 1,
    "ns_dedup_embedding_cosine": 1,  # exact block-matmul baseline
    # self-verification riders: exact pass over a CONSTANT 5-query
    # sample (one bounded query-set broadcast) + 1-row recall scalar
    "ns_sim_topk_lsh": 2,
    "ns_sim_topk_ivf": 2,
    # 1-row verification scalars (index==in-memory parity / rerun-empty)
    "ns_sim_topk_lsh_indexed": 1,
    "ns_dedup_minhash_incremental": 1,
    "ns_streaming_dedup_ingest": 1,
    # recall riders (r05): the 1-row recall scalar joined onto the
    # pair output (single-pass left-join-marker aggregation — the
    # exact subtree appears exactly once)
    "ns_dedup_minhash_pairs": 1,
    # same scalar + the exact Hamming pass over a constant doc_id
    # window (bounded broadcast NLJ — pigeonhole-completeness rider)
    "ns_dedup_simhash_pairs": 2,
    "ns_mm_phash_pairs": 2,
    # 1-row closure/recall scalars joined onto the output
    "ns_dedup_minhash_apply": 1,
    "ns_dedup_minhash_verified": 1,
    "ns_mm_features": 1,
    "ns_mm_frame_sample": 1,
    # same scalar + the exact block-matmul baseline's bounded
    # block-grid broadcast (the rider embeds ns_dedup_embedding_cosine)
    "ns_dedup_embedding_cosine_lsh": 2,
    # r06 PQ ANN: the ADC stage joins the corpus CODE stream against
    # the broadcast 20-query LUT set (O(1) in corpus size — that join
    # IS the kernel), plus the recall rider's bounded 5-query exact
    # pass and its 1-row recall scalar
    "ns_sim_topk_pq": 4,
    # r06 persisted PQ: the indexed arm's code-scan × broadcast-LUT
    # join, the in-memory parity arm's same join, the parity arm's
    # bounded exact re-rank joins, and the 1-row parity scalar — every
    # broadcast side is O(1) in corpus size (20 queries / 1 row)
    "ns_sim_topk_pq_indexed": 8,
    # r06 importance selection: the vocab×totals crossJoin — a
    # vocab_size-row table against a 1-row scalar aggregate
    "ns_select_importance": 1,
    # r06 SemDeDup: two 1-row verification scalars (recall +
    # kept/lost conservation) crossJoined onto the kept output
    "ns_dedup_semantic": 2,
    # r06 HLL corpus overlap: the side_a < side_b pairing join over
    # the per-slice SKETCH table — k rows (one per corpus slice, KB
    # each), O(1) in corpus size; pairing sketches is the point
    "ns_corpus_overlap_sketch": 1,
    # r06 CMS: the 1-row total-increments scalar crossJoined onto the
    # 30-row estimate output for the upper_ok rider bound
    "ns_vocab_cms_estimate": 1,
    # r06 streaming CMS: the 1-row merge_exact_ok scalar (streamed
    # sketch == one-shot batch sketch) crossJoined onto the 20-row
    # estimate output
    "ns_streaming_cms_ingest": 1,
    # r06 Misra-Gries heavy hitters: the 1-row total-token scalar
    # crossJoined onto the 30-row candidate output for the err_ok bound
    "ns_vocab_heavy_hitters": 1,
    # r06 compression signal: the 1-row corr/range rider crossJoined
    # onto the per-doc output
    "ns_quality_compression": 1,
    # r06 PageRank: the 1-row mass-conservation rider crossJoined onto
    # the bounded top-100 rank output
    "ns_graph_pagerank": 1,
    # r06 sequence packing: the 1-row invariant rider (conservation /
    # capacity / fill bounds) built from two 1-row aggregates
    # (crossJoin of stats × input count, then rider onto the output)
    "ns_pack_sequences": 2,
    # r06 LM perplexity selection: the 1-row target-token-total scalar
    # crossJoined onto the transition stream (scalar-subquery pattern;
    # the model tables themselves ride bounded broadcast HASH joins)
    "ns_select_lm_perplexity": 1,
    # r06 composed recipe: same LM scoring stage, same 1-row scalar
    "ns_pipeline_llm_recipe": 1,
    # r06 classifier selection: the 1-row separation_ok scalar
    # (target mean score > raw mean score) crossJoined onto the
    # 100-row selection
    "ns_select_classifier": 1,
    # r07 Z-order layout: the 1-row rider (rows_preserved + per-dim
    # skipping bounds) crossJoined onto the 16-row per-file span table
    "ns_layout_zorder_skipping": 1,
}

#: A Window fed by an Exchange SinglePartition pulls EVERY row into one
#: task. No query is allowed one anymore: the last holder
#: (ns_hybrid_rrf_search's rank over the ≤50-row lexical top-k) now
#: partitions on a constant key — same bounded single-task window,
#: non-empty partition spec — so the WindowExec warning channel and
#: this gate are both clean-by-default.
GLOBAL_WINDOW_ALLOWED: dict[str, int] = {}

#: Window (possibly via AQE's ShuffleQueryStage indirection) whose
#: child exchange is SinglePartition.
_GLOBAL_WINDOW_RE = re.compile(
    r"Window\b[^\n]*\n(?:[^\n]*\n){0,3}?[^\n]*Exchange SinglePartition"
)


def _executed(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_gate_detects_planted_offenders(spark):
    """Falsifiability of the gate itself: the regexes must actually
    fire on the plans they claim to ban — a gate that matches nothing
    passes every query and verifies nothing."""
    from pyspark.sql import Window, functions as F

    # O(n²) join: a crossJoin with no condition executes as
    # CartesianProduct or (small side) BroadcastNestedLoopJoin
    cart = _executed(spark.range(100).crossJoin(spark.range(100).withColumnRenamed("id", "id2")))
    assert len(re.findall(r"CartesianProduct", cart)) + len(
        re.findall(r"BroadcastNestedLoopJoin", cart)
    ) >= 1, cart
    # global window: orderBy with no partition spec pulls every row
    # into one task via Exchange SinglePartition
    gwin = _executed(
        spark.range(1000).withColumn(
            "rn", F.row_number().over(Window.orderBy("id"))
        )
    )
    assert _GLOBAL_WINDOW_RE.findall(gwin), gwin


@pytest.mark.slow
def test_no_unbounded_join_strategies(spark):
    offenders: dict[str, str] = {}
    for name, q in load_all().items():
        df = q.fn(spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        cart = len(re.findall(r"CartesianProduct", plan))
        nlj = len(re.findall(r"BroadcastNestedLoopJoin", plan))
        gwin = len(_GLOBAL_WINDOW_RE.findall(plan))
        release_cached()
        if cart:
            offenders[name] = f"{cart} CartesianProduct"
        elif nlj > NLJ_ALLOWED.get(name, 0):
            offenders[name] = (
                f"{nlj} BroadcastNestedLoopJoin (allowed "
                f"{NLJ_ALLOWED.get(name, 0)})"
            )
        elif gwin > GLOBAL_WINDOW_ALLOWED.get(name, 0):
            offenders[name] = (
                f"{gwin} single-partition global Window (allowed "
                f"{GLOBAL_WINDOW_ALLOWED.get(name, 0)})"
            )
    assert offenders == {}, offenders
