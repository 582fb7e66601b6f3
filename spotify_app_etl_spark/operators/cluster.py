"""Connected components over near-duplicate pair graphs.

Reference parity: none — LLM-data-pipeline surface. Pairwise near-dup
detection (MinHash/SimHash/Jaccard) yields EDGES; turning "A~B, B~C"
into one cluster {A,B,C} with a single kept representative requires the
connected components of that graph. The greedy closure in
``dedup.minhash_dedup`` under-merges chains (A~B~C with A!~C keeps A
and C); CC is the exact fixpoint.

Algorithm: iterative min-label propagation. Every node starts labeled
with itself; each round a node takes the min of its own and its
neighbors' labels; fixpoint = every node carries the min id of its
component. Near-dup graphs are unions of small-diameter cliques-ish
blobs, so convergence is a handful of rounds.

Scale shape (the part that matters at 100 TB):

* **Static edge layout (r11, same trick as graph.pagerank):** the edge
  list and initial labels are hash-partitioned + sorted on their
  per-round join key and checkpointed with the layout captured
  (``adaptive_off``), so co-partitioned rounds join the stationary
  edge table with NO exchange; while the label vector fits under the
  broadcast threshold, rounds instead run under AQE and broadcast it.
* Each round is ONE shuffle: labels ⋈ edges on the node key, then a
  map-side-combinable min-aggregate. No driver-side graph state — the
  only thing crossing the driver is the changed-label COUNT.
* ``localCheckpoint`` per round truncates lineage; without it the plan
  doubles each iteration and Catalyst analysis time explodes by round
  ~15 (the classic iterative-DataFrame failure mode).
* Rounds are bounded by graph diameter, not node count. For
  adversarially long chains, the large-star/small-star algorithm
  (Kiveris et al., "Connected Components in MapReduce and Beyond")
  halves diameter per round; documented here as the upgrade path —
  near-dup blobs in practice converge in ≤5 rounds, and ``max_iter``
  fails loudly rather than silently under-merging.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

from spotify_app_etl_spark.operators.checkpoint import (
    adaptive_off,
    broadcastable_rounds_ctx,
    local_checkpoint_ser,
    release_local_checkpoint,
)

log = logging.getLogger(__name__)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """``(node, component)`` for every node appearing in ``pairs``.

    ``component`` is the smallest node id reachable from ``node``
    (deterministic, engine-independent — ideal for oracle checks).
    """
    spark = pairs.sparkSession
    # Materialize the input ONCE: `edges` and `labels` below both
    # checkpoint a derivation of `pairs`, and a lazily-passed pair
    # pipeline (e.g. the exact n-gram Jaccard self-join feeding
    # ns_dedup_clusters) would otherwise execute its expensive join
    # twice. The checkpointed pair set itself is just ids — tiny.
    pairs = local_checkpoint_ser(pairs)
    # Static tables hash-partitioned + sorted on their per-round join
    # key, with the layout CAPTURED into the checkpoint (adaptive_off —
    # see operators/checkpoint.py; under AQE the captured partitioning
    # is Unknown and every round re-exchanged the full edge list, the
    # same defect class the r11 PageRank fix removed from graph.py).
    with adaptive_off(spark):
        # Undirected edge list, both directions, self-loops dropped.
        # Dedup AFTER the repartition (r11, guide §2.4): hash(dst)
        # co-locates equal (src, dst) pairs (partitioning on a subset
        # of the grouping keys satisfies the dedup aggregate's
        # clustering requirement), so dropDuplicates runs exchange-free
        # on the captured layout — one full-data shuffle instead of the
        # two the previous distinct-then-repartition shape paid.
        edges = local_checkpoint_ser(
            pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
            .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .repartition("dst")
            .dropDuplicates(["src", "dst"])
            .sortWithinPartitions("dst")
        )
        # Node universe from the UNFILTERED pairs: a node appearing only
        # in self-loop rows (e.g. an upstream stage emitting reflexive
        # pairs) has no surviving edge, but the contract promises a row
        # for every node in `pairs` — it gets a singleton component
        # below because the neighbor join simply never updates it.
        labels = local_checkpoint_ser(
            pairs.select(F.col(id_a).alias("node"))
            .union(pairs.select(F.col(id_b).alias("node")))
            .distinct()
            .withColumn("component", F.col("node"))
            .sortWithinPartitions("node")
        )
    # edges + labels are eagerly materialized above; the pairs
    # checkpoint they were derived from is now dead weight in the
    # storage pool (it can be the WIDEST state here when the caller
    # passed an expensive pair pipeline).
    release_local_checkpoint(pairs)

    # Same round-mode gate as graph.pagerank (broadcastable_rounds_ctx):
    # broadcast-mode rounds (AQE on) while the label vector fits under
    # the broadcast threshold — AQE broadcasts the label side and
    # nothing exchanges — co-partitioned rounds (AQE off) past it,
    # where each round is ONE label-vector-sized exchange (the
    # partial-min aggregate) against the stationary edge layout.
    n_nodes = labels.count()
    with broadcastable_rounds_ctx(spark, n_nodes):
        return _cc_loop(edges, labels, max_iter)


def _cc_loop(edges: DataFrame, labels: DataFrame, max_iter: int) -> DataFrame:
    prev = labels  # superseded label generation, released once replaced
    for rounds in range(1, max_iter + 1):
        # min over {own label} ∪ {neighbors' labels} — one shuffle round.
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = local_checkpoint_ser(
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    "component", F.coalesce("nbr_component", "component")
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("__changed"),
            )
        )
        changed = updated.filter("__changed").count()
        # `updated` is eagerly materialized — round k-1's labels are
        # now unreachable by any surviving plan. Without this release
        # the loop keeps R generations of (node, label) state live in
        # the storage pool (the 128x-probe eviction-thrash bend).
        release_local_checkpoint(prev)
        prev = updated
        labels = updated.drop("__changed")
        if changed == 0:
            log.info("connected_components: converged in %d rounds", rounds)
            release_local_checkpoint(edges)  # result only needs `updated`
            return labels
    raise RuntimeError(
        f"connected_components: no fixpoint after {max_iter} rounds — "
        "graph diameter exceeds the bound; raise max_iter or switch to "
        "large-star/small-star"
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Clusters from near-dup pairs: ``(node, component, cluster_size)``.

    ``component`` doubles as the kept-representative id (min id of the
    cluster); rows with ``node != component`` are the drop set.
    """
    cc = connected_components(pairs, id_a, id_b)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "component").select("node", "component", "cluster_size")

def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iter: int = 20,
) -> DataFrame:
    """``(node, component)`` via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    Same contract as :func:`connected_components` (component = min
    reachable id), but rounds scale with **log(diameter)** instead of
    diameter: each round rewires edges toward per-neighborhood minima,
    roughly halving path lengths. This is the documented upgrade path
    for adversarially chained graphs (a 10,000-link near-dup chain
    converges in ~14 rounds instead of 10,000) — at 100 TB graph
    diameter is not something you can bound in advance.

    Per round: ONE aggregation shuffle (per-node neighborhood min over
    the bidirectional edge list) + one join shuffle to rewire — no
    collect_list, so a hot node's neighborhood never materializes in
    one task. Fixpoint = the rewired edge set stops changing (checked
    by count + per-round convergence of the edge sum, both driver-side
    scalars).
    """
    # One materialization of the (possibly expensive) input pipeline —
    # same rationale as connected_components.
    pairs = local_checkpoint_ser(pairs)
    # Bidirectional view, self-loops dropped.
    edges = local_checkpoint_ser(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # Node universe from the UNFILTERED pairs (see connected_components:
    # self-loop-only nodes must still get a singleton row).
    all_nodes = local_checkpoint_ser(
        pairs.select(F.col(id_a).alias("node"))
        .union(pairs.select(F.col(id_b).alias("node")))
        .distinct()
    )
    # Both derivations are materialized; drop the input checkpoint.
    release_local_checkpoint(pairs)

    def bidirectional(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def nbr_min(bidir: DataFrame) -> DataFrame:
        """m(u) = min over Γ(u) ∪ {u} on the bidirectional closure."""
        return (
            bidir.groupBy("u")
            .agg(F.min("v").alias("m"))
            .select("u", F.least("u", "m").alias("m"))
        )

    for rounds in range(1, max_iter + 1):
        # One bidirectional view per round, shared by the min-aggregate
        # and the rewire join (previously built twice — double the
        # edge-scan work in every iteration).
        bidir = bidirectional(edges)
        m = nbr_min(bidir)
        # large-star: for every neighbor v > u, edge (v, m(u));
        # small-star: for every neighbor v <= u (on the directed view
        # v < u), edge (v, m(u)). Together: every neighbor rewires to
        # the neighborhood min each round.
        rewired = local_checkpoint_ser(
            bidir.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # Fixpoint: every edge already points at its component min —
        # the rewire is then a no-op (same set). Both sides are
        # distinct, so set equality == empty symmetric difference; the
        # full-outer join + limit(1) makes it ONE action per round
        # (previously a count + an exceptAll count).
        changed = (
            rewired.withColumn("_r", F.lit(1))
            .join(edges.withColumn("_e", F.lit(1)), ["u", "v"], "full_outer")
            .filter(F.col("_r").isNull() | F.col("_e").isNull())
            .limit(1)
            .count()
        )
        # The fixpoint check above was the last read of round k-1's
        # edge set; release it before it stacks up in storage (the
        # final `edges` survives — the returned plan reads it lazily).
        release_local_checkpoint(edges)
        edges = rewired
        if changed == 0:
            log.info("connected_components_star: converged in %d rounds", rounds)
            break
    else:
        raise RuntimeError(
            f"connected_components_star: no fixpoint after {max_iter} rounds"
        )

    # At fixpoint each component is a star rooted at its min id: the
    # label of u is min(m(u), u); isolated original nodes keep selves.
    labels = nbr_min(bidirectional(edges)).select(
        F.col("u").alias("node"), F.col("m").alias("component")
    )
    return all_nodes.join(labels, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )
