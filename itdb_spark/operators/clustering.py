"""Near-duplicate clustering: connected components over the candidate-pair
graph, then keeper election per cluster — the step after LSH/Jaccard that
turns pairs into a dedup decision (drop all but the canonical doc).

Algorithm: iterative min-label propagation over the undirected pair graph,
escalating to POINTER DOUBLING — from round ``DOUBLING_FROM`` on, each
round takes the min of (own label, the label OF the label node, neighbors'
labels). The label-of-label hop halves pointer-chain depth every round, so
convergence is O(log diameter) rounds instead of O(diameter): a 1000-link
chain (pathological boilerplate corpus) settles in ~12 rounds, not ~1000.
Near-dup components are tiny (diameter ≤ 3-4 in practice) and converge
within the plain-propagation prefix at one join per round — measured at
sf0.1, always-on doubling cost +23% wall on pipe-curate for zero round
savings, which is why the hop is deferred rather than unconditional. This
is the standard large-graph CC pattern without GraphFrames/GraphX.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from itdb_spark.plans.library import truncate_lineage

# Round budget and the round the label-of-label hop starts at. 12 rounds
# settle near-dup components in the plain prefix and chains of ~1000
# links (module docstring); a longer chain (5000 links leaves 905 labels
# unsettled) exhausts the budget and raises instead of returning
# partial labels.
MAX_ITER = 12
DOUBLING_FROM = 3


def connected_components(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``; component =
    min node id reachable. Converges when a full round changes no label
    (checked with a count — one action per round). Rounds before
    ``DOUBLING_FROM`` use plain neighbor-min propagation (one join); later
    rounds add the label-of-label hop (two joins, halves chain depth).
    Raises RuntimeError when ``MAX_ITER`` rounds end with labels still
    changing. Pass ``stats`` to get ``stats["rounds"]`` back — the
    convergence-round count the pointer-doubling test asserts on.
    """
    # The edge union scans `pairs` twice (forward + reversed) — cache
    # pairs so the candidate pipeline runs once. No distinct() anywhere:
    # pairs carry id1 < id2, so the two union directions cannot overlap,
    # and min-label propagation is duplicate-insensitive (min is
    # idempotent) — callers may even pass band-duplicated candidate pairs
    # (minhash_candidates(distinct_pairs=False)), trading a few duplicate
    # edge rows for one less full shuffle upstream.
    pairs = pairs.cache()
    # EAGER lineage truncation instead of .cache() (r14): edges is
    # referenced 1-2x per round and a cached frame's full logical
    # subtree — here the whole LSH candidate pipeline — is re-analyzed
    # and re-PLANNED at every reference and at every round's lazy
    # checkpoint (localCheckpoint runs the optimizer even when lazy).
    # The r14 attribution measured ~0.55 s DRIVER wall per round on
    # plan work against ~0.13 s of execution; with edges a leaf, round
    # plans are constant-size regardless of how the candidate pipeline
    # grew (guide §3.3/§7.3 — same fix as the containment family).
    # r14: the pre-checkpoint repartition(b) this carried since the
    # cache era was REMOVED. Measured: an AQE-on localCheckpoint
    # records UnknownPartitioning in the LogicalRDD (a groupBy over
    # the checkpointed leaf plans 1 Exchange; only an AQE-OFF
    # materialization preserves hashpartitioning — neither
    # coalescePartitions=false nor an explicit count is enough), so
    # the repartition's exchange was pure cost: no round ever saw the
    # partitioning. The AQE-off alternative (copartitioned_leaf,
    # union materialized first under AQE, then a bare re-keying
    # exchange) was built and measured WORSE at sf0.1 (interleaved
    # A/B medians 7.0 vs 5.6 s on pipe-curate — the extra
    # materialization outweighs the per-round map-write skip, and at
    # bench scale AQE broadcasts labels so edges were never shuffled
    # per round anyway). If a cluster profile ever shows per-round
    # edge exchanges dominating CC, revisit that helper's approach.
    edges = truncate_lineage(
        pairs.select(F.col(id1).alias("a"), F.col(id2).alias("b"))
        .unionByName(
            pairs.select(F.col(id2).alias("a"), F.col(id1).alias("b"))
        ),
        eager=True,
    )
    # pairs' cache exists only so the union's two branches compute the
    # candidate pipeline once inside the eager materialization above —
    # release it immediately; edges now reads checkpoint blocks.
    pairs.unpersist()
    # Initial labels fold the would-be first propagation round into a plain
    # groupBy: with identity labels, "min neighbor label" IS min(b) — no
    # join needed, and the loop starts one round further along.
    labels = (
        edges.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("nmin"))
        .select("node", F.least(F.col("node"), F.col("nmin")).alias("component"))
    )
    # Iterative algorithms must truncate lineage each round — otherwise
    # round N recomputes rounds 1..N-1 from scratch and the plan grows
    # exponentially. truncate_lineage picks localCheckpoint (executor
    # storage) or reliable checkpoint() (HDFS/S3) depending on whether the
    # session has a checkpoint dir configured — set one on clusters whose
    # executors can be reclaimed mid-job (SCALE.md "checkpoint posture").
    # Lazy checkpoints (eager=False) are NOT free under AQE: the
    # localCheckpoint call itself finalizes the adaptive plan, so every
    # shuffle map stage of the round (the neighbor join's and groupBy's
    # exchanges) runs as its own job right there, during construction.
    # Only the final result stage waits for the round's count(), whose
    # jobs then write the checkpoint blocks and return the convergence
    # signal. What laziness saves is a second pass over the result
    # stage, not the round's shuffle-stage jobs.
    labels = truncate_lineage(labels, eager=False)
    rounds = 0
    for _ in range(MAX_ITER):
        rounds += 1
        if rounds >= DOUBLING_FROM:
            # Pointer-doubling hop: my component's OWN label is at least
            # as small as my component (labels only decrease), so
            # following one extra pointer per round halves chain depth —
            # the join is labels⋈labels on component=node, same shuffle
            # key family as the neighbor join.
            ptr = labels.select(F.col("node").alias("ptr"), F.col("component").alias("ptr_comp"))
            doubled = (
                labels.join(ptr, labels.component == ptr.ptr, "left")
                .select(
                    "node",
                    F.col("component").alias("orig"),
                    F.least(
                        F.col("component"), F.coalesce("ptr_comp", F.col("component"))
                    ).alias("half"),
                )
            )
        else:
            doubled = labels.select(
                "node", F.col("component").alias("orig"), F.col("component").alias("half")
            )
        neighbor_min = (
            edges.join(doubled.select(F.col("node").alias("b_node"), "half"),
                       edges.b == F.col("b_node"))
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("half").alias("nmin"))
        )
        new_labels = (
            doubled.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("half"), F.coalesce("nmin", F.col("half"))).alias("new_component"),
                F.col("orig").alias("component"),
            )
        )
        new_labels = truncate_lineage(new_labels, eager=False)
        # Convergence compares against the ROUND-START label so a change
        # made by the doubling hop alone still forces another round.
        changed = new_labels.where(F.col("new_component") < F.col("component")).count()
        labels = new_labels.select("node", F.col("new_component").alias("component"))
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: {changed} labels still changing after "
            f"{MAX_ITER} rounds"
        )
    # The convergence count just materialized the final round's (lazy)
    # checkpoint, so the returned frame reads checkpoint blocks; the
    # edge checkpoint's blocks are reclaimed by the ContextCleaner once
    # `edges` goes out of scope (plans.library.materialized's contract).
    if stats is not None:
        stats["rounds"] = rounds
    return labels


def elect_keepers(components: DataFrame) -> DataFrame:
    """(component, keeper, n_members, drop_count): the dedup decision —
    keep the min-id member, drop the rest (the reference keeps the first
    path in each checksum group, dupes/dedup.py:157-171)."""
    return components.groupBy("component").agg(
        F.min("node").alias("keeper"),
        F.count("*").alias("n_members"),
        (F.count("*") - 1).alias("drop_count"),
    )
