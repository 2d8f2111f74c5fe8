"""Connected components over verified candidate pairs — the clustering stage.

The reference never clusters (every probe row gets an independent verdict);
the north rule adds transitive closure of the duplicate relation. Implemented
as iterative min-label propagation expressed purely as DataFrame joins:

    label(v) <- min(label(v), min_{(u,v) in E} label(u))

Round 0 is fused into label construction (one union+groupBy, no join).
After it and after every later round, ONE job counts the edges whose
endpoints carry different labels; the loop stops at 0. The test is exact:
every label is an id from its node's component and <= the node's id, so
"all edges agree" means each component carries its minimum id. Star-shaped
dedup graphs (tiers emit star edges around bucket minima) thus stop right
after round 0, and a deep graph stops in the round it settles. From the
second propagation round on, a pointer-doubling shortcut
label(v) <- label(label(v)) bounds high-diameter graphs (chains of drifting
near-dups) at O(log n) rounds instead of O(diameter). cfg.cc_max_iters
bounds the rounds after round 0; 0 is legal.

The symmetric edge set and each round's labels are eager localCheckpoints,
so every query in the loop plans against a leaf, not a growing lineage.
When the loop ends, all of them are released except the final labels,
which the lazy output reads.

Fault model: checkpointed edges and labels live in executor storage with
no lineage, so they are not recomputable after executor loss and the query
fails. Cluster runs should commit stages through plans/checkpoint.py.

Determinism: labels are min(image_id) of the component — reproducing the
reference's deterministic winner rule (scan-order last-wins,
WarcIterator.java:59 / IndexBuilder.java:227-236) with an explicit total
order instead of incidental file order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, DedupConfig


def _propagate(edges: DataFrame, labels: DataFrame, id_col: str) -> DataFrame:
    """One min-label round: label(v) <- min(label(v), min over neighbors)."""
    nbr_min = (
        edges.join(labels.select(F.col(id_col).alias("id_b"), "label"), "id_b")
        .groupBy("id_a")
        .agg(F.min("label").alias("label"))
        .withColumnRenamed("id_a", id_col)
    )
    return (
        labels.unionByName(nbr_min)
        .groupBy(id_col)
        .agg(F.min("label").alias("label"))
    )


def _shortcut(labels: DataFrame, id_col: str) -> DataFrame:
    """Pointer doubling: label(v) <- label(label(v)).

    Every label value is itself a node id present in ``labels`` (labels are
    mins over node ids), so the self-join always hits; coalesce guards the
    degenerate empty frame. least() keeps monotonicity explicit even though
    label(u) <= u already implies it.
    """
    lab = labels.select(F.col(id_col).alias("_lk"), F.col("label").alias("_l2"))
    return (
        labels.join(lab, labels["label"] == lab["_lk"], "left")
        .select(
            F.col(id_col),
            F.least(F.col("label"), F.coalesce("_l2", "label")).alias("label"),
        )
    )


def _disagreements(edges: DataFrame, labels: DataFrame, id_col: str) -> int:
    """Count the edges whose endpoints carry different labels (each once)."""
    la = labels.select(F.col(id_col).alias("id_a"), F.col("label").alias("_la"))
    lb = labels.select(F.col(id_col).alias("id_b"), F.col("label").alias("_lb"))
    return (
        edges.where(F.col("id_a") < F.col("id_b"))
        .join(la, "id_a")
        .join(lb, "id_b")
        .where(F.col("_la") != F.col("_lb"))
        .count()
    )


def _release(checkpointed: DataFrame) -> None:
    """Unpersist the RDD behind a localCheckpoint'ed frame."""
    checkpointed._jdf.queryExecution().analyzed().rdd().unpersist(False)


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    cfg: DedupConfig = DEFAULT,
    id_col: str = "image_id",
) -> DataFrame:
    """pairs(id_a, id_b) [+ nodes(image_id)] -> (image_id, cluster_id).

    Singleton nodes (no incident edge) map to themselves when ``nodes`` is
    given; otherwise only endpoint nodes appear in the output.
    """
    edges = (
        pairs.select("id_a", "id_b")
        .unionByName(pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")))
        .distinct()
        .localCheckpoint()
    )
    try:
        # round 0: label(v) = min(v, neighbors) via ONE union+groupBy
        labels = (
            edges.select(F.col("id_a").alias(id_col), F.col("id_b").alias("label"))
            .unionByName(edges.select(F.col("id_a").alias(id_col),
                                      F.col("id_a").alias("label")))
            .groupBy(id_col)
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        rounds = 0
        while _disagreements(edges, labels, id_col):
            if rounds == cfg.cc_max_iters:
                _release(labels)
                raise RuntimeError(
                    f"connected_components did not converge in {rounds} rounds"
                )
            nxt = _propagate(edges, labels, id_col)
            if rounds:  # a graph still unsettled after round 1 is deep
                nxt = _shortcut(nxt, id_col)
            nxt = nxt.localCheckpoint()
            _release(labels)
            labels = nxt
            rounds += 1
    finally:
        _release(edges)

    out = labels.select(F.col(id_col), F.col("label").alias("cluster_id"))
    if nodes is not None:
        out = (
            nodes.select(id_col)
            .join(out, id_col, "left")
            .select(id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"))
        )
    return out


def repair_clusters(
    clusters: DataFrame,
    edges: DataFrame,
    retracted: DataFrame,
    cfg: DedupConfig = DEFAULT,
    id_col: str = "image_id",
) -> DataFrame:
    """Incremental cluster repair after retracting members (takedown /
    GDPR-erasure requests): (clusters(image_id, cluster_id) from a prior
    run, edges(id_a, id_b) canonical verified pairs from the same run,
    retracted(image_id)) -> the (image_id, cluster_id) assignment a FULL
    recompute over the surviving subgraph would produce — without running
    connected components over the corpus again.

    Exactness: a component with no retracted member keeps its node set and
    every incident edge (removed edges all touch a retracted node, and
    retracted nodes live only in affected components), so its assignment is
    carried through VERBATIM; only affected components are re-closed — they
    may split (the retracted node was a cut vertex) or re-label (it was the
    min-id representative). The cross-engine oracle proves the composition
    equals the full recompute.

    Scale: the retraction set is operationally tiny (a takedown batch), so
    `retracted` and the affected-cluster-id set are broadcast; the corpus-
    sized inputs (clusters, edges) are each touched by ONE broadcast
    semi-/anti-join — no shuffle of the 10^12-row assignment, no global CC.
    The re-closed subgraph is bounded by |retracted| x max cluster size;
    connected_components on it is a few tasks. The reference analog is
    IndexBuilder's rebuild-on-change (IndexBuilder.java:94-104, APPEND
    lifecycle) — this is the subtractive counterpart, done incrementally.
    """
    affected = (
        clusters.join(F.broadcast(retracted.select(id_col)), id_col)
        .select("cluster_id")
        .distinct()
    )
    survivors = clusters.join(
        F.broadcast(retracted.select(id_col)), id_col, "left_anti")
    untouched = survivors.join(
        F.broadcast(affected), "cluster_id", "left_anti"
    ).select(id_col, "cluster_id")
    sub_nodes = survivors.join(F.broadcast(affected), "cluster_id") \
        .select(id_col)
    sub_edges = (
        edges.select("id_a", "id_b")
        .join(F.broadcast(sub_nodes.select(F.col(id_col).alias("id_a"))),
              "id_a")
        .join(F.broadcast(sub_nodes.select(F.col(id_col).alias("id_b"))),
              "id_b")
        .select("id_a", "id_b")
    )
    repaired = connected_components(
        sub_edges, nodes=sub_nodes, cfg=cfg, id_col=id_col)
    return untouched.unionByName(repaired)
