"""Label propagation (community detection) — deterministic synchronous
variant (north rule; SURVEY.md §5 "LPA is NOT deterministic under ties →
define deterministic tie-break (min label)").

Rule per superstep (synchronous; matched exactly by the pure-Python
oracle in tests):
- neighbor labels are counted over the **undirected** adjacency,
  weighted by edge weight (both directions carry the weight);
- new label = the label with max total weight; ties broken by **min
  label**; isolated vertices keep their label;
- fixed ``n_iter`` supersteps (synchronous LPA can oscillate on
  bipartite structures, so exact-match semantics pin the iteration
  count rather than a fixpoint).

Shape: join + two-stage agg (weight by (vertex,label), then argmax via
min over a struct tie-break) + a left join back onto the label state —
same partitioning story as PageRank: one Spark job and one exchange
per superstep.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unarxive_spark.session import adaptive_off
from unarxive_spark.sources.checkpoint import CheckpointManager


@dataclass
class LPAResult:
    labels: DataFrame  # conv_id, label
    iterations: int


def _undirected_weighted(edges: DataFrame) -> DataFrame:
    fwd = edges.select(
        F.col("src_conv_id").alias("u"),
        F.col("dst_conv_id").alias("v"),
        "weight",
    )
    rev = edges.select(
        F.col("dst_conv_id").alias("u"),
        F.col("src_conv_id").alias("v"),
        "weight",
    )
    return (
        fwd.unionByName(rev)
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.sum("weight").alias("w"))
    )


@adaptive_off
def label_propagation(
    edges: DataFrame,
    n_iter: int = 5,
    checkpoint_dir: str | None = None,
) -> LPAResult:
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    vertices = (
        edges.select(F.col("src_conv_id").alias("conv_id"))
        .unionByName(edges.select(F.col("dst_conv_id").alias("conv_id")))
        .distinct()
    )
    with CheckpointManager(spark, checkpoint_dir) as ckpt:
        # partitioned like the label state; superstep 0 fills the cache
        adj = ckpt.cache(_undirected_weighted(edges).repartition(n_parts, "u"))
        labels = ckpt.resume(n_iter)
        if labels is None:
            labels = vertices.select(
                "conv_id", F.col("conv_id").alias("label")
            )
        labels = labels.select("conv_id", "label").repartition(
            n_parts, "conv_id"
        )

        for it in ckpt.steps(n_iter):
            # gather neighbour labels: v receives u's label with weight w.
            # The state side of the join is co-partitioned with adj; the
            # received rows are exchanged ONCE, by receiver, so both
            # aggregates and the join back onto the state need no other
            # exchange
            received = (
                adj.join(
                    labels.withColumnRenamed("conv_id", "u").hint(
                        "shuffle_hash"
                    ),
                    "u",
                )
                .select(F.col("v").alias("conv_id"), "label", "w")
                .repartition(n_parts, "conv_id")
            )
            tallies = received.groupBy("conv_id", "label").agg(
                F.sum("w").alias("tw")
            )
            # argmax weight, tie-break min label: min over the struct
            # (negative weight, label) in a single deterministic pass
            winner = tallies.groupBy("conv_id").agg(
                F.min(
                    F.struct((-F.col("tw")).alias("nw"), F.col("label"))
                ).alias("m")
            ).select("conv_id", F.col("m.label").alias("_win"))
            # the state rows ARE the vertex set (invariant from init), so
            # the winner left-joins onto the state directly — no vertices
            # re-join — and the carried old label makes the change count a
            # column diff on the materialized state instead of a second
            # label-table join per superstep (guide §2.4; the same fusion
            # as connected_components)
            new_labels = labels.join(
                winner.hint("shuffle_hash"), "conv_id", "left"
            ).select(
                "conv_id",
                F.coalesce(F.col("_win"), F.col("label")).alias("label"),
                F.col("label").alias("_old"),
            )
            new_m, _ = ckpt.superstep(
                it,
                new_labels,
                "n_changed",
                F.count_if(F.col("label") != F.col("_old")),
            )
            labels = new_m.select("conv_id", "label")
    return LPAResult(labels, ckpt.iterations)


def seeded_label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 5,
) -> LPAResult:
    """Semi-supervised LPA: ``seeds`` (conv_id, label) are ANCHORS whose
    labels never change; every other vertex starts unlabeled and adopts
    the weighted-majority label of its labeled neighbors each superstep
    (ties → min label, the repo-wide deterministic tie-break).

    The standard "propagate known categories through the citation
    graph" primitive: a handful of hand-labeled conversations color
    their graph neighborhoods.  Unreached vertices stay NULL rather
    than inventing a community — downstream filters can tell "no signal
    yet" from "labeled".

    Same per-superstep shape as plain LPA (one adjacency⋈labels join +
    two map-side-combinable aggs); the anchor override is a broadcast-
    sized left join, and convergence is label-change count == 0.
    """
    vertices = (
        edges.select(F.col("src_conv_id").alias("conv_id"))
        .unionByName(edges.select(F.col("dst_conv_id").alias("conv_id")))
        .distinct()
    )
    with CheckpointManager(edges.sparkSession, None) as ckpt:
        adj = ckpt.cache(_undirected_weighted(edges).repartition("u"))
        anchors = ckpt.cache(
            seeds.select("conv_id", F.col("label").alias("_seed"))
        )
        adj.count()

        labels = vertices.join(anchors, "conv_id", "left").select(
            "conv_id", F.col("_seed").alias("label")
        )

        for it in ckpt.steps(n_iter):
            received = adj.join(
                labels.filter(F.col("label").isNotNull()).withColumnRenamed(
                    "conv_id", "u"
                ),
                "u",
            ).select(F.col("v").alias("conv_id"), "label", "w")
            tallies = received.groupBy("conv_id", "label").agg(
                F.sum("w").alias("tw")
            )
            winner = (
                tallies.groupBy("conv_id")
                .agg(
                    F.min(
                        F.struct((-F.col("tw")).alias("nw"), F.col("label"))
                    ).alias("m")
                )
                .select("conv_id", F.col("m.label").alias("_win"))
            )
            # state rows ARE the vertex set (init builds them from
            # vertices), so winner + anchors left-join onto the state
            # directly — no vertices re-join — and the carried old label
            # fuses the change count into a column diff on the
            # materialized state (guide §2.4)
            new_labels = (
                labels.select(
                    "conv_id", F.col("label").alias("_old")
                )
                .join(winner, "conv_id", "left")
                .join(anchors, "conv_id", "left")
                .select(
                    "conv_id",
                    F.coalesce(F.col("_seed"), F.col("_win")).alias("label"),
                    "_old",
                )
            )
            new_m, n_changed = ckpt.superstep(
                it,
                new_labels,
                "n_changed",
                F.count_if(~F.col("label").eqNullSafe(F.col("_old"))),
            )
            labels = new_m.select("conv_id", "label")
            if n_changed == 0:
                break
    return LPAResult(labels=labels, iterations=ckpt.iterations)
