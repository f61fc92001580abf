"""Connected components via hash-min label exchange (north rule).

Weakly-connected components of the directed edge table: each vertex
carries a label (initially its own id); every superstep each vertex
adopts the min label among {itself} ∪ neighbors (both directions);
converges when no label changes. Deterministic: the final label of a
component is the lexicographic min conv_id in it — exactly what the
oracle (pure-Python union-find in tests) computes.

Superstep = one join (labels onto the undirected adjacency, partitioned
once) + one min-aggregation + a left join back onto the label state —
the same gather-scatter shape as PageRank, one Spark job and one
exchange per superstep, checkpointed per iteration for lineage/resume.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unarxive_spark.session import adaptive_off
from unarxive_spark.sources.checkpoint import CheckpointManager


@dataclass
class ComponentsResult:
    components: DataFrame  # conv_id, component
    iterations: int
    converged: bool


def undirected(edges: DataFrame) -> DataFrame:
    """Symmetrized distinct neighbor pairs (u, v) — both directions."""
    fwd = edges.select(
        F.col("src_conv_id").alias("u"), F.col("dst_conv_id").alias("v")
    )
    rev = edges.select(
        F.col("dst_conv_id").alias("u"), F.col("src_conv_id").alias("v")
    )
    return fwd.unionByName(rev).filter(F.col("u") != F.col("v")).distinct()


@adaptive_off
def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    vertices: DataFrame | None = None,
    shortcut: bool = False,
) -> ComponentsResult:
    """``shortcut=True`` adds pointer jumping each superstep
    (label(v) ← label(label(v)), one self-join of the label table):
    min-labels then travel doubling distances, so convergence is
    O(log diameter) supersteps instead of O(diameter) — the variant the
    SCC coloring uses, where adversarial long-chain graphs would
    otherwise serialize. Off by default: on small-diameter citation
    graphs plain hash-min converges in a handful of rounds and the
    extra join per superstep is pure cost. The fixpoint (component =
    min conv_id) is identical either way."""
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    if vertices is None:
        vertices = (
            edges.select(F.col("src_conv_id").alias("conv_id"))
            .unionByName(edges.select(F.col("dst_conv_id").alias("conv_id")))
            .distinct()
        )
    with CheckpointManager(spark, checkpoint_dir) as ckpt:
        # partitioned like the label state; superstep 0 fills the cache
        adj = ckpt.cache(undirected(edges).repartition(n_parts, "u"))
        labels = ckpt.resume(max_iter)
        if labels is None:
            labels = vertices.select(
                "conv_id", F.col("conv_id").alias("component")
            )
        labels = labels.select("conv_id", "component").repartition(
            n_parts, "conv_id"
        )

        converged = False
        for it in ckpt.steps(max_iter):
            # neighbour-min: push each vertex's label to its neighbours and
            # take the min per receiver (the gather, the one exchange); the
            # state side of both joins is co-partitioned with adj and with
            # the gather output, and the old label rides along so the
            # convergence count is a column diff on the materialized state
            # instead of a second label-table join per superstep (guide §2.4)
            nbr_min = (
                adj.join(
                    labels.withColumnRenamed("conv_id", "u").hint(
                        "shuffle_hash"
                    ),
                    "u",
                )
                .groupBy(F.col("v").alias("conv_id"))
                .agg(F.min("component").alias("_nbr"))
            )
            new_labels = labels.join(
                nbr_min.hint("shuffle_hash"), "conv_id", "left"
            ).select(
                "conv_id",
                # least() skips the NULL of a vertex without neighbours
                F.least("component", "_nbr").alias("component"),
                F.col("component").alias("_old"),
            )
            if shortcut:
                # label(v) ← label(label(v)): labels are vertex ids, so the
                # jump is an equi-join of the label table with itself; the
                # invariant label(x) ≤ x makes the jumped label the minimum
                new_labels = (
                    new_labels.join(
                        new_labels.select(
                            F.col("conv_id").alias("component"),
                            F.col("component").alias("_jump"),
                        ),
                        "component",
                    )
                    .select(
                        "conv_id", F.col("_jump").alias("component"), "_old"
                    )
                )
            # one pass: materialize with the change count observed in it
            new_m, n_changed = ckpt.superstep(
                it,
                new_labels,
                "n_changed",
                F.count_if(F.col("component") != F.col("_old")),
            )
            labels = new_m.select("conv_id", "component")
            if n_changed == 0:
                converged = True
                break
    return ComponentsResult(labels, ckpt.iterations, converged)
