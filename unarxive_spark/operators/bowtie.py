"""Bow-tie decomposition of a directed graph (Broder et al. 2000).

The classic macro-structure of a link graph — "Graph structure in the
web" — partitions vertices around the giant strongly connected
component: SCC (the core), IN (reaches the core), OUT (reachable from
the core), OTHER (tendrils, tubes, disconnected).  The reference's
citation network is exactly this shape (most arXiv papers sit in IN:
they cite the core but are never cited back); the engine exposes the
four-region census as one deterministic row set.

Dataflow: SCC labels from operators/scc.py (deterministic min-id
labels), the giant component by (size DESC, comp ASC) — the one
driver-side scalar — then TWO exact BFS fixpoints (reverse for IN,
forward for OUT) over the CONDENSATION graph (one vertex per SCC,
one edge per linked SCC pair — a vertex reaches the core iff its SCC
does), each superstep one join + anti-join with state materialized
via CheckpointManager.  Reach runs to FIXPOINT (frontier empty), not
a hop cap, so the census is exact — matching the oracle's unbounded
recursive-CTE closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unarxive_spark.sources.checkpoint import CheckpointManager

__all__ = ["bowtie_census"]


def _reach_fixpoint(
    ckpt: CheckpointManager,
    edges_uv: DataFrame,
    seed: DataFrame,
    tag: int,
    max_iter: int,
) -> DataFrame:
    """All vertices reachable from ``seed`` along (u → v) edges,
    EXCLUDING nothing (seed included)."""
    reached = seed
    frontier = seed
    for it in range(max_iter):
        new = (
            edges_uv.join(
                frontier.withColumnRenamed("conv_id", "u"), "u"
            )
            .select(F.col("v").alias("conv_id"))
            .distinct()
            .join(reached, "conv_id", "left_anti")
        )
        frontier, n_new = ckpt.superstep(
            tag * max_iter + it, new, "n_new", F.count(F.lit(1))
        )
        if n_new == 0:
            return reached
        reached = reached.unionByName(frontier).localCheckpoint(eager=True)
    raise RuntimeError(
        f"bowtie reach: frontier alive after {max_iter} supersteps"
    )


def bowtie_census(
    edges: DataFrame,
    max_iter: int = 100,
) -> DataFrame:
    """Four-region bow-tie census → ``(region string, n_vertices
    long)`` with regions ``scc`` (giant strongly connected component,
    ties on size broken by min component id), ``in`` (reaches the
    core), ``out`` (reachable from the core), ``other`` (the rest).
    Regions with zero vertices still emit a row — fixed 4-row output.
    """
    from unarxive_spark.operators.scc import strongly_connected_components

    spark = edges.sparkSession
    with CheckpointManager(spark, None) as ckpt:
        de = ckpt.cache(
            edges.select(
                F.col("src_conv_id").alias("u"),
                F.col("dst_conv_id").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        de.count()

        comps = strongly_connected_components(edges).components
        sizes = comps.groupBy("component").agg(
            F.count(F.lit(1)).alias("n")
        )
        giant = (
            sizes.orderBy(F.desc("n"), F.asc("component"))
            .limit(1)
            .collect()[0]["component"]
        )  # metadata-sized scalar: the pivot of the whole census

        # Reachability runs on the CONDENSATION (one vertex per SCC, one
        # edge per linked SCC pair), not the raw graph: a vertex reaches
        # the core iff its SCC reaches the giant SCC, every BFS hop scans
        # the (much smaller) component graph, and the hop count is the
        # condensation-DAG depth instead of the vertex-level BFS depth
        # (guide §2.3 — shuffle the lightweight proxy, not the data).
        comps_m = comps.localCheckpoint(eager=True)
        cu = comps_m.select(
            F.col("conv_id").alias("u"), F.col("component").alias("cu")
        )
        cv = comps_m.select(
            F.col("conv_id").alias("v"), F.col("component").alias("cv")
        )
        ce = (
            de.join(cu, "u")
            .join(cv, "v")
            .filter(F.col("cu") != F.col("cv"))
            .select(F.col("cu").alias("u"), F.col("cv").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        seed = comps_m.select(F.col("component").alias("conv_id")).filter(
            F.col("conv_id") == giant
        ).distinct()
        rev = ce.select(F.col("v").alias("u"), F.col("u").alias("v"))
        in_comps = _reach_fixpoint(ckpt, rev, seed, 0, max_iter)
        out_comps = _reach_fixpoint(ckpt, ce, seed, 1, max_iter)

        verts = (
            de.select(F.col("u").alias("conv_id"))
            .unionByName(de.select(F.col("v").alias("conv_id")))
            .distinct()
        )
        lab = (
            verts.join(comps_m, "conv_id")
            .join(
                in_comps.select(
                    F.col("conv_id").alias("component")
                ).withColumn("_i", F.lit(1)),
                "component",
                "left",
            )
            .join(
                out_comps.select(
                    F.col("conv_id").alias("component")
                ).withColumn("_o", F.lit(1)),
                "component",
                "left",
            )
            .select(
                F.when(F.col("component") == giant, F.lit("scc"))
                .when(F.col("_i").isNotNull(), F.lit("in"))
                .when(F.col("_o").isNotNull(), F.lit("out"))
                .otherwise(F.lit("other"))
                .alias("region")
            )
        )
        # 4-row result: evaluate once so the cached edge table can be
        # released before the caller collects
        counts = (
            lab.groupBy("region")
            .agg(F.count(F.lit(1)).alias("n_vertices"))
            .localCheckpoint(eager=True)
        )
    regions = spark.createDataFrame(
        [("scc",), ("in",), ("out",), ("other",)], "region string"
    )
    return regions.join(counts, "region", "left").select(
        "region",
        F.coalesce("n_vertices", F.lit(0).cast("long")).alias(
            "n_vertices"
        ),
    )
