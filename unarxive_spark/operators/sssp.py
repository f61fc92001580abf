"""Single-source shortest paths (weighted) — Bellman-Ford supersteps.

Relaxation rounds over the edge table: dist'(v) = min(dist(v),
min_u(dist(u) + w(u,v))). Converges in ≤ |V|-1 rounds (far fewer in
practice — stop when no distance improves). Weights must be positive
(edge weights here are marker counts ≥ 1; for "stronger link = closer"
semantics pass a transformed weight column, e.g. 1/weight).

Same join/agg superstep shape as PageRank; state materialized once per
superstep via CheckpointManager.
Oracle: dict-based Dijkstra in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unarxive_spark.sources.checkpoint import CheckpointManager


def shortest_paths(
    edges: DataFrame,
    source: str,
    max_rounds: int = 50,
    strict: bool = True,
) -> DataFrame:
    """→ (conv_id, distance double) for vertices reachable from source.

    ``strict=True`` (default) raises when ``max_rounds`` is exhausted
    while distances are still improving — otherwise callers would get a
    silent upper bound instead of shortest paths. Pass ``strict=False``
    to accept the bounded relaxation (e.g. hop-limited distances)."""
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(source, 0.0)], "conv_id string, distance double"
    )
    n_improved = 0
    with CheckpointManager(spark, None) as ckpt:
        adj = ckpt.cache(
            edges.select(
                F.col("src_conv_id").alias("u"),
                F.col("dst_conv_id").alias("v"),
                F.col("weight").cast("double").alias("w"),
            )
            .filter(F.col("u") != F.col("v"))
            .groupBy("u", "v")
            .agg(F.min("w").alias("w"))  # parallel edges: keep the cheapest
            .repartition("u")
        )
        for rnd in ckpt.steps(max_rounds):
            relaxed = (
                adj.join(dist.withColumnRenamed("conv_id", "u"), "u")
                .select(
                    F.col("v").alias("conv_id"),
                    (F.col("distance") + F.col("w")).alias("distance"),
                    F.lit(None).cast("double").alias("_old"),
                )
            )
            # state leg doubles as the old-distance carrier: improvement
            # count is a column diff on the materialized state, not a
            # second dist-table join per round (guide §2.4; the same
            # fusion as connected_components/pagerank)
            new_dist = (
                dist.select(
                    "conv_id", "distance", F.col("distance").alias("_old")
                )
                .unionByName(relaxed)
                .groupBy("conv_id")
                .agg(
                    F.min("distance").alias("distance"),
                    F.max("_old").alias("_old"),
                )
            )
            new_dist, n_improved = ckpt.superstep(
                rnd,
                new_dist,
                "n_improved",
                F.count_if(
                    F.col("_old").isNull()
                    | (F.col("distance") < F.col("_old"))
                ),
            )
            dist = new_dist.select("conv_id", "distance")
            if n_improved == 0:
                break
    if strict and n_improved > 0:
        raise RuntimeError(
            f"SSSP still improving after max_rounds={max_rounds}; "
            "distances would be upper bounds, not shortest paths — "
            "raise the bound or pass strict=False"
        )
    return dist
