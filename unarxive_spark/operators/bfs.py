"""BFS hop distances / k-hop neighborhoods over the directed edge table.

Frontier-expansion supersteps (the same join/agg shape as the other L3
operators, materialized once per superstep via CheckpointManager): each
round joins the frontier to the adjacency, keeps newly discovered
vertices, records their distance.
Terminates when the frontier empties — at most diameter rounds.

Scale shape: the frontier is usually tiny relative to the edge table, so
the per-round join broadcasts the frontier against the cached
co-partitioned adjacency; visited-set membership is a left-anti join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unarxive_spark.sources.checkpoint import CheckpointManager


def bfs_distances(
    edges: DataFrame,
    sources: list[str],
    max_hops: int = 20,
) -> DataFrame:
    """→ (conv_id, distance) for every vertex reachable from ``sources``
    within ``max_hops`` directed hops (distance 0 = the sources)."""
    spark = edges.sparkSession
    visited = spark.createDataFrame(
        [(s, 0) for s in sources], "conv_id string, distance int"
    )
    frontier = visited
    with CheckpointManager(spark, None) as ckpt:
        adj = ckpt.cache(
            edges.select(
                F.col("src_conv_id").alias("u"),
                F.col("dst_conv_id").alias("v"),
            )
            .distinct()
            .repartition("u")
        )
        for hop in range(1, max_hops + 1):
            discovered = (
                adj.join(
                    frontier.withColumnRenamed("conv_id", "u"),
                    "u",
                )
                .select(F.col("v").alias("conv_id"))
                .distinct()
                .join(visited, "conv_id", "left_anti")
                .withColumn("distance", F.lit(hop))
            )
            discovered, n_new = ckpt.superstep(
                hop, discovered, "n_discovered", F.count(F.lit(1))
            )
            if n_new == 0:
                break
            visited = visited.unionByName(discovered).localCheckpoint(
                eager=True
            )
            frontier = discovered
    return visited


def k_hop_neighbors(
    edges: DataFrame, sources: list[str], k: int
) -> DataFrame:
    """Vertices within exactly ≤ k hops (sources excluded)."""
    d = bfs_distances(edges, sources, max_hops=k)
    return d.filter(F.col("distance") > 0).select("conv_id", "distance")


def landmark_distances(
    edges: DataFrame,
    n_landmarks: int = 8,
    max_hops: int = 10,
) -> DataFrame:
    """Multi-source BFS from ``n_landmarks`` deterministic landmarks
    over the UNDIRECTED graph → ``(landmark, conv_id, distance)`` —
    the landmark leg of Eppstein-Wang-style closeness estimation.

    Landmarks are the vertices with the smallest portable h64 (a
    uniform deterministic sample both engines reproduce).  State is
    keyed ``(landmark, conv_id)`` so all sources flood in the SAME
    superstep loop — L× the frontier rows, not L× the rounds; the
    visited check is one left-anti join on the composite key."""
    from unarxive_spark.functions.hashing import h64
    from unarxive_spark.operators.components import undirected

    with CheckpointManager(edges.sparkSession, None) as ckpt:
        adj = ckpt.cache(
            undirected(edges).select("u", "v").distinct().repartition("u")
        )
        verts = adj.select(F.col("u").alias("conv_id")).distinct()
        landmarks = (
            verts.orderBy(h64("conv_id"), "conv_id")
            .limit(int(n_landmarks))
            .select(F.col("conv_id").alias("landmark"))
        )
        visited = landmarks.select(
            "landmark",
            F.col("landmark").alias("conv_id"),
            F.lit(0).cast("int").alias("distance"),
        ).localCheckpoint(eager=True)
        frontier = visited
        for hop in range(1, max_hops + 1):
            discovered = (
                adj.join(frontier.withColumnRenamed("conv_id", "u"), "u")
                .select("landmark", F.col("v").alias("conv_id"))
                .distinct()
                .join(visited, ["landmark", "conv_id"], "left_anti")
                .withColumn("distance", F.lit(hop))
            )
            discovered, n_new = ckpt.superstep(
                hop, discovered, "n_discovered", F.count(F.lit(1))
            )
            if n_new == 0:
                break
            visited = visited.unionByName(discovered).localCheckpoint(
                eager=True
            )
            frontier = discovered
    return visited


def landmark_closeness(
    edges: DataFrame,
    n_landmarks: int = 8,
    max_hops: int = 10,
) -> DataFrame:
    """Per-vertex closeness estimate from landmark distances
    (Eppstein & Wang 2004): for each vertex, the count of landmarks
    reached within ``max_hops`` and the exact integer distance sum —
    ``closeness ≈ n_reached / total_dist`` (landmarks themselves have
    a 0 self-distance term; vertices reaching no landmark are absent).
    → ``(conv_id, n_reached, total_dist, closeness)``."""
    d = landmark_distances(edges, n_landmarks=n_landmarks, max_hops=max_hops)
    return (
        d.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum("distance").cast("long").alias("total_dist"),
        )
        .select(
            "conv_id",
            F.col("n_reached").cast("long").alias("n_reached"),
            "total_dist",
            F.when(F.col("total_dist") > 0,
                   F.round(F.col("n_reached") / F.col("total_dist"), 6))
            .otherwise(F.lit(0.0))
            .alias("closeness"),
        )
    )
