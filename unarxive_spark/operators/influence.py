"""Independent-cascade influence spread with deterministic hash coins.

Influence estimation (Kempe, Kleinberg & Tardos 2003) asks: how many
vertices does a seed set reach if each directed edge independently
"fires" with probability p?  The Monte-Carlo estimator runs R
simulations and averages the reach.  Here every coin flip is a FIXED
portable md5-h64 draw — ``h64(src > dst # sim) % 1000 < p_permille`` —
so each simulation's live-edge subgraph, its BFS reach, and therefore
the whole estimate are deterministic functions of the graph and
reproduce bit-for-bit in the DuckDB oracle (recursive-CTE reachability
keyed by simulation id).

Spark shape: the R simulations run CONCURRENTLY as one dataflow keyed
by ``sim`` — live edges = edges × sims filtered by the hash coin,
frontier supersteps are one (sim, vertex)-keyed join + anti-join +
union per hop, state materialized once per hop via CheckpointManager.
Each hop expands ONLY the newly-reached frontier (an ``_hop`` column
rides in the state so the frontier is a free filter on the
materialized state): edges out of earlier-reached vertices were
already expanded the hop they entered, so joining the full reached
set again every hop (the r5 shape) does strictly redundant work —
same reached set, O(frontier) instead of O(reached) join input per
hop (guide §2.3; the frontier discipline of operators/bfs.py).
At 100 TB the sim key multiplies the edge table R times but each
superstep is still a single hash-partitioned equi-join on (sim, src) —
the same gather shape as multi-source BFS (operators/bfs.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unarxive_spark.functions.hashing import h64
from unarxive_spark.sources.checkpoint import CheckpointManager

__all__ = ["ic_influence_spread"]


def ic_influence_spread(
    edges: DataFrame,
    n_sims: int = 4,
    p_permille: int = 300,
    n_seeds: int = 4,
    hops: int = 4,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Per-simulation IC spread of the min-h64 seed set.

    Returns one row per simulation: ``sim_id, n_live_edges, n_reached``
    (reach includes the seeds; BFS truncated at ``hops`` supersteps —
    the identical truncation the unrolled oracle applies).

    ``checkpoint_dir`` commits every hop (state ``iter=h`` + lineage,
    metric ``n_reached`` summed over simulations); a rerun on the same
    directory resumes after the last committed hop.
    """
    if n_sims < 1 or n_seeds < 1 or hops < 0:
        raise ValueError("n_sims/n_seeds must be >= 1, hops >= 0")
    spark = edges.sparkSession
    de = (
        edges.select("src_conv_id", "dst_conv_id")
        .filter(F.col("src_conv_id") != F.col("dst_conv_id"))
        .distinct()
    )
    sims = spark.range(n_sims).select(F.col("id").alias("sim_id"))
    coin = h64(
        F.concat(
            F.col("src_conv_id"),
            F.lit(">"),
            F.col("dst_conv_id"),
            F.lit("#ic"),
            F.col("sim_id").cast("string"),
        )
    )
    with CheckpointManager(spark, checkpoint_dir) as ckpt:
        live = ckpt.cache(
            de.crossJoin(F.broadcast(sims))
            .filter(coin % 1000 < F.lit(int(p_permille)))
            .repartition("sim_id", "src_conv_id")
        )
        live.count()

        verts = (
            de.select(F.col("src_conv_id").alias("conv_id"))
            .unionByName(de.select(F.col("dst_conv_id").alias("conv_id")))
            .distinct()
        )
        seeds = verts.orderBy(
            h64(F.col("conv_id"), salt="icseed|"), F.col("conv_id")
        ).limit(n_seeds)
        # iteration h holds hops <= h + 1: a longer earlier run resumes
        # from this run's last hop
        reached = ckpt.resume(hops)
        if reached is None:
            reached = seeds.crossJoin(F.broadcast(sims)).select(
                "sim_id", "conv_id", F.lit(0).alias("_hop")
            )

        for hop in ckpt.steps(hops):
            frontier = reached.filter(F.col("_hop") == hop)
            new = (
                live.join(
                    frontier.withColumnRenamed("conv_id", "src_conv_id"),
                    ["sim_id", "src_conv_id"],
                )
                .select("sim_id", F.col("dst_conv_id").alias("conv_id"))
                .distinct()
                .join(reached, ["sim_id", "conv_id"], "left_anti")
                .select("sim_id", "conv_id", F.lit(hop + 1).alias("_hop"))
            )
            reached, _ = ckpt.superstep(
                hop, reached.unionByName(new), "n_reached", F.count(F.lit(1))
            )

        # the per-sim edge counts are sim-sized; evaluate them once so the
        # cached live-edge table can be released before the caller collects
        n_live = (
            live.groupBy("sim_id")
            .agg(F.count(F.lit(1)).alias("n_live_edges"))
            .localCheckpoint(eager=True)
        )
    n_reach = reached.groupBy("sim_id").agg(
        F.count(F.lit(1)).alias("n_reached")
    )
    out = (
        sims.join(n_live, "sim_id", "left")
        .join(n_reach, "sim_id", "left")
        .select(
            "sim_id",
            F.coalesce("n_live_edges", F.lit(0).cast("long")).alias(
                "n_live_edges"
            ),
            F.coalesce("n_reached", F.lit(0).cast("long")).alias(
                "n_reached"
            ),
        )
    )
    return out
