"""HITS (Kleinberg hubs & authorities) as DataFrame supersteps.

The second classic link-analysis measure over citation networks (the
reference's JCDL'23 framing names citation-network analysis as the
dataset's purpose, /root/reference/README.md:27-32): a good *authority*
is cited by good hubs, a good *hub* cites good authorities.

Superstep (weighted, L1-normalized for cross-engine determinism):

    a'(v) = Σ_{u→v} w(u,v)·h(u)      then  a ← a'/Σa'
    h'(u) = Σ_{u→v} w(u,v)·a(v)      then  h ← h'/Σh'

Same dataflow shape as the PageRank gather: the edge table is normalized
ONCE, cached co-partitioned; each half-step is one join + one salted
aggregation; normalization is a broadcast 1-row aggregate folded into
the plan (no driver round-trip). Oracle: numpy power iteration in tests
+ unrolled-CTE DuckDB SQL in the driver contract (like q14_lpa).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unarxive_spark.functions.hashing import h64
from unarxive_spark.operators.skew import salted_sum
from unarxive_spark.sources.checkpoint import CheckpointManager


@dataclass
class HITSResult:
    scores: DataFrame  # conv_id, hub double, authority double
    iterations: int
    superstep_secs: list[float] = field(default_factory=list)


# reduce-side groups per hub in each salted gather
N_SALTS = 16


def hits(
    edges: DataFrame,
    n_iter: int = 10,
    weighted: bool = True,
) -> HITSResult:
    """Fixed-iteration HITS over the directed weighted edge table.

    All vertices (sources and sinks) carry both scores; vertices with no
    in-edges settle at authority 0, no out-edges at hub 0. L1
    normalization (divide by the column sum) keeps every step a pure
    ratio of weighted sums — portable to the SQL oracle bit-for-bit
    under round(6).
    """
    spark = edges.sparkSession
    w = F.col("weight") if weighted else F.lit(1.0)
    with CheckpointManager(spark, None) as ckpt:
        e = ckpt.cache(
            edges.select(
                F.col("src_conv_id").alias("src"),
                F.col("dst_conv_id").alias("dst"),
                w.cast("double").alias("w"),
            )
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
            # both gather salts are pure functions of the edge endpoints:
            # hash them ONCE on the cached table instead of per superstep
            # (identical groups → bit-identical partial sums)
            .select(
                "src",
                "dst",
                "w",
                F.pmod(h64(F.col("src")), F.lit(N_SALTS)).alias("_salt_s"),
                F.pmod(h64(F.col("dst")), F.lit(N_SALTS)).alias("_salt_d"),
            )
            .repartition("src")
        )
        e.count()
        vertices = ckpt.cache(
            e.select(F.col("src").alias("conv_id"))
            .unionByName(e.select(F.col("dst").alias("conv_id")))
            .distinct()
            .repartition("conv_id")
        )
        n = vertices.count()
        if n == 0:
            return HITSResult(
                spark.createDataFrame(
                    [], "conv_id string, hub double, authority double"
                ),
                0,
            )

        state = vertices.select(
            "conv_id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")
        )
        for it in ckpt.steps(n_iter):
            # authority step: gather hub mass along edges src→dst
            contrib_a = e.join(
                state.select(F.col("conv_id").alias("src"), "hub"), "src"
            ).select(
                "dst", (F.col("w") * F.col("hub")).alias("c"), "_salt_s"
            )
            auth_raw = salted_sum(
                contrib_a, key="dst", value=F.sum("c"), out="a",
                salt_from="src", n_salts=N_SALTS, salt_col="_salt_s",
            )
            a_sum = auth_raw.agg(
                F.coalesce(F.sum("a"), F.lit(0.0)).alias("_s")
            )
            auth = (
                vertices.join(
                    auth_raw.withColumnRenamed("dst", "conv_id"),
                    "conv_id",
                    "left",
                )
                .crossJoin(F.broadcast(a_sum))
                .select(
                    "conv_id",
                    F.when(F.col("_s") == 0, F.lit(0.0))
                    .otherwise(
                        F.coalesce(F.col("a"), F.lit(0.0)) / F.col("_s")
                    )
                    .alias("authority"),
                )
            )
            # materialize the authority half-step ONCE: contrib_h, the final
            # state join, and the broadcast sum all reference it — without
            # this the authority gather would re-evaluate ~3x per superstep
            auth = auth.localCheckpoint(eager=True)
            # hub step: gather the NEW authority mass back along edges
            contrib_h = e.join(
                auth.select(F.col("conv_id").alias("dst"), "authority"), "dst"
            ).select(
                "src", (F.col("w") * F.col("authority")).alias("c"), "_salt_d"
            )
            hub_raw = salted_sum(
                contrib_h, key="src", value=F.sum("c"), out="h",
                salt_from="dst", n_salts=N_SALTS, salt_col="_salt_d",
            )
            h_sum = hub_raw.agg(
                F.coalesce(F.sum("h"), F.lit(0.0)).alias("_s")
            )
            hub = (
                vertices.join(
                    hub_raw.withColumnRenamed("src", "conv_id"),
                    "conv_id",
                    "left",
                )
                .crossJoin(F.broadcast(h_sum))
                .select(
                    "conv_id",
                    F.when(F.col("_s") == 0, F.lit(0.0))
                    .otherwise(
                        F.coalesce(F.col("h"), F.lit(0.0)) / F.col("_s")
                    )
                    .alias("hub"),
                )
            )
            state, _ = ckpt.superstep(
                it,
                hub.join(auth, "conv_id").select(
                    "conv_id", "hub", "authority"
                ),
                "superstep",
                float(it),
            )
    return HITSResult(state, ckpt.iterations, ckpt.superstep_secs)
