"""Katz centrality with exact dyadic-integer arithmetic.

``katz_T(v) = Σ_{k=0..T} β^k · walks_k(v)`` where ``walks_k(v)`` is the
weighted count of length-``k`` walks ending at ``v`` and ``β = 1/2``.
The classic "influence beyond in-degree" centrality next to PageRank
(``operators/pagerank.py`` — reference analog: the citation-count
rollups in /root/reference/src/utility_scripts/calc_stats.py measure
only walks_1; Katz measures the whole discounted walk spectrum).

Determinism contract: with ``β = 1/2`` the score scaled by ``2^T`` is an
INTEGER — ``z_t = 2·z_{t-1} + w_t`` with ``w_t`` the integer walk-count
gather — so every engine computes bit-identical BIGINT state; no float
enters until the final display column ``katz = z_T / 2^T``.

Scale design: one join + one sum-aggregate per superstep over
checkpointed vertex-sized state; the edge table is normalized (integer
weights asserted in-plan), repartitioned on the join key once and
cached.  Walk counts grow like ``(avg_degree)^T`` — the per-row in-plan
guard raises on wrap (``z < w`` is impossible without int64 overflow)
instead of silently returning garbage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unarxive_spark.sources.checkpoint import CheckpointManager


def _integer_weight_edges(edges: DataFrame) -> DataFrame:
    """(src, dst, _w long): multi-edges collapsed by weight sum, with
    the in-plan positive-integer assert (same contract as
    operators/walks.py — fractional weights raise, never round)."""
    e = edges.groupBy(
        F.col("src_conv_id").alias("src"),
        F.col("dst_conv_id").alias("dst"),
    ).agg(F.sum("weight").alias("__wraw"))
    w_long = F.col("__wraw").cast("long")
    ok = F.assert_true(
        (F.col("__wraw") == w_long.cast("double")) & (w_long >= 1),
        F.lit("katz_centrality: weights must be positive integers"),
    )
    return e.select("src", "dst", F.when(ok.isNull(), w_long).alias("_w"))


def katz_centrality(
    edges: DataFrame,
    rounds: int = 4,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """→ ``(conv_id, walks_in, katz_e, katz)``.

    ``walks_in`` = weighted length-``rounds`` walk count into the
    vertex (BIGINT), ``katz_e`` = ``2^rounds``-scaled Katz score
    (BIGINT, bit-exact across engines), ``katz`` = ``katz_e/2^rounds``
    rounded to 6 — the only float column.

    Fixed-horizon semantics: exactly ``rounds`` supersteps (the oracle
    unrolls the same count, so truncation is identical by
    construction — no fixpoint claim, no sentinel needed).

    ``checkpoint_dir`` commits every round (state ``iter=r`` + lineage,
    metric ``max_walks`` = the largest ``walks_in``); a rerun on the same
    directory resumes after the last committed round.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    with CheckpointManager(edges.sparkSession, checkpoint_dir) as ckpt:
        adj = ckpt.cache(_integer_weight_edges(edges).repartition("src"))
        # round r's state does not depend on the horizon: a longer
        # earlier run resumes from this run's last round
        state = ckpt.resume(rounds + 1)
        if state is None:
            verts = (
                adj.select(F.col("src").alias("conv_id"))
                .unionByName(adj.select(F.col("dst").alias("conv_id")))
                .distinct()
            )
            state, _ = ckpt.superstep(
                0,
                verts.select(
                    "conv_id",
                    F.lit(1).cast("long").alias("w"),
                    F.lit(1).cast("long").alias("z"),
                ),
                "max_walks",
                F.max("w"),
            )
        for rnd in ckpt.steps(rounds + 1):
            gathered = (
                adj.join(
                    state.select(
                        F.col("conv_id").alias("src"), F.col("w").alias("_wu")
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("conv_id"))
                .agg(F.sum(F.col("_wu") * F.col("_w")).alias("_g"))
            )
            state = (
                state.join(gathered, "conv_id", "left")
                .select(
                    "conv_id",
                    F.coalesce(F.col("_g"), F.lit(0)).alias("w"),
                    (
                        F.lit(2) * F.col("z")
                        + F.coalesce(F.col("_g"), F.lit(0))
                    ).alias("z"),
                )
            )
            state, _ = ckpt.superstep(rnd, state, "max_walks", F.max("w"))
    # z = 2*z_prev + w with z_prev >= w_prev >= 0 implies z >= w >= 0;
    # a violation is only reachable through int64 wrap-around.
    guard = F.assert_true(
        (F.col("w") >= 0) & (F.col("z") >= F.col("w")),
        F.lit(
            "katz_centrality: int64 overflow in walk counts — lower "
            "`rounds` (counts grow like avg_degree^rounds)"
        ),
    )
    scale = float(2**rounds)
    return state.select(
        "conv_id",
        F.when(guard.isNull(), F.col("w")).alias("walks_in"),
        F.col("z").alias("katz_e"),
        F.round(F.col("z") / F.lit(scale), 6).alias("katz"),
    )
