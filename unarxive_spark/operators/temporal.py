"""Temporal (time-respecting) reachability — earliest-arrival BFS over
a timestamped edge stream.

A temporal path may only traverse an edge whose timestamp is >= the
arrival time at its source (information can't flow backwards in time);
the arrival time through an edge is the edge's own timestamp.  The
earliest-arrival label is DOMINANT (an earlier arrival can use every
edge a later one can), so the superstep state is one row per reached
vertex — the same monotone label-correcting shape as SSSP
(``operators/sssp.py``), with ``min(arrival)`` instead of
``min(distance)`` and the time-window predicate on the gather join.

Reference capability analog: the citation graph the reference builds is
implicitly temporal (papers cite only earlier papers,
``/root/reference/src/prepare.py``); this operator makes the
time-respecting traversal explicit — the "how far can an idea have
spread by time t" query.

All timestamps are exact integer microseconds (``unix_micros`` /
DuckDB ``epoch_us``) so the oracle comparison never touches floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unarxive_spark.sources.checkpoint import CheckpointManager


def temporal_edges_from_events(
    events: DataFrame, mod: int = 200
) -> DataFrame:
    """events → resolved temporal edge stream ``(src, dst, et long)``.

    Same derivation rule as the transcript graph
    (``plans/driver_queries.py:transcripts_from_events``): the referenced
    conversation id is ``(user_id*7 + k) % mod`` with ``k`` mined from
    the event props; an edge resolves only when the target id is a real
    user (J7 resolution semantics), self-loops dropped.  ``et`` is the
    event timestamp in integer microseconds."""
    k = F.regexp_extract("props", "[0-9]+", 0).cast("long")
    dst_id = (F.col("user_id") * 7 + k) % mod
    raw = events.select(
        F.format_string("c%06d", F.col("user_id").cast("int")).alias(
            "src"
        ),
        dst_id.alias("_dst_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("et"),
    ).filter(F.col("_dst_id") != F.col("user_id"))
    users = F.broadcast(
        events.select(F.col("user_id").alias("_dst_id")).distinct()
    )
    return (
        raw.join(users, "_dst_id", "left_semi")
        .select(
            "src",
            F.format_string(
                "c%06d", F.col("_dst_id").cast("int")
            ).alias("dst"),
            "et",
        )
        .distinct()
    )


def temporal_reachability(
    tedges: DataFrame,
    source: str,
    max_rounds: int = 20,
    strict: bool = True,
) -> DataFrame:
    """→ ``(conv_id, reach_us long)``: earliest arrival time (integer
    microseconds) for every vertex reachable from ``source`` along a
    time-respecting path; the source itself carries ``reach_us = 0``.

    One join + one min-aggregate per superstep over materialized state
    (state is ≤|V| rows — vertex-sized, never edge-sized); the edge
    table is repartitioned on the join key once and reused every round.
    ``strict=True`` raises if labels still improve at ``max_rounds``
    (a silent hop-bounded result is not reachability)."""
    spark = tedges.sparkSession
    state = spark.createDataFrame(
        [(source, 0)], "conv_id string, reach_us long"
    )
    n_improved = 0
    with CheckpointManager(spark, None) as ckpt:
        adj = ckpt.cache(
            tedges.select("src", "dst", "et")
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .repartition("src")
        )
        for rnd in ckpt.steps(max_rounds):
            relaxed = (
                adj.join(
                    state.withColumnRenamed("conv_id", "src"), "src"
                )
                .filter(F.col("et") >= F.col("reach_us"))
                .select(
                    F.col("dst").alias("conv_id"),
                    F.col("et").alias("reach_us"),
                    F.lit(None).cast("long").alias("_old"),
                )
            )
            # the state leg doubles as the old-arrival carrier, so the
            # improvement count is a column diff on the materialized state
            # instead of a second state-table join per superstep (guide
            # §2.4; same fusion as connected_components/pagerank)
            new_state = (
                state.select(
                    "conv_id", "reach_us", F.col("reach_us").alias("_old")
                )
                .unionByName(relaxed)
                .groupBy("conv_id")
                .agg(
                    F.min("reach_us").alias("reach_us"),
                    F.max("_old").alias("_old"),
                )
            )
            new_state, n_improved = ckpt.superstep(
                rnd,
                new_state,
                "n_improved",
                F.count_if(
                    F.col("_old").isNull()
                    | (F.col("reach_us") < F.col("_old"))
                ),
            )
            state = new_state.select("conv_id", "reach_us")
            if n_improved == 0:
                break
    if strict and n_improved > 0:
        raise RuntimeError(
            f"temporal reachability still improving after "
            f"max_rounds={max_rounds}; arrivals would be hop-bounded, "
            "not earliest — raise the bound or pass strict=False"
        )
    return state
