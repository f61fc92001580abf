"""Maximal independent set via deterministic hash-priority Luby rounds.

MIS is the classic distributed-graph primitive behind scheduling,
sampling, and coloring (Luby 1986, "A simple parallel algorithm for the
maximal independent set problem").  The engine's variant replaces
Luby's per-round randomness with FIXED portable md5-h64 priorities, so
the result is a deterministic function of the graph (the greedy MIS in
hash-priority order) and both a pure-Python replay and an unrolled
DuckDB oracle reproduce it exactly.

Per round over the live vertex set:
1. winners = live vertices whose priority is strictly smaller than
   every live neighbor's (h64 is collision-free in practice; ties — if
   a hash collision ever produced one — break by vertex id, making the
   priority a total order).
2. winners join the MIS; winners and their neighbors leave the live
   set.  Expected O(log n) rounds.

Spark shape per round: ONE join of the live adjacency with the live
priority table + ONE min-aggregate (neighbor-min priority), one
anti-join to shrink the live set; state (live vertices) materialized
once per round via CheckpointManager, metric observed in that pass.
max_iter exhaustion raises — no silent truncation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unarxive_spark.functions.hashing import h64
from unarxive_spark.operators.components import undirected
from unarxive_spark.sources.checkpoint import CheckpointManager

__all__ = ["maximal_independent_set", "greedy_coloring"]


def maximal_independent_set(
    edges: DataFrame,
    max_iter: int = 50,
    salt: str = "mis|",
) -> DataFrame:
    """Deterministic MIS of the undirected graph → one column
    ``conv_id`` (independent: no edge inside; maximal: every vertex
    outside has a neighbor inside)."""
    live = (
        edges.select(F.col("src_conv_id").alias("conv_id"))
        .unionByName(edges.select(F.col("dst_conv_id").alias("conv_id")))
        .distinct()
    )
    # priority = zero-padded hex of h64 + "|" + id: a SORTABLE STRING
    # whose order equals (h64, id) — a total order even under a hash
    # collision, and bit-identical to the DuckDB oracle's printf('%015x')
    # rendering (struct-min comparison semantics differ across engines)
    prio = F.concat(
        F.lower(F.lpad(F.hex(h64(F.col("conv_id"), salt=salt)), 15, "0")),
        F.lit("|"),
        F.col("conv_id"),
    )

    with CheckpointManager(edges.sparkSession, None) as ckpt:
        adj = ckpt.cache(undirected(edges).repartition("u"))
        adj.count()
        mis_parts: list[DataFrame] = []
        for it in ckpt.steps(max_iter):
            lp = live.select("conv_id", prio.alias("__p"))
            # neighbor-min priority among LIVE neighbors only
            nmin = (
                adj.join(lp.withColumnRenamed("conv_id", "u"), "u")
                .select(F.col("v").alias("conv_id"), "__p")
                .join(lp.select("conv_id"), "conv_id", "left_semi")
                .groupBy("conv_id")
                .agg(F.min("__p").alias("__nmin"))
            )
            winners = (
                lp.join(nmin, "conv_id", "left")
                .filter(
                    F.col("__nmin").isNull() | (F.col("__p") < F.col("__nmin"))
                )
                .select("conv_id")
            )
            # remove winners and their neighbors from the live set
            removed = winners.unionByName(
                adj.join(
                    winners.withColumnRenamed("conv_id", "u"), "u"
                ).select(F.col("v").alias("conv_id"))
            ).distinct()
            new_live, n_live = ckpt.superstep(
                it,
                live.join(removed, "conv_id", "left_anti"),
                "n_live",
                F.count(F.lit(1)),
            )
            mis_parts.append(winners)
            live = new_live
            if n_live == 0:
                out = mis_parts[0]
                for part in mis_parts[1:]:
                    out = out.unionByName(part)
                # the winners are lazy over the cached adjacency, which the
                # block releases: materialize them first
                return out.distinct().localCheckpoint(eager=True)
    raise RuntimeError(
        f"maximal_independent_set: live vertices remain after "
        f"{max_iter} rounds — raise max_iter"
    )


def greedy_coloring(
    edges: DataFrame,
    max_colors: int = 64,
    max_iter: int = 50,
) -> DataFrame:
    """Distance-1 vertex coloring by layered MIS (the standard
    distributed reduction: color c = MIS of the still-uncolored induced
    subgraph, Luby 1986 §4).  Deterministic: each layer uses the fixed
    h64 priorities with a per-layer salt, so the whole coloring is a
    pure function of the graph.  Returns ``(conv_id, color int)``;
    colors used <= max degree + 1 in the greedy bound.  Raises if
    ``max_colors`` layers don't exhaust the graph — no silent
    truncation."""
    adj_all = undirected(edges)
    live_edges = adj_all
    live_verts = (
        edges.select(F.col("src_conv_id").alias("conv_id"))
        .unionByName(edges.select(F.col("dst_conv_id").alias("conv_id")))
        .distinct()
    )
    parts: list[DataFrame] = []
    for color in range(max_colors):
        n_left = live_verts.count()
        if n_left == 0:
            out = parts[0]
            for pf in parts[1:]:
                out = out.unionByName(pf)
            return out
        # isolated-in-subgraph vertices have no live edge; they are an
        # independent set of their own and join this layer wholesale
        has_edge = live_edges.select(F.col("u").alias("conv_id")).distinct()
        isolated = live_verts.join(has_edge, "conv_id", "left_anti")
        if live_edges.limit(1).count() == 0:
            layer = live_verts
        else:
            layer = maximal_independent_set(
                live_edges.select(
                    F.col("u").alias("src_conv_id"),
                    F.col("v").alias("dst_conv_id"),
                ),
                max_iter=max_iter,
                salt=f"mis{color}|",
            ).unionByName(isolated).distinct()
        parts.append(
            layer.select("conv_id", F.lit(color).cast("int").alias("color"))
        )
        # truncate lineage per layer: without this, color c's MIS loop
        # re-evaluates c chained anti-joins on every one of its rounds
        live_verts = live_verts.join(
            layer, "conv_id", "left_anti"
        ).localCheckpoint(eager=True)
        live_edges = (
            live_edges.join(
                layer.withColumnRenamed("conv_id", "u"), "u", "left_anti"
            )
            .join(layer.withColumnRenamed("conv_id", "v"), "v", "left_anti")
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(
        f"greedy_coloring: vertices remain after {max_colors} colors — "
        "raise max_colors"
    )
