"""Greedy maximal matching via deterministic handshake supersteps.

Maximal matching is the edge-side sibling of MIS (operators/mis.py) —
the coarsening primitive behind multilevel graph partitioning and the
classic distributed symmetry-breaking benchmark (Israeli & Itai 1986).
As with MIS, the per-round randomness is replaced by FIXED portable
md5-h64 priorities, so the matching is a deterministic function of the
graph and both a pure-Python replay and an unrolled DuckDB oracle
reproduce it exactly.

Per round over the still-unmatched vertex set:
1. every live vertex u PROPOSES to its min-priority live neighbor
   (priority = the MIS sortable string ``%015x(h64) | id`` — a total
   order even under a hash collision);
2. an edge whose endpoints propose to each other is MATCHED (the
   handshake); both endpoints leave the live set.

Progress guarantee: the live vertex with globally minimal priority
that still has a live edge is proposed to by ALL its live neighbors
and itself proposes one of them — that pair always shakes hands, so
every round matches at least one edge and convergence implies
maximality.

Spark shape per round: the LIVE ADJACENCY itself is the materialized
state — two anti-joins against the (tiny) matched-endpoint set shrink
it in place, ONE min-aggregate for the proposals, ONE self-join for
the handshake.  The r5 shape instead kept the live VERTEX set as
state and re-restricted the full cached adjacency with two semi-joins
every round (plus two more for the convergence probe) — O(E) work per
round regardless of how much of the graph was already matched; with
the adjacency as state each round touches only the still-live edges
and the convergence probe is a ``limit(1)`` count on the already-
materialized state (guide §2.3/§2.4).  No window, no cartesian, no
driver-side data collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unarxive_spark.functions.hashing import h64
from unarxive_spark.operators.components import undirected
from unarxive_spark.sources.checkpoint import CheckpointManager

__all__ = ["maximal_matching"]


def maximal_matching(
    edges: DataFrame,
    max_iter: int = 50,
    fixed_rounds: int | None = None,
    salt: str = "mm|",
) -> DataFrame:
    """Deterministic greedy maximal matching of the undirected graph.

    Returns ``(conv_a, conv_b, round)`` with conv_a < conv_b, one row
    per matched edge.  With ``fixed_rounds`` set, runs EXACTLY that many
    handshake rounds (driver-oracle mode — truncation identical to the
    unrolled SQL by construction; an empty round is a fixpoint, so
    early-stop and fixed-depth agree).  Otherwise runs to convergence
    (no live edge remains → matching is maximal) and raises on
    ``max_iter`` exhaustion — no silent truncation.
    """
    if fixed_rounds is not None and fixed_rounds < 1:
        raise ValueError("fixed_rounds must be >= 1")
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    prio = F.concat(
        F.lower(F.lpad(F.hex(h64(F.col("v"), salt=salt)), 15, "0")),
        F.lit("|"),
        F.col("v"),
    )

    rounds = fixed_rounds if fixed_rounds is not None else max_iter
    parts: list[DataFrame] = []
    # the live adjacency (edges whose endpoints are both unmatched) IS
    # the state; a vertex leaves the live set exactly when matched, so
    # removing all edges incident to matched endpoints keeps it exact
    with CheckpointManager(edges.sparkSession, None) as ckpt:
        adj = ckpt.cache(undirected(edges).repartition("u"))
        adj.count()
        ladj = adj
        for it in ckpt.steps(rounds):
            props = (
                ladj.select("u", prio.alias("__p"))
                .groupBy("u")
                .agg(F.min("__p").alias("__pm"))
                # strip the fixed 16-char "%015x|" prefix back to the id
                .select(
                    "u",
                    F.col("__pm")
                    .substr(F.lit(17), F.length("__pm"))
                    .alias("tgt"),
                )
            )
            matched = (
                props.alias("l")
                .join(
                    props.alias("r"),
                    (F.col("r.u") == F.col("l.tgt"))
                    & (F.col("r.tgt") == F.col("l.u")),
                )
                .filter(F.col("l.u") < F.col("l.tgt"))
                .select(
                    F.col("l.u").alias("conv_a"),
                    F.col("l.tgt").alias("conv_b"),
                    F.lit(it).cast("long").alias("round"),
                )
            )
            # materialize the round's matches ONCE, then derive the live-
            # adjacency update from the checkpointed result — evaluating
            # the props⋈props pipeline once per consumer would double the
            # round (guide §2.4)
            matched_m = matched.localCheckpoint(eager=True)
            parts.append(matched_m)
            ends = matched_m.select(
                F.col("conv_a").alias("conv_id")
            ).unionByName(matched_m.select(F.col("conv_b").alias("conv_id")))
            new_ladj, n_live_edges = ckpt.superstep(
                it,
                ladj.join(
                    ends.withColumnRenamed("conv_id", "u"), "u", "left_anti"
                ).join(
                    ends.withColumnRenamed("conv_id", "v"), "v", "left_anti"
                ),
                "n_live_edges",
                F.count(F.lit(1)),
            )
            # convergence mode: stop when no live edge remains
            if fixed_rounds is None and n_live_edges == 0:
                break
            ladj = new_ladj
        else:
            if fixed_rounds is None:
                raise RuntimeError(
                    f"maximal_matching: live edges remain after {max_iter} "
                    "rounds — raise max_iter"
                )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
