"""Louvain-style modularity optimization (community detection).

LPA (q14/q44) MEASURES modularity; nothing optimized it.  This operator
runs Louvain local-move supersteps (Blondel, Guillaume, Lambiotte,
Lefebvre 2008, "Fast unfolding of communities in large networks") on
the undirected weighted view of the citation graph (reference
capability analog: the community analyses over the unarXive citation
network, ``/root/reference/README.md`` JCDL network statistics).

Determinism (the repo's north rule — every superstep must be replayable
by a pure-Python oracle and an unrolled SQL oracle):

- **Synchronous parity-alternating rounds.**  All vertices evaluate
  their best community against the PREVIOUS round's assignment, but
  only vertices with ``h64(v) % 2 == round % 2`` may move.  Classic
  sequential Louvain is visit-order dependent; unrestricted synchronous
  moves oscillate on symmetric structures (two adjacent vertices swap
  communities forever).  The parity schedule is the standard
  distributed fix — deterministic, order-free, and oscillation-free for
  the pair-swap pathology.
- **Exact integer gains.**  Edge weights are integer marker counts, so
  with ``2m = Σ w`` the move gain ΔQ(i→C) ∝
  ``2m·k_{i,C} − k_i·(Σ_tot(C) − k_i·[C = A])`` is computed entirely in
  int64 — argmax comparisons can never diverge across engines on
  float summation order.  Fractional input weights raise in-plan.
- **Tie-break**: max gain, then MIN community id; a vertex moves only
  on a STRICT improvement over staying, so converged states are stable
  and extra oracle rounds are no-ops.

Scale shape (same skeleton as PageRank/LPA): per round ONE join of the
cached adjacency with the community state, two map-side-combinable
aggregations (per-community degree totals are ≤ |communities| rows; the
(vertex, neighbor-community) weights partial-aggregate before the
shuffle), and a struct-min argmax — no windows over raw adjacency, so
a mega-hub's candidates reduce in parallel.  State materializes once
per round via CheckpointManager, the move count observed in that pass.

Multi-level: ``levels > 1`` contracts each converged partition into a
super-vertex graph (intra-community weight becomes a self-loop that
counts toward the super-vertex degree but not toward move gains — it
moves with the vertex, adding equally to every candidate) and repeats.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unarxive_spark.functions.hashing import h64
from unarxive_spark.sources.checkpoint import CheckpointManager

__all__ = ["louvain", "LouvainResult"]


@dataclass
class LouvainResult:
    labels: DataFrame  # conv_id, comm
    rounds: int  # local-move rounds across all levels
    levels: int
    converged: bool


def _und_long(edges: DataFrame, weight_col: str) -> DataFrame:
    """Undirected integer-weight view (u, v, w long), u != v, both
    directions, weights summed; fractional weights raise in-plan."""
    fwd = edges.select(
        F.col("src_conv_id").alias("u"),
        F.col("dst_conv_id").alias("v"),
        F.col(weight_col).alias("_wr"),
    )
    rev = edges.select(
        F.col("dst_conv_id").alias("u"),
        F.col("src_conv_id").alias("v"),
        F.col(weight_col).alias("_wr"),
    )
    summed = (
        fwd.unionByName(rev)
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.sum("_wr").alias("_ws"))
    )
    w_long = F.col("_ws").cast("long")
    ok = F.assert_true(
        (F.col("_ws") == w_long.cast("double")) & (w_long >= 1),
        F.lit("louvain: weights must be positive integers"),
    )
    return summed.select(
        "u", "v", F.when(ok.isNull(), w_long).alias("w")
    )


def _local_moves(
    und: DataFrame,
    selfw: DataFrame,
    max_rounds: int,
    round_offset: int,
) -> tuple[DataFrame, int, bool]:
    """Parity-alternating local-move rounds on one level.

    ``und``: (u, v, w long) no self rows; ``selfw``: (v, sw long) the
    both-directions self-loop weight per vertex (empty at level 1).
    Returns (state(conv_id, comm), rounds_run, converged).
    """
    with CheckpointManager(und.sparkSession, None) as ckpt:
        und = ckpt.cache(und.repartition("u"))
        # vertices = adjacency endpoints ∪ self-loop-only super-vertices
        # (a fully-internal community contracts to a vertex with ONLY a
        # self-loop — it must keep existing and keep its degree)
        verts = (
            und.select(F.col("u").alias("conv_id"))
            .unionByName(selfw.select(F.col("v").alias("conv_id")))
            .distinct()
        )
        deg = ckpt.cache(
            verts.join(
                und.groupBy(F.col("u").alias("conv_id")).agg(
                    F.sum("w").alias("_ke")
                ),
                "conv_id",
                "left",
            )
            .join(
                selfw.select(F.col("v").alias("conv_id"), "sw"),
                "conv_id",
                "left",
            )
            .select(
                "conv_id",
                (
                    F.coalesce(F.col("_ke"), F.lit(0))
                    + F.coalesce(F.col("sw"), F.lit(0))
                ).alias("k"),
            )
        )
        # scalar 2m (one init action per level, like ANF's init aggregate)
        tm = int(
            deg.agg(F.coalesce(F.sum("k"), F.lit(0))).collect()[0][0]
        )
        state = deg.select(
            "conv_id", F.col("conv_id").alias("comm")
        )
        converged = False
        zero_streak = 0
        r = 0
        for r in range(max_rounds):
            lab_v = state.select(
                F.col("conv_id").alias("v"), F.col("comm").alias("c")
            )
            # Σ_tot per community (includes self-loop degrees)
            ctot = (
                state.join(deg, "conv_id")
                .groupBy("comm")
                .agg(F.sum("k").alias("tot"))
            )
            # k_{i,C}: weight from i to each neighbor community, plus an
            # injected 0-row for i's own community so "stay" is always a
            # candidate (sum-combine keeps the real k_{i,A} when present)
            kic = (
                und.join(lab_v, "v")
                .groupBy(F.col("u").alias("conv_id"), F.col("c").alias("cand"))
                .agg(F.sum("w").alias("kic"))
            )
            cand = (
                kic.unionByName(
                    state.select(
                        "conv_id",
                        F.col("comm").alias("cand"),
                        F.lit(0).cast("long").alias("kic"),
                    )
                )
                .groupBy("conv_id", "cand")
                .agg(F.sum("kic").alias("kic"))
            )
            gains = (
                cand.join(state, "conv_id")
                .join(deg, "conv_id")
                .join(ctot.withColumnRenamed("comm", "cand"), "cand")
                .select(
                    "conv_id",
                    "cand",
                    "comm",
                    (
                        F.lit(int(tm)) * F.col("kic")
                        - F.col("k")
                        * (
                            F.col("tot")
                            - F.when(
                                F.col("cand") == F.col("comm"), F.col("k")
                            ).otherwise(F.lit(0))
                        )
                    ).alias("gain"),
                )
            )
            # argmax gain, tie → min community id: min(struct(-gain, cand)),
            # and the stay gain (the unique cand == comm row, guaranteed by
            # the injected 0-rows) rides in the SAME aggregation — the old
            # separate filter+join re-evaluated the whole und⋈state gains
            # pipeline a second time per round (guide §2.4)
            best = gains.groupBy("conv_id").agg(
                F.min(F.struct((-F.col("gain")).alias("ng"), "cand")).alias(
                    "_b"
                ),
                F.max(
                    F.when(F.col("cand") == F.col("comm"), F.col("gain"))
                ).alias("stay_gain"),
            )
            eligible = (
                F.pmod(h64(F.col("conv_id")), F.lit(2))
                == F.lit((round_offset + r) % 2)
            )
            new_state = (
                state.join(best, "conv_id", "left")
                .select(
                    "conv_id",
                    F.when(
                        eligible
                        & F.col("_b").isNotNull()
                        & (-F.col("_b.ng") > F.col("stay_gain")),
                        F.col("_b.cand"),
                    )
                    .otherwise(F.col("comm"))
                    .alias("comm"),
                    F.when(
                        eligible
                        & F.col("_b").isNotNull()
                        & (-F.col("_b.ng") > F.col("stay_gain"))
                        & (F.col("_b.cand") != F.col("comm")),
                        F.lit(1),
                    )
                    .otherwise(F.lit(0))
                    .alias("_moved"),
                )
            )
            new_m, n_moves = ckpt.superstep(
                round_offset + r,
                new_state,
                "n_moves",
                F.coalesce(F.sum("_moved"), F.lit(0)),
            )
            state = new_m.select("conv_id", "comm")
            if n_moves == 0:
                zero_streak += 1
                # one full even+odd cycle with no move = stable fixpoint
                if zero_streak >= 2:
                    converged = True
                    break
            else:
                zero_streak = 0
    # state is checkpointed superstep output, so the block released the
    # cached adjacency/degree frames: with levels>1 each contraction
    # would otherwise layer more cached state on top (ADVICE r4)
    return state, r + 1, converged


def louvain(
    edges: DataFrame,
    max_rounds: int = 20,
    levels: int = 1,
    weight_col: str = "weight",
) -> LouvainResult:
    """Louvain community detection → labels (conv_id, comm).

    ``max_rounds`` bounds the local-move rounds PER LEVEL; ``levels``
    repeats local moves on the contracted super-vertex graph and maps
    the final communities back to original vertices."""
    spark = edges.sparkSession
    und = _und_long(edges, weight_col)
    # derive the vertex-id type from the input so non-string ids don't
    # trip the later unionByName with an opaque type error (ADVICE r4)
    id_type = edges.schema["src_conv_id"].dataType.simpleString()
    empty_selfw = spark.createDataFrame([], f"v {id_type}, sw long")
    selfw = empty_selfw
    # vertex -> current super-vertex (identity at level 1)
    mapping = None
    total_rounds = 0
    converged = True
    labels = None
    for level in range(levels):
        # parity/superstep offset is level*max_rounds, NOT the actual
        # rounds run so far: the parity schedule must be a pure function
        # of (level, round) so a fixed SQL unroll (q87's two-level
        # oracle) replays it without knowing when level 1 converged
        state, rounds, conv = _local_moves(
            und, selfw, max_rounds, level * max_rounds
        )
        total_rounds += rounds
        converged = converged and conv
        if mapping is None:
            labels = state
        else:
            sv = state.select(
                F.col("conv_id").alias("_sv"), F.col("comm").alias("_nc")
            )
            labels = mapping.join(
                sv, mapping["comm"] == sv["_sv"]
            ).select(
                mapping["conv_id"].alias("conv_id"),
                F.col("_nc").alias("comm"),
            )
        if level == levels - 1:
            break
        # contract: communities become super-vertices
        lab_u = state.select(F.col("conv_id").alias("u"), F.col("comm").alias("cu"))
        lab_v = state.select(F.col("conv_id").alias("v"), F.col("comm").alias("cv"))
        # ONE aggregation of the relabeled edge list serves both the
        # self-loop weights (cu == cv) and the contracted adjacency
        # (cu != cv) — the old shape evaluated the und⋈labels double
        # join twice, once per consumer (guide §2.4)
        con = (
            und.join(lab_u, "u")
            .join(lab_v, "v")
            .groupBy("cu", "cv")
            .agg(F.sum("w").alias("w"))
            .localCheckpoint(eager=True)
        )
        intra = (
            con.filter(F.col("cu") == F.col("cv"))
            .select(F.col("cu").alias("v"), F.col("w").alias("sw"))
        )
        carried = (
            selfw.join(
                state.select(F.col("conv_id").alias("v"), "comm"), "v"
            )
            .groupBy(F.col("comm").alias("v"))
            .agg(F.sum("sw").alias("sw"))
        )
        selfw = (
            intra.unionByName(carried)
            .groupBy("v")
            .agg(F.sum("sw").alias("sw"))
            .localCheckpoint(eager=True)
        )
        und = con.filter(F.col("cu") != F.col("cv")).select(
            F.col("cu").alias("u"), F.col("cv").alias("v"), "w"
        )
        mapping = labels.localCheckpoint(eager=True)
    return LouvainResult(
        labels=labels,
        rounds=total_rounds,
        levels=levels,
        converged=converged,
    )
