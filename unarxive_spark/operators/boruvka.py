"""Borůvka minimum spanning forest via superstep contraction.

Borůvka (1926) is THE distributed MST algorithm: every component
selects its minimum-weight incident edge, the selected edges merge
components, repeat — O(log V) rounds, each round pure join/aggregate
dataflow.  Determinism: edge weights are made a TOTAL ORDER via the
sortable composite key ``zero-padded weight | a | b`` (the house
pattern from MIS/matching priorities), so "minimum edge" is unique,
the classic 2-cycle property holds (the selected-edge graph's only
cycles are mutual pairs), and both a pure-Python replay and an
unrolled DuckDB oracle reproduce the forest exactly.

Per round:
1. relabel edges by current component, drop intra-component edges;
2. per component, argmin incident edge by the composite key
   (min-string aggregate — no window);
3. contract: hash-min label exchange over the selected-edge graph to
   a fixpoint (selected graphs are pseudo-forests with 2-cycle roots,
   so the inner loop converges in O(tree depth) — each pass is one
   join + one min-aggregate);
4. components re-point to the contracted labels; selected edges (and
   the round they joined) accumulate into the forest.

Spark shape: edges cached once; per round two joins against the
(component-sized) label table + one min-aggregate; labels materialized
once per round via CheckpointManager.  No window over data, no
driver-side unions of per-vertex data, one scalar action per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unarxive_spark.sources.checkpoint import CheckpointManager

__all__ = ["boruvka_forest"]

_W_PAD = 12


def _edge_key() -> F.Column:
    return F.concat(
        F.lpad(F.col("w").cast("string"), _W_PAD, "0"),
        F.lit("|"),
        F.col("a"),
        F.lit("|"),
        F.col("b"),
    )


def boruvka_forest(
    edges: DataFrame,
    fixed_rounds: int | None = None,
    max_iter: int = 30,
    max_jump: int = 16,
) -> DataFrame:
    """Minimum spanning forest → ``(conv_a, conv_b, w, round)``.

    Undirected weights: both directions of a pair are summed and cast
    to BIGINT (the edge table's weights are integer marker counts).
    With ``fixed_rounds``, runs exactly that many Borůvka rounds
    (driver-oracle mode; a round that selects nothing is a fixpoint so
    truncation is identical by construction).  Otherwise runs until no
    inter-component edge remains and raises on ``max_iter`` exhaustion.
    """
    if fixed_rounds is not None and fixed_rounds < 1:
        raise ValueError("fixed_rounds must be >= 1")
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    with CheckpointManager(edges.sparkSession, None) as ckpt:
        pair = ckpt.cache(
            edges.filter(F.col("src_conv_id") != F.col("dst_conv_id"))
            .select(
                F.least("src_conv_id", "dst_conv_id").alias("a"),
                F.greatest("src_conv_id", "dst_conv_id").alias("b"),
                F.col("weight"),
            )
            .groupBy("a", "b")
            .agg(F.sum("weight").cast("long").alias("w"))
            .select("a", "b", "w", _edge_key().alias("k"))
            .repartition("a")
        )
        pair.count()
        labels = (
            pair.select(F.col("a").alias("conv_id"))
            .unionByName(pair.select(F.col("b").alias("conv_id")))
            .distinct()
            .select("conv_id", F.col("conv_id").alias("comp"))
        )

        rounds = fixed_rounds if fixed_rounds is not None else max_iter
        parts: list[DataFrame] = []
        for it in ckpt.steps(rounds):
            la = labels.select(
                F.col("conv_id").alias("a"), F.col("comp").alias("ca")
            )
            lb = labels.select(
                F.col("conv_id").alias("b"), F.col("comp").alias("cb")
            )
            inter = (
                pair.join(la, "a")
                .join(lb, "b")
                .filter(F.col("ca") != F.col("cb"))
            )
            # argmin incident edge per component: min over a struct keyed
            # by the composite key CARRIES the edge payload, so the chosen
            # edges need no join back onto a second evaluation of ``inter``
            # (the old chosen_k ⋈ inter.distinct shape evaluated the
            # pair⋈labels pipeline twice per round — guide §2.4)
            edge_struct = F.struct("k", "a", "b", "w", "ca", "cb").alias("e")
            incident = inter.select(
                F.col("ca").alias("c"), edge_struct
            ).unionByName(inter.select(F.col("cb").alias("c"), edge_struct))
            # k is unique per pair row, so min(struct) IS the argmin edge;
            # two components may pick the same edge → distinct
            chosen = (
                incident.groupBy("c")
                .agg(F.min("e").alias("e"))
                .select("e.a", "e.b", "e.w", "e.ca", "e.cb")
                .distinct()
                .select(
                    "a", "b", "w", "ca", "cb",
                    F.lit(it).cast("long").alias("round"),
                )
                # ONE materialization per round: sel, the selection count
                # and the contraction graph all re-scan this
                .localCheckpoint(eager=True)
            )
            sel = chosen.select("a", "b", "w", "round")
            parts.append(sel)
            n_sel = chosen.count()
            if n_sel == 0:
                if fixed_rounds is None:
                    break
                labels = labels  # fixpoint: later fixed rounds change nothing
                continue
            # contract: hash-min over the selected component graph, with a
            # POINTER-JUMP leg (lab(lab(x)) joins the label table to
            # itself) so convergence is O(log chain) passes instead of
            # O(chain) one-hop propagations (r5 ADVICE: a Borůvka round can
            # merge a Θ(#components)-long chain). The fixpoint is unchanged
            # — every leg only propagates already-reachable labels and the
            # min is monotone — so the final labels (component minima) are
            # identical.
            cg = chosen.select(
                F.col("ca").alias("x"), F.col("cb").alias("y")
            ).unionByName(
                chosen.select(F.col("cb").alias("x"), F.col("ca").alias("y"))
            ).distinct()
            newlab = (
                labels.select("comp").distinct().select(
                    F.col("comp").alias("x"), F.col("comp").alias("lab")
                )
            ).localCheckpoint(eager=True)
            lab_t = newlab.schema["lab"].dataType
            for j in range(max_jump):
                none_lab = F.lit(None).cast(lab_t).alias("_old")
                nbr_leg = (
                    cg.join(
                        newlab.withColumnRenamed("x", "y2").withColumnRenamed(
                            "lab", "lab2"
                        ),
                        F.col("y") == F.col("y2"),
                    )
                    .select("x", F.col("lab2").alias("lab"), none_lab)
                )
                # self leg doubles as the old-label carrier: the changed
                # check is then a column diff on the materialized result,
                # not a second join per pass
                self_leg = newlab.select(
                    "x", "lab", F.col("lab").alias("_old")
                )
                jump_leg = (
                    newlab.alias("ja")
                    .join(
                        newlab.alias("jb"),
                        F.col("ja.lab") == F.col("jb.x"),
                    )
                    .select(
                        F.col("ja.x").alias("x"),
                        F.col("jb.lab").alias("lab"),
                        none_lab,
                    )
                )
                prop = (
                    nbr_leg.unionByName(self_leg)
                    .unionByName(jump_leg)
                    .groupBy("x")
                    .agg(
                        F.min("lab").alias("lab"),
                        F.max("_old").alias("_old"),
                    )
                ).localCheckpoint(eager=True)
                changed = (
                    prop.filter(F.col("lab") != F.col("_old"))
                    .limit(1)
                    .count()
                )
                newlab = prop.select("x", "lab")
                if changed == 0:
                    break
            else:
                raise RuntimeError(
                    f"boruvka contraction did not converge in {max_jump} "
                    "label-exchange passes — raise max_jump"
                )
            labels, _ = ckpt.superstep(
                it,
                labels.join(
                    newlab.withColumnRenamed("x", "comp"), "comp"
                ).select("conv_id", F.col("lab").alias("comp")),
                "n_selected",
                float(n_sel),
            )
        else:
            if fixed_rounds is None:
                raise RuntimeError(
                    f"boruvka: components still merging after {max_iter} rounds"
                )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.select(
            F.col("a").alias("conv_a"),
            F.col("b").alias("conv_b"),
            "w",
            "round",
        )
        .distinct()
    )
