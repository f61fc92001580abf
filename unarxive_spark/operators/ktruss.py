"""k-truss decomposition (edge-level dense-subgraph peel).

The k-truss is the maximal subgraph in which every edge closes at least
k-2 triangles *within the subgraph* — the edge-analog of k-core and the
standard cohesion filter one notch stronger than core number (Cohen
2008, "Trusses: cohesive subgraphs for social network analysis").
Reference capability analog: the same citation-network dense-kernel
regime as k-core (``/root/reference/README.md:27-31`` scale stats).

Spark-first shape:
- Edge identity is the lexicographic pair (a < b); each peel round
  re-orients the LIVE edge set by (degree, id) and enumerates triangles
  with the node-iterator++ wedge join from ``operators/triangles.py`` —
  total wedges bounded by ~m^1.5, a mega-hub never pivots.
- Per-edge support = explode each triangle into its 3 lexicographic
  edges + partial-agg count — no per-vertex adjacency materialization.
- Peel: drop edges with support < k-2, re-check (dropping an edge can
  break other edges' triangles).  The live set shrinks monotonically,
  so the fixpoint is exact; per round the state is materialized once
  (CheckpointManager) and the convergence metric is observed in that
  same pass.  max_iter exhaustion raises (no-silent-truncation contract —
  same as k_core/SSSP/SCC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unarxive_spark.operators.triangles import canonical_edges
from unarxive_spark.sources.checkpoint import CheckpointManager

__all__ = ["k_truss"]


def _supports(canon: DataFrame) -> DataFrame:
    """Per-edge triangle counts of the lexicographic edge set ``canon``
    (a < b).  Degree-ordered enumeration; edges in no triangle are
    absent (treat as support 0)."""
    deg = (
        canon.select(F.col("a").alias("conv_id"))
        .unionByName(canon.select(F.col("b").alias("conv_id")))
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    with_deg = canon.join(
        deg.select(F.col("conv_id").alias("a"), F.col("_deg").alias("_da")),
        "a",
    ).join(
        deg.select(F.col("conv_id").alias("b"), F.col("_deg").alias("_db")),
        "b",
    )
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    o = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("x"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("y"),
    )
    w = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e1.y") == F.col("e2.x"))
        .select(
            F.col("e1.x").alias("x"),
            F.col("e1.y").alias("y"),
            F.col("e2.y").alias("z"),
        )
        .alias("w")
    )
    tri = w.join(
        o.alias("e3"),
        (F.col("w.x") == F.col("e3.x")) & (F.col("w.z") == F.col("e3.y")),
    ).select("w.x", "w.y", "w.z")
    sides = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("x", "y").alias("a"),
                    F.greatest("x", "y").alias("b"),
                ),
                F.struct(
                    F.least("x", "z").alias("a"),
                    F.greatest("x", "z").alias("b"),
                ),
                F.struct(
                    F.least("y", "z").alias("a"),
                    F.greatest("y", "z").alias("b"),
                ),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    return sides.groupBy("a", "b").agg(F.count(F.lit(1)).alias("sup"))


def k_truss(
    edges: DataFrame,
    k: int,
    max_iter: int = 50,
) -> DataFrame:
    """Surviving undirected edges ``(a, b)`` (a < b) of the k-truss of
    the directed input edge table."""
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3: {k}")
    ckpt = CheckpointManager(edges.sparkSession, None)
    live = canonical_edges(edges, by_degree=False)
    n_live = live.count()
    for it in ckpt.steps(max_iter):
        kept = (
            live.join(_supports(live), ["a", "b"], "left")
            .filter(F.coalesce("sup", F.lit(0)) >= k - 2)
            .select("a", "b")
        )
        new_m, n_new = ckpt.superstep(
            it, kept, "n_live_edges", F.count(F.lit(1))
        )
        dropped = n_live - n_new
        live, n_live = new_m, n_new
        if dropped == 0 or n_live == 0:
            return live
    raise RuntimeError(
        f"k_truss: no fixpoint after {max_iter} peel rounds "
        f"({n_live} edges still live) — raise max_iter"
    )
