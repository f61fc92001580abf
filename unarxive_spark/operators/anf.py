"""ANF / HyperBall-style neighborhood-function sketches.

Approximate per-vertex reachable-set sizes (and hence effective
diameter / closeness-type centralities) on graphs where exact
reachability is quadratic.  Published basis: Palmer, Gibbons, Faloutsos
"ANF" (KDD 2002) and Boldi, Rosa, Vigna "HyperBall" (2011) — each vertex
carries a small distinct-count sketch of the set of vertices it
reaches; one superstep ORs every vertex's sketch into its in-neighbors,
so after t rounds vertex v sketches {u : dist(v, u) <= t}.

Reference capability analog: the reference publishes citation-network
scale stats (``/root/reference/README.md:27-31``: 63 M references /
28 M linked); reachability analyses over a graph that size are exactly
the regime where exact pairwise computation is impossible.

Spark-first shape (north rule — same skeleton as PageRank/WCC):
- ``n_regs`` independent Flajolet-Martin trials per vertex, one 64-bit
  rank bitmap per trial, stored as ``n_regs`` LONG COLUMNS (r0..r{k-1})
  — so the superstep merge is a plain ``groupBy(conv_id).agg(bit_or)``
  per column: associative, map-side combinable, no arrays to explode.
- Per superstep: ONE join (adjacency cached co-partitioned on the pull
  side, only the sketch table shuffles) + ONE bit_or aggregation;
  state materialized once via CheckpointManager, metrics observed in
  that same pass.
- Convergence metric is the TOTAL POPCOUNT of all bitmaps (strictly
  monotone until fixpoint).  Trailing-ones totals would NOT work: a new
  rank bit above a register's lowest-zero does not move its estimator.
- Hashing is the repo's portable md5-h64, so a DuckDB unrolled-CTE
  oracle and a pure-Python replay reproduce every bitmap bit-for-bit.

Estimator per vertex (Flajolet-Martin 1985, multi-trial):
``2^(mean_i R_i) / 0.77351`` with ``R_i`` = trailing-ones of bitmap i
(the reachable-set size INCLUDES the vertex itself — its own rank bit
is set at init).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unarxive_spark.functions.hashing import h64
from unarxive_spark.sources.checkpoint import CheckpointManager

__all__ = [
    "anf",
    "ANFResult",
    "anf_estimates",
    "harmonic_centrality",
    "effective_diameter",
    "ANF_PHI",
]

ANF_PHI = 0.77351


@dataclass
class ANFResult:
    sketches: DataFrame  # conv_id, r0..r{n_regs-1} (long bitmaps)
    iterations: int
    converged: bool
    n_regs: int
    # N(t): estimated # of (v, u) pairs with dist <= t, t = 1..iterations;
    # driver-side list, one float per round
    neighborhood: list[float] | None = None
    # N(0) under the SAME sketch estimator (balls of radius 0, i.e. the
    # init state — truth is |V|, but the estimator-consistent value keeps
    # the N(t) sequence monotone for interpolation) and the exact |V|
    n0_estimate: float | None = None
    n_vertices: int | None = None
    # with keep_states=True: [t=0 init, t=1, ..., t=iterations] sketch
    # tables (t>=1 are checkpoint-materialized)
    states: list[DataFrame] | None = None


def _init_bitmap(i: int) -> F.Column:
    """Rank bitmap seeding register i: bit (rho-1) where rho is the
    1-based lowest-set-bit position of h64 (geometric)."""
    h = h64(F.col("conv_id"), salt=f"anf{i}|")
    lowbit = h.bitwiseAND(-h)
    rho = F.when(h == 0, F.lit(60)).otherwise(
        (F.floor(F.log2(lowbit)) + F.lit(1)).cast("int")
    )
    return F.expr(f"shiftleft(CAST(1 AS BIGINT), __rho{i} - 1)"), rho


def trailing_ones(col: str) -> F.Column:
    """# trailing one-bits: ~b & (b+1) isolates the lowest zero bit
    (always an exact power of two, log2 exact)."""
    return F.floor(F.log2(F.expr(f"~{col} & ({col} + 1)"))).cast("int")


def anf(
    edges: DataFrame,
    src: str = "src_conv_id",
    dst: str = "dst_conv_id",
    n_regs: int = 8,
    max_iter: int = 30,
    keep_states: bool = False,
) -> ANFResult:
    """Forward-reachability sketches: after convergence vertex v's
    bitmaps sketch ``{u : v reaches u via directed edges}`` (v incl.)."""
    reg_cols = [f"r{i}" for i in range(n_regs)]

    verts = (
        edges.select(F.col(src).alias("conv_id"))
        .unionByName(edges.select(F.col(dst).alias("conv_id")))
        .distinct()
    )
    rho_cols, bm_exprs = [], []
    for i in range(n_regs):
        bm, rho = _init_bitmap(i)
        rho_cols.append(rho.alias(f"__rho{i}"))
        bm_exprs.append(bm)
    pop0 = sum((F.bit_count(F.col(c)) for c in reg_cols), start=F.lit(0))
    state = (
        verts.select("conv_id", *rho_cols)
        .select(
            "conv_id",
            *[bm_exprs[i].alias(reg_cols[i]) for i in range(n_regs)],
        )
        # stored popcount: computed ONCE per state row at materialization,
        # then FORWARDED through later supersteps (never recomputed in a
        # shuffle map side) — the changed-flag and the convergence metric
        # both read this column
        .withColumn("_pop", pop0.cast("long"))
    )

    r_sum = sum((trailing_ones(c) for c in reg_cols), start=F.lit(0))
    est_pairs = F.pow(
        F.lit(2.0), r_sum.cast("double") / F.lit(float(n_regs))
    ) / F.lit(ANF_PHI)
    pop = sum((F.bit_count(F.col(c)) for c in reg_cols), start=F.lit(0))

    # one init-time action: exact |V| + the estimator-consistent N(0)
    # (needed so effective_diameter can interpolate the t=1 segment from
    # the real radius-0 ball sizes instead of from 0)
    init_row = state.agg(
        F.count(F.lit(1)).alias("n"), F.sum(est_pairs).alias("s")
    ).collect()[0]
    n_vertices = int(init_row["n"])
    n0_estimate = float(init_row["s"])

    states: list[DataFrame] = [state.select("conv_id", *reg_cols)]
    neighborhood: list[float] = []
    prev_pop = -1
    converged = False
    # Delta propagation (guide §2.3 — shuffle fewer bytes): the merge
    # is a monotone bit_or, so a vertex whose sketch did NOT change in
    # round t contributes nothing new in round t+1 (its in-neighbors
    # absorbed the identical bitmaps in round t already).  Only the
    # CHANGED sketches are pulled; the state leg of the union carries
    # every vertex forward, so the per-round result is bit-identical
    # to the full pull by induction.  Changed-ness = the stored ``_pop``
    # grew (bit_or is monotone) — a compare of two MATERIALIZED columns,
    # so neither the shuffle map side nor the delta filter ever
    # recomputes a popcount (the first delta-propagation cut recomputed
    # it per row per round and measured SLOWER than the full pull at
    # sf0.1; forwarding the stored value is what makes the cut free).
    delta = state  # round 0 pulls everything: every sketch is "new"
    with CheckpointManager(edges.sparkSession, None) as ckpt:
        # sketches are pulled from dst into src → co-partition the cached
        # adjacency on the join key (v); only the state shuffles per round
        adj = ckpt.cache(
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .distinct()
            .repartition("v")
        )
        adj.count()
        for it in ckpt.steps(max_iter):
            pulled = adj.join(
                delta.select(
                    F.col("conv_id").alias("v"), *reg_cols
                ),
                "v",
            ).select(
                F.col("u").alias("conv_id"),
                *reg_cols,
                F.lit(None).cast("long").alias("_oldpop"),
            )
            new_state = (
                state.select(
                    "conv_id", *reg_cols, F.col("_pop").alias("_oldpop")
                )
                .unionByName(pulled)
                .groupBy("conv_id")
                .agg(
                    *[F.bit_or(c).alias(c) for c in reg_cols],
                    F.max("_oldpop").alias("_oldpop"),
                )
                # popcount of the merged sketch, computed once per output row
                # on the reduce side and stored with the state
                .withColumn("_pop", pop.cast("long"))
            )
            # no action of its own: both metrics are observed in the pass
            # that materializes the state (popcount read from the stored
            # column, not recomputed)
            new_m, popcount, seen = ckpt.superstep(
                it,
                new_state,
                "total_popcount",
                F.sum("_pop"),
                observe={"pairs": F.sum(est_pairs)},
            )
            neighborhood.append(seen["pairs"])
            state = new_m
            delta = new_m.filter(F.col("_pop") != F.col("_oldpop"))
            if keep_states:
                states.append(state.select("conv_id", *reg_cols))
            if popcount == prev_pop:
                converged = True
                break
            prev_pop = popcount
    return ANFResult(
        sketches=state.select("conv_id", *reg_cols),
        iterations=ckpt.iterations,
        converged=converged,
        n_regs=n_regs,
        neighborhood=neighborhood,
        n0_estimate=n0_estimate,
        n_vertices=n_vertices,
        states=states if keep_states else None,
    )


def anf_estimates(res: ANFResult) -> DataFrame:
    """Per-vertex reachable-set estimate: ``(conv_id, r_sum, est_reach)``
    — ``r_sum`` (sum of trailing-ones) is exact-integer comparable;
    ``est_reach`` = 2^(r_sum/n_regs) / phi."""
    reg_cols = [f"r{i}" for i in range(res.n_regs)]
    r_sum = sum(
        (trailing_ones(c) for c in reg_cols), start=F.lit(0)
    ).cast("long")
    return res.sketches.select(
        "conv_id",
        r_sum.alias("r_sum"),
    ).select(
        "conv_id",
        "r_sum",
        (
            F.pow(F.lit(2.0), F.col("r_sum") / F.lit(float(res.n_regs)))
            / F.lit(ANF_PHI)
        ).alias("est_reach"),
    )


def effective_diameter(res: ANFResult, q: float = 0.9) -> float:
    """HyperBall-convention effective diameter: the (interpolated)
    smallest t such that N(t) >= q * N(infinity), computed from the
    per-superstep neighborhood function recorded during the run."""
    nf = res.neighborhood
    if not nf:
        raise ValueError("anf() recorded no neighborhood function")
    # N(0) is the radius-0 ball total under the same estimator (≈ |V|,
    # estimator-biased the same way as every N(t)); interpolating the
    # t=1 segment from 0 instead would overstate the fraction covered
    # whenever the q-target falls inside round 1.
    n0 = res.n0_estimate if res.n0_estimate is not None else 0.0
    target = q * nf[-1]
    if n0 >= target:
        return 0.0
    for t, n_t in enumerate(nf, start=1):
        if n_t >= target:
            prev = nf[t - 2] if t >= 2 else n0
            if n_t == prev:
                return float(t)
            return (t - 1) + (target - prev) / (n_t - prev)
    return float(len(nf))


def harmonic_centrality(res: ANFResult) -> DataFrame:
    """Approximate harmonic (outward) centrality from the per-round
    sketches — the canonical HyperBall application (Boldi & Vigna 2013,
    "In-core computation of geometric centralities with HyperBall"):
    ``HC(v) = sum_t (|B(v,t)| - |B(v,t-1)|) / t`` with every ball size
    taken from the SAME sketch estimator (per-vertex r_sum is monotone,
    so deltas are non-negative and rounds past the fixpoint add 0).
    Requires ``anf(..., keep_states=True)``.
    """
    if not res.states:
        raise ValueError("harmonic_centrality needs anf(keep_states=True)")
    from pyspark.sql import Window

    reg_cols = [f"r{i}" for i in range(res.n_regs)]
    r_sum = sum((trailing_ones(c) for c in reg_cols), start=F.lit(0))
    est = F.pow(
        F.lit(2.0), r_sum.cast("double") / F.lit(float(res.n_regs))
    ) / F.lit(ANF_PHI)
    frames = [
        st.select("conv_id", F.lit(t).alias("t"), est.alias("e"))
        for t, st in enumerate(res.states)
    ]
    u = frames[0]
    for fr in frames[1:]:
        u = u.unionByName(fr)
    w = Window.partitionBy("conv_id").orderBy("t")
    return (
        u.withColumn("__prev", F.lag("e").over(w))
        .filter(F.col("t") >= 1)
        .groupBy("conv_id")
        .agg(
            F.sum(
                (F.col("e") - F.col("__prev")) / F.col("t")
            ).alias("hc")
        )
    )
