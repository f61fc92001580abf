"""PageRank as DataFrame join/agg supersteps (no GraphX/GraphFrames).

Semantics (matched 1e-6 by the numpy oracle in tests/test_pagerank.py):
- damping d (default 0.85), uniform teleport (1-d)/N
- **weighted** transition: P(u→v) = weight(u,v) / Σ_w weight(u,w)
- **dangling mass**: rank of vertices with no out-edges is redistributed
  uniformly each superstep (Σ ranks stays 1 exactly)
- convergence on max|Δrank| < tol

Superstep dataflow (SURVEY.md §7 L3), one Spark job per superstep:
    ranks ⋈ edges_norm ON src           (co-partitioned: no exchange)
    → groupBy(dst).sum                  (the gather: the ONE exchange;
                                         map-side partial aggregation
                                         leaves a hub at most one row
                                         per map task)
    → left join onto the rank state     (co-partitioned with the gather
                                         output: no exchange)
    → damping + dangling redistribution (the dangling mass is a literal)
    → CheckpointManager.superstep       (one job: plan truncation,
                                         observed delta and dangling mass,
                                         durable state and lineage)

Loop-invariant tables are built once with the gather's partition count
``n`` = ``spark.sql.shuffle.partitions`` and cached: ``edges_norm``
(transition probabilities) by ``src``, the vertex table (with the
``has_out`` dangling flag) by ``conv_id``. The rank state inherits the
vertex table's partitioning, and ``shuffle_hash`` hints keep both
superstep joins on that layout, so nothing is broadcast and nothing but
the gather is exchanged (SURVEY.md §4.3). The operator runs with AQE
off (``session.adaptive_off``): an adaptive plan reports no output
partitioning, so the checkpointed state would lose its layout. The
dangling mass of the next superstep is ``sum(rank where has_out = 0)``
over the new state, observed in the job that materializes it and
passed on as a literal.

Reference analog: the reference has no PageRank; this is the north-rule
analytics layer over its citation network (README.md:27-32), with
``calc_stats``-style per-iteration metrics logged to the lineage table
(/root/reference/src/match_references_openalex.py:637-661 precedent).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from unarxive_spark.session import adaptive_off
from unarxive_spark.sources.checkpoint import CheckpointManager

RANK_SCHEMA = "conv_id string, rank double"


@dataclass
class PageRankResult:
    ranks: DataFrame
    iterations: int
    converged: bool
    deltas: list[float] = field(default_factory=list)
    # wall seconds per superstep (index 0 includes cache warm-up; scaling
    # metrics should use index >= 1)
    superstep_secs: list[float] = field(default_factory=list)


def _vertices(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src_conv_id").alias("conv_id"))
        .unionByName(edges.select(F.col("dst_conv_id").alias("conv_id")))
        .distinct()
    )


@adaptive_off
def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    weighted: bool = True,
    checkpoint_dir: str | None = None,
    vertices: DataFrame | None = None,
    initial_ranks: DataFrame | None = None,
    personalization: list[str] | None = None,
) -> PageRankResult:
    """Run PageRank to convergence. ``checkpoint_dir`` enables resumable
    per-iteration commits; a rerun with the same dir continues from the
    last committed superstep (state format is per-version: resume from a
    checkpoint written by an older build is not supported).

    ``initial_ranks`` (conv_id, rank) warm-starts the iteration — the
    incremental-recompute path (SURVEY.md §2.9: new data = re-run over
    the updated edge table): seeding with the previous converged scores
    converges in far fewer supersteps than a cold start. New vertices
    get the uniform prior; the vector is renormalized to Σ=1 so the
    fixpoint is unchanged.

    ``personalization``: conv_ids receiving the teleport mass (uniform
    over the set) — personalized PageRank ("conversations related to
    these"). Dangling mass teleports to the same set. None = classic
    uniform teleport.
    """
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if vertices is None:
        vertices = _vertices(edges)
    src_ids = edges.select(F.col("src_conv_id").alias("conv_id")).distinct()
    with CheckpointManager(spark, checkpoint_dir) as ckpt:
        # vertex table with the dangling flag, partitioned like the rank
        # state and cached ONCE for the whole run
        vertices = ckpt.cache(
            vertices.join(
                src_ids.withColumn("_ho", F.lit(1)), "conv_id", "left"
            )
            .select("conv_id", F.coalesce("_ho", F.lit(0)).alias("has_out"))
            .repartition(n_parts, "conv_id")
        )
        # danglers are counted from the built vertex table itself: correct
        # even when a caller-supplied ``vertices`` frame omits some edge
        # sources (n - #sources would undercount and leak rank mass)
        n, n_dangling = vertices.agg(
            F.count(F.lit(1)), F.count_if(F.col("has_out") == 0)
        ).collect()[0]
        if n == 0:
            empty = spark.createDataFrame([], RANK_SCHEMA)
            return PageRankResult(empty, 0, True)

        w = F.col("weight") if weighted else F.lit(1.0)
        out_norm = edges.groupBy("src_conv_id").agg(F.sum(w).alias("out_w"))
        # transition probability per edge, fixed across iterations; the
        # first superstep fills the cache
        edges_norm = ckpt.cache(
            edges.join(out_norm, "src_conv_id")
            .select(
                F.col("src_conv_id").alias("src"),
                F.col("dst_conv_id").alias("dst"),
                (w / F.col("out_w")).alias("p"),
            )
            .repartition(n_parts, "src")
        )

        def dangling_sum(col: str = "rank"):
            return F.coalesce(
                F.sum(F.when(F.col("has_out") == 0, F.col(col))), F.lit(0.0)
            )

        restored = ckpt.resume(max_iter)
        if restored is not None:
            restored = restored.select("conv_id", "rank", "has_out")
            dmass = restored.agg(dangling_sum()).collect()[0][0]
            ranks = restored.repartition(n_parts, "conv_id")
        elif initial_ranks is not None:
            # one job: the seeded state, its total and its dangling mass
            obs = Observation()
            seeded = (
                vertices.join(
                    initial_ranks.select(
                        "conv_id", F.col("rank").alias("_r0")
                    ),
                    "conv_id",
                    "left",
                )
                .select(
                    "conv_id",
                    F.coalesce("_r0", F.lit(1.0 / n)).alias("_r"),
                    "has_out",
                )
                .observe(
                    obs, F.sum("_r").alias("t"), dangling_sum("_r").alias("d")
                )
                .localCheckpoint(eager=True)
            )
            total = obs.get["t"] or 1.0
            dmass = obs.get["d"] / total
            ranks = seeded.select(
                "conv_id",
                (F.col("_r") / F.lit(float(total))).alias("rank"),
                "has_out",
            )
        else:
            ranks = vertices.select(
                "conv_id", F.lit(1.0 / n).alias("rank"), "has_out"
            )
            dmass = n_dangling / n

        if personalization:
            # teleport vector p(v): 1/|S| on the source set, else 0
            p_v = F.when(
                F.col("conv_id").isin(*personalization),
                F.lit(1.0 / len(personalization)),
            ).otherwise(F.lit(0.0))
        else:
            p_v = F.lit(1.0 / n)
        deltas: list[float] = []
        converged = False
        for it in ckpt.steps(max_iter):
            gathered = (
                edges_norm.join(
                    ranks.select(
                        F.col("conv_id").alias("src"), "rank"
                    ).hint("shuffle_hash"),
                    "src",
                )
                .groupBy("dst")
                .agg(F.sum(F.col("p") * F.col("rank")).alias("g"))
                .withColumnRenamed("dst", "conv_id")
            )
            # The state rows ARE the vertex set (invariant from init),
            # so building the new state from the old one carries the
            # previous rank along for free — the convergence delta then
            # becomes a column diff over the materialized state instead
            # of a second vertex-table join per superstep (guide §2.4).
            new_ranks = (
                ranks.select(
                    "conv_id", F.col("rank").alias("_prev"), "has_out"
                )
                .join(gathered.hint("shuffle_hash"), "conv_id", "left")
                .select(
                    "conv_id",
                    (
                        p_v * F.lit((1.0 - damping) + damping * dmass)
                        + F.lit(damping) * F.coalesce(F.col("g"), F.lit(0.0))
                    ).alias("rank"),
                    "has_out",
                    "_prev",
                )
            )
            # One Spark job per superstep: materialize (plan truncation +
            # resumable state) with the convergence delta and the next
            # dangling mass observed in it. Fixed-iteration mode (tol < 0)
            # observes no delta.
            ranks, delta, seen = ckpt.superstep(
                it,
                new_ranks,
                "max_abs_delta",
                F.max(F.abs(F.col("rank") - F.col("_prev")))
                if tol >= 0
                else float("inf"),
                observe={"dmass": dangling_sum()},
            )
            dmass = seen["dmass"]
            deltas.append(delta)
            if delta < tol:
                converged = True
                break
    # the loop-invariant caches are released: the result is checkpointed
    # state, so nothing downstream reads them (refresh reuses one session)
    return PageRankResult(
        ranks.select("conv_id", "rank"),
        ckpt.iterations,
        converged,
        deltas,
        ckpt.superstep_secs,
    )
