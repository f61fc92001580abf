"""spark-submit entry point.

Cluster launch (north rule: ``spark-submit --py-files`` on
multi-executor clusters):

    zip -r unarxive_spark.zip unarxive_spark
    spark-submit --master <cluster> \\
        --py-files unarxive_spark.zip \\
        unarxive_spark/cli.py <command> [options]

Commands mirror the reference's entry points (SURVEY.md §3):
  mine-edges   EP1/EP2 analog: transcripts → edge table
  pagerank     EP3 analytics: PageRank with checkpoint/resume
  components   connected components with checkpoint/resume
  lpa          label propagation
  triangles    triangle count
  vertices     reporting-layer vertex attribute table
  ktruss       k-truss edge-cohesion peel
  anf          ANF/HyperBall reachable-set estimates
  louvain      Louvain modularity-optimizing community detection
  walks        random-walk corpus (uniform / weighted / node2vec)
  synth        generate the deterministic synthetic transcripts table

All IO is parquet directories (Iceberg tables on a real deployment —
swap ``read.parquet``/``write.parquet`` for ``read.table``/``writeTo``).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="unarxive-spark")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("synth")
    s.add_argument("--out", required=True)
    s.add_argument("--n-convs", type=int, default=100000)
    s.add_argument("--seed", type=int, default=42)

    m = sub.add_parser("mine-edges")
    m.add_argument("--transcripts", required=True)
    m.add_argument("--out", required=True)
    m.add_argument("--no-resolve", action="store_true")

    for name in (
        "pagerank", "components", "lpa", "triangles", "vertices",
        "ktruss", "anf", "louvain", "walks",
    ):
        g = sub.add_parser(name)
        g.add_argument("--edges" if name != "vertices" else "--transcripts",
                       required=True)
        g.add_argument("--out", required=True)
        if name == "pagerank":
            g.add_argument("--damping", type=float, default=0.85)
            g.add_argument("--tol", type=float, default=1e-6)
            g.add_argument("--max-iter", type=int, default=100)
            g.add_argument("--checkpoint-dir", default=None)
        if name == "components":
            g.add_argument("--checkpoint-dir", default=None)
        if name == "lpa":
            g.add_argument("--n-iter", type=int, default=5)
        if name == "ktruss":
            g.add_argument("--k", type=int, default=3)
        if name == "anf":
            g.add_argument("--n-regs", type=int, default=8)
            g.add_argument("--max-iter", type=int, default=30)
        if name == "louvain":
            g.add_argument("--max-rounds", type=int, default=20)
            g.add_argument("--levels", type=int, default=1)
        if name == "walks":
            g.add_argument("--walk-length", type=int, default=5)
            g.add_argument("--walks-per-vertex", type=int, default=1)
            g.add_argument("--seed", type=int, default=42)
            g.add_argument("--weighted", action="store_true")
            g.add_argument(
                "--node2vec",
                nargs=3,
                type=int,
                metavar=("RET", "ADJ", "FAR"),
                default=None,
                help="integer biases ∝ (1/p, 1, 1/q)",
            )

    args = p.parse_args(argv)

    from unarxive_spark.session import get_spark

    spark = get_spark(
        master=args.master,
        app_name=f"unarxive-{args.cmd}",
        shuffle_partitions=args.shuffle_partitions,
    )

    if args.cmd == "synth":
        from unarxive_spark.datagen import synth_transcripts

        synth_transcripts(
            spark, n_convs=args.n_convs, seed=args.seed
        ).write.mode("overwrite").parquet(args.out)
    elif args.cmd == "mine-edges":
        from unarxive_spark.operators.edges import build_edges

        t = spark.read.parquet(args.transcripts)
        build_edges(t, resolve=not args.no_resolve).write.mode(
            "overwrite"
        ).parquet(args.out)
    elif args.cmd == "pagerank":
        from unarxive_spark.operators.pagerank import pagerank

        e = spark.read.parquet(args.edges)
        res = pagerank(
            e,
            damping=args.damping,
            tol=args.tol,
            max_iter=args.max_iter,
            checkpoint_dir=args.checkpoint_dir,
        )
        res.ranks.write.mode("overwrite").parquet(args.out)
        print(
            f"pagerank: iterations={res.iterations} "
            f"converged={res.converged}"
        )
    elif args.cmd == "components":
        from unarxive_spark.operators.components import connected_components

        e = spark.read.parquet(args.edges)
        res = connected_components(e, checkpoint_dir=args.checkpoint_dir)
        res.components.write.mode("overwrite").parquet(args.out)
    elif args.cmd == "lpa":
        from unarxive_spark.operators.lpa import label_propagation

        e = spark.read.parquet(args.edges)
        label_propagation(e, n_iter=args.n_iter).labels.write.mode(
            "overwrite"
        ).parquet(args.out)
    elif args.cmd == "triangles":
        from unarxive_spark.operators.triangles import triangles_per_vertex

        e = spark.read.parquet(args.edges)
        triangles_per_vertex(e).write.mode("overwrite").parquet(args.out)
    elif args.cmd == "ktruss":
        from unarxive_spark.operators.ktruss import k_truss

        e = spark.read.parquet(args.edges)
        k_truss(e, args.k).write.mode("overwrite").parquet(args.out)
    elif args.cmd == "anf":
        from unarxive_spark.operators.anf import anf, anf_estimates

        e = spark.read.parquet(args.edges)
        res = anf(e, n_regs=args.n_regs, max_iter=args.max_iter)
        anf_estimates(res).write.mode("overwrite").parquet(args.out)
        print(
            f"anf: iterations={res.iterations} converged={res.converged}"
        )
    elif args.cmd == "louvain":
        from unarxive_spark.operators.louvain import louvain

        e = spark.read.parquet(args.edges)
        res = louvain(e, max_rounds=args.max_rounds, levels=args.levels)
        res.labels.write.mode("overwrite").parquet(args.out)
        print(
            f"louvain: rounds={res.rounds} levels={res.levels} "
            f"converged={res.converged}"
        )
    elif args.cmd == "walks":
        from pyspark.sql import functions as F

        from unarxive_spark.operators.walks import (
            node2vec_walks,
            random_walks,
        )

        e = spark.read.parquet(args.edges)
        starts = (
            e.select(F.col("src_conv_id").alias("conv_id"))
            .unionByName(e.select(F.col("dst_conv_id").alias("conv_id")))
            .distinct()
        )
        if args.node2vec is not None:
            ret, adj, far = args.node2vec
            out = node2vec_walks(
                e,
                starts,
                walk_length=args.walk_length,
                walks_per_vertex=args.walks_per_vertex,
                seed=args.seed,
                ret_bias=ret,
                adj_bias=adj,
                far_bias=far,
                weight_col="weight" if args.weighted else None,
            )
        else:
            out = random_walks(
                e,
                starts,
                walk_length=args.walk_length,
                walks_per_vertex=args.walks_per_vertex,
                seed=args.seed,
                weight_col="weight" if args.weighted else None,
            )
        out.write.mode("overwrite").parquet(args.out)
    elif args.cmd == "vertices":
        from unarxive_spark.operators.stats import build_vertices

        t = spark.read.parquet(args.transcripts)
        build_vertices(t).write.mode("overwrite").parquet(args.out)

    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
