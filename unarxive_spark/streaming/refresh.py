"""Streaming PageRank refresh: incremental edge-delta → warm-started
re-rank.

The reference's nightly-batch equivalent would re-run everything; the
Spark-native refresh cycle is:

1. the file-source stream mines ONLY newly-arrived transcript files into
   the edge landing zone (exactly-once, streaming checkpoint =
   the reference's done.log, incremental.py)
2. the landing zone compacts to the current (src, dst, weight) edges
3. PageRank warm-starts from the last published ranks snapshot
   (``initial_ranks`` — new vertices get the uniform prior, the vector
   renormalizes, the fixpoint is unchanged) and converges in far fewer
   supersteps than a cold start
4. the converged ranks are published as the next snapshot

At 100 TB this is the difference between re-ranking the full graph from
uniform every night and a handful of supersteps per delta: the fixpoint
is identical (asserted vs the numpy oracle in tests), only the iteration
count changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from unarxive_spark.operators.pagerank import PageRankResult, pagerank
from unarxive_spark.streaming.incremental import (
    compact_edges,
    start_incremental_edge_mining,
)


def _last_snapshot(spark: SparkSession, ranks_dir: str) -> DataFrame | None:
    """The published ranks, or None before the first publish (cold
    start). "Not published yet" is decided on the driver, as
    CheckpointManager does: reading a missing path would make Spark log
    the failure. A directory that exists but holds no readable parquet
    raises, never reads as a cold start."""
    path = spark._jvm.org.apache.hadoop.fs.Path(ranks_dir)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if not path.getFileSystem(conf).exists(path):
        return None
    return spark.read.parquet(ranks_dir)


def pagerank_refresh(
    spark: SparkSession,
    in_dir: str,
    landing_dir: str,
    stream_checkpoint_dir: str,
    ranks_dir: str,
    damping: float = 0.85,
    tol: float = 1e-8,
    max_iter: int = 100,
) -> PageRankResult:
    """One refresh cycle: catch up on new transcript files
    (Trigger.AvailableNow), warm-start from the last snapshot, publish.

    Safe to overwrite ``ranks_dir`` in-place: pagerank materializes every
    superstep (localCheckpoint), so the returned ranks carry no lazy
    dependency on the previous snapshot files by the time we write.
    """
    q = start_incremental_edge_mining(
        spark, in_dir, landing_dir, stream_checkpoint_dir
    )
    q.awaitTermination()
    edges = compact_edges(spark, landing_dir)
    res = pagerank(
        edges,
        damping=damping,
        tol=tol,
        max_iter=max_iter,
        initial_ranks=_last_snapshot(spark, ranks_dir),
    )
    res.ranks.write.mode("overwrite").parquet(ranks_dir)
    return res
