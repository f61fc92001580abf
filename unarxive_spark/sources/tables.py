"""Table IO: bucketed persistence for shuffle-free superstep joins.

SURVEY.md §4.3: Spark has no automatic "keep this co-partitioned across
actions" — we pin the layout by writing the edge table **bucketed by
src_conv_id** (Hive-bucketed parquet here; Iceberg
``bucket(N, src_conv_id)`` partition transform on a real deployment).
Readers joining on the bucket key skip the big-side exchange entirely —
at 10^12 turns that's the difference between re-shuffling ~10 TB of
edges every superstep and shuffling only the small rank side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_edges_bucketed(
    edges: DataFrame,
    table: str = "edges_bucketed",
    n_buckets: int = 32,
) -> None:
    """Persist edges bucketed+sorted by src_conv_id as a managed table."""
    (
        edges.write.mode("overwrite")
        .bucketBy(n_buckets, "src_conv_id")
        .sortBy("src_conv_id")
        .format("parquet")
        .saveAsTable(table)
    )


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)
