"""Incremental edge mining as Structured Streaming.

The reference is a *resumable batch* pipeline: new TARs/JSONLs are
discovered and only unprocessed ones run (``done.log`` anti-join,
/root/reference/src/prepare.py:26-31, match_references_openalex.py:672-694).
The Spark-native expression of "process only what's new, exactly once"
is a file-source stream with checkpointing: each micro-batch sees only
newly-arrived transcript files, mines reference pairs, and appends them
to the edges landing zone; the streaming checkpoint replaces done.log.

``Trigger.AvailableNow`` gives the batch-incremental behavior the
reference has (catch up on everything new, then stop) while the same
query with a processing-time trigger runs continuously on a cluster.

Aggregating to final (src, dst, weight) totals happens in the batch
layer over the landing zone (streaming full-aggregation would need the
complete history in state; at 10^12 turns the landing-zone + periodic
compaction pattern is the scalable choice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from unarxive_spark.functions.refs import extract_ref_ids

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


def read_transcript_stream(
    spark: SparkSession, in_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(in_dir)


def mine_ref_pairs_stream(transcripts: DataFrame) -> DataFrame:
    """Streaming L1: per-marker (src, dst, ts) rows — stateless narrow
    transform, so it runs identically in micro-batch and batch."""
    refs = F.concat(extract_ref_ids("text"), extract_ref_ids("tool"))
    return (
        transcripts.select(
            F.col("conv_id").alias("src_conv_id"),
            F.explode(refs).alias("dst_conv_id"),
            "ts",
        )
        .filter(F.col("src_conv_id") != F.col("dst_conv_id"))
    )


def start_incremental_edge_mining(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Mine new transcript files into the edge landing zone, exactly once.

    Rerunning after new files land processes only the delta (the
    reference's done.log semantics, done by the engine)."""
    pairs = mine_ref_pairs_stream(read_transcript_stream(spark, in_dir))
    writer = (
        pairs.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_edges(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Batch compaction of the landing zone to (src, dst, weight)."""
    pairs = spark.read.schema(
        "src_conv_id string, dst_conv_id string, ts timestamp"
    ).parquet(landing_dir)
    return pairs.groupBy("src_conv_id", "dst_conv_id").agg(
        F.count(F.lit(1)).cast("double").alias("weight")
    )


def session_ref_rates_stream(
    transcripts: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Session-window aggregation (``F.session_window``): per-source
    reference counts over gap-based sessions — the streaming counterpart
    of the batch lag+cumsum sessionization (q25), with state expiry
    driven by the watermark instead of a window function."""
    pairs = mine_ref_pairs_stream(transcripts)
    return (
        pairs.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", gap).alias("win"), "src_conv_id"
        )
        .agg(F.count(F.lit(1)).alias("n_refs"))
        .select(
            "src_conv_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_refs",
        )
    )
