"""Skew handling: salting preserves weights exactly on extreme hubs
(SURVEY.md §4.2 — 'salting must preserve weights exactly')."""

from pyspark.sql import functions as F

from unarxive_spark.operators.skew import salted_sum


def test_salted_sum_weight_preservation(spark):
    # extreme hub: one dst receives 20k edges, others 1 each
    hub = spark.range(20000).select(
        F.format_string("s%06d", F.col("id").cast("int")).alias(
            "src_conv_id"
        ),
        F.lit("HUB").alias("dst_conv_id"),
        (F.col("id") % 7 + 1).cast("double").alias("weight"),
    )
    tail = spark.range(500).select(
        F.lit("x").alias("src_conv_id"),
        F.format_string("t%06d", F.col("id").cast("int")).alias(
            "dst_conv_id"
        ),
        F.lit(1.0).alias("weight"),
    )
    edges = hub.unionByName(tail)
    for n_salts in (1, 4, 64):
        got = {
            r["dst_conv_id"]: r["w"]
            for r in salted_sum(
                edges,
                key="dst_conv_id",
                value=F.sum("weight"),
                out="w",
                salt_from="src_conv_id",
                n_salts=n_salts,
            ).collect()
        }
        want = {
            r["dst_conv_id"]: r["w"]
            for r in edges.groupBy("dst_conv_id")
            .agg(F.sum("weight").alias("w"))
            .collect()
        }
        assert got == want, n_salts

