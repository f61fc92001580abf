"""Streaming PageRank refresh: exactly-once delta mining + warm-started
re-rank reaching the oracle fixpoint in fewer supersteps than cold."""

import pytest
from pyspark.errors import AnalysisException

from unarxive_spark.datagen import synth_transcripts
from unarxive_spark.operators.pagerank import pagerank
from unarxive_spark.streaming.incremental import compact_edges
from unarxive_spark.streaming.refresh import _last_snapshot, pagerank_refresh

from tests.oracles import pagerank_oracle


def test_streaming_refresh_cycle(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    ranks = str(tmp_path / "ranks")

    t_all = synth_transcripts(spark, n_convs=150, seed=21).cache()

    # cycle 1: the bulk of the history lands → cold start
    t_all.filter("turn_idx < 25").write.mode("append").parquet(in_dir)
    r1 = pagerank_refresh(spark, in_dir, landing, ckpt, ranks)
    assert r1.converged
    n_landing_1 = spark.read.parquet(landing).count()

    # cycle 2: a small delta lands → ONLY the delta is mined
    # (exactly-once), and the re-rank warm-starts from snapshot 1
    t_all.filter("turn_idx >= 25").write.mode("append").parquet(in_dir)
    r2 = pagerank_refresh(spark, in_dir, landing, ckpt, ranks)
    assert r2.converged
    n_landing_2 = spark.read.parquet(landing).count()
    assert n_landing_2 > n_landing_1  # delta appended, history kept

    # warm start beats the cold start on the same full edge table
    edges = compact_edges(spark, landing)
    cold = pagerank(edges, tol=1e-8, max_iter=100)
    assert r2.iterations < cold.iterations

    # identical fixpoint, matching the numpy oracle; snapshot published
    rows = [
        (r["src_conv_id"], r["dst_conv_id"], r["weight"])
        for r in edges.collect()
    ]
    want = pagerank_oracle(rows, tol=1e-8, max_iter=200)
    got = {
        r["conv_id"]: r["rank"] for r in spark.read.parquet(ranks).collect()
    }
    assert set(got) == set(want)
    assert max(abs(got[v] - want[v]) for v in want) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9

    # cycle 3: nothing new → zero rows mined, snapshot converges at once
    r3 = pagerank_refresh(spark, in_dir, landing, ckpt, ranks)
    assert spark.read.parquet(landing).count() == n_landing_2
    assert r3.iterations <= 2  # already at the fixpoint


def test_last_snapshot_cold_start_only_when_missing(spark, tmp_path):
    # nothing published yet: a cold start
    assert _last_snapshot(spark, str(tmp_path / "ranks")) is None
    # a directory without parquet is unreadable state, not a cold start
    (tmp_path / "empty").mkdir()
    with pytest.raises(AnalysisException):
        _last_snapshot(spark, str(tmp_path / "empty"))
