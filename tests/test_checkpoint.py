"""Checkpoint/lineage protocol: resume-equivalence (kill at iteration k,
resume → same converged scores — SURVEY.md §5 invariant tests)."""

import importlib
import inspect
import os
import pkgutil
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import unarxive_spark.operators as operators
from unarxive_spark import cli
from unarxive_spark.operators.anf import anf
from unarxive_spark.operators.bfs import bfs_distances, landmark_distances
from unarxive_spark.operators.boruvka import boruvka_forest
from unarxive_spark.operators.bowtie import bowtie_census
from unarxive_spark.operators.components import connected_components
from unarxive_spark.operators.hits import hits
from unarxive_spark.operators.influence import ic_influence_spread
from unarxive_spark.operators.katz import katz_centrality
from unarxive_spark.operators.ktruss import k_truss
from unarxive_spark.operators.louvain import louvain
from unarxive_spark.operators.lpa import (
    label_propagation,
    seeded_label_propagation,
)
from unarxive_spark.operators.matching import maximal_matching
from unarxive_spark.operators.mis import (
    greedy_coloring,
    maximal_independent_set,
)
from unarxive_spark.operators.pagerank import pagerank
from unarxive_spark.operators.sssp import shortest_paths
from unarxive_spark.operators.temporal import temporal_reachability
from unarxive_spark.sources.checkpoint import LINEAGE_SCHEMA, CheckpointManager


def test_pagerank_resume_equivalence(edges_small):
    full = pagerank(edges_small, tol=1e-8, max_iter=60)
    assert full.converged
    want = {r["conv_id"]: r["rank"] for r in full.ranks.collect()}

    d = tempfile.mkdtemp(prefix="pr_ckpt_")
    try:
        # simulate a crash: only 3 supersteps commit
        part = pagerank(edges_small, tol=1e-8, max_iter=3, checkpoint_dir=d)
        assert not part.converged and part.iterations == 3

        # resume from lineage; must continue at iteration 3, not restart
        res = pagerank(edges_small, tol=1e-8, max_iter=60, checkpoint_dir=d)
        assert res.converged
        got = {r["conv_id"]: r["rank"] for r in res.ranks.collect()}
        assert set(got) == set(want)
        assert max(abs(got[v] - want[v]) for v in want) < 1e-9

        # resumed run did fewer fresh iterations than the full run
        assert res.iterations == full.iterations

        # lineage table: committed rows for every iteration, metric series
        ck = CheckpointManager(edges_small.sparkSession, d)
        m = ck.metrics().collect()
        iters = [r["iteration"] for r in m]
        assert iters == list(range(full.iterations))
        deltas = [r["metric_value"] for r in m]
        assert deltas[-1] < 1e-8  # converged metric recorded
        assert all(
            a >= b for a, b in zip(deltas[3:], deltas[4:])
        )  # monotone tail
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_components_resume(edges_small):
    d = tempfile.mkdtemp(prefix="cc_ckpt_")
    try:
        part = connected_components(edges_small, max_iter=1, checkpoint_dir=d)
        assert not part.converged
        res = connected_components(edges_small, max_iter=50, checkpoint_dir=d)
        assert res.converged
        fresh = connected_components(edges_small, max_iter=50)
        a = {r["conv_id"]: r["component"] for r in res.components.collect()}
        b = {r["conv_id"]: r["component"] for r in fresh.components.collect()}
        assert a == b
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_lineage_partition_breakdown(edges_small):
    d = tempfile.mkdtemp(prefix="ln_ckpt_")
    try:
        pagerank(edges_small, tol=1e-8, max_iter=2, checkpoint_dir=d)
        ck = CheckpointManager(edges_small.sparkSession, d)
        lin = ck.lineage()
        # per-partition rows present, counts sum to the vertex count
        n_vertices = (
            edges_small.select(F.col("src_conv_id").alias("c"))
            .unionByName(edges_small.select(F.col("dst_conv_id").alias("c")))
            .distinct()
            .count()
        )
        per_iter = (
            lin.filter("status = 'committed'")
            .groupBy("iteration")
            .agg(F.sum("n_rows").alias("n"))
            .collect()
        )
        assert all(r["n"] == n_vertices for r in per_iter)
        assert lin.filter("partition_id IS NOT NULL").count() > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_lineage_metric_series_is_exact(edges_small):
    """The committed metric is the loop's own convergence value (observed
    in the materializing pass), and it agrees with the durable state."""
    spark = edges_small.sparkSession
    d = tempfile.mkdtemp(prefix="series_ckpt_")
    try:
        pr = pagerank(
            edges_small, tol=1e-8, max_iter=60, checkpoint_dir=f"{d}/pr"
        )
        ck = CheckpointManager(spark, f"{d}/pr")
        series = [r["metric_value"] for r in ck.metrics().collect()]
        assert series == pr.deltas
        for it in (0, len(pr.deltas) - 1):
            st = ck.restore(it)
            assert st.agg(
                F.max(F.abs(F.col("rank") - F.col("_prev")))
            ).collect()[0][0] == pr.deltas[it]

        cc = connected_components(edges_small, checkpoint_dir=f"{d}/cc")
        lp = label_propagation(
            edges_small, n_iter=4, checkpoint_dir=f"{d}/lpa"
        )
        for sub, res, col in (
            ("cc", cc.iterations, "component"),
            ("lpa", lp.iterations, "label"),
        ):
            ck = CheckpointManager(spark, f"{d}/{sub}")
            m = ck.metrics().collect()
            assert [r["iteration"] for r in m] == list(range(res))
            for r in m:
                st = ck.restore(r["iteration"])
                n_changed = st.filter(F.col(col) != F.col("_old")).count()
                assert r["metric_value"] == float(n_changed)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_deleted_commit_replays_superstep(edges_small):
    full = pagerank(edges_small, tol=1e-8, max_iter=60)
    want = {r["conv_id"]: r["rank"] for r in full.ranks.collect()}
    d = tempfile.mkdtemp(prefix="replay_ckpt_")
    try:
        pagerank(edges_small, tol=1e-8, max_iter=4, checkpoint_dir=d)
        ck = CheckpointManager(edges_small.sparkSession, d)
        assert ck.last_committed() == 3
        # state iter=3 landed but its commit is lost: resume must redo 3
        os.remove(os.path.join(d, "_lineage", "commit-00003.json"))
        assert ck.last_committed() == 2
        res = pagerank(edges_small, tol=1e-8, max_iter=60, checkpoint_dir=d)
        assert res.converged and res.iterations == full.iterations
        # superstep 3 ran again (float sums may differ in the last bits
        # between runs)
        assert res.deltas == pytest.approx(full.deltas[3:], rel=1e-9)
        got = {r["conv_id"]: r["rank"] for r in res.ranks.collect()}
        assert max(abs(got[v] - want[v]) for v in want) < 1e-9
        iters = [r["iteration"] for r in ck.metrics().collect()]
        assert iters == list(range(full.iterations))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_hidden_inprogress_commit_is_ignored(edges_small):
    d = tempfile.mkdtemp(prefix="hidden_ckpt_")
    try:
        pagerank(edges_small, tol=1e-8, max_iter=3, checkpoint_dir=d)
        lin = os.path.join(d, "_lineage")
        with open(os.path.join(lin, "commit-00002.json")) as f:
            body = f.read().replace('"iteration": 2', '"iteration": 3')
        # a crash mid-commit leaves the hidden file behind
        hidden = os.path.join(lin, ".commit-00003.json.inprogress")
        with open(hidden, "w") as f:
            f.write(body)
        ck = CheckpointManager(edges_small.sparkSession, d)
        assert ck.last_committed() == 2
        assert ck.lineage().filter("iteration = 3").count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_fresh_run_needs_no_spark_job(spark):
    d = tempfile.mkdtemp(prefix="fresh_ckpt_")
    sc = spark.sparkContext
    try:
        sc.setJobGroup("ckpt_fresh", "last_committed on a fresh dir")
        assert CheckpointManager(spark, f"{d}/run").last_committed() is None
        assert sc.statusTracker().getJobIdsForGroup("ckpt_fresh") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        shutil.rmtree(d, ignore_errors=True)


def test_old_parquet_lineage_raises(spark):
    d = tempfile.mkdtemp(prefix="oldfmt_ckpt_")
    try:
        spark.createDataFrame(
            [(0, "committed", 0, 5, "n_changed", 1.0, 0.1)], LINEAGE_SCHEMA
        ).write.parquet(f"{d}/_lineage")
        with pytest.raises(ValueError, match="not a lineage commit"):
            CheckpointManager(spark, d).last_committed()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_corrupt_commit_raises(spark):
    d = tempfile.mkdtemp(prefix="corrupt_ckpt_")
    try:
        os.makedirs(f"{d}/_lineage")
        with open(f"{d}/_lineage/commit-00000.json", "w") as f:
            f.write("PAR1\x00\x15 not a json row\n")
        with pytest.raises(Exception, match="(?i)malformed"):
            CheckpointManager(spark, d).last_committed()
        # parseable but not a lineage row: no iteration to resume from
        with open(f"{d}/_lineage/commit-00000.json", "w") as f:
            f.write('{"other": 1}\n')
        with pytest.raises(ValueError, match="without an iteration"):
            CheckpointManager(spark, d).last_committed()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_durable_superstep_adds_at_most_two_jobs(edges_small):
    """Durability costs the state write, not a second pass: per superstep
    a durable PageRank runs at most 2 more Spark jobs than a
    non-durable one."""
    sc = edges_small.sparkSession.sparkContext
    steps = 4
    d = tempfile.mkdtemp(prefix="jobs_ckpt_")
    jobs = {}
    try:
        pagerank(edges_small, tol=1e-12, max_iter=1)  # warm caches/code
        for group, ckdir in (("ckpt_nd", None), ("ckpt_d", d)):
            sc.setJobGroup(group, group)
            res = pagerank(
                edges_small, tol=1e-12, max_iter=steps, checkpoint_dir=ckdir
            )
            assert res.iterations == steps
            jobs[group] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        shutil.rmtree(d, ignore_errors=True)
    assert jobs["ckpt_d"] - jobs["ckpt_nd"] <= 2 * steps, jobs


def test_katz_and_influence_commit_every_round(edges_small):
    spark = edges_small.sparkSession
    d = tempfile.mkdtemp(prefix="katz_ckpt_")
    try:
        want = sorted(katz_centrality(edges_small, rounds=3).collect())
        got = sorted(
            katz_centrality(edges_small, rounds=3, checkpoint_dir=f"{d}/k")
            .collect()
        )
        assert got == want
        m = CheckpointManager(spark, f"{d}/k").metrics().collect()
        assert [r["iteration"] for r in m] == [0, 1, 2, 3]
        assert {r["metric_name"] for r in m} == {"max_walks"}
        # resume: a longer horizon continues from the committed rounds
        resumed = sorted(
            katz_centrality(edges_small, rounds=4, checkpoint_dir=f"{d}/k")
            .collect()
        )
        plain = katz_centrality(edges_small, rounds=4).collect()
        assert resumed == sorted(plain)

        args = dict(n_sims=2, p_permille=400, n_seeds=2, hops=3)
        want = sorted(ic_influence_spread(edges_small, **args).collect())
        got = sorted(
            ic_influence_spread(
                edges_small, checkpoint_dir=f"{d}/ic", **args
            ).collect()
        )
        assert got == want
        m = CheckpointManager(spark, f"{d}/ic").metrics().collect()
        assert [r["iteration"] for r in m] == [0, 1, 2]
        assert all(r["metric_value"] == r["n_rows"] for r in m)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_lineage_reads_the_listed_commits(edges_small):
    """lineage() reads the commit files the driver listed — not a glob,
    which Spark would probe as a path — and never the hidden in-progress
    file a crash mid-commit leaves behind."""
    d = tempfile.mkdtemp(prefix="files_ckpt_")
    try:
        pagerank(edges_small, tol=1e-8, max_iter=3, checkpoint_dir=d)
        lin = os.path.join(d, "_lineage")
        hidden = ".commit-00003.json.inprogress"
        shutil.copy(
            os.path.join(lin, "commit-00002.json"), os.path.join(lin, hidden)
        )
        ck = CheckpointManager(edges_small.sparkSession, d)
        names = ck._commits()
        assert sorted(names) == [f"commit-0000{i}.json" for i in range(3)]
        files = ck.lineage().inputFiles()
        assert sorted(os.path.basename(f) for f in files) == sorted(names)
        assert not any(f.endswith(hidden) for f in files)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _path_graph(spark, n: int):
    """v00 -> v01 -> ... -> v{n-1}: components need n-1 supersteps."""
    return spark.createDataFrame(
        [(f"v{i:02d}", f"v{i + 1:02d}", 1.0) for i in range(n - 1)],
        "src_conv_id string, dst_conv_id string, weight double",
    )


@pytest.mark.parametrize(
    "loop",
    [
        lambda e, k, d: pagerank(e, tol=-1.0, max_iter=k, checkpoint_dir=d),
        lambda e, k, d: connected_components(e, max_iter=k, checkpoint_dir=d),
        lambda e, k, d: label_propagation(e, n_iter=k, checkpoint_dir=d),
    ],
    ids=["pagerank", "components", "lpa"],
)
def test_superstep_runs_a_fixed_number_of_jobs(spark, loop, request):
    """Each superstep of PageRank, components and LPA runs the same small
    number of Spark jobs: it does not grow with the iteration, and the
    durable write adds none."""
    edges = _path_graph(spark, 12)
    sc = spark.sparkContext
    d = tempfile.mkdtemp(prefix="stepjobs_ckpt_")
    per_step = {}
    try:
        for mode, durable in (("plain", False), ("durable", True)):
            jobs = []
            for k in (1, 2, 3):
                group = f"{request.node.name}_{mode}_{k}"
                sc.setJobGroup(group, group)
                loop(edges, k, f"{d}/{mode}{k}" if durable else None)
                jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            # jobs of supersteps 1 and 2 (superstep 0 also fills the
            # loop-invariant caches)
            per_step[mode] = [b - a for a, b in zip(jobs, jobs[1:])]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        shutil.rmtree(d, ignore_errors=True)
    steps = per_step["plain"]
    assert steps[0] == steps[1], per_step
    assert 1 <= steps[0] <= 4, per_step
    assert per_step["durable"] == steps, per_step


def test_lpa_resume(edges_small):
    full = label_propagation(edges_small, n_iter=5)
    want = {r["conv_id"]: r["label"] for r in full.labels.collect()}
    d = tempfile.mkdtemp(prefix="lpa_ckpt_")
    try:
        # simulate a crash: only 2 supersteps commit
        part = label_propagation(edges_small, n_iter=2, checkpoint_dir=d)
        assert part.iterations == 2
        ck = CheckpointManager(edges_small.sparkSession, d)
        assert ck.last_committed() == 1
        res = label_propagation(edges_small, n_iter=5, checkpoint_dir=d)
        assert res.iterations == full.iterations == 5
        got = {r["conv_id"]: r["label"] for r in res.labels.collect()}
        assert got == want
        iters = [r["iteration"] for r in ck.metrics().collect()]
        assert iters == list(range(5))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_influence_resume(edges_small):
    args = dict(n_sims=2, p_permille=400, n_seeds=2)
    want = sorted(ic_influence_spread(edges_small, hops=4, **args).collect())
    d = tempfile.mkdtemp(prefix="ic_ckpt_")
    try:
        # simulate a crash: only 2 hops commit
        ic_influence_spread(edges_small, hops=2, checkpoint_dir=d, **args)
        ck = CheckpointManager(edges_small.sparkSession, d)
        assert ck.last_committed() == 1
        got = sorted(
            ic_influence_spread(
                edges_small, hops=4, checkpoint_dir=d, **args
            ).collect()
        )
        assert got == want
        assert [r["iteration"] for r in ck.metrics().collect()] == [0, 1, 2, 3]
    finally:
        shutil.rmtree(d, ignore_errors=True)


# An operator takes ``checkpoint_dir`` only if a rerun on the directory
# resumes. Each one's interrupt-and-resume test:
#   pagerank              test_pagerank_resume_equivalence,
#                         test_deleted_commit_replays_superstep
#   connected_components  test_components_resume
#   label_propagation     test_lpa_resume
#   katz_centrality       test_katz_and_influence_commit_every_round
#   ic_influence_spread   test_influence_resume
RESUMABLE = {
    "pagerank",
    "connected_components",
    "label_propagation",
    "katz_centrality",
    "ic_influence_spread",
}


def test_only_resuming_operators_take_checkpoint_dir():
    durable = set()
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if name.startswith("_") or fn.__module__ != mod.__name__:
                continue
            if "checkpoint_dir" in inspect.signature(fn).parameters:
                durable.add(name)
    assert durable == RESUMABLE


def test_cli_checkpoint_dir_only_where_it_resumes():
    for cmd in ("ktruss", "anf", "louvain"):
        argv = [cmd, "--edges", "e", "--out", "o", "--checkpoint-dir", "d"]
        # argparse rejects the flag before any session starts
        with pytest.raises(SystemExit) as exc:
            cli.main(argv)
        assert exc.value.code == 2, cmd


def _seeded_lpa(edges):
    seeds = (
        edges.select(F.col("src_conv_id").alias("conv_id"))
        .distinct()
        .orderBy("conv_id")
        .limit(2)
        .withColumn("label", F.col("conv_id"))
    )
    return seeded_label_propagation(edges, seeds, n_iter=5)


@pytest.mark.parametrize(
    "loop",
    [
        lambda e: pagerank(e, tol=-1.0, max_iter=5),
        lambda e: connected_components(e, max_iter=5),
        lambda e: label_propagation(e, n_iter=5),
        _seeded_lpa,
        lambda e: katz_centrality(e, rounds=4),
        lambda e: ic_influence_spread(e, hops=4),
    ],
    ids=["pagerank", "components", "lpa", "seeded_lpa", "katz", "influence"],
)
def test_failed_superstep_releases_loop_caches(
    spark, transcripts_small, edges_small, monkeypatch, loop
):
    """A superstep that raises leaves no loop-invariant frame cached."""
    real = CheckpointManager.superstep

    def superstep(self, iteration, *args, **kwargs):
        if iteration == 1:
            raise RuntimeError("superstep 1 interrupted")
        return real(self, iteration, *args, **kwargs)

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    try:
        assert cache.isEmpty()
        monkeypatch.setattr(CheckpointManager, "superstep", superstep)
        with pytest.raises(RuntimeError, match="superstep 1 interrupted"):
            loop(edges_small)
        assert cache.isEmpty()
    finally:
        # the session fixtures stay cached for the tests after this one
        transcripts_small.cache()
        edges_small.cache()


def _mixed_graph(spark):
    """A 3-cycle feeding a chain, a triangle and a lone edge, integer
    weights: every loop module runs on it in a few supersteps."""
    rows = [
        ("v0", "v1", 1.0), ("v1", "v2", 2.0), ("v2", "v0", 1.0),
        ("v2", "v3", 1.0), ("v3", "v4", 3.0),
        ("v5", "v6", 1.0), ("v6", "v7", 1.0), ("v7", "v5", 2.0),
        ("v8", "v9", 1.0),
    ]
    return spark.createDataFrame(
        rows, "src_conv_id string, dst_conv_id string, weight double"
    )


def _temporal(edges):
    return temporal_reachability(
        edges.select(
            F.col("src_conv_id").alias("src"),
            F.col("dst_conv_id").alias("dst"),
            F.col("weight").cast("long").alias("et"),
        ),
        "v0",
        strict=False,
    )


@pytest.mark.parametrize(
    "loop",
    [
        lambda e: pagerank(e, tol=-1.0, max_iter=3),
        lambda e: connected_components(e),
        lambda e: label_propagation(e, n_iter=3),
        _seeded_lpa,
        lambda e: katz_centrality(e, rounds=3),
        lambda e: ic_influence_spread(e, hops=2, n_sims=2, n_seeds=1),
        lambda e: hits(e, n_iter=3),
        lambda e: hits(e.limit(0)),
        lambda e: anf(e),
        lambda e: bfs_distances(e, ["v0"]),
        lambda e: landmark_distances(e, n_landmarks=2),
        lambda e: shortest_paths(e, "v0", strict=False),
        _temporal,
        lambda e: maximal_matching(e),
        lambda e: boruvka_forest(e),
        lambda e: maximal_independent_set(e),
        lambda e: greedy_coloring(e),
        lambda e: k_truss(e, k=3),
        lambda e: louvain(e, max_rounds=4, levels=2),
        lambda e: bowtie_census(e),
    ],
    ids=[
        "pagerank", "components", "lpa", "seeded_lpa", "katz", "influence",
        "hits", "hits_empty", "anf", "bfs", "landmarks", "sssp", "temporal",
        "matching", "boruvka", "mis", "greedy_coloring", "ktruss", "louvain",
        "bowtie",
    ],
)
def test_finished_loop_releases_loop_caches(
    spark, transcripts_small, edges_small, loop
):
    """A loop that returns leaves no loop-invariant frame cached either."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    try:
        assert cache.isEmpty()
        loop(_mixed_graph(spark))
        assert cache.isEmpty()
    finally:
        transcripts_small.cache()
        edges_small.cache()


def _values(frame, col):
    return {r["conv_id"]: r[col] for r in frame.collect()}


@pytest.mark.parametrize(
    "run, frame, col",
    [
        (
            lambda e, k, d: pagerank(
                e, tol=-1.0, max_iter=k, checkpoint_dir=d
            ),
            lambda r: r.ranks,
            "rank",
        ),
        (
            lambda e, k, d: connected_components(
                e, max_iter=k, checkpoint_dir=d
            ),
            lambda r: r.components,
            "component",
        ),
        (
            lambda e, k, d: label_propagation(e, n_iter=k, checkpoint_dir=d),
            lambda r: r.labels,
            "label",
        ),
    ],
    ids=["pagerank", "components", "lpa"],
)
def test_rerun_answers_for_its_own_horizon(spark, run, frame, col):
    """A rerun on a directory that already holds 4 committed supersteps
    counts the restored ones, and returns what a fresh run with its own
    horizon returns, also when that horizon is shorter."""
    edges = _path_graph(spark, 12)

    def same(a, b):
        assert set(a) == set(b)
        if col == "rank":
            assert max(abs(a[v] - b[v]) for v in a) < 1e-12
        else:
            assert a == b

    d = tempfile.mkdtemp(prefix="horizon_ckpt_")
    try:
        first = run(edges, 4, d)
        assert first.iterations == 4
        want = _values(frame(first), col)
        again = run(edges, 4, d)
        assert again.iterations == 4
        same(_values(frame(again), col), want)
        shorter = run(edges, 2, d)
        fresh = run(edges, 2, None)
        assert shorter.iterations == fresh.iterations == 2
        same(_values(frame(shorter), col), _values(frame(fresh), col))
    finally:
        shutil.rmtree(d, ignore_errors=True)


# The superstep driver owns cache lifetime, resume and superstep timing:
# a module with a superstep loop caches through ``ckpt.cache``, resumes
# through ``ckpt.resume`` and reads ``ckpt.superstep_secs``; it writes no
# unpersist, restore or clock of its own.
_DRIVER_OWNED = (".unpersist(", ".last_committed(", ".restore(", "time.monotonic")


def test_loop_modules_leave_caches_resume_and_timing_to_the_driver():
    loops = {}
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        src = inspect.getsource(mod)
        if ".superstep(" in src:
            loops[info.name] = src
    assert len(loops) == 16, sorted(loops)
    for name, src in loops.items():
        for owned in _DRIVER_OWNED:
            assert owned not in src, (name, owned)
        for m in re.finditer(r"(\w*)\.cache\(", src):
            assert m.group(1) == "ckpt", (name, m.group(0))
