"""The three workloads: inputs from a seed, the timed job, the check.

Every engine entry point is looked up on its module at call time, so
the span wrappers of a traced pass (``tracing.instrument``) see the calls.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from unarxive_spark.datagen import synth_transcripts
from unarxive_spark.operators import components as comp_mod
from unarxive_spark.operators import edges as edges_mod
from unarxive_spark.operators import lpa as lpa_mod
from unarxive_spark.operators import pagerank as pr_mod
from unarxive_spark.operators import stats as stats_mod
from unarxive_spark.streaming import incremental as inc_mod
from unarxive_spark.streaming import refresh as ref_mod

import oracles

RANK_TOL = 1e-6  # absolute tolerance of every rank comparison


@dataclass
class Outcome:
    """What one timed job did: the work it covered and its raw results."""

    turns: int
    edges: int
    pagerank: list = field(default_factory=list)  # PageRankResult
    pagerank_wall: list[float] = field(default_factory=list)
    results: dict = field(default_factory=dict)  # what the check reads
    layer: dict[str, float] = field(default_factory=dict)  # per-layer facts


def _ranks_ok(rows, ids: np.ndarray, want: np.ndarray) -> str | None:
    """None when ``rows`` of (conv_id, rank) match ``want`` over ``ids``."""
    got_ids = np.array([r[0] for r in rows], dtype=str)
    got = np.array([r[1] for r in rows], dtype=np.float64)
    if len(got_ids) != len(ids):
        return f"{len(got_ids)} ranked vertices, expected {len(ids)}"
    pos = np.searchsorted(ids, got_ids)
    if not np.array_equal(ids[np.minimum(pos, len(ids) - 1)], got_ids):
        return "ranked vertex set differs"
    full = np.empty(len(ids))
    full[pos] = got
    err = float(np.abs(full - want).max())
    return None if err <= RANK_TOL else f"max |rank - oracle| = {err:.3g}"


def _labels_ok(rows, g: oracles.Graph, want: np.ndarray, what: str):
    if len(rows) != g.n:
        return f"{what}: {len(rows)} labelled vertices, expected {g.n}"
    got_v = np.searchsorted(g.ids, np.array([r[0] for r in rows], dtype=str))
    got_l = np.searchsorted(g.ids, np.array([r[1] for r in rows], dtype=str))
    full = np.full(g.n, -1)
    full[got_v] = got_l
    bad = int((full != want).sum())
    return f"{what}: {bad} vertices labelled differently" if bad else None


class Workload:
    name = ""
    reset_cache = True  # drop cached blocks between timed jobs
    # a timed job's wall time on a 4-core box; with --seconds it fixes how
    # many jobs a run times (``job_count``), so the count, and with it the
    # mix of early and later jobs, does not depend on the code's speed
    job_s_nominal = 1.0
    min_jobs = 1

    @classmethod
    def job_count(cls, seconds: float, trace: bool) -> int:
        """Timed jobs of a run; a traced run gets twice the time, in whole
        rounds of four (U T T U)."""
        n = math.ceil(seconds * (2 if trace else 1) / cls.job_s_nominal)
        n = max(cls.min_jobs, n)
        return -(-n // 4) * 4 if trace else n

    def __init__(
        self, spark, tracer, work: str, seed: int, threads: int, jobs: int
    ):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.jobs = jobs
        self.con = oracles.connect(threads)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self) -> None:
        """Generate and land the inputs, compute expected answers."""

    def warm_up(self) -> list[str]:
        """Untimed first pass; returns check failures found on the way."""
        return []

    def before_job(self, i: int) -> None:
        pass

    def job(self, i: int) -> Outcome:
        raise NotImplementedError

    def check(self, i: int, out: Outcome) -> list[str]:
        raise NotImplementedError

    def probes(self) -> dict[str, float]:
        """Untimed, traced runs only: figures of lazy layers, each taken
        by forcing one public call's output on its own."""
        return {}


class Mine(Workload):
    """Batch extraction and reporting over a prebuilt transcripts table."""

    name = "mine"
    N_CONVS = 2000
    job_s_nominal = 2.0

    def prepare(self) -> None:
        tdir = self.path("transcripts")
        synth_transcripts(self.spark, n_convs=self.N_CONVS, seed=self.seed).write.mode(
            "overwrite"
        ).parquet(tdir)
        glob = f"{tdir}/*.parquet"
        self.want_src, self.want_dst, self.want_w = oracles.edge_arrays(
            self.con, glob, resolve=True
        )
        self.want_refs = oracles.resolution_counts(self.con, glob)
        self.want_cube = oracles.cube_cells(self.con, glob)
        self.n_turns = self.con.sql(
            f"SELECT count(*) FROM read_parquet('{glob}')"
        ).fetchone()[0]

    def warm_up(self) -> list[str]:
        """Two untimed jobs: the first two run well above steady state, the
        second by 15-30 % with a wider spread than later ones."""
        return self.check(-1, self.job(-1)) + self.check(-1, self.job(-1))

    def job(self, i: int) -> Outcome:
        span = self.tracer.span
        t = self.spark.read.parquet(self.path("transcripts"))
        with span("edges.build"):
            edges_mod.build_edges(t).write.mode("overwrite").parquet(
                self.path("edges")
            )
        with span("edges.resolution"):
            res = edges_mod.edge_resolution_metrics(t).collect()[0]
        with span("stats.vertices_cube"):
            cube = stats_mod.category_month_cube_full(
                stats_mod.build_vertices(t)
            ).collect()
        return Outcome(
            self.n_turns,
            len(self.want_w),
            results={"resolution": res, "cube": cube},
        )

    def check(self, i: int, out: Outcome) -> list[str]:
        errs = []
        got = self.con.sql(
            f"SELECT * FROM read_parquet('{self.path('edges')}/*.parquet') "
            "ORDER BY src_conv_id, dst_conv_id"
        ).fetchnumpy()
        if not (
            len(got["weight"]) == len(self.want_w)
            and np.array_equal(got["src_conv_id"].astype(str), self.want_src)
            and np.array_equal(got["dst_conv_id"].astype(str), self.want_dst)
            and np.array_equal(got["weight"], self.want_w)
        ):
            errs.append(
                f"edge multiset differs ({len(got['weight'])} edges, "
                f"expected {len(self.want_w)})"
            )
        res = out.results["resolution"]
        if (res["n_refs"], res["n_refs_linked"]) != self.want_refs:
            errs.append(
                f"resolution counts {res['n_refs']}/{res['n_refs_linked']}"
                f", expected {self.want_refs[0]}/{self.want_refs[1]}"
            )
        cube = {
            (r["category"], r["month"]): (
                r["n_convs"],
                r["n_turns"],
                r["n_refs"],
                r["n_refs_linked"],
                r["n_tool_turns"],
                r["n_chars"],
            )
            for r in out.results["cube"]
        }
        if cube != self.want_cube:
            errs.append("category x month cube differs")
        out.layer["edges.n_edges"] = len(got["weight"])
        out.layer["edges.link_rate"] = float(res["link_rate"])
        return errs

    def probes(self) -> dict[str, float]:
        t = self.spark.read.parquet(self.path("transcripts"))
        t0 = time.monotonic()
        n = edges_mod.mine_refs(t).count()
        return {"refs.mine_s": time.monotonic() - t0, "refs.markers": n}


class Rank(Workload):
    """Iterative analytics on a prebuilt hub-skewed edge table."""

    name = "rank"
    N_CONVS = 2000
    HUB_SHARE_PCT = 30
    job_s_nominal = 15.0
    RESUME_AFTER = 3  # supersteps before the resume check's interruption

    def prepare(self) -> None:
        tdir = self.path("transcripts")
        synth_transcripts(
            self.spark,
            n_convs=self.N_CONVS,
            seed=self.seed,
            hub_share_pct=self.HUB_SHARE_PCT,
        ).write.mode("overwrite").parquet(tdir)
        self.edges_file = self.path("edges.parquet")
        oracles.write_edges(
            self.con, f"{tdir}/*.parquet", self.edges_file, resolve=True
        )
        self.g = oracles.graph(
            self.con, f"SELECT * FROM read_parquet('{self.edges_file}')"
        )
        self.want_ranks, self.want_steps = oracles.pagerank(self.g, tol=1e-6)
        self.want_cc = oracles.components(self.g)
        self.want_lpa = oracles.label_propagation(self.g, n_iter=5)
        self.n_turns = self.con.sql(
            f"SELECT count(*) FROM read_parquet('{tdir}/*.parquet')"
        ).fetchone()[0]
        self.resumed_rows = None

    def _fresh_dir(self, name: str) -> str:
        d = self.path("checkpoints", name)
        if os.path.exists(d):
            raise RuntimeError(f"checkpoint dir {d} is not fresh")
        return d

    def warm_up(self) -> list[str]:
        """Resume check: interrupt PageRank after a few durable supersteps,
        rerun on the same directory, expect the uninterrupted answer. It
        also warms PageRank; components and LPA get one superstep each."""
        edges = self.spark.read.parquet(self.edges_file)
        d = self._fresh_dir("resume")
        first = pr_mod.pagerank(
            edges, tol=1e-6, checkpoint_dir=d, max_iter=self.RESUME_AFTER
        )
        resumed = pr_mod.pagerank(edges, tol=1e-6, checkpoint_dir=d)
        errs = []
        if first.iterations != self.RESUME_AFTER or first.converged:
            errs.append("resume check: interrupted run did not stop early")
        if resumed.iterations != self.want_steps:
            errs.append(
                f"resume check: resumed run ended at superstep "
                f"{resumed.iterations}, expected {self.want_steps}"
            )
        self.resumed_rows = resumed.ranks.collect()
        bad = _ranks_ok(self.resumed_rows, self.g.ids, self.want_ranks)
        if bad:
            errs.append(f"resume check: {bad}")
        comp_mod.connected_components(edges, max_iter=1)
        lpa_mod.label_propagation(edges, n_iter=1).labels.count()
        return errs

    def job(self, i: int) -> Outcome:
        edges = self.spark.read.parquet(self.edges_file)
        d = self._fresh_dir(f"job{i}")
        t0 = time.monotonic()
        pr = pr_mod.pagerank(edges, tol=1e-6, checkpoint_dir=d)
        wall = time.monotonic() - t0
        cc = comp_mod.connected_components(edges)
        lpa = lpa_mod.label_propagation(edges, n_iter=5)
        return Outcome(
            self.n_turns,
            self.g.n_edges,
            [pr],
            [wall],
            {"cc": cc, "lpa": lpa},
            {"components.supersteps": cc.iterations},
        )

    def check(self, i: int, out: Outcome) -> list[str]:
        pr = out.pagerank[0]
        errs = []
        if pr.iterations != self.want_steps or not pr.converged:
            errs.append(
                f"pagerank ran {pr.iterations} supersteps "
                f"(converged={pr.converged}), expected {self.want_steps}"
            )
        rows = pr.ranks.collect()
        for bad in (
            _ranks_ok(rows, self.g.ids, self.want_ranks),
            _labels_ok(
                out.results["cc"].components.collect(),
                self.g,
                self.want_cc,
                "components",
            ),
            _labels_ok(
                out.results["lpa"].labels.collect(),
                self.g,
                self.want_lpa,
                "lpa",
            ),
        ):
            if bad:
                errs.append(bad)
        if self.resumed_rows is not None:
            got = {r[0]: r[1] for r in rows}
            err = max(abs(got.get(v, 1.0) - r) for v, r in self.resumed_rows)
            if err > RANK_TOL:
                errs.append(f"resumed ranks differ from uninterrupted: {err}")
            self.resumed_rows = None
        return errs


class Refresh(Workload):
    """Write-beside-read: land a small transcript file, refresh the ranks."""

    name = "refresh"
    reset_cache = False  # one long-lived session across cycles
    N_CONVS = 2000
    DELTA_PCT = 1.5  # share of all turns in one landed file
    job_s_nominal = 6.5
    # one timed cycle alone carries all of a slow moment of the box:
    # IQR/median of job_s over ten seeds 0.07 in a calm set, 0.27 in one
    # with the box slowed down
    min_jobs = 2

    def _slice_starts(self, transcripts, conv_n) -> list[int]:
        """First conversation of each delta slice. Slices are cut from the
        end so each holds about DELTA_PCT % of the turns (whole
        conversations), the way a producer rotates files by size."""
        turns = dict(transcripts.groupBy(conv_n).count().collect())
        target = sum(turns.values()) * self.DELTA_PCT / 100
        starts, n, acc = [], self.N_CONVS, 0
        while len(starts) < self.jobs:
            n -= 1
            acc += turns[n]
            if acc >= target:
                starts.append(n)
                acc = 0
        return starts[::-1]

    def prepare(self) -> None:
        conv_n = F.substring("conv_id", 2, 6).cast("int")
        t = synth_transcripts(
            self.spark, n_convs=self.N_CONVS, seed=self.seed, hub_share_pct=0
        )
        starts = self._slice_starts(t, conv_n)
        slice_of = F.lit(len(starts))
        for k in reversed(range(len(starts))):
            slice_of = F.when(conv_n < starts[k], k).otherwise(slice_of)
        stage = self.path("staging")
        t.withColumn("slice", slice_of).write.mode("overwrite").partitionBy(
            "slice"
        ).parquet(stage)
        self.slices = [
            sorted(
                os.path.join(stage, f"slice={k}", f)
                for f in os.listdir(os.path.join(stage, f"slice={k}"))
                if f.endswith(".parquet")
            )
            for k in range(self.jobs + 1)
        ]
        # expected state after cycle k: fixpoint, landing rows, delta turns
        self.want = []
        prev = None
        for k in range(self.jobs + 1):
            files = [f for s in self.slices[: k + 1] for f in s]
            g = oracles.graph(self.con, oracles.edges_sql(files, resolve=False))
            # the fixpoint does not depend on the start; the previous one
            # (new vertices at 1/n) only shortens the iteration
            init = None
            if prev is not None:
                init = np.full(g.n, 1.0 / g.n)
                init[np.searchsorted(g.ids, prev[0])] = prev[1]
            ranks, _ = oracles.pagerank(g, tol=1e-12, max_iter=1000, init=init)
            prev = (g.ids, ranks)
            turns = self.con.sql(
                f"SELECT count(*) FROM {oracles.scan(self.slices[k])}"
            ).fetchone()[0]
            # the landing zone holds one row per mined marker
            self.want.append((g, ranks, int(g.w.sum()), turns))

    def _land(self, k: int) -> None:
        """Copy slice ``k`` into the input dir under a hidden name, then
        rename it into view, so the stream never sees a partial file."""
        for j, src in enumerate(self.slices[k]):
            tmp = self.path("live", "in", f".landing-{k}-{j}.parquet")
            shutil.copyfile(src, tmp)
            os.rename(tmp, self.path("live", "in", f"slice-{k}-{j}.parquet"))

    def _refresh(self):
        walls = []
        inner = ref_mod.pagerank

        def timed(*a, **kw):
            t0 = time.monotonic()
            try:
                return inner(*a, **kw)
            finally:
                walls.append(time.monotonic() - t0)

        ref_mod.pagerank = timed
        try:
            res = ref_mod.pagerank_refresh(
                self.spark,
                self.path("live", "in"),
                self.path("live", "landing"),
                self.path("live", "stream_ckpt"),
                self.path("live", "ranks"),
            )
        finally:
            ref_mod.pagerank = inner
        return res, walls

    def warm_up(self) -> list[str]:
        """Builds the base state every run starts from: slice 0 landed,
        one cold refresh (landing zone, stream checkpoint, snapshot)."""
        os.makedirs(self.path("live", "in"))
        self._land(0)
        res, _ = self._refresh()
        errs = self._check_state(0)
        if not res.converged:
            errs.append("base refresh did not converge")
        return errs

    def before_job(self, i: int) -> None:
        self._land(i + 1)

    def job(self, i: int) -> Outcome:
        res, walls = self._refresh()
        g, _, _, turns = self.want[i + 1]
        return Outcome(
            turns,
            g.n_edges,
            [res],
            walls,
            layer={"refresh.warm_supersteps": res.iterations},
        )

    def _check_state(self, k: int) -> list[str]:
        g, ranks, rows, _ = self.want[k]
        errs = []
        n = self.con.sql(
            "SELECT count(*) FROM read_parquet("
            f"'{self.path('live', 'landing')}/*.parquet')"
        ).fetchone()[0]
        if n != rows:
            errs.append(f"landing zone holds {n} rows, expected {rows}")
        got = self.con.sql(
            f"SELECT conv_id, rank FROM read_parquet('{self.path('live', 'ranks')}/*.parquet')"
        ).fetchall()
        bad = _ranks_ok(got, g.ids, ranks)
        if bad:
            errs.append(f"published snapshot: {bad}")
        return errs

    def check(self, i: int, out: Outcome) -> list[str]:
        errs = self._check_state(i + 1)
        if not out.pagerank[0].converged:
            errs.append("refresh did not converge")
        return errs

    def probes(self) -> dict[str, float]:
        t = self.spark.read.parquet(*self.slices[1])
        t0 = time.monotonic()
        n = edges_mod.mine_refs(t).count()
        mine_s = time.monotonic() - t0
        t0 = time.monotonic()
        inc_mod.compact_edges(self.spark, self.path("live", "landing")).count()
        return {
            "refs.mine_s": mine_s,
            "refs.markers": n,
            "incremental.compact_s": time.monotonic() - t0,
        }


WORKLOADS = {w.name: w for w in (Mine, Rank, Refresh)}
