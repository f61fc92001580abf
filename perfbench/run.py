"""Benchmark of the link-graph engine: three workloads, checked outputs.

    python3 perfbench/run.py --workload {mine,rank,refresh} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. One process drives one Spark session on
``local[<usable cores>]``. Inputs come from ``--seed``; every timed job's
outputs are compared with answers computed without the engine
(``oracles.py``). ``--seconds`` and each workload's nominal job time
fix how many timed jobs a run makes.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on
Spark's event log, alternates untraced and traced jobs (span wrappers)
and prints the per-layer metrics, including the tracing overhead.
The last stdout line is one JSON object: correct, attempted, failed,
metrics. See README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# a fixed heap (-Xms = -Xmx) keeps GC and resident memory from drifting
# with the heap's growth steps between runs; touching it all at start
# keeps resident memory from varying with how much of it a run reached
# (mine: 1.86-2.38 GB over five seeds without it)
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "turns_per_s": "turns/s",
    "edges_per_s": "edges/s",
    "jvm_peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.prepare_s": "s",
    "session.warmup_s": "s",
    "refs.mine_s": "s",
    "refs.markers": "count",
    "edges.build_s": "s",
    "edges.n_edges": "count",
    "edges.link_rate": "ratio",
    "edges.resolution_s": "s",
    "stats.vertices_cube_s": "s",
    "pagerank.s": "s",
    "pagerank.prep_s": "s",
    "pagerank.supersteps": "count",
    "pagerank.supersteps_per_s": "1/s",
    "pagerank.superstep_s.p50": "s",
    "pagerank.superstep_s.tail": "s",
    "pagerank.superstep_s.tail_pct": "pct",
    "pagerank.superstep_samples": "count",
    "components.s": "s",
    "components.supersteps": "count",
    "lpa.s": "s",
    "checkpoint.write_state_s": "s",
    "checkpoint.write_state_calls": "count",
    "checkpoint.log_lineage_s": "s",
    "checkpoint.restore_s": "s",
    "checkpoint.bytes_written": "bytes",
    "incremental.catchup_s": "s",
    "incremental.input_rows": "count",
    "incremental.compact_s": "s",
    "refresh.publish_s": "s",
    "refresh.warm_supersteps": "count",
    "storage.cached_rdds_after": "count",
    "trace.job_s_untraced": "s",
    "trace.job_s_traced": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}


def _layer_metric_names() -> dict[str, str]:
    from tracing import EVENT_LAYERS, EVENT_METRICS

    out = dict(PER_LAYER)
    for layer in EVENT_LAYERS:
        for metric, unit in EVENT_METRICS:
            out[f"{layer}.{metric}"] = unit
    return out


@dataclass
class _Pass:
    """Timed jobs of one kind (untraced or traced) in a run."""

    times: list[float] = field(default_factory=list)
    outs: list = field(default_factory=list)
    cached: int = 0  # persistent RDDs after the last job


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the median when the sample is too small."""
    ordered = sorted(samples)
    for pct in (99, 95, 90, 75):
        if len(ordered) * (100 - pct) / 100 >= 10:
            return statistics.quantiles(ordered, n=100)[pct - 1], float(pct)
    return statistics.median(ordered), 50.0


class Bench:
    def __init__(self, args):
        self.args = args
        self.threads = len(os.sched_getaffinity(0))
        tag = f"{args.workload}-s{args.seed}-p{os.getpid()}"
        self.work = ROOT / ".perfbench_work" / tag
        self.trace_dir = ROOT / ".perfbench_work" / "trace" / tag
        self.spark = None
        self.attempted = 0
        self.failed = 0

    # -- session --------------------------------------------------------

    def start_session(self) -> float:
        from unarxive_spark import get_spark

        tmp, local, events = (
            self.work / "tmp",
            self.work / "spark-local",
            self.work / "eventlog",
        )
        for d in (tmp, local, events):
            d.mkdir(parents=True)
        # keep the JVM's and Python's scratch files inside the checkout
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        os.environ["TMPDIR"] = str(tmp)
        tempfile.tempdir = str(tmp)
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(local),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
        }
        if self.args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": events.as_uri(),
                    "spark.eventLog.compress": "false",
                    # one plain file (Spark 4 rolls the log by default)
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.monotonic()
        self.spark = get_spark(
            master=f"local[{self.threads}]",
            app_name="perfbench",
            extra_conf=conf,
        )
        self.spark.range(1).count()
        return time.monotonic() - t0

    def stop_session(self) -> None:
        """Stop Spark, then the gateway JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def persistent_rdds(self):
        return self.spark.sparkContext._jsc.getPersistentRDDs()

    def drop_cache(self) -> None:
        """Unpersist every cached block and collect the heap, so each job
        starts from the same cache and heap state."""
        self.spark.catalog.clearCache()
        for rdd in list(self.persistent_rdds().values()):
            rdd.unpersist(True)
        self.spark._jvm.java.lang.System.gc()

    # -- runs -----------------------------------------------------------

    def record(self, what: str, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            for e in errs:
                print(f"perfbench: {what}: {e}", file=sys.stderr)

    def timed_jobs(self, wl, tracer) -> dict[bool, _Pass]:
        """``wl.jobs`` timed jobs.

        A traced run alternates untraced and traced jobs in whole rounds
        U T T U, so both halves see the same warm-up state; returns the
        results keyed by traced. Where every job starts from the same
        state (not ``refresh``), a traced run first runs one more untimed
        job: the first job after the warm-up runs slower than later ones
        (15-25 % on ``rank``) and would count against the untraced half.
        """
        import tracing as tr

        trace = bool(self.args.trace)
        passes = {False: _Pass(), True: _Pass()}
        self.drop_cache()
        if trace and wl.reset_cache:
            self.record("settling job", wl.check(-1, wl.job(-1)))
            self.drop_cache()
        for i in range(wl.jobs):
            traced = trace and i % 4 in (1, 2)
            tracer.run = "traced" if traced else "untraced"
            tracer.enabled = traced
            wl.before_job(i)
            try:
                with tr.instrument(tracer) if traced else nullcontext():
                    t0 = time.monotonic()
                    with tracer.span("job"):
                        out = wl.job(i)
                    dt = time.monotonic() - t0
                errs = wl.check(i, out)
            except Exception:  # one failed job must not end the run
                traceback.print_exc()
                self.record(f"job {i}", ["raised"])
                continue
            finally:
                tracer.enabled = False
            self.record(f"job {i}", errs)
            steps = [r.iterations for r in out.pagerank]
            print(
                f"perfbench: job {i} traced={int(traced)} {dt:.3f} s "
                f"supersteps {steps}",
                file=sys.stderr,
            )
            p = passes[traced]
            p.times.append(dt)
            p.outs.append(out)
            p.cached = self.persistent_rdds().size()
            if wl.reset_cache:
                self.drop_cache()
        if not all(passes[t].times for t in {False, trace}):
            raise RuntimeError("every timed job of a pass failed")
        return passes

    def run(self) -> dict:
        import tracing as tr
        from workloads import WORKLOADS

        start_s = self.start_session()
        tracer = tr.Tracer(self.spark)
        cls = WORKLOADS[self.args.workload]
        wl = cls(
            self.spark,
            tracer,
            str(self.work / "data"),
            self.args.seed,
            self.threads,
            cls.job_count(self.args.seconds, bool(self.args.trace)),
        )
        t0 = time.monotonic()
        wl.prepare()
        prep_s = time.monotonic() - t0
        t0 = time.monotonic()
        tracer.run = "warmup"
        if self.args.trace:
            tracer.enabled = True
            with tr.instrument(tracer):
                errs = wl.warm_up()
            tracer.enabled = False
        else:
            errs = wl.warm_up()
        warm_s = time.monotonic() - t0
        self.record("warm-up", errs)
        setup = {"start": start_s, "prepare": prep_s, "warm": warm_s}
        print(
            f"perfbench: session start {start_s:.2f} s, prepare {prep_s:.2f} s, "
            f"warm-up {warm_s:.2f} s",
            file=sys.stderr,
        )

        passes = self.timed_jobs(wl, tracer)
        if not self.args.trace:
            return self.end_to_end(setup, passes[False], self.jvm_peak_rss_mb())
        probes = wl.probes()
        self.stop_session()  # flushes the event log
        stages = tr.read_event_log(str(self.work / "eventlog"))
        self.trace_dir.mkdir(parents=True, exist_ok=True)
        tracer.dump(str(self.trace_dir / "spans.json"))
        metrics = self.per_layer(
            tracer, stages, setup, passes[False], passes[True], probes
        )
        with open(self.trace_dir / "layers.json", "w") as f:
            json.dump(metrics, f, indent=1)
        return metrics

    # -- metrics --------------------------------------------------------

    def end_to_end(self, setup: dict, p: _Pass, rss: float) -> dict:
        job_s = statistics.median(p.times)
        turns = statistics.median(o.turns for o in p.outs)
        edges = statistics.median(o.edges for o in p.outs)
        values = {
            "setup_s": setup["start"] + setup["prepare"] + setup["warm"],
            "job_s": job_s,
            "turns_per_s": turns / job_s,
            "edges_per_s": edges / job_s,
            "jvm_peak_rss_mb": rss,
        }
        # the headline rate of the paper, where PageRank runs
        steps = [r.iterations for o in p.outs for r in o.pagerank]
        walls = [w for o in p.outs for w in o.pagerank_wall]
        extra = {
            "failed_frac": (self.failed / self.attempted, "ratio"),
            "jobs_timed": (len(p.times), "count"),
        }
        if steps:
            extra["pagerank_supersteps_per_s"] = (
                statistics.median(s / w for s, w in zip(steps, walls)),
                "1/s",
            )
        for name, unit in END_TO_END.items():
            print(f"{self.args.workload} {name} {values[name]:.6g} {unit}")
        for name, (value, unit) in extra.items():
            print(f"{self.args.workload} {name} {value:.6g} {unit}")
        tail, pct = tail_percentile(p.times)
        if pct > 50:
            print(f"{self.args.workload} job_s.p{pct:g} {tail:.6g} s")
        else:
            print(
                f"{self.args.workload} job_s is the median of {len(p.times)} "
                "jobs; no higher percentile has ten jobs beyond it"
            )
        return {
            name: {"value": values[name], "unit": unit}
            for name, unit in END_TO_END.items()
        }

    def per_layer(self, tracer, stages, setup, plain, traced, probes) -> dict:
        import tracing as tr

        n = len(traced.times)
        run = "traced"

        def per_job(name: str) -> float:
            return tracer.total(name, run) / n

        def counted(name: str) -> float:
            return tracer.counts.get((run, name), 0.0)

        outs = traced.outs
        pr_spans = tracer.select("pagerank", run)
        pr_steps = counted("pagerank.supersteps")
        samples = [
            s
            for o in plain.outs + outs
            for r in o.pagerank
            for s in r.superstep_secs
        ]
        tail, tail_pct = tail_percentile(samples) if samples else (0.0, 0.0)
        job_plain = statistics.median(plain.times)
        job_traced = statistics.median(traced.times)
        m = {
            "session.start_s": setup["start"],
            "session.prepare_s": setup["prepare"],
            "session.warmup_s": setup["warm"],
            "refs.mine_s": probes.get("refs.mine_s", 0.0),
            "refs.markers": probes.get("refs.markers", 0),
            "edges.build_s": per_job("edges.build"),
            "edges.resolution_s": per_job("edges.resolution"),
            "stats.vertices_cube_s": per_job("stats.vertices_cube"),
            "pagerank.s": per_job("pagerank"),
            "pagerank.prep_s": (
                tracer.total("pagerank", run) - counted("pagerank.loop_s")
            )
            / n,
            "pagerank.supersteps": pr_steps / n,
            "pagerank.supersteps_per_s": (
                pr_steps / tracer.total("pagerank", run) if pr_spans else 0.0
            ),
            "pagerank.superstep_s.p50": (
                statistics.median(samples) if samples else 0.0
            ),
            "pagerank.superstep_s.tail": tail,
            "pagerank.superstep_s.tail_pct": tail_pct,
            "pagerank.superstep_samples": len(samples),
            "components.s": per_job("components"),
            "lpa.s": per_job("lpa"),
            "checkpoint.write_state_s": per_job("checkpoint.write_state"),
            "checkpoint.write_state_calls": len(
                tracer.select("checkpoint.write_state", run)
            )
            / n,
            "checkpoint.log_lineage_s": per_job("checkpoint.log_lineage"),
            # restore only runs in the resume check of the warm-up
            "checkpoint.restore_s": tracer.total("checkpoint.restore", "warmup"),
            "incremental.catchup_s": per_job("incremental.catchup"),
            "incremental.input_rows": counted("incremental.input_rows") / n,
            "incremental.compact_s": probes.get("incremental.compact_s", 0.0),
            "refresh.publish_s": sum(
                tracer.self_time(s) for s in tracer.select("refresh", run)
            )
            / n,
            "storage.cached_rdds_after": traced.cached,
            "trace.job_s_untraced": job_plain,
            "trace.job_s_traced": job_traced,
            "trace.overhead_s": job_traced - job_plain,
            "trace.overhead_frac": (job_traced - job_plain) / job_plain,
        }
        # per-job facts the workload reports, averaged; 0 where absent
        for name in ("edges.n_edges", "edges.link_rate",
                     "components.supersteps", "refresh.warm_supersteps"):
            m[name] = sum(o.layer.get(name, 0) for o in outs) / n
        events = tr.layer_event_metrics(tracer, stages, run)
        for key, value in events.items():
            if key.endswith(".task_skew"):
                m[key] = value
            elif key == "checkpoint.output_bytes":
                m["checkpoint.bytes_written"] = value / n
            elif not key.endswith(".output_bytes"):
                m[key] = value / n
        units = _layer_metric_names()
        for name, unit in units.items():
            print(f"{self.args.workload} {name} {m[name]:.6g} {unit}")
        return {name: {"value": m[name], "unit": units[name]} for name in units}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["mine", "rank", "refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "unarxive_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]

    bench = Bench(args)
    try:
        metrics = bench.run()
    finally:
        bench.stop_session()
        shutil.rmtree(bench.work, ignore_errors=True)
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
