"""Spans around calls into the engine, and Spark's event log per span.

A span records name, start, end, parent and run id. Entering a span sets
the Spark job group to the span id, so every stage Spark runs inside it
carries that id in the event log; leaving restores the parent's group.
Spans stay in memory until :meth:`Tracer.dump` writes them out.

Wrappers replace module attributes of the engine for the traced pass
only (:func:`instrument`); the untraced pass runs the engine untouched.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass

# layers whose event-log totals are reported, keyed by span-name prefix
EVENT_LAYERS = (
    "edges",
    "stats",
    "pagerank",
    "components",
    "lpa",
    "checkpoint",
    "incremental",
    "refresh",
)
EVENT_METRICS = (
    ("shuffle_write_bytes", "bytes"),
    ("shuffle_read_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("tasks", "count"),
    ("gc_s", "s"),
    ("task_skew", "ratio"),
)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder; disabled tracers make :meth:`span` a no-op."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run = "setup"
        self._stack: list[Span] = []
        # streaming-query run id → span that waited for it
        self.stream_groups: dict[str, str] = {}
        # counters recorded at span boundaries, per run
        self.counts: dict[tuple[str, str], float] = {}

    def count(self, name: str, value: float) -> None:
        key = (self.run, name)
        self.counts[key] = self.counts.get(key, 0) + value

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.id, span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            f"s{len(self.spans)}",
            name,
            parent.id if parent else None,
            self.run,
            time.monotonic(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "stream_groups": self.stream_groups,
                    "counts": [
                        {"run": r, "name": n, "value": v}
                        for (r, n), v in self.counts.items()
                    ],
                },
                f,
            )

    # -- queries over recorded spans ------------------------------------

    def select(self, name: str, run: str | None = None) -> list[Span]:
        return [
            s
            for s in self.spans
            if s.name == name and (run is None or s.run == run)
        ]

    def total(self, name: str, run: str | None = None) -> float:
        return sum(s.dur for s in self.select(name, run))

    def self_time(self, span: Span) -> float:
        """Duration minus the union of the intervals its children cover."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == span.id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def descendants(self, roots: set[str]) -> set[str]:
        out = set(roots)
        grew = True
        while grew:
            grew = False
            for s in self.spans:
                if s.parent in out and s.id not in out:
                    out.add(s.id)
                    grew = True
        return out


# -- wrappers ---------------------------------------------------------------


class _TracedQuery:
    """StreamingQuery proxy: times ``awaitTermination`` as the catch-up
    span and maps the query's own job group (its run id) to that span."""

    def __init__(self, tracer: Tracer, query):
        self._t = tracer
        self._q = query

    def awaitTermination(self, *a, **kw):
        with self._t.span("incremental.catchup") as s:
            out = self._q.awaitTermination(*a, **kw)
        self._t.stream_groups[str(self._q.runId)] = s.id
        self._t.count(
            "incremental.input_rows",
            sum(p.numInputRows for p in self._q.recentProgress),
        )
        return out

    def __getattr__(self, item):
        return getattr(self._q, item)


def _wrap(tracer: Tracer, name: str, fn, post=None):
    @functools.wraps(fn)
    def inner(*a, **kw):
        with tracer.span(name):
            out = fn(*a, **kw)
        return post(out) if post else out

    return inner


def _pagerank_counts(tracer: Tracer):
    def post(res):
        tracer.count("pagerank.loop_s", sum(res.superstep_secs))
        tracer.count("pagerank.supersteps", res.iterations)
        return res

    return post


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Patch the engine's public entry points with span wrappers; undo on
    exit. Names are patched where callers look them up: the module that
    defines them and each module that imports them by name."""
    from unarxive_spark.operators import components as comp_mod
    from unarxive_spark.operators import edges as edges_mod
    from unarxive_spark.operators import lpa as lpa_mod
    from unarxive_spark.operators import pagerank as pr_mod
    from unarxive_spark.sources import checkpoint as ck_mod
    from unarxive_spark.streaming import incremental as inc_mod
    from unarxive_spark.streaming import refresh as ref_mod

    patches = [
        (edges_mod, "build_edges", "edges.build_edges", None),
        (edges_mod, "mine_refs", "refs.mine_refs", None),
        (pr_mod, "pagerank", "pagerank", _pagerank_counts(tracer)),
        (ref_mod, "pagerank", "pagerank", _pagerank_counts(tracer)),
        (comp_mod, "connected_components", "components", None),
        (lpa_mod, "label_propagation", "lpa", None),
        (ck_mod.CheckpointManager, "write_state", "checkpoint.write_state", None),
        (ck_mod.CheckpointManager, "log_lineage", "checkpoint.log_lineage", None),
        (ck_mod.CheckpointManager, "restore", "checkpoint.restore", None),
        (
            inc_mod,
            "start_incremental_edge_mining",
            "incremental.start",
            lambda q: _TracedQuery(tracer, q),
        ),
        (
            ref_mod,
            "start_incremental_edge_mining",
            "incremental.start",
            lambda q: _TracedQuery(tracer, q),
        ),
        (inc_mod, "compact_edges", "incremental.compact_edges", None),
        (ref_mod, "compact_edges", "incremental.compact_edges", None),
        (ref_mod, "_last_snapshot", "refresh.last_snapshot", None),
        (ref_mod, "pagerank_refresh", "refresh", None),
    ]
    saved = []
    for owner, attr, span_name, post in patches:
        fn = owner.__dict__[attr]
        saved.append((owner, attr, fn))
        setattr(owner, attr, _wrap(tracer, span_name, fn, post))
    try:
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


# -- Spark event log ---------------------------------------------------------


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Stage id → {group, task_ms, shuffle read/write, spill, gc, output}
    from the one application log in ``log_dir``."""
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(
            sid,
            {
                "group": None,
                "task_ms": [],
                "shuffle_read": 0,
                "shuffle_write": 0,
                "spill": 0,
                "gc_ms": 0,
                "output": 0,
            },
        )

    apps = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {apps}")
    with open(os.path.join(log_dir, apps[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                stage(sid)["group"] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                st = stage(ev["Stage ID"])
                st["task_ms"].append(m.get("Executor Run Time", 0))
                rd = m.get("Shuffle Read Metrics", {})
                st["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                st["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["output"] += m.get("Output Metrics", {}).get(
                    "Bytes Written", 0
                )
    return stages


def layer_event_metrics(
    tracer: Tracer, stages: dict[int, dict], run: str
) -> dict[str, float]:
    """``<layer>.<metric>`` over the stages run inside the layer's spans of
    ``run`` and their child spans (a layer's figures include the work its
    callees did for it, so ``pagerank`` covers its checkpoint writes)."""
    out: dict[str, float] = {}
    for layer in EVENT_LAYERS:
        roots = {
            s.id
            for s in tracer.spans
            if s.run == run and s.name.split(".")[0] == layer
        }
        ids = tracer.descendants(roots)
        groups = set(ids) | {
            rid for rid, sid in tracer.stream_groups.items() if sid in ids
        }
        mine = [st for st in stages.values() if st["group"] in groups]
        biggest = max(mine, key=lambda st: st["shuffle_read"], default=None)
        skew = 0.0
        if biggest is not None and biggest["shuffle_read"] > 0:
            med = statistics.median(biggest["task_ms"])
            skew = max(biggest["task_ms"]) / med if med > 0 else 1.0
        out[f"{layer}.shuffle_write_bytes"] = sum(
            st["shuffle_write"] for st in mine
        )
        out[f"{layer}.shuffle_read_bytes"] = sum(
            st["shuffle_read"] for st in mine
        )
        out[f"{layer}.spill_bytes"] = sum(st["spill"] for st in mine)
        out[f"{layer}.tasks"] = sum(len(st["task_ms"]) for st in mine)
        out[f"{layer}.gc_s"] = sum(st["gc_ms"] for st in mine) / 1000.0
        out[f"{layer}.task_skew"] = skew
        out[f"{layer}.output_bytes"] = sum(st["output"] for st in mine)
    return out
