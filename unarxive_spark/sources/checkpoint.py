"""Per-iteration checkpointing with lineage + convergence metrics.

North-rule requirement: iterative jobs are "checkpointed per-iteration
... with per-partition lineage and convergence metrics so any run resumes
mid-iteration". Reference analog: the batch resume protocol —
``done.log`` append-after-each-unit (/root/reference/src/prepare.py:26-31,
118-119) and per-chunk ``*-matching-log.json`` skip-scan
(/root/reference/src/match_references_openalex.py:672-694), plus per-chunk
runtime/success metrics (:637-661).

A superstep loop runs inside one manager, which owns what every loop
would otherwise write for itself::

    with CheckpointManager(spark, checkpoint_dir) as ckpt:
        adj = ckpt.cache(...)             # released when the block exits
        state = ckpt.resume(max_iter)     # None: fresh or non-durable run
        if state is None:
            state = ...                   # iteration 0's input
        for it in ckpt.steps(max_iter):   # ckpt.iterations .. max_iter-1
            state, metric = ckpt.superstep(it, step(state), "name", metric)
            if metric == 0:
                break
    return Result(state, ckpt.iterations)

- ``cache`` caches a loop-invariant frame and registers it; leaving
  the block unpersists every registered frame, whether the body
  returned or raised (a result lazy over one is materialized inside).
- ``resume(stop)`` restores the last committed iteration, capped at
  ``stop - 1``, so a rerun with a shorter horizon returns what a fresh
  run with that horizon would.
- ``iterations`` counts the supersteps done, restored ones included;
  ``superstep(it, ...)`` sets it to ``it + 1`` and ``steps`` starts
  from it. Loops numbered otherwise (bow-tie, Louvain levels) pass
  their own numbers to ``superstep``.
- ``superstep_secs``: per superstep, the wall time from its ``steps``
  yield (or the previous superstep) to the end of the call.

Each loop keeps its own convergence test and its own exhaustion error.
:meth:`CheckpointManager.superstep` runs one Spark job over the new
state and then, in durable mode, commits it:

1. **Materialize** (:meth:`~CheckpointManager.write_state`) — the state
   is local-checkpointed: its plan runs exactly once and the blocks cut
   the logical plan that otherwise grows O(iterations) (SURVEY.md §4.1).
   The convergence metric, any extra aggregates the loop asks for and
   (durable mode) the per-partition row counts ride in that same job as
   ``DataFrame.observe`` metrics — no second action over the state.
   Non-durable: ``localCheckpoint(eager=True)``, which is the job.
2. **State** (durable mode only) — ``localCheckpoint(eager=False)``, then
   ``{root}/iter=NNNNN`` parquet is written from that frame with the
   observations on the write: the write job computes the state once and
   stores the checkpoint blocks as it goes. The loop keeps the in-memory
   frame, so the next superstep reads those blocks (no recompute, no
   re-read) and keeps the state's hash partitioning (when the plan ran
   without AQE, see ``session.adaptive_off``).
3. **Commit** (durable mode only, :meth:`~CheckpointManager.log_lineage`)
   — one small JSON-lines file per iteration, ``LINEAGE_SCHEMA`` rows (one
   per partition: row count, metric, wall time, ``status='committed'``),
   written from the driver through the Hadoop FileSystem API — no Spark
   job. It is written hidden as ``{root}/_lineage/.commit-NNNNN.json
   .inprogress`` and renamed to ``{root}/_lineage/commit-NNNNN.json``.

Ordering: the state write lands before the commit is renamed into place,
so a crash between the two replays one iteration (idempotent overwrite)
rather than corrupting state, and a crash inside the commit leaves only
the hidden file, which every reader skips. Resume
(:meth:`~CheckpointManager.resume`) starts from the max committed
iteration (:meth:`~CheckpointManager.last_committed`). "Fresh run" is
decided on the driver (no ``_lineage`` directory, or no commit in it
yet); anything in it that is neither hidden nor a readable commit raises.

On a real deployment the parquet directories become Iceberg tables;
the protocol is identical. The engine runs on parquet because no Iceberg
runtime jar is on the classpath. The mapping (see also sources/tables.py):

- transcripts / edges / ranks parquet dirs → Iceberg tables
  (transcripts partitioned by ``days(ts), bucket(64, conv_id)``, edges
  by ``bucket(64, src_conv_id)``)
- ``write.mode("overwrite").parquet(p)`` → ``writeTo(t).createOrReplace()``
- checkpoint ``iter=N`` dirs → per-iteration snapshots (resume = read
  the snapshot of the last committed iteration from the lineage table)
- bucketed parquet (tables.py) → ``bucket(N, src_conv_id)`` partition
  transform
- incremental streaming landing zone → Iceberg append + periodic
  ``rewrite_data_files`` compaction
"""

from __future__ import annotations

import json
import re
import time
from collections.abc import Iterator
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "iteration int, status string, partition_id int, n_rows long, "
    "metric_name string, metric_value double, wall_secs double"
)

_COMMIT = re.compile(r"commit-(\d+)\.json")
_PID = "__ckpt_partition_id"
# histogram_numeric is exact while the distinct values fit its bin
# budget (bins merge only past it): one bin per partition id, and the
# budget is far above any partition count. Bins are allocated per
# distinct value seen, not up front.
_PARTITION_BINS = 1 << 20


class CheckpointManager:
    """Manages ``{root}/iter=N`` state snapshots + ``{root}/_lineage``,
    and drives one superstep loop (module docstring)."""

    def __init__(self, spark: SparkSession, root: str | None):
        self.spark = spark
        self.root = root.rstrip("/") if root else None
        self._t0 = self._t_step = time.monotonic()
        self._fs_handle = None
        self._cached: list[DataFrame] = []
        self.iterations = 0
        self.superstep_secs: list[float] = []

    def __enter__(self) -> CheckpointManager:
        return self

    def __exit__(self, *exc) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def cache(self, df: DataFrame) -> DataFrame:
        """``df.cache()``, unpersisted when the ``with`` block exits."""
        self._cached.append(df.cache())
        return df

    def resume(self, stop: int) -> DataFrame | None:
        """The state of the last committed iteration, capped at ``stop -
        1``, with ``iterations`` set past it; None on a fresh or
        non-durable run."""
        last = self.last_committed() if stop > 0 else None
        if last is None:
            return None
        it = min(last, stop - 1)
        self.iterations = it + 1
        return self.restore(it)

    def steps(self, stop: int) -> Iterator[int]:
        """Iteration numbers ``iterations .. stop - 1``; each yield starts
        that superstep's clock."""
        for it in range(self.iterations, stop):
            self._t_step = time.monotonic()
            yield it

    @property
    def enabled(self) -> bool:
        return self.root is not None

    def _state_path(self, iteration: int) -> str:
        return f"{self.root}/iter={iteration:05d}"

    @property
    def _lineage_path(self) -> str:
        return f"{self.root}/_lineage"

    def _hpath(self, path: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self):
        if self._fs_handle is None:
            conf = self.spark.sparkContext._jsc.hadoopConfiguration()
            self._fs_handle = self._hpath(self.root).getFileSystem(conf)
        return self._fs_handle

    # -- write side ---------------------------------------------------

    def superstep(
        self,
        iteration: int,
        state: DataFrame,
        metric_name: str,
        metric: Column | float,
        observe: dict[str, Column] | None = None,
    ) -> tuple:
        """Materialize, persist and commit one superstep → ``(frame,
        metric value)``.

        ``metric`` is either an aggregate Column over ``state`` (observed
        in the materializing job; its value is returned as Spark gives
        it, e.g. an int for a count) or a number the caller already
        knows. The returned frame is the materialized state: build the
        next superstep from it.

        ``observe`` maps names to more aggregate Columns over ``state``,
        observed in the same job; with it the call returns ``(frame,
        metric value, {name: value})``. Sets ``iterations`` to
        ``iteration + 1`` and appends the superstep's wall time to
        ``superstep_secs``."""
        observed = {f"x_{k}": c for k, c in (observe or {}).items()}
        if isinstance(metric, Column):
            observed["metric"] = metric
        out, got = self.write_state(iteration, state, observed)
        value = got["metric"] if isinstance(metric, Column) else metric
        if self.enabled:
            parts = {int(b["x"]): int(b["y"]) for b in got["parts"] or []}
            self.log_lineage(
                iteration,
                parts,
                metric_name,
                float("nan") if value is None else float(value),
            )
        now = time.monotonic()
        self.superstep_secs.append(now - self._t_step)
        self._t_step = now
        self.iterations = iteration + 1
        if observe is None:
            return out, value
        return out, value, {k: got[f"x_{k}"] for k in observe}

    def write_state(
        self,
        iteration: int,
        state: DataFrame,
        observed: dict[str, Column] | None = None,
    ) -> tuple[DataFrame, dict[str, Any]]:
        """Materialize one superstep's state in one Spark job (truncating
        the plan lineage) and, in durable mode, write ``iter=N`` in that
        same job. ``observed`` (name → aggregate Column) is observed in
        the job; durable mode adds the per-partition row histogram as
        ``parts``. Returns the materialized frame and the observed values.
        """
        observed = dict(observed or {})
        if not self.enabled:
            if not observed:
                return state.localCheckpoint(eager=True), {}
            obs = Observation()
            out = state.observe(
                obs, *(c.alias(k) for k, c in observed.items())
            ).localCheckpoint(eager=True)
            return out, obs.get
        # lazy: the write below is the job that computes the state, and
        # it stores the checkpoint blocks the next superstep reads
        out = state.localCheckpoint(eager=False)
        observed["parts"] = F.histogram_numeric(
            F.col(_PID), F.lit(_PARTITION_BINS)
        )
        obs = Observation()
        (
            out.withColumn(_PID, F.spark_partition_id())
            .observe(obs, *(c.alias(k) for k, c in observed.items()))
            .drop(_PID)
            .write.mode("overwrite")
            .parquet(self._state_path(iteration))
        )
        return out, obs.get

    def log_lineage(
        self,
        iteration: int,
        partition_rows: dict[int, int],
        metric_name: str,
        metric_value: float,
    ) -> None:
        """Commit ``iteration``: write its lineage rows hidden, then
        rename them into ``_lineage/``. Runs on the driver, no Spark job.
        The state write (write_state) lands before this, so a crash
        between the two replays one idempotent iteration."""
        if not self.enabled:
            return
        wall = time.monotonic() - self._t0
        # an empty state still commits its iteration (partition_id NULL)
        parts = sorted(partition_rows.items()) or [(None, 0)]
        rows = (
            {
                "iteration": iteration,
                "status": "committed",
                "partition_id": pid,
                "n_rows": n,
                "metric_name": metric_name,
                "metric_value": metric_value,
                "wall_secs": wall,
            }
            for pid, n in parts
        )
        payload = bytearray(
            "".join(json.dumps(r) + "\n" for r in rows), "utf-8"
        )
        fs = self._fs()
        name = f"commit-{iteration:05d}.json"
        tmp = self._hpath(f"{self._lineage_path}/.{name}.inprogress")
        final = self._hpath(f"{self._lineage_path}/{name}")
        stream = fs.create(tmp, True)
        try:
            stream.write(payload)
        finally:
            stream.close()
        fs.delete(final, False)  # a replayed iteration replaces its commit
        if not fs.rename(tmp, final):
            raise OSError(f"could not commit {final.toString()}")

    # -- read side ----------------------------------------------------

    def _commits(self) -> list[str]:
        """Names of the committed lineage files ([] when ``_lineage`` does
        not exist). Hidden entries (in-progress commits, checksums) are
        skipped; anything else that is not a commit raises — e.g. a
        lineage table in another format."""
        fs, path = self._fs(), self._hpath(self._lineage_path)
        if not fs.exists(path):
            return []
        names = []
        for st in fs.listStatus(path):
            name = st.getPath().getName()
            if name.startswith((".", "_")):
                continue
            if not _COMMIT.fullmatch(name):
                raise ValueError(
                    f"{self._lineage_path} holds {name!r}, which is not a "
                    "lineage commit"
                )
            names.append(name)
        return names

    def lineage(self) -> DataFrame:
        """All committed lineage rows (``LINEAGE_SCHEMA``)."""
        names = self._commits()
        if not names:
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        # the listed files themselves, not a glob: Spark would probe a
        # glob as a path for a metadata directory and log the failure
        return (
            self.spark.read.schema(LINEAGE_SCHEMA)
            .option("mode", "FAILFAST")
            .json([f"{self._lineage_path}/{n}" for n in names])
        )

    def last_committed(self) -> int | None:
        """Max committed iteration, or None if fresh.

        "Fresh" is decided on the driver: no ``_lineage`` directory, or
        one without a commit yet. A lineage directory holding anything
        unreadable must propagate, not silently restart from iteration 0
        and overwrite prior state."""
        if not self.enabled or not self._commits():
            return None
        row = (
            self.lineage()
            .agg(
                F.max(
                    F.when(F.col("status") == "committed", F.col("iteration"))
                ).alias("it"),
                F.count_if(
                    F.col("iteration").isNull() | F.col("status").isNull()
                ).alias("bad"),
            )
            .collect()[0]
        )
        if row["bad"]:
            raise ValueError(
                f"{self._lineage_path} holds {row['bad']} lineage rows "
                "without an iteration or status"
            )
        return row["it"]

    def restore(self, iteration: int) -> DataFrame:
        return self.spark.read.parquet(self._state_path(iteration))

    def metrics(self) -> DataFrame:
        """Convergence-metric time series (one row per iteration)."""
        return (
            self.lineage()
            .filter(F.col("status") == "committed")
            .groupBy("iteration", "metric_name")
            .agg(
                F.first("metric_value").alias("metric_value"),
                F.sum("n_rows").alias("n_rows"),
                F.max("wall_secs").alias("wall_secs"),
            )
            .orderBy("iteration")
        )
