"""SparkSession factory tuned for the link-graph workload.

Defaults target local[N] testing but every knob is chosen for
multi-executor scale (AQE, skew-join handling, Arrow batching):
the same builder config ships to `spark-submit` unchanged.

The driver heap is sized to the box: half of the memory the process can
use (the smaller of physical memory and the cgroup limit, when one is
set), capped at 48g with a 1g floor. The other half is left for the
JVM's off-heap memory, the Python/Arrow workers, DuckDB and the test
runner; a heap larger than the box lets the JVM grow until the kernel
kills it. ``extra_conf["spark.driver.memory"]`` overrides the rule.
Like every driver-memory setting, it only applies when the first
SparkSession of a process launches the JVM.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession

# Scale-oriented defaults. On a real cluster only master/memory change;
# these plan-shaping configs stay.
_BASE_CONF: dict[str, str] = {
    # AQE: runtime re-plan, partition coalescing, skew-join splitting.
    # Hub conversations (power-law in-degree) make the edges⋈ranks join
    # skewed; AQE splits oversized partitions on the sort-merge path.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDFs — the only Python touchpoint in the engine.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Nested-struct column pruning (refs array<struct> columns).
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Iterative loops re-use exchanges; keep shuffle compact.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Deterministic timestamps in tests regardless of host zone.
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # keep metastore/warehouse artifacts out of the repo working dir
    "spark.sql.warehouse.dir": "/tmp/spark-warehouse",
    "spark.driver.extraJavaOptions": (
        "-Djava.io.tmpdir=/tmp -Dderby.system.home=/tmp"
    ),
    # spark.driver.memory is not here: get_spark sizes it to the box (see
    # default_driver_memory). local mode runs executors inside the driver
    # JVM, so that heap is all the engine has.
    "spark.driver.maxResultSize": "4g",
}

_GIB = 1 << 30
# Cap reached on boxes with 96 GiB or more: enough for the bench-scale graphs.
_MAX_DRIVER_GIB = 48
# cgroup v2, then v1: the first file present holds the memory limit.
_CGROUP_LIMIT_FILES = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _physical_memory_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def _cgroup_memory_limit_bytes() -> int | None:
    """The cgroup memory limit in bytes, or None when no limit is set.

    cgroup v2 writes ``max`` for no limit; v1 writes a number near 2^63,
    which the ``min`` in :func:`default_driver_memory` discards.
    """
    for path in _CGROUP_LIMIT_FILES:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        return int(raw) if raw.isdigit() else None
    return None


def default_driver_memory() -> str:
    """Half the memory this process can use, in whole GiB, within [1g, 48g]."""
    usable = _physical_memory_bytes()
    limit = _cgroup_memory_limit_bytes()
    if limit is not None:
        usable = min(usable, limit)
    return f"{min(_MAX_DRIVER_GIB, max(1, usable // 2 // _GIB))}g"


def get_spark(
    master: str | None = None,
    app_name: str = "unarxive-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count so test-scale
    shuffles don't fan out into thousands of empty tasks; on a real
    cluster pass ~2-3x total cores. ``spark.driver.memory`` defaults to
    :func:`default_driver_memory`.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_conf(
    master: str,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The builder config :func:`get_spark` applies, without starting Spark."""
    conf = dict(_BASE_CONF)
    conf["spark.driver.memory"] = default_driver_memory()
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    elif master.startswith("local["):
        n = master[len("local[") : -1]
        if n.isdigit():
            conf["spark.sql.shuffle.partitions"] = n
    if extra_conf:
        conf.update(extra_conf)
    return conf


def stop_spark() -> None:
    """Stop the active session (needed between two-parallelism bench runs)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def adaptive_off(fn):
    """Decorator: run ``fn(df, ...)`` with adaptive query execution off in
    ``df``'s session, restoring the setting on return.

    For superstep loops over co-partitioned state: an adaptive plan
    reports no output partitioning, so a state it materializes would
    lose its hash layout and be re-exchanged every superstep, and each
    shuffle stage would run as a Spark job of its own."""

    @functools.wraps(fn)
    def inner(df, *args, **kwargs):
        conf = df.sparkSession.conf
        key = "spark.sql.adaptive.enabled"
        before = conf.get(key)
        conf.set(key, "false")
        try:
            return fn(df, *args, **kwargs)
        finally:
            conf.set(key, before)

    return inner
