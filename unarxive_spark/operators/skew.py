"""Skew handling for hub vertices (north rule: "explicitly
hash-partitioned, skew-salted").

Hub conversations (the graft analog of a paper with 1,627 ref_entries in
the reference sample) concentrate a large share of edges on a few
``dst_conv_id`` keys. Two mitigations, composable:

1. **AQE skew-join** (session.py turns it on) — splits oversized
   partitions on the sort-merge path at runtime.
2. **Explicit salting** (this module) — for the gather aggregation
   ``groupBy(dst).sum(...)``, pre-aggregate on ``(dst, salt)`` where
   ``salt = pmod(xxhash64(src), n)``; the second-stage ``groupBy(dst)``
   then sums ≤ n rows per key. Weight-preserving by construction (sums
   compose). Spark's partial aggregation covers the map-side; salting
   additionally bounds the *reduce-side* key width so no single task owns
   a hub's entire edge list.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from unarxive_spark.functions.hashing import h64


def salted_sum(
    df: DataFrame,
    key: str,
    value: Column,
    out: str,
    salt_from: str,
    n_salts: int = 16,
    salt_col: str | None = None,
) -> DataFrame:
    """Two-stage skew-resistant ``groupBy(key).agg(sum(value) as out)``.

    ``salt_from`` is a column whose hash spreads a hot key's rows across
    ``n_salts`` reduce-side groups (for HITS's authority gather:
    key=dst, salt_from=src).

    The salt is the portable md5-derived ``h64`` (CLAUDE.md invariant:
    portable hashing only in oracle-checked paths) — the salt never
    reaches output values, but a portable partial-sum grouping keeps the
    double-summation order deterministic across engines/runs.

    ``salt_col`` names a PRECOMPUTED ``pmod(h64(salt_from), n_salts)``
    column: iterative callers (HITS) hash the salt source once
    on the cached edge table instead of re-running md5 over every edge
    every superstep (guide §2.3 — narrower per-row work before the
    exchange). The groups are identical by construction, so the partial
    sums (and therefore the results) are bit-for-bit unchanged.
    """
    if salt_col is None:
        salted = df.withColumn(
            "_salt", F.pmod(h64(F.col(salt_from)), F.lit(n_salts))
        )
    else:
        salted = df.withColumnRenamed(salt_col, "_salt")
    partial = salted.groupBy(key, "_salt").agg(value.alias(out))
    return partial.groupBy(key).agg(F.sum(out).alias(out))
