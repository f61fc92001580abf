"""Portable deterministic hashes.

Everything here is expressible in BOTH Spark SQL and DuckDB SQL so the
driver's DuckDB oracle can reproduce results bit-for-bit. We deliberately
avoid engine-specific ``hash()``/``xxhash64`` (different algorithms across
engines) and instead derive 60-bit integers from ``md5`` hex, which both
engines implement identically.

Reference analog: the reference keys bib entries by
``sha1(normalized_text + paper_id)`` (/root/reference/src/parse_latex_tralics.py:460-470)
and replaces nondeterministic ``uuid4`` IDs — we keep the same
content-hash discipline for reproducibility and checkpoint-resume.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 15 hex digits = 60 bits: always fits a signed int64 in any engine.
_HEX_DIGITS = 15

# Mersenne prime 2^61-1: modulus for MinHash permutations.
MERSENNE_61 = (1 << 61) - 1


def h64(col: Column | str, salt: str = "") -> Column:
    """Deterministic 60-bit integer hash of a string column.

    Spark:   conv(substr(md5(concat(salt, col)), 1, 15), 16, 10)::long
    DuckDB:  CAST(from_hex-style parse AS BIGINT) — see `h64_sql`.
    """
    c = F.col(col) if isinstance(col, str) else col
    salted = F.concat(F.lit(salt), c) if salt else c
    return F.conv(F.substring(F.md5(salted), 1, _HEX_DIGITS), 16, 10).cast("long")


def h64_sql(expr: str, salt: str = "") -> str:
    """DuckDB-SQL rendering of :func:`h64` for oracle queries."""
    inner = f"concat('{salt}', {expr})" if salt else expr
    # DuckDB parses hex via from_hex? No — use explicit base-16 cast:
    # CAST(('0x' || substr(md5(x),1,15)) AS BIGINT) works in DuckDB 1.x.
    return f"CAST(('0x' || substr(md5({inner}), 1, {_HEX_DIGITS})) AS BIGINT)"


def minhash_term(token: Column, perm: int) -> Column:
    """One MinHash "permutation" applied to a token.

    Instead of the textbook ``(a*h+b) mod p`` linear permutation (whose
    product overflows int64), each permutation is an independent salted
    hash ``h64('mh<i>|' || token)`` — equally min-wise independent, and
    portable to the DuckDB oracle with identical bits.

    Used as ``groupBy(doc).agg(min(...))`` per permutation — the classic
    minwise-hash estimator.
    """
    return h64(token, salt=f"mh{perm}|")
