"""Cross-conversation reference mining (the engine's core extractor).

Reference analogs:
- marker-span extraction with char offsets:
  /root/reference/src/parse_latex_tralics.py:106-123 (``_get_local_refs``,
  regex ``{{(cite|formula|...):id}}`` → spans with ``start``/``end``)
- free-text ID sniffing: /root/reference/src/match_references_openalex.py:22-31
  (``arXiv:<id>`` / arxiv.org URL patterns)

Our marker grammar over transcripts: ``conv:<conv_id>`` where conv_id is
``[A-Za-z0-9_-]+``. Two mining fields per turn: ``text`` and ``tool``.

Invariant (BASELINE.json input_hint): the ``text`` column must survive
extraction **byte-identically** — extraction only reads, never rewrites,
and spans carry exact character offsets into the original string
(round-trip asserted in tests, reference precedent
/root/reference/src/utility_scripts/ml_tasks_prep_data.py:182).

Implementation notes (scale):
- ``extract_refs`` is an Arrow-batched scalar pandas UDF (no per-row
  Python function calls visible to Spark; the regex loop runs inside one
  Python invocation per ~10k-row Arrow batch).
- ``extract_ref_ids`` is a pure built-in (``regexp_extract_all``) fast
  path used when offsets aren't needed (edge building): it stays inside
  whole-stage codegen, zero Python.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# One grammar, three renderings: Python (pandas UDF), Spark SQL, DuckDB SQL.
REF_MARKER_PY = re.compile(r"conv:([A-Za-z0-9_-]+)")
REF_MARKER_SPARK = r"conv:([A-Za-z0-9_-]+)"
REF_MARKER_DUCKDB = r"conv:([A-Za-z0-9_-]+)"

SPAN_TYPE = StructType(
    [
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("text", StringType(), False),
        StructField("ref_id", StringType(), False),
    ]
)


@pandas_udf(ArrayType(SPAN_TYPE))
def extract_refs(text: pd.Series) -> pd.Series:
    """text → array<struct<start,end,text,ref_id>> of conv-reference spans.

    Offsets are Python character offsets into the *original* string
    (analog of cite_spans/ref_spans,
    /root/reference/src/parse_latex_tralics.py:112-118).
    """

    def spans(s: str | None) -> list[dict]:
        if not s:
            return []
        return [
            {
                "start": m.start(),
                "end": m.end(),
                "text": m.group(0),
                "ref_id": m.group(1),
            }
            for m in REF_MARKER_PY.finditer(s)
        ]

    return text.map(spans)


def extract_ref_ids(col: Column | str) -> Column:
    """Fast path: array<string> of referenced conv_ids, pure built-in.

    ``regexp_extract_all`` runs JVM-side inside codegen — use this for the
    edge-build hot path where offsets are not needed.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(REF_MARKER_SPARK), 1)


@pandas_udf(StringType())
def splice_markers(text: pd.Series, repl: pd.Series) -> pd.Series:
    """Replace each ``conv:<id>`` marker using a per-row replacement map.

    Analog of the reference's surface replacement + renumbering
    (/root/reference/src/utility_scripts/ml_tasks_prep_data.py:111-184):
    ``repl`` is a map ref_id → replacement string; unmatched markers are
    kept verbatim (so an empty map round-trips byte-identically).
    """

    def splice(s: str | None, m: dict | None) -> str | None:
        if s is None:
            return None
        if not m:
            return s
        return REF_MARKER_PY.sub(
            lambda mo: m.get(mo.group(1), mo.group(0)), s
        )

    return pd.Series([splice(s, m) for s, m in zip(text, repl)])


@pandas_udf(ArrayType(StringType()))
def renumber_citations(text: pd.Series) -> pd.Series:
    """First-occurrence dedup + ``[1]..[n]`` numbering of refs per text.

    Analog of /root/reference/src/utility_scripts/ml_tasks_prep_data.py:143-163
    (dedupe cited docs, assign bracketed markers by first appearance).
    Returns the distinct ref_ids in first-appearance order; downstream
    zips with ``sequence(1, size(...))`` for the numbers.
    """

    def order(s: str | None) -> list[str]:
        if not s:
            return []
        seen: list[str] = []
        for m in REF_MARKER_PY.finditer(s):
            rid = m.group(1)
            if rid not in seen:
                seen.append(rid)
        return seen

    return text.map(order)


# ---------------------------------------------------------------------
# DOI extraction + implicit-DOI derivation (P14/P15)
# ---------------------------------------------------------------------

# The Crossref-recommended DOI pattern (public): "10.<registrant>/<suffix>".
# Suffix stops at whitespace/quote/angle — the reference trims trailing
# punctuation from free-text hits the same way
# (/root/reference/src/match_references_openalex.py DOI sniffing analog).
DOI_SPARK = r"\b(10[.][0-9]{4,9}/[-._;()/:A-Za-z0-9]+)"
DOI_DUCKDB = r"\b(10\.[0-9]{4,9}/[-._;()/:A-Za-z0-9]+)"


def extract_dois(col: Column | str) -> Column:
    """All DOI mentions in a text column (P14), JVM-side regex —
    trailing sentence punctuation stripped like the reference does."""
    c = F.col(col) if isinstance(col, str) else col
    raw = F.regexp_extract_all(
        F.coalesce(c, F.lit("")), F.lit(DOI_SPARK), 1
    )
    return F.transform(raw, lambda d: F.regexp_replace(d, r"[.,;)]+$", ""))


def extract_dois_sql(expr: str) -> str:
    """DuckDB rendering of :func:`extract_dois`."""
    return (
        f"list_transform(regexp_extract_all({expr}, '{DOI_DUCKDB}', 1), "
        "d -> regexp_replace(d, '[.,;)]+$', ''))"
    )


def implicit_doi(journal: Column | str, article_id: Column | str) -> Column:
    """P15 implicit-DOI heuristic shape: journals whose DOIs are
    derivable from (journal, article id) get one synthesized —
    the reference derives APS DOIs as ``10.1103/<journal>.<id>`` when no
    explicit DOI is present. NULL when the journal isn't derivable."""
    j = F.col(journal) if isinstance(journal, str) else journal
    a = F.col(article_id) if isinstance(article_id, str) else article_id
    return F.when(
        j.rlike(r"^src[0-9]+$"),  # the graft's "APS-like" source family
        F.concat(F.lit("10.1103/"), j, F.lit("."), a.cast("string")),
    ).otherwise(F.lit(None).cast("string"))


def implicit_doi_sql(journal_expr: str, article_expr: str) -> str:
    return (
        f"CASE WHEN regexp_matches({journal_expr}, '^src[0-9]+$') "
        f"THEN '10.1103/' || {journal_expr} || '.' || "
        f"CAST({article_expr} AS VARCHAR) ELSE NULL END"
    )
