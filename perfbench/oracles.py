"""Expected answers, computed without the engine under test.

DuckDB mines the edge multiset and the cube columns straight from the
transcripts parquet; numpy computes PageRank, union-find computes the
components and a vectorised synchronous LPA computes the labels. Each
one follows the semantics the engine documents:

- PageRank: weighted transitions, dangling mass spread uniformly,
  uniform teleport, stop on max |delta rank| < tol.
- Components: weakly connected, label = min conv_id of the component.
- LPA: synchronous, undirected weighted tally, argmax weight, ties to
  the min label, vertices without neighbours keep their label.
"""

from __future__ import annotations

import duckdb
import numpy as np

MARKER = r"conv:([A-Za-z0-9_-]+)"


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    con.execute("SET memory_limit='1GB'")
    return con


def scan(files: str | list[str]) -> str:
    """``read_parquet`` over a glob or an explicit list of files."""
    if isinstance(files, str):
        return f"read_parquet('{files}')"
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def _pairs_sql(files) -> str:
    """(src, dst) per marker occurrence in text and tool, self-refs kept."""
    return f"""
        SELECT conv_id AS src, unnest(
            regexp_extract_all(coalesce(text, ''), '{MARKER}', 1)
            || regexp_extract_all(coalesce(tool, ''), '{MARKER}', 1)
        ) AS dst
        FROM {scan(files)}
    """


def edges_sql(files, resolve: bool) -> str:
    """Edge table (src_conv_id, dst_conv_id, weight) mined from the
    transcripts in ``files``: self-loops dropped, weight = marker count;
    ``resolve`` keeps only destinations that exist as a conversation."""
    semi = (
        f"AND dst IN (SELECT DISTINCT conv_id FROM {scan(files)})"
        if resolve
        else ""
    )
    return f"""
        SELECT src AS src_conv_id, dst AS dst_conv_id,
               CAST(count(*) AS DOUBLE) AS weight
        FROM ({_pairs_sql(files)})
        WHERE src <> dst {semi}
        GROUP BY src, dst
        ORDER BY src, dst
    """


def edge_arrays(con, files, resolve: bool):
    """(src, dst, weight) numpy arrays of :func:`edges_sql`."""
    tbl = con.sql(edges_sql(files, resolve)).fetchnumpy()
    return (
        tbl["src_conv_id"].astype(str),
        tbl["dst_conv_id"].astype(str),
        tbl["weight"].astype(np.float64),
    )


def write_edges(con, files, out_file: str, resolve: bool) -> None:
    con.execute(
        f"COPY ({edges_sql(files, resolve)}) TO '{out_file}' (FORMAT PARQUET)"
    )


def resolution_counts(con, glob: str) -> tuple[int, int]:
    """(raw non-self references, references whose target exists)."""
    row = con.sql(
        f"""
        SELECT count(*),
               count(*) FILTER (WHERE dst IN (
                   SELECT DISTINCT conv_id FROM read_parquet('{glob}')))
        FROM ({_pairs_sql(glob)}) WHERE src <> dst
        """
    ).fetchone()
    return int(row[0]), int(row[1])


def cube_cells(con, glob: str) -> dict[tuple[str, str], tuple[int, ...]]:
    """(category, month) → (n_convs, n_turns, n_refs, n_refs_linked,
    n_tool_turns, n_chars), the volume columns of the full cube."""
    rows = con.sql(
        f"""
        WITH t AS (SELECT * FROM read_parquet('{glob}')),
        ids AS (SELECT DISTINCT conv_id FROM t),
        per_turn AS (
            SELECT conv_id, ts, role, length(text) AS n_chars,
                   regexp_extract_all(coalesce(text, ''), '{MARKER}', 1)
                   || regexp_extract_all(coalesce(tool, ''), '{MARKER}', 1)
                   AS refs
            FROM t),
        linked AS (
            SELECT p.conv_id, count(*) AS n_linked
            FROM (SELECT conv_id, unnest(refs) AS r FROM per_turn) p
            WHERE p.r <> p.conv_id AND p.r IN (SELECT conv_id FROM ids)
            GROUP BY p.conv_id),
        v AS (
            SELECT conv_id,
                   count(*) AS n_turns,
                   sum(len(refs)) AS n_refs,
                   sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS n_tool,
                   sum(n_chars) AS n_chars,
                   strftime(make_timestamp(epoch_us(min(ts))), '%Y-%m')
                       AS month
            FROM per_turn GROUP BY conv_id)
        SELECT printf('cat%02d',
                   CAST(('0x' || substr(md5(v.conv_id), 1, 15)) AS BIGINT)
                   % 12) AS category,
               month, count(*), sum(n_turns), sum(n_refs),
               sum(coalesce(n_linked, 0)), sum(n_tool), sum(n_chars)
        FROM v LEFT JOIN linked USING (conv_id)
        GROUP BY ALL
        """
    ).fetchall()
    return {(r[0], r[1]): tuple(int(x) for x in r[2:]) for r in rows}


class Graph:
    """Edge arrays over dense vertex indices. ``ids`` is sorted, so the
    smallest index in a set is also its smallest conv_id."""

    def __init__(self, ids: np.ndarray, src, dst, w: np.ndarray):
        self.ids = ids
        self.src = src
        self.dst = dst
        self.w = w
        self.n = len(ids)
        self.n_edges = len(src)


def graph(con, edges: str) -> Graph:
    """:class:`Graph` of an edge table given as a SQL relation."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE _e AS {edges}")
    con.execute(
        """CREATE OR REPLACE TEMP TABLE _v AS
        SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS i
        FROM (SELECT src_conv_id AS id FROM _e
              UNION SELECT dst_conv_id FROM _e)"""
    )
    ids = con.sql("SELECT id FROM _v ORDER BY i").fetchnumpy()["id"]
    e = con.sql(
        """SELECT s.i AS src, d.i AS dst, _e.weight
        FROM _e JOIN _v s ON s.id = _e.src_conv_id
        JOIN _v d ON d.id = _e.dst_conv_id"""
    ).fetchnumpy()
    return Graph(ids.astype(str), e["src"], e["dst"], e["weight"])


def pagerank(
    g: Graph,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    init: np.ndarray | None = None,
) -> tuple[np.ndarray, int]:
    """Power iteration; returns (ranks in ``g.ids`` order, supersteps)."""
    out_w = np.bincount(g.src, weights=g.w, minlength=g.n)
    p = g.w / out_w[g.src]
    dangling = out_w == 0
    r = np.full(g.n, 1.0 / g.n) if init is None else init / init.sum()
    for it in range(max_iter):
        gathered = np.bincount(g.dst, weights=p * r[g.src], minlength=g.n)
        new = (1.0 / g.n) * (
            (1.0 - damping) + damping * r[dangling].sum()
        ) + damping * gathered
        delta = np.abs(new - r).max()
        r = new
        if delta < tol:
            return r, it + 1
    return r, max_iter


def components(g: Graph) -> np.ndarray:
    """Union-find; returns the min-index member per vertex."""
    parent = list(range(g.n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in zip(g.src.tolist(), g.dst.tolist()):
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    # roots are the min member: every union keeps the smaller root
    return np.array([find(v) for v in range(g.n)], dtype=np.int64)


def label_propagation(g: Graph, n_iter: int = 5) -> np.ndarray:
    """Synchronous weighted LPA; labels are vertex indices."""
    keep = g.src != g.dst
    u = np.concatenate([g.src[keep], g.dst[keep]])
    v = np.concatenate([g.dst[keep], g.src[keep]])
    w = np.concatenate([g.w[keep], g.w[keep]])
    labels = np.arange(g.n, dtype=np.int64)
    for _ in range(n_iter):
        key = v * g.n + labels[u]
        cells, inv = np.unique(key, return_inverse=True)
        tally = np.bincount(inv, weights=w)
        cv, cl = cells // g.n, cells % g.n
        # per receiving vertex: max tally first, then min label
        order = np.lexsort((cl, -tally, cv))
        first = np.ones(len(order), dtype=bool)
        first[1:] = cv[order][1:] != cv[order][:-1]
        win = order[first]
        new = labels.copy()
        new[cv[win]] = cl[win]
        labels = new
    return labels
