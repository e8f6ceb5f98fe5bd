"""Output checks, run after the timed region.

Registry queries are compared with their DuckDB ORACLE twins through
``tools/check_oracle.py``'s own canonicalize/compare. The graph
functions are compared with pure-Python references on the same edges:
Dijkstra for sssp, union-find for wcc, a dict of sets for the reversal.
"""

from __future__ import annotations

import heapq

import duckdb
import pyarrow.parquet as pq

SENTINEL = 65535.0


def oracle_connection(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_oracle_rows(con, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    """None if the Spark rows match the DuckDB twin, else the reason."""
    from tools import check_oracle

    tbl = con.execute(sql).fetch_arrow_table()
    dcols = list(tbl.column_names)
    dvals = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    drows = list(zip(*dvals)) if dvals else []
    status, detail = check_oracle.compare("", cols, rows, dcols, drows)
    return None if status == "OK" else f"{status} {detail}"


def lineitem_edges(sf_dir: str) -> list[tuple]:
    t = pq.read_table(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_suppkey", "l_partkey", "l_quantity"],
    ).to_pydict()
    rows = zip(t["l_suppkey"], t["l_partkey"], t["l_quantity"])
    return [r for r in rows if None not in r]


def dijkstra(edges: list[tuple], source: int) -> dict[int, float]:
    adj: dict[int, list] = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
    dist = {source: 0.0}
    heap = [(0.0, source)]
    while heap:
        d0, u = heapq.heappop(heap)
        if d0 > dist[u]:
            continue
        for v, w in adj.get(u, ()):
            nd = d0 + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist


def expected_sssp(edges: list[tuple], source: int) -> set[tuple]:
    """sssp's output contract: every node with out-edges plus every
    reachable node; unreachable ones carry the 65535.0 sentinel."""
    dist = dijkstra(edges, source)
    nodes = {s for s, _, _ in edges} | set(dist)
    return {(source, n, dist.get(n, SENTINEL)) for n in nodes}


def sssp_rounds(edges: list[tuple], source: int) -> int:
    """Rounds the frontier loop in ``graph.sssp.sssp`` runs: the
    source's out-edges are relaxed before the loop, then each round
    relaxes the nodes whose distance changed, and the loop stops after
    the first round that changes nothing."""
    adj: dict[int, dict[int, float]] = {}
    for s, d, w in edges:
        row = adj.setdefault(s, {})
        row[d] = min(w, row.get(d, w))
    dist = {source: 0.0}
    frontier = set()
    for v, w in adj.get(source, {}).items():
        if v != source and w < dist.get(v, float("inf")):
            dist[v] = w
            frontier.add(v)
    rounds = 0
    while True:
        rounds += 1
        best: dict[int, float] = {}
        for u in frontier:
            for v, w in adj.get(u, {}).items():
                c = dist[u] + w
                if c < best.get(v, float("inf")):
                    best[v] = c
        frontier = {v for v, c in best.items() if c < dist.get(v, float("inf"))}
        for v in frontier:
            dist[v] = best[v]
        if not frontier:
            return rounds


def expected_wcc(edges: list[tuple]) -> set[tuple]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for e in edges:
        s, d = e[0], e[1]
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            # the smaller id becomes the root, so roots are component minima
            parent[max(rs, rd)] = min(rs, rd)
    return {(n, find(n)) for n in parent}


def expected_reverse(edges: list[tuple]) -> list[tuple]:
    rev: dict[int, set] = {}
    for e in edges:
        rev.setdefault(e[1], set()).add(e[0])
    return [(n, sorted(rev[n])) for n in sorted(rev)]
