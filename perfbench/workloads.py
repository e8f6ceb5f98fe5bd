"""The benchmark's workloads: what each one generates, which engine
calls it makes, and how each call's output is checked.

A workload is a list of calls. One pass runs every call once, in the
order the seed gives. Each call builds a DataFrame through the
engine's public functions; the runner plans and collects it.

The graph calls run in a fixed order from fixed sssp sources, drawn
with the table seed, so the seed does not change graph_fixpoint. With
seed-chosen sources (6 to 10 rounds each) or a seeded order, its median
call latency spread 18-30 % between seeds on the same code.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Callable

from . import checks, inputs

TPCH = tuple(f"sql_tpch_q{i}" for i in range(1, 23))
# One query per operator module of the LLM-data pipeline that the SQL
# queries leave idle: similarity (embedding_stats runs a pandas UDF in
# the Python workers), text_analysis, pipeline, and sampling (the export
# writes parquet shards and reads them back). None does graph work.
TEXT = (
    "embedding_stats",
    "bm25_scoring",
    "pipeline_clean_corpus",
    "export_training_shards",
)


@dataclass
class Call:
    name: str
    layer: str  # module the call's time is attributed to
    build: Callable  # () -> DataFrame
    check: Callable  # (columns, rows) -> None if correct, else the reason
    rounds: Callable | None = None  # () -> rounds the call's sssp loop runs


@dataclass
class Workload:
    name: str
    why: str
    sf: float  # scale of the generated engine tables
    sources: int = 0  # sssp sources on the lineitem graph
    registry: tuple[str, ...] = ()  # registry queries

    def source_nodes(self) -> list[int]:
        return inputs.lineitem_sources(self.sf, self.sources) if self.sources else []

    def order(self, seed: int) -> list[str]:
        """The call names in the order this seed runs them: the graph
        calls first, as listed, then the registry queries shuffled."""
        graph = [f"sssp[source={s}]" for s in self.source_nodes()]
        if self.sources:
            graph += ["wcc", "reverse_graph"]
        return graph + inputs.shuffled(list(self.registry), seed)

    def calls(self, spark, data_dir: str, seed: int) -> list[Call]:
        from mapreduce_sssp_spark import queries_registry as registry
        from mapreduce_sssp_spark.io.sources import TABLES, edges_from_lineitem

        out: list[Call] = []
        if self.sources:
            edges = edges_from_lineitem(spark, data_dir)
            # read on first use, by the checks after the timed region
            ref = functools.cache(functools.partial(checks.lineitem_edges, data_dir))
            out += _graph_calls(edges, ref, self.source_nodes())
        con = checks.oracle_connection(data_dir, TABLES)
        for name in self.registry:
            fn = registry.QUERIES[name]
            out.append(Call(
                name=name,
                layer="operators." + fn.__module__.rsplit(".", 1)[1],
                build=lambda fn=fn: fn(spark, data_dir),
                check=lambda cols, rows, sql=registry.ORACLE[name]:
                    checks.check_oracle_rows(con, sql, cols, rows),
            ))
        by_name = {c.name: c for c in out}
        return [by_name[n] for n in self.order(seed)]


def _graph_calls(edges, ref, sources):
    from mapreduce_sssp_spark.graph.reverse import reverse_graph
    from mapreduce_sssp_spark.graph.sssp import sssp
    from mapreduce_sssp_spark.graph.wcc import wcc

    calls = [
        Call(
            name=f"sssp[source={s}]",
            layer="graph.sssp",
            build=lambda s=s: sssp(edges, s),
            check=lambda cols, rows, s=s: (
                None if set(rows) == checks.expected_sssp(ref(), s)
                else "distances differ from Dijkstra"
            ),
            rounds=lambda s=s: checks.sssp_rounds(ref(), s),
        )
        for s in sources
    ]
    calls.append(Call(
        name="wcc",
        layer="graph.wcc",
        build=lambda: wcc(edges),
        check=lambda cols, rows: (
            None if set(rows) == checks.expected_wcc(ref())
            else "components differ from union-find"
        ),
    ))
    calls.append(Call(
        name="reverse_graph",
        layer="graph.reverse_graph",
        build=lambda: reverse_graph(edges),
        check=lambda cols, rows: (
            None if rows == checks.expected_reverse(ref())
            else "adjacency differs from reference"
        ),
    ))
    return calls


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            name="graph_fixpoint",
            why="sssp from 2 fixed sources, wcc, reverse_graph (lineitem graph,"
                " sf0.01, 60k edges) and minhash dedup clusters, a wcc use: bound"
                " by the fixpoint loops' per-round overhead",
            sf=0.01,
            sources=2,
            registry=("dedup_minhash_clusters",),
        ),
        Workload(
            name="sql_text",
            why="the 22 TPC-H registry queries and 4 LLM-pipeline ones (pandas"
                " UDF, bm25, cleaning, shard export) at sf0.005, seeded order:"
                " driver and scheduling bound; no graph work",
            sf=0.005,
            registry=TPCH + TEXT,
        ),
    ]
}
