"""Metric names, units, and which end-to-end metric each layer metric
should move on which workload. ``BENCHMARK.json`` lists the same names;
``test_perfbench.py`` keeps the two in step."""

from __future__ import annotations

import math
import statistics

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "workload_s": ("s", "lower"),
    # Median and tail over the workload's calls; a call's latency is its
    # median over the run's timed passes.
    "query_p50_s": ("s", "lower"),
    "query_tail_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "peak_rss_mb": ("MiB", "lower"),
    # Share of calls that returned a correct output: 1 - failed/attempted.
    "ok_frac": ("frac", "higher"),
}

ALL = ("graph_fixpoint", "sql_text")
G, S = ("graph_fixpoint",), ("sql_text",)

# name -> (unit, better, the end-to-end metric it should move, on which
# workloads). A metric listed for one workload should not move on the
# other: sql_text does no graph work, and graph_fixpoint runs one
# registry query.
PER_LAYER = {
    "session.get_spark_s": ("s", "lower", "setup_s", ALL),
    "queries_registry.import_s": ("s", "lower", "setup_s", ALL),
    "setup.warmup_s": ("s", "lower", "setup_s", ALL),
    "setup.input_gen_s": ("s", "lower", "setup_s", ALL),
    "query.build_s": ("s", "lower", "workload_s", G),
    "query.plan_s": ("s", "lower", "query_p50_s", S),
    "query.exec_s": ("s", "lower", "query_p50_s", S),
    "io.sources.load_table.calls": ("count", "lower", "query_p50_s", S),
    "io.sources.load_table.misses": ("count", "lower", "query_p50_s", S),
    "io.sources.load_table_s": ("s", "lower", "query_p50_s", S),
    "graph.sssp.rounds": ("count", "lower", "workload_s", G),
    "graph.sssp.first_round_s": ("s", "lower", "workload_s", G),
    "graph.sssp.round_p50_s": ("s", "lower", "workload_s", G),
    "graph.sssp_s": ("s", "lower", "workload_s", G),
    "graph.wcc.rounds": ("count", "lower", "workload_s", G),
    "graph.wcc.round_p50_s": ("s", "lower", "workload_s", G),
    "graph.wcc_s": ("s", "lower", "workload_s", G),
    "graph.reverse_graph_s": ("s", "lower", "workload_s", G),
    "operators.relational_s": ("s", "lower", "workload_s", S),
    "operators.dedup_s": ("s", "lower", "workload_s", G),
    "operators.similarity_s": ("s", "lower", "workload_s", S),
    "operators.text_analysis_s": ("s", "lower", "workload_s", S),
    "operators.pipeline_s": ("s", "lower", "workload_s", S),
    "operators.sampling_s": ("s", "lower", "workload_s", S),
    "spark.jobs": ("count", "lower", "query_p50_s", ALL),
    "spark.stages": ("count", "lower", "query_p50_s", ALL),
    "spark.tasks": ("count", "lower", "query_p50_s", ALL),
    "spark.driver_gap_s": ("s", "lower", "workload_s", ALL),
    "spark.shuffle_read_bytes": ("B", "lower", "workload_s", G),
    "spark.shuffle_write_bytes": ("B", "lower", "workload_s", G),
    "spark.spill_bytes": ("B", "lower", "workload_s", ALL),
    "spark.executor_run_s": ("s", "lower", "cpu_s", ALL),
    "spark.executor_cpu_s": ("s", "lower", "cpu_s", ALL),
    "spark.core_util": ("frac", "higher", "workload_s", ALL),
    "pyworker.cpu_s": ("s", "lower", "cpu_s", S),
    # Traced minus untraced workload_s, measured in the same run.
    "trace.overhead_s": ("s", "lower", "workload_s", ALL),
    # Sum of the self times of every span inside the traced pass's calls;
    # equals the traced pass's workload_s.
    "trace.self_time_s": ("s", "lower", "workload_s", ALL),
}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(latency, percentile, samples beyond it) at the highest percentile
    with at least ten samples beyond it. With fewer than twenty samples
    no percentile at or above the median has ten beyond it; the median
    is reported then, with its true count."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return median(xs), 50.0, n // 2
    pct = 100.0 * (n - 10) / n
    # nearest-rank percentile: the k-th smallest value, k = ceil(p/100 * n)
    k = math.ceil(pct / 100.0 * n - 1e-9)
    return xs[k - 1], pct, n - k
