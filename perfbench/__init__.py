"""The repository's benchmark: seeded workloads run through the engine's
public functions, end-to-end metrics from an untraced run, per-layer
metrics from a traced run, and a correctness check of every output.

    python3 perfbench/run.py --workload graph_fixpoint --seed 1 --seconds 10 --trace 0
    python3 -m pytest perfbench/test_perfbench.py -q

``BENCHMARK.json`` at the repository root lists the workloads and the
metrics with their units and bounds. ``metrics.PER_LAYER`` records which
end-to-end metric each layer metric should move, and on which workload.
Performance claims in this repository use these metric and workload
names.

``bench.py`` is a different tool: the full-registry envelope gate over
every registry query at sf0.1. It stays as it is; this benchmark neither
replaces nor calls it.
"""
