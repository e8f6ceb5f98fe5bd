"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests start Spark once per workload and mode at sf0.001
(a few minutes in all); the rest are quick unit tests.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import checks, inputs, metrics, trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


# --- BENCHMARK.json and metrics.py name the same metrics -------------------


def test_benchmark_json_matches_metrics_module():
    e2e = {m["name"]: (m["unit"], m["better"]) for m in BENCH["end_to_end"]}
    assert e2e == metrics.END_TO_END
    layers = {m["name"]: (m["unit"], m["better"]) for m in BENCH["per_layer"]}
    assert layers == {k: v[:2] for k, v in metrics.PER_LAYER.items()}
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    for w in BENCH["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why


# --- inputs are a pure function of the seed ---------------------------------


def test_seeded_order_repeats_and_varies():
    sql, graph = WORKLOADS["sql_text"], WORKLOADS["graph_fixpoint"]
    assert sql.order(7) == sql.order(7)
    assert sql.order(7) != sql.order(8)
    assert sorted(sql.order(7)) == sorted(sql.registry)
    assert graph.order(7) == graph.order(8)
    assert len(graph.source_nodes()) == 2
    assert set(graph.order(7)) >= {f"sssp[source={s}]" for s in graph.source_nodes()}


def test_tables_are_deterministic(tmp_path):
    inputs.write_tables(str(tmp_path / "a"), 0.001)
    inputs.write_tables(str(tmp_path / "b"), 0.001)
    for f in sorted(os.listdir(tmp_path / "a")):
        ta = pq.read_table(tmp_path / "a" / f)
        tb = pq.read_table(tmp_path / "b" / f)
        assert ta.equals(tb), f


# --- tracing ----------------------------------------------------------------


def test_bind_by_code_object_reaches_from_imported_aliases():
    mod = types.ModuleType("perfbench_probe_mod")
    exec("def work(x, y=2):\n    return x * y\n", mod.__dict__)
    alias = mod.work  # what `from mod import work` would hold
    tracer = trace.Tracer()
    tracer.bind(mod.work, "probe.work")
    try:
        assert alias(3) == 6 and alias(3, y=3) == 9
    finally:
        tracer.unbind_all()
    assert [s.name for s in tracer.spans] == ["probe.work", "probe.work"]
    assert alias(3) == 6 and len(tracer.spans) == 2


def test_self_time_subtracts_children():
    tracer = trace.Tracer()
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    selfs = tracer.self_times()
    outer, inner = tracer.spans
    assert inner.parent == outer.id
    assert selfs[outer.id] == pytest.approx(outer.dur - inner.dur)
    assert sum(selfs.values()) == pytest.approx(outer.dur)


def test_covered_merges_overlaps_and_clips():
    assert trace.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace.covered([(0, 2), (1, 3)], 1.5, 2.5) == 1


def test_tail_percentile_keeps_ten_beyond():
    lat = list(range(1, 31))
    value, pct, beyond = metrics.tail(lat)
    assert beyond == 10 and value == 20
    assert metrics.tail([1.0, 3.0, 2.0]) == (2.0, 50.0, 1)


# --- reference checks -------------------------------------------------------


def test_references_on_a_small_graph():
    edges = [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 5.0), (4, 5, 2.0), (3, 1, 1.0)]
    assert checks.expected_sssp(edges, 1) == {
        (1, 1, 0.0), (1, 2, 1.0), (1, 3, 2.0), (1, 4, 65535.0)
    }
    assert checks.expected_wcc(edges) == {
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 4)
    }
    assert checks.expected_reverse(edges) == [
        (1, [3]), (2, [1]), (3, [1, 2]), (5, [4])
    ]
    # pre-loop: 2 and 3 relaxed; round 1 improves 3 via 2; round 2 is quiet
    assert checks.sssp_rounds(edges, 1) == 2


# --- end to end at sf0.001 --------------------------------------------------


def _run(workload: str, traced: int) -> tuple[int, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "0", "--trace", str(traced),
         "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("traced", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_output_schema(workload, traced):
    code, out = _run(workload, traced)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and code == 0
    assert out["attempted"] >= 1
    spec = BENCH["per_layer"] if traced else BENCH["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
