"""RoundState.run, the fixpoint round driver: a loop that runs out of
``max_rounds`` warns exactly once and names itself, a fixed-iteration
loop never warns, and a round costs exactly one Spark job."""

from __future__ import annotations

import warnings

import pytest

from mapreduce_sssp_spark.graph.hits import hits
from mapreduce_sssp_spark.graph.kcore import kcore
from mapreduce_sssp_spark.graph.ktruss import ktruss
from mapreduce_sssp_spark.graph.mis import MIS_PRI_MOD, MIS_PRI_MULT, mis_greedy
from mapreduce_sssp_spark.graph.pagerank import pagerank
from mapreduce_sssp_spark.graph.sssp import RoundState, sssp
from mapreduce_sssp_spark.graph.wcc import wcc

PATH = 20  # nodes 1..PATH; no loop below finishes a path in one round


def _path(spark, n: int = PATH):
    return spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(1, n)], "src long, dst long, weight double"
    )


def _canonical(spark):
    return _path(spark).selectExpr("src AS u", "dst AS v")


def _monotone_path(spark):
    """A path whose priorities fall along it: Luby decides only its
    last two nodes per round."""
    nodes = sorted(range(1, PATH + 1), key=lambda n: -_pri(n))
    return spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in zip(nodes, nodes[1:])],
        "u long, v long",
    )


def _pri(n: int) -> int:
    return (n * MIS_PRI_MULT) % MIS_PRI_MOD


LOOPS = {
    "sssp": lambda s: sssp(_path(s), 1, max_rounds=1),
    "wcc": lambda s: wcc(_path(s), max_rounds=1),
    "kcore": lambda s: kcore(_canonical(s), 2, max_rounds=1),
    "ktruss": lambda s: ktruss(_canonical(s), 3, max_rounds=1),
    # tail_nodes=0: the driver-side tail finish would decide a path
    # this small in round 1.
    "mis_greedy": lambda s: mis_greedy(
        _monotone_path(s), max_rounds=1, tail_nodes=0
    ),
}


def _runtime_warnings(fn) -> list[str]:
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        fn()
    return [str(w.message) for w in caught if w.category is RuntimeWarning]


@pytest.mark.parametrize("loop", sorted(LOOPS))
def test_max_rounds_exhaustion_warns_once_naming_the_loop(spark, loop):
    got = _runtime_warnings(lambda: LOOPS[loop](spark))
    spark.catalog.clearCache()
    assert len(got) == 1, got
    assert got[0].startswith(f"{loop}: max_rounds=1 exhausted")


def test_fixed_iteration_loops_do_not_warn(spark):
    assert _runtime_warnings(lambda: pagerank(_path(spark), iterations=2)) == []
    assert _runtime_warnings(lambda: hits(_path(spark), iterations=2)) == []
    spark.catalog.clearCache()


def _jobs_and_rounds(spark, monkeypatch, n: int) -> tuple[int, int]:
    rounds = []
    advance = RoundState.advance

    def counting(self, df, rnd):
        rounds.append(rnd)
        return advance(self, df, rnd)

    monkeypatch.setattr(RoundState, "advance", counting)
    sc = spark.sparkContext
    group = f"round-driver-path-{n}"
    sc.setJobGroup(group, group)
    try:
        sssp(_path(spark, n), 1).collect()
    finally:
        sc._jsc.clearJobGroup()
        monkeypatch.setattr(RoundState, "advance", advance)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    spark.catalog.clearCache()
    return len(sc.statusTracker().getJobIdsForGroup(group)), len(rounds)


def test_one_job_per_round(spark, monkeypatch):
    jobs_a, rounds_a = _jobs_and_rounds(spark, monkeypatch, 4)
    jobs_b, rounds_b = _jobs_and_rounds(spark, monkeypatch, 9)
    assert rounds_b > rounds_a
    assert jobs_b - jobs_a == rounds_b - rounds_a
