"""In-process A/B probe for single queries (r13 optimization round).

Usage: python tools/ab_probe.py <query>[,query2,...] [n_samples]

Times each named query with the bench's own methodology — noop sink,
memo clear + clearCache between samples, memo producers replayed
untimed first so marginal-cost queries measure what the bench records —
and prints min/median of N samples beside the median count of py4j
commands (Python->JVM round trips) a timed sample sent: the driver-layer
number a plan-construction change moves. The count includes the deletes
py4j sends when Python's collector frees JVM references, so it varies a
little between samples. For A/B runs, run this before
and after an edit on a quiet host; samples alternate nothing (single
variant), so edit-compare-edit loops should keep the host load equal.
"""
from __future__ import annotations

import os
import statistics
import sys
import time

import py4j.clientserver
import py4j.java_gateway

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


_PY4J_COMMANDS = 0


def _count_py4j_commands() -> None:
    """Count every command the driver sends to the JVM, whichever py4j
    connection class the gateway uses (pinned-thread mode or not)."""
    for cls in (
        py4j.clientserver.ClientServerConnection,
        py4j.java_gateway.GatewayConnection,
    ):
        send = cls.send_command

        def counting_send(self, command, _send=send):
            global _PY4J_COMMANDS
            _PY4J_COMMANDS += 1
            return _send(self, command)

        cls.send_command = counting_send


def main() -> None:
    names = [s for s in sys.argv[1].split(",") if s]
    n_samples = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from bench import MEMO_FAMILIES, COOC_CONSUMERS
    from mapreduce_sssp_spark.session import get_spark
    from mapreduce_sssp_spark.operators.graph_queries import (
        clear_convergence_memo,
        _part_cooccurrence_edges,
    )
    from mapreduce_sssp_spark.operators.text_analysis import clear_bpe_memo

    spark = get_spark(app_name="spark-graft-ab")
    queries = entrymod.queries()

    # Same warmup as bench.py
    warm = spark.range(0, 1_000_000, 1, 8).selectExpr("id", "id % 97 AS k")
    warm.join(warm.groupBy("k").count(), "k").write.mode("overwrite").format(
        "noop"
    ).save()
    from mapreduce_sssp_spark.io.sources import TABLES, load_table

    for t in TABLES:
        try:
            load_table(spark, sf_dir, t).limit(10).count()
        except Exception:
            pass
    spark.catalog.clearCache()

    _count_py4j_commands()
    results: dict[str, list[float]] = {n: [] for n in names}
    commands: dict[str, list[int]] = {n: [] for n in names}
    for s in range(n_samples):
        for name in names:
            clear_convergence_memo()
            clear_bpe_memo()
            spark.catalog.clearCache()
            if name in COOC_CONSUMERS:
                _part_cooccurrence_edges(spark, sf_dir)
            prods = [p for p, c in MEMO_FAMILIES if c == name and p in queries]
            for p in dict.fromkeys(prods):
                queries[p](spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"ab:{name}#{s}")
            sent = _PY4J_COMMANDS
            t0 = time.time()
            queries[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            dt = time.time() - t0
            results[name].append(dt)
            commands[name].append(_PY4J_COMMANDS - sent)
            print(
                f"[ab] {name} sample {s}: {dt:.3f}s"
                f" py4j={commands[name][-1]}",
                file=sys.stderr,
            )
    for name in names:
        xs = results[name]
        print(
            f"{name}: min={min(xs):.3f} med={statistics.median(xs):.3f} "
            f"py4j={int(statistics.median(commands[name]))} "
            f"samples={[round(x, 3) for x in xs]}"
        )


if __name__ == "__main__":
    main()
