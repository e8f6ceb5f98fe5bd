"""Dump `.explain("formatted")` for named queries to plans/<dir>/.

Usage: python tools/dump_plan.py <dir> <suffix> <query>[,query2,...]

Writes plans/<dir>/<query>_<suffix>.txt for each query. Memo producers
are replayed first (like the bench) so consumer plans reflect their
benched shape (flat memoized inputs, not the inlined fixpoint).

An ``after`` plan byte-identical to the query's existing ``before``
plan is evidence of nothing (usually the same checkout dumped twice):
the tool then exits non-zero and writes no file at all.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = [s for s in sys.argv[3].split(",") if s]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from bench import MEMO_FAMILIES, COOC_CONSUMERS
    from mapreduce_sssp_spark.session import get_spark
    from mapreduce_sssp_spark.operators.graph_queries import (
        _part_cooccurrence_edges,
    )

    spark = get_spark(app_name="spark-graft-plan")
    queries = entrymod.queries()
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        out_dir,
    )
    plans = {}
    for name in names:
        if name in COOC_CONSUMERS:
            _part_cooccurrence_edges(spark, sf_dir)
        prods = [p for p, c in MEMO_FAMILIES if c == name and p in queries]
        for p in dict.fromkeys(prods):
            queries[p](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        plans[name] = plan
        spark.catalog.clearCache()
    sys.exit(write_plans(root, suffix, plans))


def write_plans(root: str, suffix: str, plans: dict[str, str]) -> int:
    """Write each query's plan to ``root``; 0 on success. Returns 1
    having written nothing if an ``after`` plan equals its ``before``."""
    if suffix == "after":
        same = []
        for name, plan in plans.items():
            before = os.path.join(root, f"{name}_before.txt")
            if os.path.exists(before):
                with open(before) as f:
                    if f.read() == plan:
                        same.append(name)
        if same:
            print(
                f"refusing to write: after plan identical to before for "
                f"{', '.join(same)}",
                file=sys.stderr,
            )
            return 1
    os.makedirs(root, exist_ok=True)
    for name, plan in plans.items():
        path = os.path.join(root, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")
    return 0


if __name__ == "__main__":
    main()
