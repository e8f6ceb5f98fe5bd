"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tpch_sql --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process runs one call at a
time on ``local[nproc]`` (a closed loop with one client). Setup
generates the inputs, starts the session, imports the registry and runs
one untimed warm-up pass over the workload's calls. Then whole passes
are timed until ``--seconds`` have elapsed, at least two.
Outputs of the last pass are checked after the timed region. Registry
memos and Spark's cache are cleared before every call; the scan memo of
``load_table`` stays warm, as in a user's session.

With ``--trace 1`` the run times an untraced pass, a traced pass and
another untraced pass, and reports per-layer metrics of the traced
pass; the tracing overhead is the traced pass minus the mean of the
untraced ones. The spans are written to ``.perfbench_out/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before
it records the environment, the input sizes and the tail percentile.
The exit code is 0 only if every output was correct.
"""

from __future__ import annotations

import argparse
import dataclasses
import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import inputs, metrics, probes, trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# Input generation is the one set-up step that can be repeated in a run
# (a second session start needs a second JVM); setup_s counts its median.
INPUT_GEN_REPEATS = 3
# Timed passes per run, at least. On a 4-core host the pass after the
# warm-up still ran slower than later ones and single passes varied by
# 10-20 % from host noise alone; the median of two halves the second.
MIN_PASSES = 2
OPERATOR_MODULES = ("relational", "dedup", "similarity", "text_analysis",
                    "pipeline", "sampling")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="override the workload's table scale (tests use 0.001)")
    return p.parse_args(argv)


def pin_environment(work: Path) -> dict:
    """Private scratch space inside ``work`` for everything Spark and
    the engine write, and a driver heap that fits the host."""
    for d in ("tmp", "spark-local", "ckpt", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    ram = probes.mem_total_bytes()
    # enough for the sf0.01 inputs; the engine's own default is 32 GiB
    heap_mb = max(1024, min(2048, ram // 4 >> 20))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_CKPT_DIR": str(work / "ckpt"),
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    tempfile.tempdir = str(work / "tmp")
    os.chdir(work)
    return {"nproc": cpus, "ram_bytes": ram, "driver_heap_mb": heap_mb}


def spark_conf(work: Path, heap_mb: int) -> dict:
    tmp = work / "tmp"
    # A fixed, pre-touched heap: left to grow, the heap's resident size
    # followed GC timing and peak RSS spread 31 % between runs.
    return {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            f" -Xms{heap_mb}m -XX:+AlwaysPreTouch"
            " -XX:-UsePerfData",  # no hsperfdata file under /tmp
    }


@dataclasses.dataclass
class Pass:
    lat: list  # seconds per call
    outs: list  # (columns, rows) per call, or None if it raised
    errs: list  # None, or the exception text per call
    groups: list  # {phase: job group} per call (traced passes only)
    cpu_s: float  # CPU of the whole process tree
    pyworker_cpu_s: float

    @property
    def wall(self) -> float:
        return sum(self.lat)


class Runner:
    """Runs passes over a workload's calls, one call at a time."""

    def __init__(self, spark, calls):
        from mapreduce_sssp_spark.operators.graph_queries import (
            clear_convergence_memo,
        )
        from mapreduce_sssp_spark.operators.text_analysis import clear_bpe_memo

        self.spark = spark
        self.calls = calls
        self._clears = (clear_convergence_memo, clear_bpe_memo,
                        spark.catalog.clearCache)

    def clear(self) -> None:
        for f in self._clears:
            f()

    def run_pass(self, tracer: trace.Tracer | None = None) -> Pass:
        """One pass. Memo clearing sits outside each call's timing. With
        a tracer, every call and phase gets a span and each phase its own
        Spark job group."""
        sc = self.spark.sparkContext
        p = Pass([], [], [], [], 0.0, 0.0)
        cpu0 = probes.tree_cpu_seconds()
        pyw0 = probes.cpu_seconds(probes.process_tree()["pyworker"])
        for i, call in enumerate(self.calls):
            self.clear()
            groups = {}
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    df = call.build()
                    df._jdf.queryExecution().executedPlan()
                    rows = df.collect()
                else:
                    tracer.call = i
                    with tracer.span("call", query=call.name, layer=call.layer):
                        for phase in ("build", "plan", "exec"):
                            groups[phase] = f"perfbench-{os.getpid()}-{i}-{phase}"
                            sc.setJobGroup(groups[phase], call.name)
                            with tracer.span(f"query.{phase}"):
                                if phase == "build":
                                    df = call.build()
                                elif phase == "plan":
                                    df._jdf.queryExecution().executedPlan()
                                else:
                                    rows = df.collect()
                p.lat.append(time.perf_counter() - t0)
                p.outs.append((list(df.columns), [tuple(r) for r in rows]))
                p.errs.append(None)
            except Exception as exc:  # noqa: BLE001 — a failed call is counted
                p.lat.append(time.perf_counter() - t0)
                p.outs.append(None)
                first = str(exc).splitlines()[0][:300] if str(exc) else ""
                p.errs.append(f"{type(exc).__name__}: {first}")
            finally:
                if tracer is not None:
                    tracer.call = None
                    sc._jsc.clearJobGroup()
            p.groups.append(groups)
        p.cpu_s = probes.tree_cpu_seconds() - cpu0
        p.pyworker_cpu_s = (
            probes.cpu_seconds(probes.process_tree()["pyworker"]) - pyw0
        )
        self.clear()
        return p


def bind_layers(tracer: trace.Tracer) -> None:
    # graph/__init__.py re-exports functions under the submodules' names
    sssp = importlib.import_module("mapreduce_sssp_spark.graph.sssp")
    wcc = importlib.import_module("mapreduce_sssp_spark.graph.wcc")
    reverse = importlib.import_module("mapreduce_sssp_spark.graph.reverse")
    sources = importlib.import_module("mapreduce_sssp_spark.io.sources")

    tracer.bind(sources.load_table, "io.sources.load_table",
                probe=lambda: len(sources._SCAN_MEMO._d))
    tracer.bind(sssp.sssp, "graph.sssp")
    tracer.bind(wcc.wcc, "graph.wcc")
    tracer.bind(reverse.reverse_graph, "graph.reverse_graph")
    tracer.bind(sssp.RoundState.advance, "round.advance")
    tracer.bind(sssp.RoundState.release, "round.release")


def layer_metrics(spark, tracer: trace.Tracer, calls, p: Pass, cpus: int,
                  epoch_offset: float) -> dict:
    """Per-layer metrics of one traced pass."""
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    m = {}
    for phase in ("build", "plan", "exec"):
        m[f"query.{phase}_s"] = sum(s.dur for s in spans if s.name == f"query.{phase}")
    lt = [s for s in spans if s.name == "io.sources.load_table"]
    m["io.sources.load_table.calls"] = len(lt)
    m["io.sources.load_table.misses"] = sum(1 for s in lt if s.attrs["delta"] > 0)
    m["io.sources.load_table_s"] = sum(s.dur for s in lt)

    def loop_of(s):
        while s.parent is not None:
            s = by_id[s.parent]
            if s.name in ("graph.sssp", "graph.wcc"):
                return s
        return None

    # A round runs from RoundState.advance to the release that follows it.
    rounds: dict[int, list] = {}
    opened: dict[int, float] = {}
    for s in spans:
        loop = loop_of(s) if s.name.startswith("round.") else None
        if loop is None:
            continue
        if s.name == "round.advance":
            opened[loop.id] = s.start
        elif loop.id in opened:
            rounds.setdefault(loop.id, []).append(s.end - opened.pop(loop.id))
    for key in ("sssp", "wcc", "reverse_graph"):
        name = f"graph.{key}"
        # A call into the layer counts whole, since its DataFrame is the
        # layer's work; a nested use (wcc inside dedup) counts its span.
        own = sum(lat for lat, c in zip(p.lat, calls) if c.layer == name)
        nested = sum(s.dur for s in spans if s.name == name
                     and calls[s.call].layer != name)
        m[f"{name}_s"] = own + nested
        if key == "reverse_graph":
            continue
        per = [rounds.get(s.id, []) for s in spans if s.name == name]
        m[f"graph.{key}.rounds"] = sum(len(r) for r in per)
        m[f"graph.{key}.round_p50_s"] = metrics.median(x for r in per for x in r)
        if key == "sssp":
            m["graph.sssp.first_round_s"] = metrics.median(r[0] for r in per if r)
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}_s"] = sum(
            lat for lat, c in zip(p.lat, calls) if c.layer == f"operators.{mod}"
        )

    probes.drain_listener(spark)
    jobs, stages = 0, []
    for groups in p.groups:
        for group in groups.values():
            n, st = probes.group_stages(spark, group)
            jobs += n
            stages += st
    intervals = [(st.submitted - epoch_offset, st.completed - epoch_offset)
                 for st in stages]
    busy = sum(trace.covered(intervals, s.start, s.end)
               for s in spans if s.name == "call")
    run_s = sum(st.run_s for st in stages)
    selfs = tracer.self_times()
    m.update({
        "spark.jobs": jobs,
        "spark.stages": len(stages),
        "spark.tasks": sum(st.tasks for st in stages),
        "spark.driver_gap_s": p.wall - busy,
        "spark.shuffle_read_bytes": sum(st.shuffle_read for st in stages),
        "spark.shuffle_write_bytes": sum(st.shuffle_write for st in stages),
        "spark.spill_bytes": sum(st.spill for st in stages),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(st.cpu_s for st in stages),
        "spark.core_util": run_s / (p.wall * cpus) if p.wall else 0.0,
        "pyworker.cpu_s": p.pyworker_cpu_s,
        "trace.self_time_s": sum(selfs[s.id] for s in spans if s.call is not None),
    })
    return m


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until both have ended."""
    from pyspark import SparkContext

    workers = probes.process_tree()["pyworker"]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{w}") for w in workers):
        time.sleep(0.1)


def versions(spark) -> dict:
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "jdk": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def check(calls, p: Pass) -> dict:
    failures = {}
    for call, out, err in zip(calls, p.outs, p.errs):
        if err is None:
            err = call.check(*out)
        if err is not None:
            failures[call.name] = err
    return failures


def run(args, work: Path) -> tuple[dict, dict]:
    t_setup = time.perf_counter()
    wl = WORKLOADS[args.workload]
    if args.sf is not None:
        wl = dataclasses.replace(wl, sf=args.sf)
    env = pin_environment(work)
    data_dir = str(work / "data")
    layer: dict = {}

    gen = []
    for _ in range(INPUT_GEN_REPEATS):
        t = time.perf_counter()
        sizes = inputs.write_tables(data_dir, wl.sf)
        gen.append(time.perf_counter() - t)
    layer["setup.input_gen_s"] = metrics.median(gen)

    t = time.perf_counter()
    from mapreduce_sssp_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{wl.name}",
                      extra_conf=spark_conf(work, env["driver_heap_mb"]))
    try:
        layer["session.get_spark_s"] = time.perf_counter() - t
        t = time.perf_counter()
        from mapreduce_sssp_spark import queries_registry  # noqa: F401

        layer["queries_registry.import_s"] = time.perf_counter() - t

        t = time.perf_counter()
        calls = wl.calls(spark, data_dir, args.seed)
        if wl.registry:
            from mapreduce_sssp_spark.io.sources import register_tables

            register_tables(spark, data_dir)  # warms the scan memo
        runner = Runner(spark, calls)
        runner.run_pass()  # warm-up: JIT, codegen cache, Python workers
        layer["setup.warmup_s"] = time.perf_counter() - t
        # input generation ran several times; setup counts its median once
        setup_s = time.perf_counter() - t_setup - sum(gen) + layer["setup.input_gen_s"]

        passes = []
        t_end = time.perf_counter() + args.seconds
        while len(passes) < (1 if args.trace else MIN_PASSES) or (
            not args.trace and time.perf_counter() < t_end
        ):
            passes.append(runner.run_pass())
        tree = probes.process_tree()
        rss = probes.peak_rss_mb(tree["driver"] + tree["jvm"])

        t = time.perf_counter()
        failures = check(calls, passes[-1])
        check_s = time.perf_counter() - t
        # A call's latency is its median over the timed passes. Pooling
        # raw samples instead mixed the slower first timed pass with the
        # next, and the pooled median of five graph calls jumped between
        # call kinds: 18-30 % spread between runs.
        lat = [metrics.median(p.lat[i] for p in passes) for i in range(len(calls))]
        tail_s, tail_pct, beyond = metrics.tail(lat)
        values = {
            "setup_s": setup_s,
            "workload_s": metrics.median(p.wall for p in passes),
            "query_p50_s": metrics.median(lat),
            "query_tail_s": tail_s,
            "cpu_s": metrics.median(p.cpu_s for p in passes),
            "peak_rss_mb": rss,
            "ok_frac": 1.0 - len(failures) / len(calls),
        }
        details = {
            "workload": wl.name,
            "seed": args.seed,
            "env": {**env, **versions(spark)},
            "input_sizes": sizes,
            "sssp_sources": wl.source_nodes(),
            "calls": [c.name for c in calls],
            "pass_s": [p.wall for p in passes],
            "call_s": {c.name: [p.lat[i] for p in passes] for i, c in enumerate(calls)},
            "query_tail": {"percentile": tail_pct, "samples": len(lat),
                           "beyond": beyond},
            "check_s": check_s,
        }
        if args.trace:
            values = traced_run(spark, runner, calls, env["nproc"], layer,
                                passes[0], failures, details)
            # The traced round count must equal the loop's own, computed
            # by replaying the frontier loop on the same edges.
            details["sssp_rounds_reference"] = sum(
                c.rounds() for c in calls if c.rounds
            )
        details["setup_layers"] = {
            k: layer[k] for k in metrics.PER_LAYER
            if k.startswith(("setup.", "session.", "queries_registry."))
        }
        details["failures"] = failures
    finally:
        stop_spark(spark)

    units = {**metrics.END_TO_END, **metrics.PER_LAYER}
    rounds_ok = (not args.trace or details["sssp_rounds_reference"]
                 == values["graph.sssp.rounds"])
    if args.trace:
        details["sssp_rounds_match"] = rounds_ok
    result = {
        "correct": not failures and rounds_ok,
        "attempted": len(calls),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in values.items()},
    }
    return result, details


def traced_run(spark, runner, calls, cpus, layer, before: Pass, failures,
               details) -> dict:
    """Traced pass between two untraced ones; returns per-layer metrics."""
    tracer = trace.Tracer()
    epoch_offset = time.time() - time.perf_counter()
    bind_layers(tracer)
    try:
        traced = runner.run_pass(tracer)
    finally:
        tracer.unbind_all()
    after = runner.run_pass()
    for call, err in zip(calls, traced.errs):
        if err is not None:
            failures.setdefault(call.name, f"traced pass: {err}")
    layer.update(layer_metrics(spark, tracer, calls, traced, cpus, epoch_offset))
    layer["trace.overhead_s"] = traced.wall - (before.wall + after.wall) / 2
    details["traced_pass_s"] = traced.wall
    details["untraced_pass_s"] = [before.wall, after.wall]

    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    path = out_dir / f"trace-{details['workload']}-seed{details['seed']}.json"
    origin = tracer.spans[0].start if tracer.spans else 0.0
    path.write_text(json.dumps({
        "workload": details["workload"],
        "seed": details["seed"],
        "calls": [c.name for c in calls],
        "spans": tracer.to_records(origin),
    }))
    details["trace_file"] = str(path.relative_to(ROOT))
    return {k: layer[k] for k in metrics.PER_LAYER}


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / "mapreduce_sssp_spark").is_dir():
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    try:
        result, details = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        if work.parent.is_dir() and not any(work.parent.iterdir()):
            work.parent.rmdir()
    print(json.dumps({"perfbench": details}), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
