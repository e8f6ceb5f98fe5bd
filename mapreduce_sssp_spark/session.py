"""SparkSession factory tuned for the driver's local[N] harness while
keeping every knob cluster-appropriate (AQE, shuffle partitions, Arrow).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mapreduce-sssp-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local mode is a test harness only; the configs below are the ones that
    also matter on a real cluster: AQE for runtime re-planning (skew joins,
    partition coalescing), Arrow for any Pandas-UDF path, UTC session TZ
    for deterministic timestamp semantics.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Honored only when THIS process launches the JVM (pyspark's
        # gateway passes it to spark-submit): bench/tests/tools get a real
        # heap instead of the 1g default, which measurably GC-throttled
        # the bench suite. A no-op on sessions whose JVM already exists
        # (e.g. the external driver harness) — harmless there.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark's DataFrame origin capture wraps every F.* function and
        # Column operator: each call reads a conf and a JVM class over
        # py4j, walks the Python stack and sets then clears the JVM's
        # PySparkCurrentOrigin, all to put the Python call site into
        # DataFrame error context. Turning it off takes an sf0.01 sssp
        # call from ~3.4k py4j commands to ~1.4k, with no plan change.
        # PySpark reads the setting once per process (at the first Column
        # call, from the active session), so only the session builder can
        # set it; the engine never flips it on sessions it did not build.
        # For debugging, extra_conf={
        # "spark.python.sql.dataFrameDebugging.enabled": "true"} turns it
        # back on (extra_conf wins over this default).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Reliable checkpoints truncate lineage in the fixpoint loops
    # (SURVEY.md §4: the one genuinely manual physical concern). On a real
    # cluster SPARK_GRAFT_CKPT_DIR must point at shared storage (HDFS/S3);
    # the local tempdir fallback is valid only in local mode. The
    # reliable-checkpoint branches of graph.sssp (RoundState.truncate,
    # RoundState.advance, memo_checkpoint) also self-provision via
    # _ensure_checkpoint_dir, so the engine works on sessions it did not
    # create.
    if not spark.sparkContext.getCheckpointDir():
        spark.sparkContext.setCheckpointDir(
            os.environ.get("SPARK_GRAFT_CKPT_DIR")
            or tempfile.mkdtemp(prefix="spark-graft-ckpt-")
        )
    return spark
