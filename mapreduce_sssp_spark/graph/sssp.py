"""Single-source shortest path as a DataFrame fixpoint loop.

Re-expresses the reference's chain of MapReduce jobs
(SingleSourceSP.java:398-519: format job -> iterated relax jobs -> final
job) as one driver-side loop over DataFrames:

* the tagged A/O/U shuffle union (SingleSourceSP.java:157-192) becomes a
  LEFT-outer equi-join between the node-state DataFrame (pre-seeded with
  every node that could ever receive a message, so the state side is
  always a superset of the message targets) and the per-round
  min-aggregated message DataFrame;
* the frontier gate (``dist != 65535 && adj nonempty && flag == 'Y'``,
  SingleSourceSP.java:179) becomes a filter on the ``updated`` column —
  this delta/frontier optimization is the one algorithmic idea the
  reference hand-codes that Catalyst cannot supply, so it is kept;
* the Hadoop counter convergence test (SingleSourceSP.java:273-281,
  473-481) becomes a deterministic ``count()`` action per round;
* per-round HDFS materialization (SingleSourceSP.java:513-517) becomes
  in-memory persistence with periodic reliable checkpoints to truncate
  lineage (without which the plan grows exponentially with rounds).

The round mechanics (advance -> one count -> release -> stop at zero,
the ``max_rounds`` warning) are ``RoundState.run``, the one driver that
every materialized fixpoint loop in ``graph/`` runs on; this module's
``sssp`` supplies only the relax step.

Scale notes (100 TB / 1000 executors):

* ``edges`` is hash-partitioned by ``src`` once, sorted within
  partitions and persisted; every round's relax join then reuses that
  layout, so only the (small) frontier side shuffles each round.
* Parallel edges are pre-reduced to min weight per (src, dst) — identical
  semantics under min-relaxation, strictly fewer shuffle bytes.
* The state side NEVER re-shuffles or re-sorts (r12): state is seeded
  with every node (src ∪ dst, flagged ``has_out``) so the per-round
  state ⟕ messages join is LEFT outer — left-outer sort-merge preserves
  the left side's partitioning AND sort order, and ``checkpoint()``
  preserves both through lineage truncation, so after the one seeding
  shuffle the only per-round exchange is the aggregated message table.
  The r11 full-outer formulation reported UnknownPartitioning and
  silently re-shuffled + re-sorted the whole state every round
  (measured: plan had Exchange+Sort on the state side each round). The
  join is pinned to sort-merge (``hint("merge")``): Catalyst's size
  estimate would otherwise broadcast the per-round message table at
  test scale, which replaces the in-job exchange with a per-round
  driver-blocking broadcast-collect job (measured 2x slower end-to-end)
  and would OOM outright on a wide frontier at cluster scale.
* State is persisted per round and the previous round unpersisted; a
  reliable checkpoint every ``checkpoint_every`` rounds bounds both
  lineage depth and DAG-scheduler overhead.
* Skewed high-out-degree vertices are handled by AQE skew-join; the
  message aggregation is a partial-aggregating ``groupBy`` (map-side
  combine), so hot destination nodes do not funnel through one task.

Semantics preserved from the reference (SURVEY.md §2.8):

* unreachable nodes that have out-edges appear with the sentinel
  (65535.0 compat / NULL native); unreachable pure-sink nodes do not
  appear at all (they never receive a message and the format job never
  created a record for them);
* nodes first discovered mid-iteration count as "updated" that round,
  guaranteeing one extra round after any frontier expansion;
* non-negative weights are assumed (the reference silently mis-converges
  on negative cycles; we validate optionally rather than "fix" silently).
"""

from __future__ import annotations

import os
import tempfile
import warnings
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

SENTINEL = 65535.0  # SingleSourceSP.java:54


def loop_partitions(spark: SparkSession, df: DataFrame) -> int:
    """Data-proportional partition count for a fixpoint loop.

    The input's source-file count bounds useful parallelism: at 100 TB
    it far exceeds the cluster's cores and the cores win
    (``defaultParallelism``); at test scale it stops every stage of
    every round from launching a cluster's worth of near-empty tasks
    (measured 1.5-3x end-to-end on the graph suite at sf0.01 — per-round
    task-launch overhead dominates tiny shuffles). Floor of 4 keeps a
    single-file input from serializing the loop.

    ``inputFiles()`` is pure scan metadata — unlike
    ``df.rdd.getNumPartitions()``, it never executes query stages (which
    AQE would do for any derived plan, running the edge-derivation
    pipeline once just to learn its partition count). Local files are
    sized directly (~1 MB of COMPRESSED source per loop partition —
    parquet decompresses ~5-10x and in-loop state is row-expanded, so
    this is deliberately far finer than the 128 MB scan split size;
    measured best 8-16 partitions for the 11 MB sf0.1 edges vs 4 from
    file count); non-local URIs fall back to one partition per file,
    and any failure falls back to ``defaultParallelism``.
    """
    per_part = 1 << 20
    try:
        files = df.inputFiles()
        local = [f.removeprefix("file:") for f in files if f.startswith("file:")]
        if local and len(local) == len(files):
            total = sum(os.path.getsize(f) for f in local)
            data_parts = max(len(files), total // per_part)
        else:
            data_parts = max(len(files), 1)
    except Exception:  # noqa: BLE001 — sizing heuristic, never fatal
        data_parts = spark.sparkContext.defaultParallelism
    return int(max(4, min(spark.sparkContext.defaultParallelism, data_parts)))


class RoundState:
    """Per-round state materialization for fixpoint loops, with
    deployment-adaptive lineage truncation (r12).

    The problem it solves: a BSP loop's round-N DataFrame references the
    round-(N-1) state TWICE (once as the frontier/message source, once
    as the join's state side), so the un-truncated logical plan doubles
    every round. Caching does not truncate logical plans, and cache
    substitution does not reliably stop the physical recompilation of
    the nested copies — measured on the r12 probes as per-round action
    time growing 0.5s -> 4s between reliable checkpoints (stage count
    doubling per round) while the data stayed constant.

    Local mode: ``localCheckpoint(eager=False)`` — the round's plan
    becomes a flat LogicalRDD immediately (partitioning AND ordering
    preserved), the convergence count materializes it as the round's
    single job, and blocks are MEMORY_AND_DISK like the old persist.
    Reliable checkpoints are skipped outright: in one local JVM the
    executors die with the driver, so a reliable checkpoint to a local
    tempdir adds recovery for exactly nothing — this is a mechanism
    choice with identical guarantees per deployment, not a bench tune.
    Old rounds' blocks are dropped by the ContextCleaner as the loop
    rebinds ``state`` (they are node-table-sized).

    Cluster mode (any non-local master): the pre-r12 behavior,
    unchanged — persist per round, reliable checkpoint every
    ``checkpoint_every`` rounds, explicit unpersist of the parent after
    the child materializes — because there localCheckpoint would trade
    away executor-loss recovery, which IS worth per-round driver
    overhead at 100 TB.
    """

    def __init__(self, spark: SparkSession, checkpoint_every: int = 5):
        self.local = spark.sparkContext.master.startswith("local")
        self.every = max(int(checkpoint_every), 1)
        self._pending: DataFrame | None = None

    def init(self, df: DataFrame) -> DataFrame:
        """Pre-loop state: same truncation device, never checkpointed
        (round 1's action materializes it)."""
        if self.local:
            return df.localCheckpoint(eager=False)
        return df.persist(StorageLevel.MEMORY_AND_DISK)

    def truncate(self, df: DataFrame) -> DataFrame:
        """Plain lineage cut for intra-loop intermediates that the old
        code reliable-checkpointed unconditionally: EAGER localCheckpoint
        in local mode (one materialization into block storage while the
        parent caches are still warm, no write-twice), reliable
        checkpoint on a cluster."""
        if self.local:
            return df.localCheckpoint(eager=True)
        _ensure_checkpoint_dir(df.sparkSession)
        return df.checkpoint()

    def advance(self, df: DataFrame, rnd: int) -> DataFrame:
        """Register round ``rnd``'s state for materialization. Call
        BEFORE the round's materializing action; pair with release()
        AFTER it."""
        if self.local:
            return df.localCheckpoint(eager=False)
        cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        if rnd % self.every == 0:
            # checkpoint() materializes from the cache, then the cached
            # pre-checkpoint copy is dropped so it cannot leak rounds.
            # Dataset.checkpoint preserves outputPartitioning and
            # outputOrdering into the LogicalRDD, so a loop's layout
            # invariants survive truncation.
            _ensure_checkpoint_dir(df.sparkSession)
            out = cached.checkpoint()
            cached.unpersist()
            return out
        return cached

    def release(self, old: DataFrame | None) -> None:
        """Drop the PREVIOUS round's state once the new round is
        materialized. For localCheckpoint-backed states this is a
        catalog no-op (their blocks are ContextCleaner-managed); for
        persisted ones (cluster rounds, catalog-cached preludes) it is
        the old explicit unpersist."""
        if old is not None:
            old.unpersist()

    def run(
        self,
        loop: str,
        state: DataFrame,
        step: Callable[[DataFrame, int, int], DataFrame],
        max_rounds: int,
        pending: str | Column | None = None,
    ) -> DataFrame:
        """Drive a fixpoint loop from ``state`` and return its last state —
        the reference's relax-job chain (SingleSourceSP.java:439-519),
        written once for every materialized loop.

        Round ``rnd`` (1-based) calls ``step(state, rnd, last)`` for the
        next state, where ``last`` is the previous round's count (-1
        before the first count), registers it with advance(), runs ONE
        count, releases the parent and stops once the count is zero. The
        count is of the new state's ``pending`` rows (a semi-naive loop's
        frontier or undecided set, the reference's Y flag and Hadoop
        counter, SingleSourceSP.java:273-281) or, with ``pending=None``,
        of the whole state: a fixed-iteration loop, whose normal end is
        running out of rounds. A pending loop that runs out of
        ``max_rounds`` warns once, naming ``loop``; its last state is
        returned as is.

        * One count per round is deliberate: it both decides convergence
          AND materializes the round, so a round is one job. Letting
          rounds chain lazily (checking every K rounds) was measured to
          save nothing at K=2 and to blow up driver memory at K=3 —
          broadcast planning over the unmaterialized multi-round lineage
          loses its size bounds.
        * The parent is released only after the child's count, in every
          deployment: until that count fills the child, the child's plan
          still reads the parent, and dropping the parent first makes the
          fill replay lineage back to the last checkpoint (measured ~2x
          on the sf0.1 mis loop, which re-ran up to ``checkpoint_every``
          rounds of joins inside every count).
        * Exactly one advance() and one release() per round: traced runs
          count rounds as an advance followed by a release.
        """
        count = -1
        for rnd in range(1, max_rounds + 1):
            new = self.advance(step(state, rnd, count), rnd)
            count = (new if pending is None else new.filter(pending)).count()
            self.release(state)
            state = new
            if count == 0:
                return state
        if pending is not None:
            warnings.warn(
                f"{loop}: max_rounds={max_rounds} exhausted with {count} "
                "rows still pending; the result may not be converged",
                RuntimeWarning,
                stacklevel=3,
            )
        return state


def memo_checkpoint(df: DataFrame) -> DataFrame:
    """Eager lineage cut for the cross-query convergence memos
    (_DAG_STATE_MEMO / _LANDMARK_MEMO / _SCC_MEMO / cooc / BPE): the
    memoized frame must be materialized (consumers after
    spark.catalog.clearCache() must not replay the fixpoint) with a
    flat plan. r12: in local mode that's an eager localCheckpoint —
    RDD blocks survive clearCache exactly like checkpoint files, minus
    the reliable checkpoint's materialize-then-rewrite second pass; on
    a cluster the reliable checkpoint stays (memo blocks should
    survive executor loss there)."""
    if df.sparkSession.sparkContext.master.startswith("local"):
        return df.localCheckpoint(eager=True)
    _ensure_checkpoint_dir(df.sparkSession)
    return df.checkpoint()


@contextmanager
def static_rounds(
    spark: SparkSession,
    parts: int | None = None,
    no_broadcast: bool = False,
):
    """Disable AQE for the duration of a fixpoint loop, restoring the
    session's prior setting afterwards.

    Inside an iterative loop the per-round plan is IDENTICAL every
    round, so adaptive execution's per-stage re-planning buys nothing
    and costs a fixed re-plan latency per stage per round — measured
    1.5-2.4x end-to-end on the graph suite at sf0.01 (sssp 18.1s ->
    11.7s, wcc 16.7s -> 7.2s, sssp_dag 11.5s -> 4.8s on local[32]).
    The one AQE feature that matters mid-loop at scale — skew-join
    splitting for power-law frontiers — is a property of the graph, not
    the round; on a known-skewed graph, salt the frontier join key
    instead (the skew is the same every round, so a static salt does
    what adaptive splitting would, without the planning tax).

    With AQE off, every per-round shuffle materializes at the raw
    ``spark.sql.shuffle.partitions`` (no runtime coalescing) — a stock
    session's 200 means 200 tasks per stage per round regardless of
    frontier size. The loop therefore also clamps shuffle partitions to
    the cluster's core count for its duration: parallelism is still
    full, but per-round task-scheduling overhead stops scaling with a
    conf that was tuned for one-shot queries.

    ``no_broadcast=True`` additionally disables implicit broadcast
    joins (autoBroadcastJoinThreshold=-1) for the loop's duration —
    for loops whose joins are all co-partitioned by construction, a
    size-estimate-triggered broadcast REPLACES an in-job, exchange-free
    sort-merge join with a per-round driver-blocking broadcast-collect
    job (and at cluster scale would try to collect a frontier).
    Explicit ``F.broadcast(...)`` hints are unaffected by the
    threshold, so loops that deliberately broadcast keep working. Each
    loop that sets it was A/B'd (r13, min-of-3 alternating at sf0.1).

    Open the scope BEFORE the loop's caches are registered: cached
    plans compile their exchanges with the conf in force at persist()
    time and are exempt from AQE coalescing, so caches registered
    outside it materialize through the session's stock partition count.

    The conf flips are session-visible for the loop's duration; queries
    are executed sequentially by every harness this engine targets.
    """
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions", "200")
    prev_bcast = spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold", "10485760"
    )
    n = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        clamp = min(int(prev_parts), parts if parts else max(n, 4))
    except ValueError:
        # Some deployments set a non-numeric value (e.g. "auto"); skip
        # the clamp rather than crash before the loop starts.
        clamp = parts
    if clamp is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(clamp))
    if no_broadcast:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if no_broadcast:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", prev_bcast
            )


def _ensure_checkpoint_dir(spark: SparkSession) -> None:
    """Make reliable checkpoints work on ANY session, not just ours.

    Called by the three places that take a reliable checkpoint
    (RoundState.truncate, RoundState.advance and memo_checkpoint, cluster
    branches only): a harness may call queries() with its own
    SparkSession, which has no checkpoint dir configured. On a cluster,
    point SPARK_GRAFT_CKPT_DIR at shared storage (HDFS/S3) — executors
    must be able to write it; the tempdir fallback is correct only in
    local mode, where driver and executors share a filesystem.
    """
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        ckpt = os.environ.get("SPARK_GRAFT_CKPT_DIR") or tempfile.mkdtemp(
            prefix="spark-graft-ckpt-"
        )
        sc.setCheckpointDir(ckpt)


def sssp(
    edges: DataFrame,
    source: int,
    *,
    native_nulls: bool = False,
    checkpoint_every: int = 5,
    max_rounds: int = 500,
    validate_weights: bool = False,
) -> DataFrame:
    """Converged shortest-path distances from ``source``.

    Parameters
    ----------
    edges: DataFrame with columns (src, dst, weight). Duplicate edges and
        self-loops are tolerated (min-relaxation).
    source: source node id (SingleSourceSP's ``queryNode``).
    native_nulls: if True, unreachable nodes carry NULL instead of the
        reference's 65535.0 sentinel.
    checkpoint_every: reliable-checkpoint cadence in rounds.

    Returns (source BIGINT, node BIGINT, dist DOUBLE) — one row per node
    with out-edges plus every reachable node (FIXTURES.md B3).
    """
    spark = edges.sparkSession
    n_part = loop_partitions(spark, edges)

    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("weight").cast("double").alias("weight"),
    )
    if validate_weights:
        neg = e.filter(F.col("weight") < 0).limit(1).count()
        if neg:
            raise ValueError("sssp requires non-negative edge weights")

    rounds_state = RoundState(spark, checkpoint_every)
    with static_rounds(spark, parts=n_part, no_broadcast=True):
        # Min-combine parallel edges, then fix the partitioning on src
        # (sorted within partitions, so per-round sort-merge relax joins
        # never re-sort the edge side) — the per-round relax join reuses
        # this layout and only the frontier side moves. With broadcasts
        # off in-loop, the frontier x edges relax join is a
        # co-partitioned, co-sorted SMJ: no exchange, no sort, no
        # per-round broadcast-build job on EITHER side.
        e = (
            e.groupBy("src", "dst")
            .agg(F.min("weight").alias("weight"))
            .repartition(n_part, "src")
            .sortWithinPartitions("src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

        # Format job (SingleSourceSP.java:56-129): one state record per
        # node — every src AND every dst (r12: dst nodes are pre-seeded
        # with has_out=false instead of being discovered by the
        # full-outer join mid-loop, which is what lets every round's
        # state join be LEFT outer and the state side keep its
        # partitioning + sort order for the whole loop). Source seeded
        # to 0.0, everything else "infinity" (NULL) — then pre-relaxed
        # one hop: the source's out-edges are folded in at init, which
        # is exactly round 1's relaxation, so the loop starts one round
        # ahead. Non-negative weights mean the source itself can never
        # improve, so only its neighbors start "updated". Reference
        # output semantics (B3: unreachable pure sinks absent) are
        # restored by the final has_out/dist filter.
        nodes = (
            e.select(F.col("src").alias("node"), F.lit(True).alias("has_out"))
            .unionByName(
                e.select(
                    F.col("dst").alias("node"), F.lit(False).alias("has_out")
                )
            )
            .groupBy("node")
            .agg(F.max("has_out").alias("has_out"))
        )
        hop1 = e.filter(F.col("src") == source).select(
            F.col("dst").alias("node"), F.col("weight").alias("cand")
        )
        state = rounds_state.init(
            nodes.join(hop1, "node", "left").select(
                "node",
                "has_out",
                F.least(
                    F.when(F.col("node") == source, F.lit(0.0)), "cand"
                ).alias("dist"),
                ((F.col("node") != source) & F.col("cand").isNotNull()).alias(
                    "updated"
                ),
            )
        )

        def relax(state: DataFrame, *_) -> DataFrame:
            # Frontier: only nodes whose distance changed last round emit
            # relaxations (SingleSourceSP.java:179).
            frontier = state.filter(
                F.col("updated") & F.col("dist").isNotNull()
            ).select(F.col("node").alias("f_node"), F.col("dist").alias("f_dist"))
            msgs = frontier.join(e, frontier["f_node"] == e["src"]).select(
                F.col("dst").alias("node"),
                (F.col("f_dist") + F.col("weight")).alias("cand"),
            )
            # Min relaxation with map-side partial aggregation
            # (SingleSourceSP.java:214-250).
            cand = msgs.groupBy("node").agg(F.min("cand").alias("cand"))

            # Tagged-union reduce-side join (SingleSourceSP.java:205-293),
            # LEFT outer: state is a superset of the message targets by
            # construction, so nothing is discovered join-side, and the
            # state side's partitioning + sort order survive the round
            # (see module docstring; broadcasts are off in-loop so the
            # message side is never broadcast-collected per round).
            return state.join(cand, "node", "left").select(
                "node",
                "has_out",
                F.least("dist", "cand").alias("dist"),
                # NULL-safe inequality: newly-discovered nodes (old
                # NULL) count as updated, SingleSourceSP.java:273-281.
                (~F.least("dist", "cand").eqNullSafe(F.col("dist"))).alias(
                    "updated"
                ),
            )

        state = rounds_state.run("sssp", state, relax, max_rounds, "updated")
    # The per-round count() actions materialized the final state in cache
    # (or checkpoint); the edge cache is no longer needed.
    e.unpersist()

    # Final job (SingleSourceSP.java:285-288,484-508): project
    # (source, node, dist); sentinel for unreachable in compat mode.
    # Pre-seeded pure-sink nodes that never received a message carry
    # dist NULL and has_out false — exactly the rows the reference never
    # creates (B3), dropped here.
    dist_col = (
        F.col("dist") if native_nulls else F.coalesce("dist", F.lit(SENTINEL))
    )
    out = state.filter(F.col("has_out") | F.col("dist").isNotNull()).select(
        F.lit(int(source)).cast("long").alias("source"),
        "node",
        dist_col.alias("dist"),
    )
    return out
