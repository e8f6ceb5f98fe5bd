"""The 100 TB recovery story depends on RoundState / memo_checkpoint
taking the RELIABLE-checkpoint branch on a cluster master (r12 made the
local branch localCheckpoint-only; VERDICT r12 item 9 asks for a pin so
the cluster branch cannot silently rot). Pure unit tests — the master
string is mocked, no Spark session is started."""

from __future__ import annotations

from mapreduce_sssp_spark.graph.sssp import RoundState, memo_checkpoint


class FakeContext:
    def __init__(self, master: str):
        self.master = master
        self.checkpoint_dir: str | None = None

    def getCheckpointDir(self):
        return self.checkpoint_dir

    def setCheckpointDir(self, path: str):
        self.checkpoint_dir = path


class FakeDF:
    def __init__(self, master: str):
        self.calls: list[str] = []
        self.sparkSession = type("S", (), {"sparkContext": FakeContext(master)})()

    def persist(self, *_a):
        self.calls.append("persist")
        return self

    def unpersist(self, *_a):
        self.calls.append("unpersist")
        return self

    def checkpoint(self, *_a):
        self.calls.append("checkpoint")
        return self

    def localCheckpoint(self, eager=True):
        self.calls.append(f"localCheckpoint(eager={eager})")
        return self


class FakeSpark:
    def __init__(self, master: str):
        self.sparkContext = type("C", (), {"master": master})()


def test_cluster_branch_uses_reliable_checkpoints():
    rs = RoundState(FakeSpark("spark://host:7077"), checkpoint_every=2)
    df = FakeDF("spark://host:7077")
    assert rs.init(df) is df and df.calls == ["persist"]

    df2 = FakeDF("spark://host:7077")
    rs.truncate(df2)
    assert df2.calls == ["checkpoint"]

    # advance: persist each round, reliable checkpoint on the cadence
    # (materialize from cache, then drop the pre-checkpoint copy).
    df3 = FakeDF("spark://host:7077")
    rs.advance(df3, rnd=1)
    assert df3.calls == ["persist"]
    df4 = FakeDF("spark://host:7077")
    rs.advance(df4, rnd=2)
    assert df4.calls == ["persist", "checkpoint", "unpersist"]


def test_local_branch_uses_local_checkpoints():
    rs = RoundState(FakeSpark("local[4]"), checkpoint_every=2)
    df = FakeDF("local[4]")
    rs.init(df)
    assert df.calls == ["localCheckpoint(eager=False)"]
    df2 = FakeDF("local[4]")
    rs.truncate(df2)
    assert df2.calls == ["localCheckpoint(eager=True)"]
    df3 = FakeDF("local[4]")
    rs.advance(df3, rnd=2)
    assert df3.calls == ["localCheckpoint(eager=False)"]


def test_memo_checkpoint_branches_on_master():
    local = FakeDF("local[*]")
    memo_checkpoint(local)
    assert local.calls == ["localCheckpoint(eager=True)"]
    cluster = FakeDF("k8s://https://api:6443")
    memo_checkpoint(cluster)
    assert cluster.calls == ["checkpoint"]


def test_cluster_branches_provision_a_checkpoint_dir(monkeypatch):
    """Every reliable checkpoint works on a session without a checkpoint
    dir: the cluster branches set one before checkpointing; the local
    branches never do."""
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DIR", "hdfs:///ckpt")
    rs = RoundState(FakeSpark("spark://host:7077"), checkpoint_every=2)
    for checkpoint in (
        rs.truncate,
        lambda df: rs.advance(df, rnd=2),
        memo_checkpoint,
    ):
        df = FakeDF("spark://host:7077")
        checkpoint(df)
        assert df.sparkSession.sparkContext.getCheckpointDir() == "hdfs:///ckpt"
    df = FakeDF("spark://host:7077")
    rs.advance(df, rnd=1)  # persist only: no checkpoint, no dir
    assert df.sparkSession.sparkContext.getCheckpointDir() is None
    local = RoundState(FakeSpark("local[4]"), checkpoint_every=2)
    df = FakeDF("local[4]")
    local.advance(df, rnd=2)
    local.truncate(df)
    memo_checkpoint(df)
    assert df.sparkSession.sparkContext.getCheckpointDir() is None
