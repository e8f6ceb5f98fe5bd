"""Driver-layer cost pins: the engine session turns PySpark's per-call
DataFrame origin capture off, and plan builders with wide expression
lists stay cheap in Python->JVM round trips."""

from __future__ import annotations

import gc

import py4j.clientserver
from pyspark.errors.utils import is_debugging_enabled

from mapreduce_sssp_spark.operators.dedup import (
    MINHASH_K,
    minhash_signatures_from_postings,
)


def test_engine_session_turns_origin_capture_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_minhash_signature_build_round_trips(spark, monkeypatch):
    """Building the 64-wide signature plan (no action) sends a few
    hundred py4j commands, not the thousands that one Column call per
    operator costs."""
    post = spark.createDataFrame([(0, "a b c"), (1, "b c d")], "doc_id long, s string")
    send = py4j.clientserver.ClientServerConnection.send_command
    calls = 0

    def counting_send(self, command):
        nonlocal calls
        calls += 1
        return send(self, command)

    # A cyclic GC pass inside the counted region would send one py4j
    # delete per JVM object freed by earlier code; collect first and hold
    # the collector off so only this build's commands are counted.
    gc.collect()
    gc.disable()
    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counting_send
    )
    try:
        sigs = minhash_signatures_from_postings(post)
    finally:
        monkeypatch.undo()
        gc.enable()
    assert sigs.columns == ["doc_id", "sig"]
    assert calls < 500, calls
    assert len(sigs.first()["sig"]) == MINHASH_K
