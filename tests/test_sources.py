"""Unit tests for the events timestamp normalization and resilient
table registration (io/sources.py)."""

from __future__ import annotations

import datetime
import os
import sys
import threading
import types

import pytest

from pyspark.sql import functions as F

from mapreduce_sssp_spark.io import sources
from mapreduce_sssp_spark.io.sources import (
    load_events,
    normalize_event_ts,
    register_tables,
)
from mapreduce_sssp_spark.runstate import RunCache

SF = "/root/testdata/sf0.001"


def test_normalize_ntz_passthrough(spark):
    df = spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-03-01 12:34:56.789012' AS ts"
    )
    out = normalize_event_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp_ntz"
    assert out.collect()[0]["ts"] == datetime.datetime(2024, 3, 1, 12, 34, 56, 789012)


def test_normalize_bigint_nanos_floor_divides_to_micros(spark):
    # 2024-03-01 12:34:56.789012345 as epoch NANOS: the legacy
    # TIMESTAMP(NANOS)-as-long path must floor (not round) to micros.
    base = datetime.datetime(
        2024, 3, 1, 12, 34, 56, tzinfo=datetime.timezone.utc
    )
    ns = int(base.timestamp()) * 1_000_000_000 + 789_012_345
    df = spark.createDataFrame([(ns,)], "ts long")
    out = normalize_event_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp_ntz"
    got = out.collect()[0]["ts"]
    assert got == datetime.datetime(2024, 3, 1, 12, 34, 56, 789012)


def test_normalize_as_timestamp_for_watermarks(spark):
    df = spark.sql("SELECT TIMESTAMP_NTZ '2024-03-01 00:00:00' AS ts")
    out = normalize_event_ts(df, as_ntz=False)
    assert dict(out.dtypes)["ts"] == "timestamp"


def test_normalize_rejects_unsupported_dtype(spark):
    df = spark.createDataFrame([("oops",)], "ts string")
    with pytest.raises(TypeError, match="unsupported dtype"):
        normalize_event_ts(df)


def test_load_events_yields_ntz_and_rows(spark):
    ev = load_events(spark, SF)
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    assert ev.count() > 0


def test_register_tables_isolates_bad_table(spark, tmp_path):
    """One missing table must not prevent the healthy tables from
    registering (the failure surfaces only when the bad table is
    actually queried)."""
    # A directory with only a couple of the expected parquet files.
    import shutil

    shutil.copy(f"{SF}/nation.parquet", tmp_path / "nation.parquet")
    shutil.copy(f"{SF}/region.parquet", tmp_path / "region.parquet")
    with pytest.warns(RuntimeWarning, match="skipped"):
        register_tables(spark, str(tmp_path))
    assert spark.sql("SELECT count(*) FROM nation").collect()[0][0] > 0
    assert spark.sql("SELECT count(*) FROM region").collect()[0][0] > 0
    # Re-register the real dir so later tests see full tables.
    register_tables(spark, SF)


def test_register_tables_drops_stale_view_on_failure(spark, tmp_path):
    """A failed re-registration must not leave the PREVIOUS sf_dir's view
    serving wrong-scale data: the stale view is dropped so queries fail
    at name resolution instead."""
    import shutil

    register_tables(spark, SF)  # healthy baseline: all views present
    shutil.copy(f"{SF}/nation.parquet", tmp_path / "nation.parquet")
    with pytest.warns(RuntimeWarning, match="skipped 'region'"):
        register_tables(spark, str(tmp_path))
    # nation re-registered from the new dir; region's stale view is gone.
    assert spark.sql("SELECT count(*) FROM nation").collect()[0][0] > 0
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|region"):
        spark.sql("SELECT count(*) FROM region").collect()
    register_tables(spark, SF)


def test_unstatable_table_is_read_fresh_not_memoized(spark, monkeypatch):
    """A path os.stat cannot see (remote storage) has no mtime to
    invalidate a memo entry by: every call reads fresh and the scan
    memo does not grow."""

    def no_stat(path):
        raise OSError(f"cannot stat {path}")

    monkeypatch.setattr(
        sources, "os", types.SimpleNamespace(stat=no_stat, path=os.path)
    )
    before = len(sources._SCAN_MEMO._d)
    a = sources.load_table(spark, SF, "nation")
    b = sources.load_table(spark, SF, "nation")
    assert a is not b
    want = sorted(spark.read.parquet(f"{SF}/nation.parquet").collect())
    assert sorted(a.collect()) == sorted(b.collect()) == want
    assert len(want) == 25
    assert len(sources._SCAN_MEMO._d) == before


def test_run_cache_evicts_oldest_at_cap():
    memo = RunCache(cap=2)
    for key in ("a", "b", "c"):
        memo.put(key, key.upper())
    assert len(memo._d) == 2
    assert memo.get("a") is None
    assert (memo.get("b"), memo.get("c")) == ("B", "C")


def test_run_cache_concurrent_puts_stay_bounded():
    """Concurrent puts into a full memo: no eviction races (a lost
    update raises KeyError in a thread) and the cap holds."""
    memo = RunCache(cap=4)
    errors: list[BaseException] = []

    def worker(t: int) -> None:
        try:
            for i in range(2000):
                memo.put((t, i), i)
                memo.get((t, i - 1))
        except BaseException as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(t,))
            for t in range(2 * (os.cpu_count() or 4))
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(memo._d) <= 4
