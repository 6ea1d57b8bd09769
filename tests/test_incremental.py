"""Watermark controller, run ledger, and reconciliation unit tests
(SURVEY §2.8 ST1-ST9)."""

from __future__ import annotations

import datetime as dt
import os
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest

from open_crime_etl_pipeline_spark.incremental import (
    RunLedger,
    decide_mode,
    incremental_window,
    missing_load_dates,
    read_watermark,
    reconcile_replicas,
)
from open_crime_etl_pipeline_spark.incremental import ledger as ledger_mod
from open_crime_etl_pipeline_spark.incremental.watermark import (
    FULL_LOAD_EPOCH,
    month_windows,
)
from open_crime_etl_pipeline_spark.schemas import LOGS_SCHEMA


def test_watermark_null_on_empty(spark):
    df = spark.createDataFrame([], "ts timestamp")
    assert read_watermark(df, "ts") is None
    assert decide_mode(None) == "FULL"


def test_watermark_reads_max(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2025, 3, 1, 10),), (dt.datetime(2025, 3, 5, 8),)], "ts timestamp"
    )
    wm = read_watermark(df, "ts")
    assert wm == dt.datetime(2025, 3, 5, 8)
    assert decide_mode(wm) == "INCREMENT"


def test_incremental_window_midnight_overlap():
    wm = dt.datetime(2025, 3, 5, 8, 30)
    now = dt.datetime(2025, 3, 10)
    start, end = incremental_window(wm, now)
    assert start == dt.datetime(2025, 3, 5, 0, 0)  # midnight of watermark day (ST4)
    assert end == now


def test_full_window_from_epoch():
    now = dt.datetime(2025, 6, 1)
    start, end = incremental_window(None, now)
    assert start == FULL_LOAD_EPOCH
    assert end == now


def test_month_windows_clamped():
    # month-SIZED windows from the start (reference helper.py:41-65
    # relativedelta semantics), last window clamped to end
    wins = month_windows(dt.datetime(2025, 1, 15), dt.datetime(2025, 3, 10))
    assert wins == [
        (dt.datetime(2025, 1, 15), dt.datetime(2025, 2, 15)),
        (dt.datetime(2025, 2, 15), dt.datetime(2025, 3, 10)),
    ]


def test_month_windows_day_overflow():
    # Jan 31 + 1 month clamps to Feb 28 (relativedelta semantics)
    wins = month_windows(dt.datetime(2025, 1, 31), dt.datetime(2025, 3, 15))
    assert wins[0][1] == dt.datetime(2025, 2, 28)


def test_ledger_lifecycle(spark, tmp_path):
    ledger = RunLedger(spark, str(tmp_path / "logs"))
    d = dt.date(2025, 3, 5)
    run_id = ledger.start_run(d, mode="INCREMENT")
    assert ledger.last_successful_load_date() == d  # RUNNING counts (A2 semantics)
    ledger.finish_run(run_id, d, "SUCCESS")
    rows = ledger.read().collect()
    assert len(rows) == 1
    assert rows[0].status == "SUCCESS"
    assert rows[0].end_time is not None
    assert [r.load_date for r in ledger.successful_load_dates().collect()] == [d]
    # Ledger timestamps are tz-consistent UTC instants: with the session
    # timezone pinned to UTC, the collected (naive, session-tz) values
    # must agree with a tz-aware UTC clock, and end >= start.
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    assert abs((now - rows[0].start_time).total_seconds()) < 300
    assert rows[0].end_time >= rows[0].start_time


def test_ledger_writes_run_no_spark_jobs(spark, tmp_path):
    # The ledger is driver-written: a start/finish pair must not submit a
    # single Spark job (the old read-modify-write ran 4 per pair).
    ledger = RunLedger(spark, str(tmp_path / "logs"))
    d = dt.date(2025, 3, 5)
    sc = spark.sparkContext
    group = f"ledger-writes-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "ledger start_run + finish_run")
    try:
        run_id = ledger.start_run(d, mode="INCREMENT")
        ledger.finish_run(run_id, d, "SUCCESS")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert [r.status for r in ledger.read().collect()] == ["SUCCESS"]


def _fail_rename(src, dst):
    raise OSError("killed before the rename")


def _fail_write(table, where, **kwargs):
    where.write(b"PAR1 torn")
    raise OSError("killed mid-write")


@pytest.mark.parametrize("crash", ["rename", "write"])
def test_ledger_crash_mid_finish_keeps_history(spark, tmp_path, monkeypatch, crash):
    path = str(tmp_path / "logs")
    ledger = RunLedger(spark, path)
    d1, d2 = dt.date(2025, 3, 5), dt.date(2025, 3, 12)
    done = ledger.start_run(d1, mode="FULL")
    ledger.finish_run(done, d1, "SUCCESS")
    live = ledger.start_run(d2, mode="INCREMENT")
    if crash == "rename":
        monkeypatch.setattr(os, "replace", _fail_rename)
    else:
        monkeypatch.setattr(ledger_mod.pq, "write_table", _fail_write)
    with pytest.raises(OSError):
        ledger.finish_run(live, d2, "SUCCESS")
    monkeypatch.undo()
    assert [n for n in os.listdir(path) if n.startswith(".tmp-")]  # the crash's leftover
    rows = {r.run_id: (r.load_date, r.status) for r in ledger.read().collect()}
    assert rows == {done: (d1, "SUCCESS"), live: (d2, "RUNNING")}
    assert [r.load_date for r in ledger.successful_load_dates().collect()] == [d1]


def test_ledger_concurrent_writers_lose_no_run(spark, tmp_path):
    # Two ledger instances on one path, shared by more threads than
    # cores: every run must end with exactly one row in its own terminal
    # status. A read-modify-write of the directory loses rows here.
    path = str(tmp_path / "logs")
    ledgers = [RunLedger(spark, path), RunLedger(spark, path)]
    n_threads, n_runs = 8, 20

    def worker(i: int) -> dict:
        ledger, out = ledgers[i % 2], {}
        for k in range(n_runs):
            d = dt.date(2025, 1, 1) + dt.timedelta(days=k)
            status = "SUCCESS" if (i + k) % 3 else "FAILED"
            run_id = ledger.start_run(d, mode="INCREMENT")
            ledger.finish_run(run_id, d, status)
            out[run_id] = (d, status)
        return out

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n_threads) as pool:
            futures = [pool.submit(worker, i) for i in range(n_threads)]
            results = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    expected = {k: v for r in results for k, v in r.items()}
    assert len(expected) == n_threads * n_runs
    rows = ledgers[0].read().collect()
    assert len(rows) == len(expected)
    assert {r.run_id: (r.load_date, r.status) for r in rows} == expected
    assert all(r.end_time is not None for r in rows)


def test_ledger_reads_legacy_single_file_layout(spark, tmp_path):
    # A ledger directory as the old Spark write path left it: one
    # coalesce(1) part file with every row, plus _SUCCESS. New runs land
    # beside it and both read back together, with no migration.
    path = str(tmp_path / "logs")
    t0 = dt.datetime(2025, 1, 1, 12, 30)
    legacy = [
        ("old-1", dt.date(2025, 1, 1), "SCHEDULED", "FULL", "SUCCESS", t0, t0, "{}"),
        ("old-2", dt.date(2025, 1, 8), "SCHEDULED", "INCREMENT", "FAILED", t0, t0, "{}"),
        ("old-3", dt.date(2025, 1, 8), "RECOVERY", "FULL", "SUCCESS", t0, t0, "{}"),
    ]
    spark.createDataFrame(legacy, LOGS_SCHEMA).coalesce(1).write.parquet(path)
    assert "_SUCCESS" in os.listdir(path)
    ledger = RunLedger(spark, path)
    d = dt.date(2025, 1, 15)
    new = ledger.start_run(d, mode="INCREMENT")
    ledger.finish_run(new, d, "SUCCESS")
    rows = {r.run_id: r for r in ledger.read().collect()}
    assert {k: (r.load_date, r.status) for k, r in rows.items()} == {
        "old-1": (dt.date(2025, 1, 1), "SUCCESS"),
        "old-2": (dt.date(2025, 1, 8), "FAILED"),
        "old-3": (dt.date(2025, 1, 8), "SUCCESS"),
        new: (d, "SUCCESS"),
    }
    assert rows["old-1"].start_time == t0
    assert sorted(r.load_date for r in ledger.successful_load_dates().collect()) == [
        dt.date(2025, 1, 1), dt.date(2025, 1, 8), d,
    ]
    assert ledger.last_successful_load_date() == d


def test_reconcile_two_sided(spark):
    a = spark.createDataFrame([("2025-01-01",), ("2025-01-02",)], "load_date string")
    b = spark.createDataFrame([("2025-01-02",), ("2025-01-03",)], "load_date string")
    missed = {(r.load_date, r.missing_from) for r in reconcile_replicas(a, b).collect()}
    assert missed == {("2025-01-03", "a"), ("2025-01-01", "b")}
    only_a = [r.load_date for r in missing_load_dates(a, b).collect()]
    assert only_a == ["2025-01-01"]
