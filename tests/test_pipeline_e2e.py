"""End-to-end DAG orchestration (§3.1): FULL run, INCREMENT run with
overlap idempotence, ledger lifecycle, dual-replica reconciliation."""

from __future__ import annotations

import datetime as dt

import pytest

from open_crime_etl_pipeline_spark.pipeline import CrimePipeline

NOW1 = dt.datetime(2025, 2, 15, 12, 0, 0)
NOW2 = dt.datetime(2025, 3, 10, 12, 0, 0)


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    return tmp_path_factory.mktemp("lake")


def test_full_then_incremental_run(spark, lake):
    p = CrimePipeline(spark, str(lake / "a"), endpoint="fake://300", pagesize=100)

    r1 = p.run(now=NOW1, load_date=NOW1.date())
    assert r1["mode"] == "FULL" and r1["status"] == "SUCCESS"
    # Jan window (300) + partial Feb window (300 spread over the month,
    # cut at the 15th) — exact count matters less than: rows exist and
    # are unique by PK
    n1 = r1["table_rows"]
    assert n1 > 300
    crime = p.crime_table()
    assert crime.select("crime_id").distinct().count() == n1

    r2 = p.run(now=NOW2, load_date=NOW2.date())
    assert r2["mode"] == "INCREMENT"
    # overlap window re-reads the watermark day; merge absorbs dups
    n2 = r2["table_rows"]
    assert n2 > n1
    assert p.crime_table().select("crime_id").distinct().count() == n2

    # ST7 replay: reprocessing the already-landed files for the same
    # load_date must not change the table (re-merge of the same batch)
    from open_crime_etl_pipeline_spark.operators.merge import merge_upsert

    batch = p.load_batch(NOW2.date())
    remerged = merge_upsert(
        p.crime_table(), batch, keys=["crime_id"], order_by=["source_updated_on"]
    )
    assert remerged.count() == n2
    assert remerged.select("crime_id").distinct().count() == n2

    # ledger recorded both runs as SUCCESS with correct modes
    logs = {(r.run_id): (r.mode, r.status) for r in p.ledger.read().collect()}
    assert len(logs) == 2
    assert sorted(m for m, _ in logs.values()) == ["FULL", "INCREMENT"]
    assert all(s == "SUCCESS" for _, s in logs.values())


def test_replica_reconciliation_recovery(spark, lake):
    a = CrimePipeline(spark, str(lake / "ra"), endpoint="fake://120", pagesize=60)
    b = CrimePipeline(spark, str(lake / "rb"), endpoint="fake://120", pagesize=60)

    a.run(now=NOW1, load_date=dt.date(2025, 2, 15))
    b.run(now=NOW1, load_date=dt.date(2025, 2, 15))
    # replica a advances; b misses the second load entirely
    a.run(now=NOW2, load_date=dt.date(2025, 3, 10))

    recovered = b.sync_from(a, now=NOW2)
    assert recovered == ["2025-03-10"]
    # after recovery both replicas agree on successful load dates
    a_dates = {r.load_date for r in a.ledger.successful_load_dates().collect()}
    b_dates = {r.load_date for r in b.ledger.successful_load_dates().collect()}
    assert a_dates == b_dates
    assert b.sync_from(a, now=NOW2) == []  # converged, nothing to recover


def test_failed_run_then_rerun_leaves_one_success(spark, lake):
    # A run whose ingest raises leaves one FAILED row; rerunning the same
    # load_date against a healthy endpoint adds exactly one SUCCESS.
    root, d = str(lake / "crash"), NOW1.date()
    crashing = CrimePipeline(spark, root, endpoint="crash://120:0", pagesize=60)
    with pytest.raises(Exception):
        crashing.run(now=NOW1, load_date=d)
    p = CrimePipeline(spark, root, endpoint="fake://120", pagesize=60)
    assert [(r.load_date, r.status) for r in p.ledger.read().collect()] == [(d, "FAILED")]

    assert p.run(now=NOW1, load_date=d)["status"] == "SUCCESS"
    rows = p.ledger.read().collect()
    assert sorted((r.load_date, r.status) for r in rows) == [(d, "FAILED"), (d, "SUCCESS")]
    assert [r.load_date for r in p.ledger.successful_load_dates().collect()] == [d]
