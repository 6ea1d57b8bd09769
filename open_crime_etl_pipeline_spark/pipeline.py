"""End-to-end pipeline orchestrator — the reference's Airflow DAG
`crime_etl` (§3.1, `airflow/dags/crime_etl.py:563-695`) as one engine
API. Stage mapping:

    check_table          → implicit (schemas declared, paths created on write)
    fetch_metadata       → watermark read + FULL/INCREMENT branch (ST1/ST2)
    full/incremental     → custom REST DataSource scan, window pushed (S1/S2)
    upload_to_s3         → partitioned gzip-JSON landing write (S3/S4)
    load_to_warehouses   → landing scan → silver transform → join-based
                           MERGE into the crime table (S5/S6/P1-P3/J1)
    update_metadata      → run-ledger lifecycle row, one driver-written
                           parquet file per run, atomically replaced (ST8)
    validate/sync        → replica reconciliation + recovery loads (ST9)

Two independent `CrimePipeline` instances over different lake roots
reproduce the reference's dual-warehouse topology; `sync_from` is the
RECOVERY path. Everything is deterministic offline via the fake://
endpoint; swap `endpoint` for the real Socrata URL in production.

Scale: the driver only ever collects O(1) metadata (watermark row,
ledger rows). Ingest, transform, and merge are all distributed; the
merge broadcast-anti-joins the batch so the crime table never shuffles.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .incremental.ledger import RunLedger
from .incremental.reconcile import missing_load_dates
from .incremental.watermark import (
    FULL_LOAD_EPOCH,
    decide_mode,
    incremental_window,
    read_watermark,
)
from .io.table import VersionedParquetTable
from .io.writers import write_partitioned_crime
from .operators.merge import merge_upsert
from .schemas import CRIME_SILVER_SCHEMA
from .sources import register_socrata_source
from .transform.crime import transform_crime_page

SOQL_FMT = "%Y-%m-%dT%H:%M:%S.%f"


def _soql(d: dt.datetime) -> str:
    return d.strftime(SOQL_FMT)[:-3]


class CrimePipeline:
    """One warehouse replica: landing zone + crime table + run ledger
    under ``lake_root``."""

    def __init__(self, spark: SparkSession, lake_root: str,
                 endpoint: str = "fake://1200", pagesize: int = 5000):
        self.spark = spark
        self.root = lake_root
        self.endpoint = endpoint
        self.pagesize = pagesize
        self.landing = os.path.join(lake_root, "raw")
        self.table_path = os.path.join(lake_root, "crime")
        # Versioned table with an atomic commit log: a merge publishes a
        # new immutable snapshot (single data write), readers never see a
        # partial rewrite, and a crash mid-commit leaves the previous
        # version intact (vs the old staging double-write + in-place
        # overwrite, which was neither atomic nor crash-safe).
        self.table = VersionedParquetTable(
            spark, self.table_path, schema=CRIME_SILVER_SCHEMA
        )
        self.ledger = RunLedger(spark, os.path.join(lake_root, "logs"))
        register_socrata_source(spark)

    # -- table access -------------------------------------------------
    def crime_table(self) -> DataFrame:
        return self.table.read()

    def _overwrite_table(self, df: DataFrame, action: str,
                         rows_fn=None) -> None:
        self.table.commit(df, action=action, rows_fn=rows_fn)
        # retain the previous snapshot for rollback/time travel; older
        # ones (and orphans from crashed commits) are reclaimed eagerly
        self.table.vacuum(keep_last=2)

    # -- DAG stages ---------------------------------------------------
    def ingest_window(self, start: dt.datetime, end: dt.datetime,
                      load_date: dt.date) -> DataFrame:
        """REST scan with the window pushed into the source (S1), landed
        as partitioned gzip JSON (S3/S4). Returns the raw batch."""
        raw = (
            self.spark.read.format("socrata_crime")
            .option("endpoint", self.endpoint)
            .option("pagesize", str(self.pagesize))
            .option("start_date", _soql(start))
            .option("end_date", _soql(end))
            .load()
        )
        write_partitioned_crime(
            raw.withColumn("__ts", F.to_timestamp("updated_on")),
            self.landing, ts_col="__ts",
            load_date=load_date.isoformat(), fmt="json",
        )
        return raw

    def load_batch(self, load_date: dt.date) -> DataFrame:
        """Partition-pruned landing scan (S5) → silver transform →
        deduplicated batch ready to merge."""
        batch = (
            self.spark.read.json(self.landing)
            .filter(F.col("load_date") == load_date.isoformat())
            .drop("year", "month", "load_date", "__ts")
        )
        return transform_crime_page(batch)

    def run(self, now: dt.datetime, load_date: dt.date | None = None) -> dict:
        """One scheduled pipeline run (the whole DAG, ST1-ST8)."""
        load_date = load_date or now.date()
        target = self.crime_table()
        wm = read_watermark(target, "source_updated_on")
        mode = decide_mode(wm)
        start, end = incremental_window(wm, now, FULL_LOAD_EPOCH)
        run_id = self.ledger.start_run(load_date, mode=mode)
        try:
            self.ingest_window(start, end, load_date)
            batch = self.load_batch(load_date)
            merged = merge_upsert(
                target, batch, keys=["crime_id"], order_by=["source_updated_on"]
            )
            # In-pass accounting (validate_sync's row counts without its
            # re-query): the Observation rides the commit's write pass,
            # and feeding its n_rows into the ledger via rows_fn drops
            # the snapshot re-count too — one scan total for write +
            # ledger + metrics.
            from .io.metrics import observe_batch

            merged, obs = observe_batch(merged, name="publish", key="crime_id")
            self._overwrite_table(
                merged, action=f"merge:{mode}",
                rows_fn=lambda: obs.get["n_rows"],
            )
            metrics = obs.get
            self.ledger.finish_run(run_id, load_date, "SUCCESS")
            status = "SUCCESS"
        except Exception:
            self.ledger.finish_run(run_id, load_date, "FAILED")
            raise
        return {
            "run_id": run_id, "mode": mode, "status": status,
            "window": (start.isoformat(), end.isoformat()),
            "table_rows": metrics["n_rows"],
            "null_keys": metrics["null_keys"],
        }

    # -- reconciliation (ST9) -----------------------------------------
    def sync_from(self, other: "CrimePipeline", now: dt.datetime) -> list[str]:
        """RECOVERY loads for load_dates the other replica has and this
        one is missing (≡ validate_sync + sync_*_db)."""
        missing = [
            r["load_date"]
            for r in missing_load_dates(
                other.ledger.successful_load_dates(),
                self.ledger.successful_load_dates(),
            ).collect()
        ]
        recovered = []
        for d in sorted(missing):
            run_id = self.ledger.start_run(d, run_type="RECOVERY", mode="FULL")
            day = dt.datetime.combine(d, dt.time.min)
            self.ingest_window(day, min(day + dt.timedelta(days=32), now), d)
            batch = self.load_batch(d)
            merged = merge_upsert(
                self.crime_table(), batch,
                keys=["crime_id"], order_by=["source_updated_on"],
            )
            self._overwrite_table(merged, action="merge:RECOVERY")
            self.ledger.finish_run(run_id, d, "SUCCESS")
            recovered.append(d.isoformat())
        return recovered
