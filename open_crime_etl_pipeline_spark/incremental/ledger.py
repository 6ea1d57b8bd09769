"""Run ledger — pipeline metadata table (SURVEY.md §2.8 ST8, §2.9).

Reference: `logs` table (create_logs.sql:1-11) written via
``init_log``/``insert``/``update`` (`db_postgres.py:38-63,113-149`),
single-row INSERT and UPDATE statements. Statuses
RUNNING→SUCCESS/FAILED, types SCHEDULED/RECOVERY, modes FULL/INCREMENT
(`crime_etl.py:104-106,429`).

Each run owns one file, ``<path>/run-<run_id>.parquet``, holding its
one row. The driver writes it with pyarrow to a hidden ``.tmp-<uuid>``
file and publishes it with ``os.replace``: writing the ledger costs no
Spark job and no Python worker, and no write ever touches another
run's file, so neither a crash nor a concurrent writer can lose
another run's row. A writer killed before the rename leaves only the
hidden temp file, which Spark's reader skips like ``_SUCCESS``.

Reads stay Spark scans of ``LOGS_SCHEMA`` over the directory. A ledger
written in the older layout (one Spark part file holding every row)
therefore reads together with the per-run files, with no migration.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import LOGS_SCHEMA

# TimestampType → timestamp[us, tz=UTC]: Spark reads a UTC-adjusted
# parquet timestamp back as the same instant under any session timezone.
_ARROW_SCHEMA = to_arrow_schema(LOGS_SCHEMA)


def _utcnow() -> dt.datetime:
    # tz-aware UTC: `utcnow()` is deprecated (3.12+) and its naive result
    # silently re-interprets under a non-UTC session timezone — an
    # engine-level TIMESTAMPTZ correctness trap.
    return dt.datetime.now(dt.timezone.utc)


class RunLedger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.exists(self.path) and any(
            f.endswith(".parquet") for _, _, fs in os.walk(self.path) for f in fs
        )

    def _run_file(self, run_id: str) -> str:
        return os.path.join(self.path, f"run-{run_id}.parquet")

    def read(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], LOGS_SCHEMA)
        return self.spark.read.schema(LOGS_SCHEMA).parquet(self.path)

    def _publish(self, row: dict) -> None:
        """Atomically replace the run's one-row file with ``row``."""
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            pq.write_table(pa.Table.from_pylist([row], schema=_ARROW_SCHEMA), f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._run_file(row["run_id"]))

    def start_run(
        self,
        load_date: dt.date,
        run_type: str = "SCHEDULED",
        mode: str = "FULL",
        config: str = "{}",
        run_id: str | None = None,
    ) -> str:
        """Insert a RUNNING row (≡ init_log, db_postgres.py:86-91)."""
        run_id = run_id or uuid.uuid4().hex
        self._publish({
            "run_id": run_id, "load_date": load_date, "type": run_type,
            "mode": mode, "status": "RUNNING", "start_time": _utcnow(),
            "end_time": None, "config": config,
        })
        return run_id

    def finish_run(self, run_id: str, load_date: dt.date, status: str) -> None:
        """Terminal SUCCESS/FAILED update (≡ update, db_postgres.py:128-149).
        Only the row matching both ``run_id`` and ``load_date`` changes;
        an unmatched call changes nothing."""
        try:
            [row] = pq.read_table(self._run_file(run_id)).to_pylist()
        except FileNotFoundError:
            return
        if row["load_date"] != load_date:
            return
        row.update(status=status, end_time=_utcnow())
        self._publish(row)

    def last_successful_load_date(self) -> dt.date | None:
        """≡ MAX(load_date) WHERE status IN ('SUCCESS','RUNNING')
        (A2, db_postgres.py:73-84)."""
        row = (
            self.read()
            .filter(F.col("status").isin("SUCCESS", "RUNNING"))
            .agg(F.max("load_date").alias("d"))
            .first()
        )
        return row["d"]

    def successful_load_dates(self) -> DataFrame:
        """≡ SELECT load_date WHERE status='SUCCESS' (A3)."""
        return (
            self.read()
            .filter(F.col("status") == "SUCCESS")
            .select("load_date")
            .distinct()
        )
