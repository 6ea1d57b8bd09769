"""The benchmark's workloads: one closed-loop client, one Spark session.

``pipeline_weekly`` runs the paper's system: replica A takes weekly
INCREMENT runs over a backfilled crime table, analysts read A, and
replica B, which misses every scheduled run, catches up through
RECOVERY (``sync_from``). ``queries`` runs passes over a mix of
registered queries, each built on the driver and then fully
materialized with Spark's ``noop`` writer.

Each workload sets up (untimed warm-up included), calls
``bench.start_measure`` and then issues operations one at a time until
the measured window has passed and a full pass has run. Outputs are
checked outside the timers; every exception or wrong result counts as a
failed attempt.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import shutil
import statistics
import time

import datagen
from spans import data_files, tree_files

# -- pipeline_weekly ---------------------------------------------------

ROWS_PER_MONTH = 1000       # fake:// endpoint: ~6k rows backfilled, ~230 (4 %) per week
FIRST_RUN = dt.datetime(2025, 7, 2)


def _add_month(d: dt.datetime) -> dt.datetime:
    return d.replace(year=d.year + d.month // 12, month=d.month % 12 + 1)


def fake_rows(rows_per_month: int, start: dt.datetime, end: dt.datetime) -> int:
    """Rows the fake:// endpoint serves for [start, end): it spreads
    ``rows_per_month`` records evenly over every calendar month."""
    n = 0
    m = start.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    while m < end:
        span = (_add_month(m) - m).total_seconds()
        for i in range(rows_per_month):
            if start <= m + dt.timedelta(seconds=i * span / rows_per_month) < end:
                n += 1
        m = _add_month(m)
    return n


def analyst_reads(table) -> dict:
    """SURVEY A5 unique-key check, A6 not-null check, A8 type × month
    rollup over the published table."""
    from pyspark.sql import functions as F

    dup_keys = table.groupBy("crime_id").count().filter("count > 1").count()
    null_keys = table.filter(F.col("crime_id").isNull()).count()
    rollup = (
        table.groupBy("primary_description", F.month("date_of_occurrence").alias("month"))
        .agg(F.count("*").alias("n"), F.sum((F.col("arrest") == "true").cast("int")).alias("arrests"))
        .collect()
    )
    return {"dup_keys": dup_keys, "null_keys": null_keys,
            "rollup_rows": sum(r["n"] for r in rollup)}


def content_hash(df) -> tuple:
    """Order-insensitive (row count, sum of row hashes)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")
    row = df.select(F.count("*").alias("n"), F.sum(h).alias("h")).first()
    return row["n"], row["h"]


def _success_dates(pipe) -> list:
    rows = pipe.ledger.read().filter("status = 'SUCCESS'").select("load_date").collect()
    return sorted(r["load_date"] for r in rows)


def pipeline_weekly(bench) -> None:
    from open_crime_etl_pipeline_spark.pipeline import CrimePipeline

    spark, rng = bench.spark, random.Random(bench.seed)
    bench.pass_ops = ("increment", "table_read", "recovery")
    lake = bench.path("lake")
    endpoint = f"fake://{ROWS_PER_MONTH}"
    a = CrimePipeline(spark, os.path.join(lake, "a"), endpoint=endpoint)
    first = FIRST_RUN + dt.timedelta(seconds=rng.randrange(86_400))
    t = time.perf_counter()
    a.run(first)  # the session's first pipeline work: a cold FULL backfill
    bench.detail["full_load_s"] = time.perf_counter() - t
    shutil.copytree(a.root, os.path.join(lake, "b"))
    b = CrimePipeline(spark, os.path.join(lake, "b"), endpoint=endpoint)

    tracked = [a.table_path, os.path.join(a.root, "logs")]
    tr = bench.tracer
    write_per_row, reads, recovered = [], [], []

    def week_cycle(week: int) -> dt.datetime:
        now = FIRST_RUN + dt.timedelta(days=7 * week, seconds=rng.randrange(86_400))
        before = tree_files(tracked[0]) | tree_files(tracked[1])
        with tr.span("orchestrate", "increment"):
            res = bench.timed("increment", lambda: a.run(now))
        if res is not None:
            after = tree_files(tracked[0]) | tree_files(tracked[1])
            new_bytes = sum(n for p, n in after.items() if p not in before)
            start, end = (dt.datetime.fromisoformat(x) for x in res["window"])
            write_per_row.append(new_bytes / max(fake_rows(ROWS_PER_MONTH, start, end), 1))
        with tr.span("table_read") as s:
            if s is not None:
                s.counts["files_scanned"] += len(data_files(tree_files(_snapshot(a))))
            got = bench.timed("table_read", lambda: analyst_reads(a.crime_table()))
        if got is not None:
            reads.append(got)
        with tr.span("orchestrate", "recovery"):
            dates = bench.timed("recovery", lambda: b.sync_from(a, now), per=len)
        recovered.extend((dt.date.fromisoformat(d), now) for d in dates or ())
        return now

    # warm the INCREMENT and read paths on a throwaway copy of A
    t = time.perf_counter()
    warm = CrimePipeline(spark, bench.path("warmup"), endpoint=endpoint)
    shutil.copytree(a.root, warm.root)
    warm.run(first + dt.timedelta(days=7))
    analyst_reads(warm.crime_table())
    shutil.rmtree(warm.root)
    bench.detail["warmup_s"] = time.perf_counter() - t

    bench.start_measure(instrument=_instrument)
    week = 0
    while week == 0 or not bench.expired():
        week += 1
        now = week_cycle(week)
    bench.stop_measure()
    bench.guard("end_state", lambda: _check_pipeline(bench, a, b, first, now, week, reads, recovered))
    lake_files = data_files(tree_files(tracked[0]) | tree_files(tracked[1]))
    rows = bench.detail.get("table_rows", 0)
    bench.detail.update(
        weeks=week,
        write_bytes_per_row=statistics.median(write_per_row) if write_per_row else 0.0,
        lake_bytes_per_row=sum(lake_files.values()) / max(rows, 1),
    )


def _check_pipeline(bench, a, b, first, last, weeks, reads, recovered) -> None:
    """End-state checks, outside the timers."""
    from pyspark.sql import functions as F

    from open_crime_etl_pipeline_spark.incremental.watermark import FULL_LOAD_EPOCH

    final = a.crime_table()
    a_rows, _ = content_hash(final)
    expected = fake_rows(ROWS_PER_MONTH, FULL_LOAD_EPOCH, last)
    bench.check("final_rows_match_source", a_rows == expected, f"{a_rows} != {expected}")
    bench.check("final_unique_keys", final.select("crime_id").distinct().count() == a_rows)
    for r in reads:
        bench.check("read_unique_keys", r["dup_keys"] == 0, r)
        bench.check("read_no_null_keys", r["null_keys"] == 0, r)
    bench.check("rollup_covers_table", bool(reads) and reads[-1]["rollup_rows"] == a_rows,
                f"{reads[-1:]} vs {a_rows}")
    dates_a, dates_b = _success_dates(a), _success_dates(b)
    bench.check("ledger_one_success_per_date",
                len(dates_a) == len(set(dates_a)) == weeks + 1, dates_a)
    bench.check("replica_ledgers_agree", dates_a == dates_b, (dates_a, dates_b))
    # Every row of B equals A's row with the same crime_id, and B holds
    # every row RECOVERY promises: A's backfill plus [load_date 00:00, sync
    # time) of each recovered date. Rows of A that B lacks outside those
    # windows are reported as ``recovery_gap_rows``, not failed.
    replica = b.crime_table()
    b_keys = replica.select("crime_id")
    b_rows, b_hash = content_hash(replica)
    a_same_keys = content_hash(final.join(b_keys, "crime_id", "left_semi"))
    bench.check("replica_rows_equal_source_rows", (b_rows, b_hash) == a_same_keys,
                f"{(b_rows, b_hash)} != {a_same_keys}")
    ts = F.col("source_updated_on")
    promised = ts < F.lit(first)
    for d, now in recovered:
        promised = promised | ((ts >= F.lit(dt.datetime.combine(d, dt.time.min))) & (ts < F.lit(now)))
    lost = final.filter(promised).join(b_keys, "crime_id", "left_anti").count()
    bench.check("replica_holds_recovered_windows", lost == 0, f"{lost} rows missing")
    bench.detail.update(table_rows=a_rows, replica_rows=b_rows, recovery_gap_rows=a_rows - b_rows)


def _snapshot(pipe) -> str:
    return os.path.join(pipe.table_path, "data", pipe.table.history()[-1]["snapshot"])


def _instrument(tracer, stack: contextlib.ExitStack) -> None:
    """Spans around the pipeline's calls into each layer."""
    from open_crime_etl_pipeline_spark import pipeline as P
    from open_crime_etl_pipeline_spark.incremental.ledger import RunLedger
    from open_crime_etl_pipeline_spark.io.table import VersionedParquetTable

    def new_files_under(dir_of, key, sign=1):
        def hook(span, args):
            root = dir_of(args)
            before = data_files(tree_files(root))

            def after(_out):
                now = data_files(tree_files(root))
                if sign > 0:
                    added = {p: n for p, n in now.items() if p not in before}
                    span.counts[key] += sum(added.values())
                    span.counts["files_written"] += len(added)
                else:
                    span.counts[key] += sum(n for p, n in before.items() if p not in now)
            return after
        return hook

    def landing_files(span, args):
        span.counts["landing_files"] += len(tree_files(args[0].landing))

    tracer.wrap(P, "read_watermark", "watermark", stack)
    tracer.wrap(P, "merge_upsert", "merge", stack)
    tracer.wrap(P, "missing_load_dates", "reconcile", stack)
    for attr in ("start_run", "finish_run", "successful_load_dates"):
        tracer.wrap(RunLedger, attr, "ledger", stack)
    tracer.wrap(P.CrimePipeline, "ingest_window", "ingest", stack,
                hook=new_files_under(lambda args: args[0].landing, "landing_bytes"))
    tracer.wrap(P.CrimePipeline, "load_batch", "load_batch", stack, hook=landing_files)
    tracer.wrap(VersionedParquetTable, "commit", "publish", stack,
                hook=new_files_under(lambda args: args[0].root, "bytes_written"))
    tracer.wrap(VersionedParquetTable, "vacuum", "vacuum", stack,
                hook=new_files_under(lambda args: args[0].root, "bytes_removed", sign=-1))


# -- queries -----------------------------------------------------------

RELATIONAL = (
    "flagship_monthly_revenue", "pricing_summary", "star_join_broadcast_dims",
    "asof_join_last_purchase", "merge_upsert_orders", "exact_percentiles_distributed",
)
DRIVER_HEAVY = ("bpe_multi_merge_rounds", "pq_adc_topk")
MIX = RELATIONAL + DRIVER_HEAVY
SF = 0.01


def materialize(df) -> None:
    """Execute every column of ``df``: the noop sink writes nothing but
    forces the full plan, where ``count()`` lets Catalyst prune columns
    and aggregates."""
    df.write.format("noop").mode("overwrite").save()


def queries(bench) -> None:
    from open_crime_etl_pipeline_spark.queries import all_specs
    from open_crime_etl_pipeline_spark.testing import compare_frames, duckdb_connection

    spark, specs, mix = bench.spark, all_specs(), MIX
    bench.pass_ops = tuple(mix)
    data = bench.path("data")
    datagen.generate(data, SF)
    con = duckdb_connection(data)
    try:
        # untimed warm pass: every result against its DuckDB oracle
        for name in mix:
            def check(name=name):
                got = specs[name].fn(spark, data).toPandas()
                diff = compare_frames(name, got, con.execute(specs[name].oracle).fetchdf())
                bench.check(f"oracle:{name}", diff.ok, diff.detail[:300])
            bench.guard(f"oracle:{name}", check)
    finally:
        con.close()

    bench.start_measure()
    tr, order, rng = bench.tracer, list(mix), random.Random(bench.seed)
    while True:
        rng.shuffle(order)
        for name in order:
            if bench.expired() and all(bench.samples[n] for n in mix):
                bench.stop_measure()
                return

            def op(name=name):
                with tr.span("build", name):
                    df = specs[name].fn(spark, data)
                with tr.span("action", name):
                    materialize(df)
            bench.timed(name, op)
