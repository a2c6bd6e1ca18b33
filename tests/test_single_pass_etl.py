"""Single-pass incremental ETL: the counts in the run record ride the
sink's write as Observations, so a trigger evaluates the batch once.

- per-trigger Spark job counts are pinned (a stats pass or a sink-side
  cache/count would add jobs back);
- a first load never asks Spark to read the missing target path;
- a JDBC idle trigger never reaches the database writer;
- the CSV export reports the rows it wrote from the write itself.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql.readwriter import DataFrameReader

from bigquery_postgres_events_etl_spark.io import load_table
from bigquery_postgres_events_etl_spark.operators.etl import flagship_pipeline
from bigquery_postgres_events_etl_spark.sources import sinks
from bigquery_postgres_events_etl_spark.sources.watermark import write_watermark_us
from bigquery_postgres_events_etl_spark.streaming.incremental import (
    run_incremental_etl,
)

NOW_US = 1706655976220708
MID_US = 1704067200000000 + 15 * 24 * 3600 * 1_000_000  # mid-window
AFTER_ALL_US = 1 << 62  # above every fixture timestamp: an idle trigger


def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job count)."""
    sc = spark.sparkContext
    group = f"single-pass-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_trigger_job_counts(spark, sf_dir, tmp_path):
    """Load, idle and replay triggers on the parquet path: the batch is
    evaluated once, by the sink's write, and the runner adds no job."""
    state, target = str(tmp_path / "wm"), str(tmp_path / "t")

    def trigger(state_path):
        return run_incremental_etl(spark, sf_dir, state_path, target, now_us=NOW_US)

    write_watermark_us(state, MID_US)
    load, load_jobs = _jobs_of(spark, lambda: trigger(state))
    assert load["status"] == "success"
    assert load["records_inserted"] == load["records_fetched"] > 0

    idle, idle_jobs = _jobs_of(spark, lambda: trigger(state))
    assert idle["records_fetched"] == idle["records_inserted"] == 0
    assert not idle["watermark_advanced"]

    # crash-before-advance replay: the same rows are fetched again and
    # every one of them is conflict-skipped
    write_watermark_us(state + ".replay", MID_US)
    replay, replay_jobs = _jobs_of(spark, lambda: trigger(state + ".replay"))
    assert replay["records_fetched"] == load["records_fetched"]
    assert replay["records_inserted"] == 0

    counts = (load_jobs, idle_jobs, replay_jobs)
    assert load_jobs <= 3 and idle_jobs <= 5 and replay_jobs <= 5, counts
    assert spark.read.parquet(target).count() == load["records_inserted"]


def test_first_load_reads_no_missing_path(spark, sf_dir, tmp_path, monkeypatch):
    """A first load is decided from the filesystem, not by a failing
    Spark read: a read of the missing target logs a Java
    FileNotFoundException stack trace on every first load."""
    missing: list[str] = []
    real_parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **options):
        missing.extend(p for p in paths if not os.path.exists(p))
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    batch = flagship_pipeline(load_table(spark, sf_dir, "events"))
    target = str(tmp_path / "t")
    assert sinks.idempotent_append_parquet(spark, batch, target) > 0
    assert missing == []
    # the second load does read the (now existing) target
    assert sinks.idempotent_append_parquet(spark, batch, target) == 0
    assert missing == []


def test_jdbc_idle_trigger_sends_nothing_to_the_database(
    spark, sf_dir, tmp_path, monkeypatch
):
    calls = []
    monkeypatch.setattr(
        sinks, "write_jdbc_merge_append", lambda *a, **k: calls.append(a) or 0
    )
    state = str(tmp_path / "wm")
    write_watermark_us(state, AFTER_ALL_US)
    r = run_incremental_etl(
        spark, sf_dir, state, str(tmp_path / "unused"),
        jdbc_target={"url": "jdbc:derby:memory:never;create=false", "table": "t"},
    )
    assert r["status"] == "success"
    assert r["records_fetched"] == r["records_inserted"] == 0
    assert r["last_processed_timestamp"] == AFTER_ALL_US
    assert calls == []


def test_export_csv_returns_rows_written(spark, sf_dir, tmp_path):
    out = flagship_pipeline(load_table(spark, sf_dir, "events"))
    path = str(tmp_path / "export")
    n = sinks.export_csv(out, path)
    written = spark.read.option("header", True).option("multiLine", True).csv(path)
    assert n == written.count() == out.count() > 0
