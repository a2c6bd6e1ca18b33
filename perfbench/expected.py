"""Spark-free expected outputs, computed with DuckDB over the generated
files.

``EtlOracle`` re-implements the reference semantics of one watermarked
incremental run (F1 non-NULL user, F3 tracked event types, F4
``ts > watermark``, the ``props.k`` extraction, the K4 dedup keeping the
minimum ``event_id`` per (user_id, event_timestamp, event_name), the
conflict-skipping append and the forward-only watermark) and replays the
benchmark's trigger sequence on it. The program's per-trigger records
and its final target are compared against it. Without a watermark it
models the streaming micro-batch: the same filters bar F4, over the new
file only.

``check_queries`` compares registry entries against their DuckDB
oracles with the normalization of ``tools/check_oracle.py``.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb

from gen import DAY_US, TRACKED

_TRACKED_SQL = ", ".join(f"'{t}'" for t in TRACKED)


class EtlOracle:
    """Expected target and per-trigger records of the incremental ETL."""

    def __init__(self, watermark_us: int | None):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.execute(
            "CREATE TABLE target (user_id BIGINT, event_date DATE, event_timestamp BIGINT,"
            " event_name VARCHAR, event_id VARCHAR, event_name_detail VARCHAR)"
        )
        self.watermark_us = watermark_us

    def _batch_sql(self, files: list[str], watermark_us: int | None) -> str:
        listing = ", ".join(f"'{f}'" for f in files)
        f4 = "" if watermark_us is None else f"AND epoch_us(ts) > {int(watermark_us)}"
        return f"""
            SELECT user_id, event_date, event_timestamp, event_name,
                   CAST(event_id AS VARCHAR) AS event_id, event_name_detail
            FROM (
                SELECT user_id, CAST(ts AS DATE) AS event_date,
                       epoch_us(ts) AS event_timestamp, event_type AS event_name,
                       event_id, json_extract_string(props, '$.k') AS event_name_detail,
                       row_number() OVER (
                           PARTITION BY user_id, epoch_us(ts), event_type
                           ORDER BY event_id) AS rn
                FROM read_parquet([{listing}])
                WHERE user_id IS NOT NULL
                  AND event_type IN ({_TRACKED_SQL})
                  {f4}
            ) WHERE rn = 1
        """

    def rewind(self) -> None:
        """Crash-recovery replay: the watermark file goes back one day."""
        self.watermark_us -= DAY_US

    def trigger(self, files: list[str]) -> dict:
        """One run over the source ``files``; returns the expected
        record and applies the run to the expected target."""
        before = self.watermark_us
        self.con.execute(
            f"CREATE OR REPLACE TEMP TABLE batch AS {self._batch_sql(files, before)}"
        )
        fetched, max_ts = self.con.execute(
            "SELECT count(*), max(event_timestamp) FROM batch"
        ).fetchone()
        inserted = self.con.execute(
            "INSERT INTO target SELECT * FROM batch b WHERE NOT EXISTS (SELECT 1 FROM target t"
            " WHERE t.user_id = b.user_id AND t.event_timestamp = b.event_timestamp"
            " AND t.event_name = b.event_name)"
        ).fetchone()[0]
        if before is not None and max_ts is not None and max_ts > before:
            self.watermark_us = max_ts
        return {"watermark_before": before, "records_fetched": fetched,
                "records_inserted": inserted}

    def target_rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM target").fetchone()[0]

    def target_diff(self, target_dir: str) -> int:
        """Rows in the program's target and not expected, plus expected
        rows missing from it (multiset difference both ways)."""
        glob = os.path.join(target_dir, "*.parquet")
        sql = (
            "SELECT user_id, event_date, event_timestamp, event_name, event_id,"
            f" event_name_detail FROM read_parquet('{glob}')"
        )
        extra = self.con.execute(
            f"SELECT count(*) FROM ({sql} EXCEPT ALL SELECT * FROM target)").fetchone()[0]
        missing = self.con.execute(
            f"SELECT count(*) FROM (SELECT * FROM target EXCEPT ALL {sql})").fetchone()[0]
        return extra + missing

    def close(self) -> None:
        self.con.close()


def check_records(got: list[dict], want: list[dict]) -> list[str]:
    """Mismatches between the program's trigger records and the oracle's."""
    errors = []
    for i, (g, w) in enumerate(zip(got, want)):
        if g.get("status") != "success":
            errors.append(f"trigger {i}: status {g.get('status')}: {g.get('error')}")
            continue
        for key, value in w.items():
            if g.get(key) != value:
                errors.append(f"trigger {i}: {key} = {g.get(key)}, expected {value}")
    if len(got) != len(want):
        errors.append(f"{len(got)} records for {len(want)} triggers")
    return errors


def _check_oracle_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved  # the tool prepends its own repo path on import
    return mod


def check_queries(root: str, sf_dir: str, results: dict[str, tuple[list, list, dict]]) -> list[str]:
    """Compare each entry's Spark result — ``(columns, rows, dtypes)`` —
    with its DuckDB oracle: column names, canonical types, row count and
    the order-insensitive normalized values, as ``tools/check_oracle.py``
    does."""
    from bigquery_postgres_events_etl_spark.registry import all_oracles

    co = _check_oracle_module(root)
    oracles = all_oracles()
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    errors = []
    for name, (scols, srows, sdtypes) in results.items():
        sql = oracles[name]
        otypes = dict(con.execute(
            f"SELECT column_name, column_type FROM (DESCRIBE ({sql}))"
        ).fetchall())
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(scols) != sorted(ocols):
            errors.append(f"{name}: columns {sorted(scols)} vs oracle {sorted(ocols)}")
            continue
        for c in scols:
            if co.canon_spark_type(sdtypes[c]) != co.canon_duck_type(str(otypes[c])):
                errors.append(f"{name}: type of {c}: {sdtypes[c]} vs oracle {otypes[c]}")
        if len(srows) != len(orows):
            errors.append(f"{name}: {len(srows)} rows vs oracle {len(orows)}")
            continue
        s_order = [scols.index(c) for c in sorted(scols)]
        o_order = [ocols.index(c) for c in sorted(ocols)]
        if co.norm_rows(srows, s_order) != co.norm_rows(orows, o_order):
            errors.append(f"{name}: values differ from the oracle")
    con.close()
    return errors
