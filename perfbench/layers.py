"""Per-layer metrics of a traced run, derived from the recorder's spans.

Every traced run reports every name in ``PER_LAYER``; a layer a workload
does not exercise reports 0. ETL layer numbers are means per timed
trigger (``etl_daily``) or per timed call (``stream_microbatch``);
query numbers are per-entry medians summed over the class.
"""

from __future__ import annotations

import statistics

from tracing import subtree

QUERY_FIELDS = ["build_s", "build_jobs", "build_py4j_calls", "action_s", "action_jobs",
                "job_gap_s", "shuffle_bytes", "spill_bytes"]

PER_LAYER = {
    "service.self_s": "s", "service.replay_s": "s", "cache.persisted_rdds": "count",
    "incremental.self_s": "s", "incremental.jobs": "count", "incremental.shuffle_bytes": "B",
    "watermark.read_s": "s", "watermark.write_s": "s",
    "io.load_s": "s", "io.jobs": "count", "io.py4j_calls": "count",
    "scan.files": "count", "scan.tasks": "count", "scan.input_bytes": "B",
    "etl.build_s": "s", "etl.py4j_calls": "count",
    "sinks.s": "s", "sinks.jobs": "count", "sinks.lock_wait_s": "s",
    "sinks.rows_inserted": "count", "sinks.conflict_rows": "count",
    "sinks.files_written": "count", "sinks.bytes_per_row": "B",
    "sinks.target_read_bytes": "B", "sinks.shuffle_bytes": "B",
    "stream.read_s": "s", "stream.add_batch_s": "s", "stream.planning_s": "s",
    "stream.offsets_s": "s", "stream.wal_commit_s": "s", "stream.outside_trigger_s": "s",
    "stream.input_rows": "count",
    **{f"query_{c}.{f}": ("s" if f.endswith("_s") else "B" if f.endswith("bytes") else "count")
       for c in ("relational", "iterative") for f in QUERY_FIELDS},
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.job_gap_s": "s",
    "session.start_s": "s", "session.warm_s": "s",
    "memory.peak_rss_mb": "MB",
    "trace.op_s": "s", "trace.py4j_calls": "count",
}

# span name -> (module attribute the caller looks up)
ETL_SPANS = [
    ("bigquery_postgres_events_etl_spark.service", "EtlService", "trigger", "service"),
    ("bigquery_postgres_events_etl_spark.streaming.incremental", None, "run_incremental_etl",
     "incremental"),
    ("bigquery_postgres_events_etl_spark.streaming.incremental", None, "read_watermark_us",
     "watermark.read"),
    ("bigquery_postgres_events_etl_spark.streaming.incremental", None, "load_table", "io.load"),
    ("bigquery_postgres_events_etl_spark.streaming.incremental", None, "flagship_pipeline",
     "etl.build"),
    ("bigquery_postgres_events_etl_spark.streaming.incremental", None,
     "idempotent_append_parquet", "sinks"),
    ("bigquery_postgres_events_etl_spark.sources.sinks", "TargetLock", "__enter__",
     "sinks.lock_wait"),
    ("bigquery_postgres_events_etl_spark.streaming.incremental", None, "write_watermark_us",
     "watermark.write"),
]


def install_etl_spans(tracer) -> None:
    import importlib

    for mod, cls, attr, name in ETL_SPANS:
        owner = importlib.import_module(mod)
        if cls:
            owner = getattr(owner, cls)
        tracer.wrap(owner, attr, name)


def install_stream_spans(tracer) -> None:
    """``run_streaming_etl`` looks up ``read_events_stream`` and
    ``idempotent_append_parquet`` in its own module and imports
    ``flagship_pipeline`` from ``operators.etl`` on each call."""
    from bigquery_postgres_events_etl_spark.operators import etl
    from bigquery_postgres_events_etl_spark.sources import sinks
    from bigquery_postgres_events_etl_spark.streaming import stream

    tracer.wrap(stream, "read_events_stream", "stream.read")
    tracer.wrap(etl, "flagship_pipeline", "etl.build")
    tracer.wrap(stream, "idempotent_append_parquet", "sinks")
    tracer.wrap(sinks.TargetLock, "__enter__", "sinks.lock_wait")


# Largest allowed gap between a trigger's wall time as the client
# measures it and the service span: the HTTP round-trip on localhost.
HTTP_SLACK_S = 0.05


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _by_name(spans: list[dict]) -> dict[str, list[dict]]:
    by: dict[str, list[dict]] = {}
    for r in spans:
        by.setdefault(r["name"], []).append(r)
    return by


def _one(by: dict, name: str, key: str):
    return sum(r[key] for r in by.get(name, []))


def _spark(rest, spans: list[dict]) -> dict:
    jobs = sorted(j for r in spans for j in r["job_ids"])
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(r["stages"] for r in spans),
        "spark.tasks": sum(r["tasks"] for r in spans),
        "spark.failed_tasks": sum(r["failed_tasks"] for r in spans),
        "spark.job_gap_s": rest.job_bytes(jobs)["job_gap_s"],
    }


def _sinks(rest, by: dict, row: dict, target: str) -> dict:
    sink_jobs = [j for r in by.get("sinks", []) + by.get("sinks.lock_wait", [])
                 for j in r["job_ids"]]
    return {
        "sinks.s": _one(by, "sinks", "dur_s"),
        "sinks.jobs": _one(by, "sinks", "jobs") + _one(by, "sinks.lock_wait", "jobs"),
        "sinks.lock_wait_s": _one(by, "sinks.lock_wait", "dur_s"),
        "sinks.files_written": row["files_written"],
        "sinks.target_read_bytes": rest.scan_bytes(sink_jobs, target),
        "sinks.shuffle_bytes": _one(by, "sinks", "shuffle_bytes"),
        "etl.build_s": _one(by, "etl.build", "dur_s"),
        "etl.py4j_calls": _one(by, "etl.build", "py4j"),
        "scan.files": row["source_files"],
    }


def _finish(acc: dict[str, list[float]], info: list[dict], inserted: int) -> dict:
    out = {k: _mean(v) for k, v in acc.items()}
    written = sum(r["bytes_written"] for r in info if r["timed"])
    out["sinks.bytes_per_row"] = written / inserted if inserted else 0.0
    return out


def etl_layers(tracer, target: str, info: list[dict], records: list[dict], res) -> dict:
    """Per-trigger means over the timed triggers. ``info``/``records``
    are in trigger order; the k-th ``service`` span is the k-th
    trigger."""
    report = tracer.span_report()
    rest = tracer.rest
    roots = sorted((r for r in report if r["name"] == "service"), key=lambda r: r["start"])
    if len(roots) != len(info):
        res.errors.append(f"trace: {len(roots)} service spans for {len(info)} triggers")
    acc: dict[str, list[float]] = {}
    jobs_by_kind: dict[str, list[int]] = {}
    replay_s, gaps, negative = [], [], 0
    inserted_total = 0
    for root, row, rec in zip(roots, info, records):
        sub = subtree(report, root["id"])
        negative += sum(r["self_s"] < -1e-9 for r in sub)
        by = _by_name(sub)
        # the trigger's wall time, as the client measured it, is the
        # children of incremental plus the incremental and service self
        # times plus the HTTP round-trip
        inc = by.get("incremental", [])
        inc_children = sum(r["dur_s"] for r in sub if inc and r["parent"] == inc[0]["id"])
        accounted = inc_children + _one(by, "incremental", "self_s") + root["self_s"]
        gaps.append(row["wall_s"] - accounted)
        spark = _spark(rest, sub)
        jobs_by_kind.setdefault(row["kind"], []).append(spark["spark.jobs"])
        if row["kind"] == "replay":
            replay_s.append(root["dur_s"])
        if not row["timed"]:
            continue
        inserted = rec.get("records_inserted") or 0
        fetched = rec.get("records_fetched") or 0
        inserted_total += inserted
        vals = {
            "service.self_s": root["self_s"],
            "incremental.self_s": _one(by, "incremental", "self_s"),
            "incremental.jobs": _one(by, "incremental", "jobs"),
            "incremental.shuffle_bytes": _one(by, "incremental", "shuffle_bytes"),
            "watermark.read_s": _one(by, "watermark.read", "dur_s"),
            "watermark.write_s": _one(by, "watermark.write", "dur_s"),
            "io.load_s": _one(by, "io.load", "dur_s"),
            "io.jobs": _one(by, "io.load", "jobs"),
            "io.py4j_calls": _one(by, "io.load", "py4j"),
            "scan.tasks": _one(by, "incremental", "scan_tasks"),
            "scan.input_bytes": _one(by, "incremental", "input_bytes"),
            "sinks.rows_inserted": inserted,
            "sinks.conflict_rows": fetched - inserted,
            **_sinks(rest, by, row, target),
            **spark,
        }
        for k, v in vals.items():
            acc.setdefault(k, []).append(v)
    out = _finish(acc, info, inserted_total)
    out["service.replay_s"] = _mean(replay_s)
    out["cache.persisted_rdds"] = max((r.get("persisted_rdds", 0) for r in info), default=0)
    res.detail["trace"] = {
        "jobs_per_trigger": jobs_by_kind,
        "http_gap_s": {"min": min(gaps, default=0.0), "max": max(gaps, default=0.0)},
        "negative_self_times": negative,
    }
    if negative:
        res.errors.append(f"trace: {negative} negative self times")
    bad = [g for g in gaps if not 0.0 <= g <= HTTP_SLACK_S]
    if bad:
        res.errors.append(f"trace: {len(bad)} triggers whose spans do not add up to their"
                          f" wall time within {HTTP_SLACK_S}s (gaps {bad[:5]})")
    return out


def stream_layers(tracer, listener, target: str, info: list[dict], records: list[dict],
                  res) -> dict:
    """Per-call means over the timed calls. The k-th ``stream`` span
    and the k-th terminated query run are the k-th call; spans opened
    on the ``foreachBatch`` callback thread belong to the call whose
    interval holds them."""
    if not listener.wait_terminated(len(info)):
        res.errors.append(f"trace: {len(listener.terminated)} query runs ended for"
                          f" {len(info)} calls")
    report = tracer.span_report()
    rest = tracer.rest
    calls = sorted((r for r in report if r["name"] == "stream"), key=lambda r: r["start"])
    progress: dict[str, list[dict]] = {}
    for p in listener.progress:
        progress.setdefault(p["runId"], []).append(p)
    acc: dict[str, list[float]] = {}
    jobs, negative, inserted_total, prev_rows = [], 0, 0, 0
    for call, run_id, row, rec in zip(calls, listener.terminated, info, records):
        end = call["start"] + call["dur_s"]
        sub = [r for r in report if call["start"] <= r["start"] and r["start"] + r["dur_s"] <= end]
        negative += sum(r["self_s"] < -1e-9 for r in sub)
        by = _by_name(sub)
        spark = _spark(rest, sub)
        jobs.append(spark["spark.jobs"])
        rows = rec.get("rows_in_target") or 0
        inserted, prev_rows = rows - prev_rows, rows
        if not row["timed"]:
            continue
        inserted_total += inserted
        ps = progress.get(run_id, [])

        def dur(*keys):
            return sum(p["durationMs"].get(k, 0) for p in ps for k in keys) / 1e3

        vals = {
            "stream.read_s": _one(by, "stream.read", "dur_s"),
            "stream.add_batch_s": dur("addBatch"),
            "stream.planning_s": dur("queryPlanning"),
            "stream.offsets_s": dur("latestOffset", "getBatch"),
            "stream.wal_commit_s": dur("walCommit", "commitOffsets"),
            "stream.outside_trigger_s": call["dur_s"] - dur("triggerExecution"),
            "stream.input_rows": sum(p["numInputRows"] for p in ps),
            "sinks.rows_inserted": inserted,
            **_sinks(rest, by, row, target),
            **spark,
        }
        for k, v in vals.items():
            acc.setdefault(k, []).append(v)
    out = _finish(acc, info, inserted_total)
    res.detail["trace"] = {"jobs_per_call": jobs, "negative_self_times": negative}
    if negative:
        res.errors.append(f"trace: {negative} negative self times")
    return out


def query_layers(tracer, relational: list[str], iterative: list[str], passes: int, res) -> dict:
    report = tracer.span_report()
    rest = tracer.rest
    per_entry: dict[str, dict[str, list[float]]] = {}
    totals: dict[str, float] = {}
    for root in (r for r in report if r["name"] == "query" and r["attrs"].get("timed")):
        sub = subtree(report, root["id"])
        build = next(r for r in sub if r["name"] == "build")
        action = next(r for r in sub if r["name"] == "action")
        jobs = sorted(j for r in sub for j in r["job_ids"])
        b = rest.job_bytes(jobs)
        vals = {
            "build_s": build["dur_s"], "build_jobs": build["jobs"],
            "build_py4j_calls": build["py4j"], "action_s": action["dur_s"],
            "action_jobs": action["jobs"], "job_gap_s": b["job_gap_s"],
            "shuffle_bytes": b["shuffle_bytes"], "spill_bytes": b["spill_bytes"],
        }
        e = per_entry.setdefault(root["attrs"]["entry"], {})
        for k, v in vals.items():
            e.setdefault(k, []).append(v)
        for k, v in (("spark.jobs", len(jobs)), ("spark.stages", sum(r["stages"] for r in sub)),
                     ("spark.tasks", sum(r["tasks"] for r in sub)),
                     ("spark.failed_tasks", sum(r["failed_tasks"] for r in sub)),
                     ("spark.job_gap_s", b["job_gap_s"])):
            totals[k] = totals.get(k, 0) + v
    out = {k: v / passes for k, v in totals.items()}
    for cls, names in (("relational", relational), ("iterative", iterative)):
        for f in QUERY_FIELDS:
            out[f"query_{cls}.{f}"] = sum(
                statistics.median(per_entry[n][f]) for n in names if n in per_entry
            )
    res.detail["trace"] = {
        "entry_jobs": {n: e["build_jobs"][0] + e["action_jobs"][0] for n, e in per_entry.items()},
    }
    return out
