"""The benchmark's workloads. Each drives the program only through its
public entry points and returns a ``Result``.

- ``etl_daily``: the service on localhost; one day-file per load
  trigger, an idle trigger after each, a one-day watermark rewind and
  replay every third day; ``/status`` polled open-loop by a second
  thread.
- ``query_mix``: registry entries through the noop sink, relational and
  iterative classes, checked against their DuckDB oracles.
- ``stream_microbatch``: ``run_streaming_etl`` with one persistent
  checkpoint; one day-file arrives before each call, so each call runs
  one AvailableNow micro-batch.
"""

from __future__ import annotations

import http.client
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from wsgiref.simple_server import WSGIRequestHandler, make_server

import gen
from expected import EtlOracle, check_queries, check_records

# Rows per arriving day-file: half of a ~200k-row day, so that a run of
# each workload stays near 40 s (README, "Run length").
DAILY_ROWS = 100_000
SETUP_REPS = 3
# The rate of /status clients is not known; 20/s is an arbitrary fixed
# rate that gives a p95 tail over a 10-20 s timed phase.
STATUS_HZ = 20.0
# A crash-recovery replay every third day: arbitrary, so that every run
# has at least one.
REPLAY_EVERY = 3
# Untimed days: the cold first load or call, then one more; the JIT
# still speeds triggers and calls up a little over the next day or two.
WARMUP_DAYS = 2
# The timed phase lasts --seconds and has at least MIN_SAMPLES loads
# (etl_daily) or calls (stream_microbatch), or MIN_PASSES passes over the
# entries (query_mix: each pass times every entry once).
MIN_SAMPLES = 3
MIN_PASSES = 2
# Untimed query_mix passes after the checked warm run: entry times fall
# by about a third over the first three runs of each entry, then level.
WARM_PASSES = 2

RELATIONAL = ["q1_pricing_summary", "q3_shipping_priority", "q18_large_orders", "etl_flagship"]
ITERATIVE = ["graph_pagerank_copurchase"]


@dataclass
class Result:
    op_s: float
    setup_times: list[float]
    named: dict = field(default_factory=dict)  # name -> (value, unit, samples)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, []))
        todo.extend(kids.get(p, []))
    return out


def peak_rss_by_process_mb() -> dict[str, float]:
    """``VmHWM`` of this process and of each descendant (the Spark JVM
    and its Python workers), keyed by process name and pid."""
    out = {}
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}-{pid}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of p99.9/p99/p95/p90/p50 with
    at least ten samples beyond it."""
    s = sorted(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 50.0):
        if len(s) * (100 - p) / 100 >= 10:
            return p, s[min(len(s) - 1, int(len(s) * p / 100))]
    return 100.0, s[-1] if s else 0.0


class Bench:
    """Shared state of one run: the session, paths, optional tracer."""

    def __init__(self, root: str, work: str, seed: int, seconds: float, trace: bool):
        self.root, self.work, self.seed, self.seconds, self.trace = root, work, seed, seconds, trace
        self.tracer = None
        self.spark = None
        self.session = {}
        self.marks: list[tuple[str, float]] = [("start", time.perf_counter())]
        self.rss_mb = 0.0
        self.rss_parts: dict[str, float] = {}
        self.py4j_calls = 0

    def end_timed(self) -> None:
        """End of the timed phase: read the peak memory of the program's
        processes and the py4j count before the benchmark's own checks."""
        self.rss_parts = peak_rss_by_process_mb()
        self.rss_mb = sum(self.rss_parts.values())
        if self.tracer is not None:
            self.py4j_calls = self.tracer.py4j_calls
        self.mark("timed")

    def mark(self, phase: str) -> None:
        """End of ``phase`` (wall-clock breakdown in the detail line)."""
        self.marks.append((phase, time.perf_counter()))

    def start(self):
        from bigquery_postgres_events_etl_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark()
        self.session["start_s"] = time.perf_counter() - t
        self.mark("session_start")

    def set_up(self, prepare, teardown):
        """Restart the session, run the workload's own set-up and a
        first trivial job ``SETUP_REPS`` times; returns the last
        set-up's state and the set-up times. The first job is also
        reported on its own (``session.warm_s``)."""
        from bigquery_postgres_events_etl_spark.session import get_spark

        times, warm, state = [], [], None
        for _ in range(SETUP_REPS):
            if state is not None:
                teardown(state)
            self.spark.stop()
            t = time.perf_counter()
            self.spark = get_spark()
            state = prepare(self.spark)
            w = time.perf_counter()
            self.spark.range(1).count()
            warm.append(time.perf_counter() - w)
            times.append(time.perf_counter() - t)
        self.session["warm_s"] = median(warm)
        self.mark("setup")
        if self.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark)
        return state, times


# ---------------------------------------------------------------------
# etl_daily
# ---------------------------------------------------------------------


class _QuietHandler(WSGIRequestHandler):
    def log_message(self, *args):
        pass


def _request(port: int, method: str, path: str, timeout: float | None = None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request(method, path)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


class StatusPoller(threading.Thread):
    """Open-loop ``GET /status`` at a fixed rate; each latency is timed
    from the request's due time, so a stall also delays later ones."""

    def __init__(self, port: int, hz: float):
        super().__init__(name="status-poller", daemon=True)
        self.port, self.period = port, 1.0 / hz
        self.latencies: list[float] = []
        self.lateness: list[float] = []
        self.failed = 0
        self._halt = threading.Event()

    def run(self):
        t0 = time.perf_counter()
        i = 0
        while True:
            due = t0 + i * self.period
            wait = due - time.perf_counter()
            if self._halt.wait(max(0.0, wait)):
                return
            sent = time.perf_counter()
            self.lateness.append(sent - due)
            try:
                status, body = _request(self.port, "GET", "/status", timeout=30)
                ok = status == 200 and "last_timestamp" in body
            except (OSError, ValueError):
                ok = False
            self.latencies.append(time.perf_counter() - due)
            self.failed += not ok
            i += 1

    def stop(self):
        self._halt.set()
        self.join(timeout=60)


def _target_files(target: str) -> set[str]:
    if not os.path.isdir(target):
        return set()
    return {os.path.join(target, f) for f in os.listdir(target) if f.endswith(".parquet")}


def _written(target: str, before: set[str]) -> dict:
    """Parquet files a run added to ``target`` and their size."""
    new = _target_files(target) - before
    return {"files_written": len(new), "bytes_written": sum(os.path.getsize(f) for f in new)}


def _rewind_watermark(state_path: str) -> None:
    """What a crash between sink commit and watermark advance leaves
    behind: the watermark one day back (written atomically)."""
    with open(state_path) as f:
        value = int(f.read().strip())
    tmp = state_path + ".rewind"
    with open(tmp, "w") as f:
        f.write(str(value - gen.DAY_US))
    os.replace(tmp, state_path)


def etl_daily(b: Bench) -> Result:
    from bigquery_postgres_events_etl_spark.cache import persistent_rdd_count
    from bigquery_postgres_events_etl_spark.service import EtlService, ThreadingWSGIServer
    from bigquery_postgres_events_etl_spark.sources.watermark import write_watermark_us

    src = os.path.join(b.work, "source")
    events_dir = os.path.join(src, "events.parquet")
    state = os.path.join(b.work, "state", "watermark")
    target = os.path.join(b.work, "target", "events.parquet")

    def prepare(spark):
        svc = EtlService(spark, src, state, target)
        server = make_server("127.0.0.1", 0, svc.wsgi_app,
                             server_class=ThreadingWSGIServer, handler_class=_QuietHandler)
        thread = threading.Thread(target=server.serve_forever, kwargs={"poll_interval": 0.05},
                                  name="service", daemon=True)
        thread.start()
        status, _ = _request(server.server_port, "GET", "/health", timeout=30)
        if status != 200:
            raise RuntimeError(f"/health returned {status}")
        return server, thread

    def teardown(st):
        server, thread = st
        server.shutdown()
        server.server_close()
        thread.join(timeout=60)

    (server, thread), setup_times = b.set_up(prepare, teardown)
    if b.tracer is not None:
        from layers import install_etl_spans

        install_etl_spans(b.tracer)
    port = server.server_port
    seed_wm = gen.EPOCH0_US - 1
    write_watermark_us(state, seed_wm)

    log: list[tuple] = []  # ("arrive", path) | ("rewind",) | ("trigger", kind, timed)
    records: list[dict] = []
    times: dict[str, list[float]] = {"load": [], "idle": [], "replay": []}
    info: list[dict] = []  # per trigger: kind, timed, files listed, target growth
    failed = 0

    def trigger(kind: str, timed: bool):
        nonlocal failed
        before = _target_files(target)
        n_src = len(os.listdir(events_dir))
        t = time.perf_counter()
        try:
            status, body = _request(port, "POST", "/trigger")
        except (OSError, ValueError) as e:
            status, body = 0, {"error": repr(e)}
        dt = time.perf_counter() - t
        rec = body.get("result") if status == 200 else {"status": f"http {status}", "error": body}
        rec = rec or {"status": "missing"}
        failed += rec.get("status") != "success"
        records.append(rec)
        log.append(("trigger", kind, timed))
        row = {"kind": kind, "timed": timed, "wall_s": dt, "source_files": n_src,
               **_written(target, before)}
        if b.tracer is not None:
            row["persisted_rdds"] = persistent_rdd_count(b.spark)
        info.append(row)
        if timed:
            times[kind].append(dt)

    def arrive(day: int):
        log.append(("arrive", gen.write_events_day(events_dir, b.seed, day, DAILY_ROWS)))

    def rewind():
        _rewind_watermark(state)
        log.append(("rewind",))

    # warm-up, untimed: the first (cold) load and a few more days
    for day in range(WARMUP_DAYS):
        arrive(day)
        trigger("load", False)
        trigger("idle", False)
    day = WARMUP_DAYS
    b.mark("warmup")

    poller = StatusPoller(port, STATUS_HZ)
    poller.start()
    t_end = time.perf_counter() + b.seconds
    while time.perf_counter() < t_end or len(times["load"]) < MIN_SAMPLES:
        arrive(day)
        trigger("load", True)
        trigger("idle", True)
        if day % REPLAY_EVERY == REPLAY_EVERY - 1:
            rewind()
            trigger("replay", True)
        day += 1
    poller.stop()
    teardown((server, thread))
    b.end_timed()

    # Spark-free expected outputs, replayed over the same sequence
    oracle = EtlOracle(seed_wm)
    files, want = [], []
    for entry in log:
        if entry[0] == "arrive":
            files.append(entry[1])
        elif entry[0] == "rewind":
            oracle.rewind()
        else:
            want.append(oracle.trigger(list(files)))
    errors = check_records(records, want)
    diff = oracle.target_diff(target)
    if diff:
        errors.append(f"target differs from the expected rows in {diff} rows")
    oracle.close()
    b.mark("check")

    load, idle = median(times["load"]), median(times["idle"])
    p, status_tail = tail(poller.latencies)
    attempted = len(records) + len(poller.latencies)
    res = Result(
        op_s=load + idle,
        setup_times=setup_times,
        attempted=attempted,
        failed=failed + poller.failed,
        errors=errors,
    )
    res.named = {
        "trigger_load_s": (load, "s", len(times["load"])),
        "trigger_idle_s": (idle, "s", len(times["idle"])),
        "trigger_replay_s": (median(times["replay"]), "s", len(times["replay"])),
        "status_tail_ms": (status_tail * 1e3, f"ms@p{p:g}", len(poller.latencies)),
        "status_p50_ms": (median(poller.latencies) * 1e3, "ms", len(poller.latencies)),
        "poller_lateness_max_ms": (max(poller.lateness, default=0.0) * 1e3, "ms",
                                   len(poller.lateness)),
        "days_loaded": (day, "count", 1),
    }
    res.detail["records"] = [
        {**i, **{k: r.get(k) for k in ("records_fetched", "records_inserted")}}
        for i, r in zip(info, records)
    ]
    if b.tracer is not None:
        from layers import etl_layers

        res.layers = etl_layers(b.tracer, target, info, records, res)
    return res


# ---------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------


def query_mix(b: Bench) -> Result:
    from bigquery_postgres_events_etl_spark.registry import all_queries

    sf_dir = os.path.join(b.work, "sf")
    gen.write_query_fixture(sf_dir, b.seed)
    all_queries()  # imports every operator module once, before the set-up reps
    _, setup_times = b.set_up(lambda spark: all_queries(), lambda st: None)
    spark = b.spark
    queries = all_queries()
    entries = RELATIONAL + ITERATIVE

    def run(name: str, timed: bool) -> float:
        spark.catalog.clearCache()
        if b.tracer is None:
            t = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t
        cls = "relational" if name in RELATIONAL else "iterative"
        with b.tracer.span("query", entry=name, cls=cls, timed=timed) as sp:
            with b.tracer.span("build"):
                df = queries[name](spark, sf_dir)
            with b.tracer.span("action"):
                df.write.format("noop").mode("overwrite").save()
        return sp["end"] - sp["start"]

    # warm run of every entry, whose collected rows are also the output
    # checked against the oracle after the timed phase
    results, errors, failed = {}, [], 0
    for name in entries:
        spark.catalog.clearCache()
        try:
            df = queries[name](spark, sf_dir)
            results[name] = (df.columns, [tuple(r) for r in df.collect()], dict(df.dtypes))
        except Exception as e:  # noqa: BLE001 — a failing entry is a counted failure
            errors.append(f"{name}: {e!r}"[:500])
            failed += 1
    for _ in range(WARM_PASSES):
        for name in results:
            run(name, False)
    b.mark("warmup")

    samples: dict[str, list[float]] = {n: [] for n in entries}
    passes = 0
    t_end = time.perf_counter() + b.seconds
    while time.perf_counter() < t_end or passes < MIN_PASSES:
        for name in entries:
            samples[name].append(run(name, True))
        passes += 1
    spark.catalog.clearCache()
    b.end_timed()
    errors += check_queries(b.root, sf_dir, results)
    b.mark("check")

    rel = sum(median(samples[n]) for n in RELATIONAL)
    it = sum(median(samples[n]) for n in ITERATIVE)
    res = Result(op_s=rel + it, setup_times=setup_times,
                 attempted=len(entries) * (passes + 1 + WARM_PASSES), failed=failed, errors=errors)
    res.named = {
        "query_relational_s": (rel, "s", passes),
        "query_iterative_s": (it, "s", passes),
    }
    res.detail["entry_median_s"] = {n: median(v) for n, v in samples.items()}
    res.detail["entry_samples_s"] = samples
    if b.tracer is not None:
        from layers import query_layers

        res.layers = query_layers(b.tracer, RELATIONAL, ITERATIVE, passes, res)
    return res


# ---------------------------------------------------------------------
# stream_microbatch
# ---------------------------------------------------------------------


def stream_microbatch(b: Bench) -> Result:
    from bigquery_postgres_events_etl_spark.streaming import stream

    events_dir = os.path.join(b.work, "source", "events.parquet")
    target = os.path.join(b.work, "target", "events.parquet")
    ckpt = os.path.join(b.work, "checkpoint")
    _, setup_times = b.set_up(lambda spark: None, lambda st: None)
    listener = None
    if b.tracer is not None:
        from layers import install_stream_spans

        install_stream_spans(b.tracer)
        listener = b.tracer.stream_listener()

    files, records, times, info = [], [], [], []
    failed = 0

    def call(day: int, timed: bool):
        nonlocal failed
        files.append(gen.write_events_day(events_dir, b.seed, day, DAILY_ROWS))
        before = _target_files(target)
        t = time.perf_counter()
        try:
            if b.tracer is None:
                rec = stream.run_streaming_etl(b.spark, events_dir, target, ckpt)
            else:
                with b.tracer.span("stream", day=day):
                    rec = stream.run_streaming_etl(b.spark, events_dir, target, ckpt)
        except Exception as e:  # noqa: BLE001 — a failing call is a counted failure
            rec = {"status": "error", "error": repr(e)[:500]}
        dt = time.perf_counter() - t
        failed += rec.get("status") != "success"
        records.append(rec)
        info.append({"timed": timed, "wall_s": dt, "source_files": len(files),
                     **_written(target, before)})
        if timed:
            times.append(dt)

    for day in range(WARMUP_DAYS):
        call(day, False)
    day = WARMUP_DAYS
    b.mark("warmup")
    t_end = time.perf_counter() + b.seconds
    while time.perf_counter() < t_end or len(times) < MIN_SAMPLES:
        call(day, True)
        day += 1
    b.end_timed()

    # each call is one micro-batch over the new file: no watermark filter,
    # the same dedup and conflict-skipping append
    oracle = EtlOracle(None)
    want = []
    for i, f in enumerate(files):
        oracle.trigger([f])
        want.append({"batch_id": i, "rows_in_target": oracle.target_rows()})
    errors = check_records(records, want)
    diff = oracle.target_diff(target)
    if diff:
        errors.append(f"target differs from the expected rows in {diff} rows")
    oracle.close()
    b.mark("check")

    op = median(times)
    res = Result(op_s=op, setup_times=setup_times, attempted=len(records), failed=failed,
                 errors=errors)
    res.named = {"microbatch_s": (op, "s", len(times)), "days_loaded": (day, "count", 1)}
    res.detail["records"] = [{**i, **r} for i, r in zip(info, records)]
    if listener is not None:
        from layers import stream_layers

        res.layers = stream_layers(b.tracer, listener, target, info, records, res)
    return res


WORKLOADS = {"etl_daily": etl_daily, "query_mix": query_mix,
             "stream_microbatch": stream_microbatch}
