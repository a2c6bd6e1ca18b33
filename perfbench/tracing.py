"""Traced-run recorder: spans around the program's public layer
functions, py4j round-trips, Spark job/stage/task counts and bytes.

Used only with ``--trace 1``; the timed run never imports it.

- Spans: ``Tracer.wrap`` replaces a function at the attribute its caller
  looks up (``streaming.incremental.load_table``, not ``io.load_table``:
  ``incremental.py`` imports names directly) with a wrapper that opens a
  span. Every span runs its Spark jobs under its own job group.
- py4j: ``ClientServerConnection.send_command`` is wrapped and each call
  is charged to the innermost open span of the calling thread.
- Jobs, stages, tasks: ``sc.statusTracker()`` per job group.
- Bytes and job gaps: the UI REST API (the UI is on only in this run).
- Streaming: a ``StreamingQueryListener`` keeps every query progress
  record. Micro-batch jobs run on the stream's own thread, where the
  caller's job group does not reach; spans opened inside the
  ``foreachBatch`` callback run on a callback thread and are roots there.

Spans stay in memory; ``span_report`` turns them into per-span records
with self time: duration minus the durations of the child spans. Child
spans of one thread run one after another inside their parent, so self
time is negative only when a span is lost or wrapped at the wrong place.
"""

from __future__ import annotations

import datetime
import functools
import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager

from py4j.clientserver import ClientServerConnection
from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []
        self.py4j_calls = 0
        self._install_py4j_counter()

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def quiet(self):
        """py4j calls of the recorder itself are not counted."""
        before = getattr(self._local, "quiet", False)
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = before

    def _set_group(self, span: dict | None) -> None:
        with self.quiet():
            if span is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        sp = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
              "group": f"perfbench-{sid}", "py4j": 0, "attrs": attrs}
        self._set_group(sp)
        stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            self._set_group(parent)
            self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    # -- py4j ----------------------------------------------------------
    def _install_py4j_counter(self) -> None:
        orig = ClientServerConnection.send_command
        tracer = self

        @functools.wraps(orig)
        def counted(conn, command):
            if not getattr(tracer._local, "quiet", False):
                tracer.py4j_calls += 1
                stack = getattr(tracer._local, "stack", None)
                if stack:
                    stack[-1]["py4j"] += 1
            return orig(conn, command)

        ClientServerConnection.send_command = counted
        self._patches.append((ClientServerConnection, "send_command", orig))

    def stream_listener(self) -> "ProgressListener":
        from pyspark.sql import SparkSession

        listener = ProgressListener()
        SparkSession.getActiveSession().streams.addListener(listener)
        self._listener = listener
        return listener

    def close(self) -> None:
        listener = getattr(self, "_listener", None)
        if listener is not None:
            from pyspark.sql import SparkSession

            SparkSession.getActiveSession().streams.removeListener(listener)
            self._listener = None
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- Spark-side numbers --------------------------------------------
    def job_counts(self, group: str) -> dict:
        """Jobs, stages, tasks and failed tasks of one job group."""
        with self.quiet():
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(group)
            stages = tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else []:
                    sinfo = st.getStageInfo(s)
                    if sinfo is None:
                        continue  # skipped stage (shuffle output reused)
                    stages += 1
                    tasks += sinfo.numTasks
                    failed += sinfo.numFailedTasks
            return {"job_ids": sorted(jobs), "jobs": len(jobs), "stages": stages,
                    "tasks": tasks, "failed_tasks": failed}

    def span_report(self) -> list[dict]:
        """Spans with self time, own job counts, bytes and job gaps.
        Keeps the REST snapshot it read as ``self.rest``."""
        rest = self.rest = RestSnapshot(self.sc)
        children: dict[int, list[dict]] = {}
        for sp in self.spans:
            children.setdefault(sp["parent"], []).append(sp)
        out = []
        for sp in self.spans:
            kids = children.get(sp["id"], [])
            counts = self.job_counts(sp["group"])
            rec = {
                "id": sp["id"], "name": sp["name"], "parent": sp["parent"],
                "attrs": sp["attrs"], "start": sp["start"],
                "dur_s": sp["end"] - sp["start"],
                "self_s": sp["end"] - sp["start"] - sum(k["end"] - k["start"] for k in kids),
                "py4j": sp["py4j"],
                **counts,
                **rest.job_bytes(counts["job_ids"]),
            }
            out.append(rec)
        return out


def _parse_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class ProgressListener(StreamingQueryListener):
    """Keeps every query progress record (as parsed JSON) and the run id
    of every terminated query run."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated: list[str] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._cv:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated.append(str(event.runId))
            self._cv.notify_all()

    def wait_terminated(self, runs: int, timeout: float = 60.0) -> bool:
        """Events arrive asynchronously; wait until ``runs`` query runs
        have reported their end (their progress events come first)."""
        with self._cv:
            return self._cv.wait_for(lambda: len(self.terminated) >= runs, timeout)


class RestSnapshot:
    """One read of the UI REST API's job and stage lists."""

    def __init__(self, sc):
        self.sc = sc
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.jobs = {j["jobId"]: j for j in _get(f"{base}/jobs")}
        self.sql = _get(f"{base}/sql?details=true&planDescription=false&length=1000000")
        self.stages: dict[int, dict] = {}
        for s in _get(f"{base}/stages"):
            # keep the latest attempt of each stage
            if s["stageId"] not in self.stages or s["attemptId"] > self.stages[s["stageId"]]["attemptId"]:
                self.stages[s["stageId"]] = s

    def job_bytes(self, job_ids: list[int]) -> dict:
        inp = shuffle = spill = scan_tasks = 0
        windows = []
        for j in job_ids:
            job = self.jobs.get(j)
            if job is None:
                continue
            t0, t1 = _parse_time(job.get("submissionTime")), _parse_time(job.get("completionTime"))
            if t0 is not None and t1 is not None:
                windows.append((t0, t1))
            for sid in job.get("stageIds", []):
                st = self.stages.get(sid)
                if st is None or st.get("status") == "SKIPPED":
                    continue
                inp += st.get("inputBytes", 0)
                shuffle += st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
                spill += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                if st.get("inputBytes", 0) > 0:
                    scan_tasks += st.get("numTasks", 0)
        windows.sort()
        gap = sum(max(0.0, b[0] - a[1]) for a, b in zip(windows, windows[1:]))
        return {"input_bytes": inp, "shuffle_bytes": shuffle, "spill_bytes": spill,
                "scan_tasks": scan_tasks, "job_gap_s": gap}


    def scan_bytes(self, job_ids: list[int], location: str) -> float:
        """``size of files read`` of the scan nodes over ``location`` in
        the SQL executions that ran any of ``job_ids``. The REST API
        gives each node's metrics but not what it scans; the node's
        description (with its ``Location``) comes from the SQL status
        store's plan graph."""
        jobs, total = set(job_ids), 0.0
        store = None
        for ex in self.sql:
            if not jobs & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                continue
            scans = {n["nodeId"]: n for n in ex["nodes"] if n["nodeName"].startswith("Scan")}
            if not scans:
                continue
            if store is None:
                store = self.sc._jvm.org.apache.spark.sql.SparkSession.active() \
                    .sharedState().statusStore()
            it = store.planGraph(ex["id"]).allNodes().iterator()
            while it.hasNext():
                node = it.next()
                if node.id() in scans and location in node.desc():
                    total += sum(_size(m["value"]) for m in scans[node.id()]["metrics"]
                                 if m["name"] == "size of files read")
        return total


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _size(text: str) -> float:
    """A size as the UI prints it (``9.2 KiB``); three digits, so the
    result is exact only to about 0.1%."""
    value, unit = text.strip().split()
    return float(value.replace(",", "")) * _UNITS[unit]


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def subtree(report: list[dict], root_id: int) -> list[dict]:
    """The span ``root_id`` and every span below it."""
    by_parent: dict[int, list[dict]] = {}
    for r in report:
        by_parent.setdefault(r["parent"], []).append(r)
    out, todo = [], [r for r in report if r["id"] == root_id]
    while todo:
        r = todo.pop()
        out.append(r)
        todo.extend(by_parent.get(r["id"], []))
    return out
