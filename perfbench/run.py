"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository. Inputs are generated
from ``--seed`` under ``.perfbench_work/`` in the checkout (removed at
exit), the workload measures for ``--seconds``, outputs are checked, and
the last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (``setup_s``, ``op_s``); with
``--trace 1`` the run is traced and the metrics are the per-layer ones.
The line before it carries every named end-to-end metric of the
workload with its unit and sample count.
Exits non-zero when an output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bigquery_postgres_events_etl_spark"


def _isolate(work: str, trace: bool) -> None:
    """Every file Spark, the JVM and Python write goes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    if trace:
        retain = " ".join(
            f"--conf {k}=1000000" for k in (
                "spark.ui.retainedJobs", "spark.ui.retainedStages",
                "spark.sql.ui.retainedExecutions",
                # scan descriptions keep whole paths (sinks.target_read_bytes)
                "spark.sql.maxMetadataStringLength")
        )
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"{retain} pyspark-shell"
    os.chdir(work)


def _stop(b) -> None:
    """Stop Spark and the JVM, then wait for every child to exit."""
    from pyspark import SparkContext

    from workloads import descendants

    if b.tracer is not None:
        b.tracer.close()
    if b.spark is not None:
        b.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _metric(value, unit) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS, Bench, median

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    b = Bench(ROOT, work, args.seed, args.seconds, bool(args.trace))
    try:
        _isolate(work, bool(args.trace))
        b.start()
        res = WORKLOADS[args.workload](b)
        b.mark("layers" if b.tracer is not None else "end")
    except Exception:  # noqa: BLE001 — report and fail the run
        traceback.print_exc()
        return 1
    finally:
        try:
            _stop(b)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
            b.mark("stop")
            try:
                os.rmdir(work_root)
            except OSError:
                pass  # another run still uses it

    setup = median(res.setup_times)
    named = {
        "setup_s": (setup, "s", len(res.setup_times)),
        "op_s": (res.op_s, "s", None),
        **res.named,
        "error_rate": (res.failed / max(1, res.attempted), "ratio", res.attempted),
        "peak_rss_mb": (b.rss_mb, "MB", 1),
    }
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "named": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in named.items()},
        "errors": res.errors, **res.detail,
        "phases_s": {n: t - t0 for (_, t0), (n, t) in zip(b.marks, b.marks[1:])},
        "peak_rss_by_process_mb": b.rss_parts,
    }))
    if args.trace:
        from layers import PER_LAYER

        values = {k: 0 for k in PER_LAYER}
        values.update(res.layers)
        values["session.start_s"] = b.session["start_s"]
        values["session.warm_s"] = b.session["warm_s"]
        values["trace.op_s"] = res.op_s
        values["memory.peak_rss_mb"] = b.rss_mb
        values["trace.py4j_calls"] = b.py4j_calls
        metrics = {k: _metric(values[k], u) for k, u in PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": _metric(setup, "s"),
            "op_s": _metric(res.op_s, "s"),
        }
    for e in res.errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({"correct": not res.errors, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if not res.errors else 1


if __name__ == "__main__":
    sys.exit(main())
