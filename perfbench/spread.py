"""Run-to-run spread of the end-to-end metrics, and agreement of two sets.

    python3 perfbench/spread.py --runs 10 [--sets 2] [--seconds 8] [--first-seed 1] [workload ...]

Runs ``run.py`` ``--runs`` times per set on each workload, one run at a
time. Set ``k`` uses seeds ``first-seed + 1000 k + i``. The runs are
interleaved (seed index, then workload, then set), so that a slow spell
of the host falls on every set and workload alike rather than on one of
them. Prints per set, workload and metric the median and the distance
between the first and third quartile as a share of the median, next to
the metric's bound from ``BENCHMARK.json``; with two or more sets, also
each set's median relative to the first set's. Every run's final line
and detail line are appended to ``.perfbench_runs.jsonl`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(w: str, seed: int, seconds: float) -> dict | None:
    t = time.monotonic()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.monotonic() - t
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        print(f"{w} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", flush=True)
        return None
    final = json.loads(lines[-1])
    detail = json.loads(lines[-2]) if len(lines) > 1 else {}
    with open(os.path.join(ROOT, ".perfbench_runs.jsonl"), "a") as f:
        f.write(json.dumps({"workload": w, "seed": seed, "wall_s": wall, **final,
                            "detail": detail}) + "\n")
    print(f"{w} seed {seed}: {wall:.1f}s "
          + " ".join(f"{k}={m['value']:.4g}" for k, m in final["metrics"].items()), flush=True)
    return final


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    # values[(set, workload)][metric] -> one value per run
    values: dict[tuple[int, str], dict[str, list[float]]] = {}
    for i in range(args.runs):
        for w in args.workloads:
            for k in range(args.sets):
                final = _run(w, args.first_seed + 1000 * k + i, args.seconds)
                if final is None:
                    ok = False
                    continue
                for name, m in final["metrics"].items():
                    values.setdefault((k, w), {}).setdefault(name, []).append(m["value"])
    for w in args.workloads:
        for k in range(args.sets):
            for name, v in values.get((k, w), {}).items():
                if len(v) < 2:
                    continue
                q1, _, q3 = statistics.quantiles(v, n=4)
                med = statistics.median(v)
                line = (f"set {k} {w} {name}: median {med:.4g} spread {(q3 - q1) / med:.3f}"
                        f" bound {bounds.get(name)}")
                first = values.get((0, w), {}).get(name)
                if k and first:
                    line += f" vs set 0 {med / statistics.median(first) - 1:+.3f}"
                print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
