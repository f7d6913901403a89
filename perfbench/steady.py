#!/usr/bin/env python3
"""Steadiness report: run the benchmark N times per workload and compare
each end-to-end metric's spread with the bound fixed for it.

    python3 perfbench/steady.py --runs 10 [--workloads mr-jobs,...] \
        [--seed-start 1] [--save out.json] [--against earlier.json]

Reads ``BENCHMARK.json`` from the repository root for the command, the
run length, the workloads and the bounds. Each run gets its own seed. For
every workload and metric it prints the median, the quartiles (Python's
``statistics.quantiles(values, n=4)``) and the spread, the distance between
the quartiles as a share of the median. A spread must stay within the
metric's bound and should stay below a third of it.
``--against`` also checks that no median is worse than the earlier set's by
more than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cfg: dict, workload: str, seed: int) -> dict:
    cmd = [*cfg["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(cfg["run_seconds"]), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def summarize(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def worse_by(metric: dict, new: float, old: float) -> float:
    """How much worse ``new`` is than ``old``, as a share of ``old``."""
    return (new - old) / old if metric["better"] == "lower" else (old - new) / old


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-start", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--save")
    ap.add_argument("--against")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in cfg["workloads"]]
    metrics = {m["name"]: m for m in cfg["end_to_end"]}
    earlier = json.load(open(args.against)) if args.against else {}

    values: dict[str, dict[str, list[float]]] = {}
    ok = True
    for wl in names:
        values[wl] = {m: [] for m in metrics}
        for i in range(args.runs):
            res = run_once(cfg, wl, args.seed_start + i)
            if not res["correct"]:
                print(f"{wl} seed {args.seed_start + i}: {res['failed']}/{res['attempted']} operations failed")
                ok = False
            for m in metrics:
                values[wl][m].append(res["metrics"][m]["value"])
            if args.save:
                with open(args.save, "w") as f:
                    json.dump(values, f, indent=1)
            print(f"# {wl} run {i + 1}/{args.runs} done", file=sys.stderr, flush=True)
        print(f"\n{wl} ({args.runs} runs)")
        print(f"  {'metric':18s} {'median':>11s} {'q1':>11s} {'q3':>11s} {'spread':>7s} {'bound':>6s}")
        for m, spec in metrics.items():
            med, q1, q3, spread = summarize(values[wl][m])
            verdict = "ok" if spread <= spec["bound"] / 3 else "WIDE" if spread <= spec["bound"] else "OVER"
            if verdict == "OVER":
                ok = False
            line = f"  {m:18s} {med:11.4f} {q1:11.4f} {q3:11.4f} {spread:7.3f} {spec['bound']:6.2f}  {verdict}"
            if wl in earlier:
                old = statistics.median(earlier[wl][m])
                drift = worse_by(spec, med, old)
                line += f"  vs earlier median {old:.4f}: {drift:+.3f}"
                if drift > spec["bound"]:
                    line += " WORSE"
                    ok = False
            print(line, flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
