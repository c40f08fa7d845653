#!/usr/bin/env python3
"""Steadiness tool: run one workload several times, one seed per run, and
report per metric the median, the quartiles and the spreads; also the curve
of pass times (pass 0 is the cold checking pass) so the warm-up length and
the bounds rest on measured data.

    python3 perfbench/steady.py --workload star_ingest --runs 10 --first-seed 1

``iqr_share`` is (Q3 - Q1) / median, as ``statistics.quantiles(n=4)`` gives
the quartiles; ``range_share`` is (max - min) / median. Each end-to-end
metric is flagged when ``iqr_share`` exceeds a third of its bound in
BENCHMARK.json. The summary is also written to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench", "out")


def _spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "median": med, "q1": q1, "q3": q3, "max": max(values), "min": min(values),
        "iqr_share": (q3 - q1) / med if med else 0.0,
        "range_share": (max(values) - min(values)) / med if med else 0.0,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None, help="default: run_seconds of BENCHMARK.json")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    metrics: dict[str, list[float]] = {}
    curves: list[list[float]] = []
    failed = 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(f"steady: seed {seed} exited with {proc.returncode}")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        failed += result["failed"]
        for k, v in result["metrics"].items():
            metrics.setdefault(k, []).append(v["value"])
        with open(os.path.join(OUT, f"{args.workload}-seed{seed}-trace{args.trace}.json")) as fh:
            rec = json.load(fh)
        curves.append([rec["check_pass"]["pass_s"]] + [q["pass_s"] for q in rec["passes"] if not q["traced"]])
        print(f"steady: seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)

    summary = {
        "workload": args.workload, "runs": args.runs, "seconds": seconds, "trace": args.trace,
        "failed": failed, "metrics": {}, "pass_curve_median_s": [],
    }
    for k, vals in metrics.items():
        s = _spread(vals)
        if k in bounds:
            s["bound"] = bounds[k]
            s["steady"] = k == "setup_s" or s["iqr_share"] <= bounds[k] / 3
        summary["metrics"][k] = s
    depth = min(len(c) for c in curves)
    summary["pass_curve_median_s"] = [statistics.median(c[i] for c in curves) for i in range(depth)]
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"steady-{args.workload}-trace{args.trace}.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
