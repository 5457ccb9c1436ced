"""Steadiness mode: run one workload N times, each in a fresh process with
its own seed, and report every metric's median, quartiles and spread.

    python3 benchmark/steady.py --workload content_reads --runs 10 --seconds 10

The spread is (Q3 - Q1) / median, with the quartiles of
``statistics.quantiles(values, n=4)``.  With ``--trace 1`` the runs are
traced and the per-layer metrics are summarised instead.

Drift: every untraced run also reports each pass's seconds in the order it
ran.  With two or more passes in a run (raise ``--seconds``), the drift
line gives, per run, the last pass over the first; a ratio far from 1 means
passes change speed within one process, which is why every run of the
benchmark starts a fresh process.
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


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, list, float]:
    """One fresh run: its result line, its pass seconds and its wall seconds."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900, check=True).stdout
    wall = time.perf_counter() - t
    lines = out.strip().splitlines()
    passes = []
    for line in lines:
        if line.startswith("# ops "):
            passes = json.loads(line[len("# ops "):])["passes"]
    return json.loads(lines[-1]), passes, wall


def summarize(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    metrics: dict[str, list[float]] = {}
    drift = []
    failed = 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        res, passes, wall = run_once(args.workload, seed, args.seconds, args.trace)
        failed += res["failed"] + (0 if res["correct"] else 1)
        for name, m in res["metrics"].items():
            metrics.setdefault(name, []).append(m["value"])
        if len(passes) > 1:
            drift.append(passes[-1] / passes[0])
        shown = res["metrics"].items() if not args.trace else ()
        print(f"seed {seed}: wall={wall:.1f} " + " ".join(f"{k}={v['value']:.4g}" for k, v in shown),
              flush=True)
    report = {name: summarize(vals) for name, vals in metrics.items()}
    for name, s in report.items():
        print(f"{name:40s} median={s['median']:.4g} q1={s['q1']:.4g} q3={s['q3']:.4g} spread={s['spread']:.3f}")
    if drift:
        print(f"drift (last pass / first pass, per run): {[round(d, 3) for d in drift]}")
    print(json.dumps({"workload": args.workload, "runs": args.runs, "failed": failed,
                      "metrics": report, "drift": drift}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
