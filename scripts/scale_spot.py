"""Scaling spot-check: run the heavy keys at a LARGER synthetic SF
(scripts/gen_scale_data.py output) at two core counts — every core this
process may run on, and one — and report the 1-core/N-core exec ratio
per key.

At sf0.1 every benched key sits at or below the per-stage scheduling
floor, so sf0.1 numbers say nothing about parallel scaling.
Each core count runs in its OWN subprocess (scripts/isolate.py) so
`local[N]` and defaultParallelism are honest; reps are self-contained
(persist registry released per rep) and we take min-of-reps per
(key, cpus).

Usage: python scripts/scale_spot.py [sf_dir] [keys...]
Writes SCALE_SPOT.json next to the repo root and prints a table.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DEFAULT_KEYS = [
    "ann_label_noise", "ann_rnn_pairs", "dedup_minhash_1bit",
    "dedup_incremental", "dedup_minhash_lsh", "dedup_lsh_recall",
    "doc_selfdedup", "pipeline_clean_corpus", "doc_dup_spans",
    "events_funnel_steps",
]


def run(cpus: int, sf_dir: str, keys: list[str]) -> dict[str, float]:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_SF_DIR=sf_dir)
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "isolate.py"), "--reps", "3", *keys],
        env=env, capture_output=True, text=True, cwd=ROOT,
    )
    out: dict[str, list[float]] = {}
    for m in re.finditer(r"^(\S+) rep\d+: construct=([\d.]+)s exec=([\d.]+)s",
                         p.stdout, re.M):
        out.setdefault(m.group(1), []).append(float(m.group(3)))
    if not out:
        print(p.stdout[-2000:], p.stderr[-2000:], sep="\n---\n")
        raise SystemExit(f"no timings parsed at cpus={cpus}")
    return {k: min(v) for k, v in out.items()}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_sf05"
    keys = sys.argv[2:] or DEFAULT_KEYS
    hi, lo = len(os.sched_getaffinity(0)), 1
    res = {}
    for cpus in (hi, lo):
        print(f"== running {len(keys)} keys at local[{cpus}] over {sf_dir}",
              flush=True)
        res[cpus] = run(cpus, sf_dir, keys)
    rows = []
    for k in keys:
        t_hi, t_lo = res[hi].get(k), res[lo].get(k)
        if t_hi and t_lo:
            rows.append((k, t_hi, t_lo, round(t_lo / t_hi, 2)))
    print(f"\n| key | {hi}-core s | {lo}-core s | ratio ({lo}c/{hi}c) |")
    print("|---|---|---|---|")
    for k, a, b, r in rows:
        print(f"| {k} | {a:.2f} | {b:.2f} | {r} |")
    with open(os.path.join(ROOT, "SCALE_SPOT.json"), "w") as f:
        json.dump(
            {"sf_dir": sf_dir,
             "keys": {k: {f"c{hi}": a, f"c{lo}": b, "ratio": r}
                      for k, a, b, r in rows}},
            f, indent=1,
        )


if __name__ == "__main__":
    main()
