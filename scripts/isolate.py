"""Isolate named queries with the noop sink.

Usage: python scripts/isolate.py [--tag before|after] [--plans] q1 q2 ...

For each named query: N reps of (construct, noop-exec), printed per rep,
plus optional .explain("formatted") dump to plans/<q>_<tag>.txt.
Artifacts are built up front (untimed) exactly as bench.py does, so the
numbers isolate the query itself.  As in bench.py, the operator persist
registry is released before every rep, so each rep is self-contained
(rep 0 additionally eats one-time codegen compile).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from staticql_spark.operators import release_persists
from staticql_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--plans", action="store_true")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("isolate")
    spark.sparkContext.setLogLevel("ERROR")

    import glob

    for p in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        spark.read.parquet(p).count()
    t0 = time.perf_counter()
    entry.build_artifacts(spark, sf_dir)
    print(f"artifacts built in {time.perf_counter() - t0:.1f}s", flush=True)

    qs = entry.queries()
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans"
    )
    os.makedirs(plans_dir, exist_ok=True)

    for name in args.names:
        if name not in qs:
            print(f"!! unknown query: {name}")
            continue
        spark.sparkContext.setJobDescription(f"isolate:{name}")
        for rep in range(args.reps):
            release_persists()
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            print(
                f"{name} rep{rep}: construct={t1 - t0:.3f}s exec={t2 - t1:.3f}s",
                flush=True,
            )
        if args.plans:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(plans_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"  plan -> {path}", flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
