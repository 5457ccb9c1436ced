"""Benchmark entry point.

    python3 benchmark/run.py --workload content_reads --seed 1 --seconds 10 --trace 0

Run from the repository root.  It generates the workload's inputs from
``--seed`` under ``benchmark/.out/``, sizes the Spark session to the host,
sets up, measures whole passes for at least ``--seconds`` seconds in a
closed loop with one client, checks every answer, and prints one JSON
object as the last line of standard output: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line before it
(``# metrics ...``) gives the workload's own named metrics with units.  See
``benchmark/README.md``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")

# A run times one pass of 7 to 9 operations, too few for a checked upper
# percentile; op_p90 is printed on the ``# metrics`` line instead.
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "pass_s": "s",
}
LAYERS = ("bench", "sources", "query", "indexing", "operators")


def host_sizing() -> tuple[int, str]:
    """Cores from the affinity mask (what ``nproc`` prints) and a quarter of
    MemTotal, in whole GB between 1 and 8, for the Spark driver."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return cpus, f"{max(1, min(8, kb // 2**20 // 4))}g"


def per_layer_units() -> dict[str, str]:
    from corpus import CONFIG
    from workloads import OPERATOR_KEYS, READ_KINDS

    units = {"session.start_s": "s"}
    for src in CONFIG["sources"]:
        units.update({f"sources.{src}.parse_s": "s", f"sources.{src}.files": "count",
                      f"sources.{src}.records": "count"})
    for kind in READ_KINDS:
        units.update({f"query.{kind}.build_ms": "ms", f"query.{kind}.plan_ms": "ms",
                      f"query.{kind}.exec_ms": "ms", f"query.{kind}.rows_returned": "count",
                      f"query.{kind}.jobs": "count", f"query.{kind}.tasks": "count"})
    units.update({"query.confirm.exec_ms": "ms", "query.confirm.rows_returned": "count",
                  "query.confirm.jobs": "count", "query.confirm.tasks": "count"})
    units.update({
        "indexing.refresh_s": "s", "indexing.full_build_s": "s", "indexing.entries": "count",
        "indexing.partitions_rewritten": "count", "indexing.bytes_written_per_edit": "B",
        "indexing.bytes_per_content_byte": "count",
    })
    for key in OPERATOR_KEYS:
        units.update({f"operators.{key}.construct_s": "s", f"operators.{key}.plan_s": "s",
                      f"operators.{key}.exec_s": "s"})
    units["operators.persists_released"] = "count"
    units.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.task_cpu_s": "s", "spark.task_run_s": "s", "spark.gc_s": "s",
        "spark.shuffle_mb": "MB", "spark.spill_mb": "MB", "spark.codegen_compiles": "count",
        "spark.codegen_compiles_setup": "count", "spark.persisted_rdds_after_release": "count",
    })
    for layer in LAYERS:
        units[f"layer.{layer}.self_s"] = "s"
    units["trace.overhead_s"] = "s"
    return units


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def configure_env(work: str, trace: bool) -> tuple[int, str]:
    """Everything the session reads from the environment, set before pyspark
    is imported: host sizing, worker import path, and temporary space inside
    the checkout."""
    cpus, mem = host_sizing()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
    })
    submit = [f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"',
              "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        log = os.path.join(work, "eventlog")
        os.makedirs(log)
        submit += ["--conf spark.eventLog.enabled=true", f"--conf spark.eventLog.dir={log}",
                   "--conf spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return cpus, mem


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for it and its Python
    workers to exit."""
    from tracing import children

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    kids = children(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{k}") for k in kids) and time.time() < deadline:
        time.sleep(0.1)


def main() -> int:
    import workloads as wl

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for need in ("staticql_spark", "__spark_entry__.py", os.path.join("tests", "oracle_harness.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"{need} not found under {ROOT}; run from a full checkout", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

    work = os.path.join(OUT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cpus, mem = configure_env(work, bool(args.trace))
    try:
        return measure(args, work, cpus, mem)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def setup(run, wl, corpus_bytes: int) -> tuple[float, float, dict]:
    """The workload's set-up after the session: ``define`` and one parse of
    every source, ``define`` and a full index build, or a warm-up pass over
    every key.  Returns the full build seconds, the index/content byte ratio
    and, for ``operator_batch``, the warm-up results to check."""
    if run.name == "operator_batch":
        return 0.0, 0.0, wl.operator_warmup(run)
    run.define()
    if run.name == "content_reads":
        run.force_sources()
        return 0.0, 0.0, {}
    build_s = wl.full_build(run)
    return build_s, wl.tree_bytes(wl.index_dir(run)) / corpus_bytes, {}


def measure(args, work: str, cpus: int, mem: str) -> int:
    from corpus import Corpus
    from staticql_spark import get_spark
    from tracing import SparkProbe, Tracer, event_log_totals, peak_rss_gb

    import opsdata
    import workloads as wl

    # Input generation is left out of set-up time.
    g0 = time.perf_counter()
    corpus = Corpus(args.seed)
    content = os.path.join(work, "site")
    tables = os.path.join(work, "tables")
    large_tables = os.path.join(work, "tables-large")
    if args.workload == "operator_batch":
        opsdata.write(tables, args.seed, vectors=100)
        opsdata.write(large_tables, args.seed, vectors=1_500)
        content_bytes = 1
    else:
        corpus.write(content)
        content_bytes = corpus.content_bytes(content)
    generate_s = time.perf_counter() - g0

    t0 = time.perf_counter()
    spark = get_spark("staticql-benchmark")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    tracer = Tracer(False)
    probe = SparkProbe(spark)
    run = wl.Run(spark, corpus, content, tracer, probe, args.workload)
    run.tables, run.large_tables = tables, large_tables
    layer: dict[str, float] = {}
    try:
        build_s, index_ratio, results = setup(run, wl, content_bytes)
        setup_s = time.perf_counter() - PROCESS_START - generate_s
        compiles_setup = probe.codegen_compiles()

        rng = random.Random(args.seed * 7919 + 17)
        wl.run_loop(run, rng, args.seconds, paired=bool(args.trace))
        untraced, passes = list(run.op_seconds), list(run.pass_seconds)
        if args.trace:
            layer = traced_metrics(run, probe.codegen_compiles() - compiles_setup)
            traced_ids = set(run.op_ids)
            if args.workload == "content_reads":
                # Reads touch no index: one full build and one publish after
                # the traced loop measure the indexing layer in this run too.
                build_s = wl.full_build(run)
                index_ratio = wl.tree_bytes(wl.index_dir(run)) / content_bytes
                wl.do_publish(run, rng)
            layer.update({f"{prefix}.{k}": statistics.median(v)
                          for prefix, per in run.stats.items() for k, v in per.items()})
            if build_s:
                layer.update({"indexing.full_build_s": build_s, "indexing.bytes_per_content_byte": index_ratio,
                              "indexing.entries": sum(corpus.index_size(s) for s in ("herbs", "recipes"))})
            if args.workload == "operator_batch":
                layer["operators.persists_released"] = run.released / len(passes)
            layer.update({"session.start_s": session_s, "spark.codegen_compiles_setup": compiles_setup})
            source_metrics(run, layer)
        ok = True
        if args.workload == "content_publish" or (args.trace and args.workload == "content_reads"):
            ok = wl.verify_full_index(run)
        if not ok:
            print("the index after the run differs from the model", flush=True)
        if args.workload == "operator_batch":
            from staticql_spark.operators import release_persists

            release_persists()
            wl.check_operators(run, results)
        if args.trace:
            layer["spark.persisted_rdds_after_release"] = probe.persisted_rdds()
        rss = peak_rss_gb(jvm_pid)
    finally:
        stop_session(spark)

    error_rate = run.failed / max(run.attempted, 1)
    named = named_metrics(args.workload, untraced, passes, setup_s, rss, error_rate,
                          build_s, index_ratio)
    if args.trace:
        totals = event_log_totals(os.path.join(work, "eventlog"), traced_ids)
        layer.update({f"spark.task_{k}" if k in ("cpu_s", "run_s") else f"spark.{k}": v / len(traced_ids)
                      for k, v in totals.items()})
        tracer.write(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in per_layer_units().items()}
    else:
        values = {"setup_s": setup_s, "op_p50_s": quantile(untraced, 0.5),
                  "pass_s": statistics.median(passes)}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print("# ops " + json.dumps({"ops": untraced, "traced": run.traced_seconds, "passes": passes}))

    print(f"# {args.workload} seed={args.seed} cpus={cpus} driver_mem={mem} "
          f"ops={run.attempted} failed={run.failed} generate_s={generate_s:.2f} index_ok={ok}")
    print("# metrics " + json.dumps({"workload": args.workload, "SPARK_GRAFT_CPUS": cpus,
                                     "SPARK_GRAFT_DRIVER_MEM": mem, "metrics": named}))
    result = {
        "correct": ok and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


def named_metrics(workload: str, ops: list[float], passes: list[float], setup_s: float,
                  rss: float, error_rate: float, build_s: float, index_ratio: float) -> dict:
    """The workload's end-to-end metrics under the names the project's
    reports use."""
    out = {"setup_s": (setup_s, "s"), "peak_rss_gb": (rss, "GB"), "error_rate": (error_rate, "ratio"),
           "op_p90_s": (quantile(ops, 0.9), "s")}
    if workload == "content_reads":
        out.update(read_p50_s=(quantile(ops, 0.5), "s"), read_p90_s=(quantile(ops, 0.9), "s"))
    elif workload == "content_publish":
        out.update(publish_p50_s=(quantile(ops, 0.5), "s"), full_build_s=(build_s, "s"),
                   index_bytes_per_content_byte=(index_ratio, "count"))
    else:
        out["batch_s"] = (statistics.median(passes), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def traced_metrics(run, compiles: int) -> dict[str, float]:
    """Per traced operation: engine counters and each layer's self time;
    and the tracing overhead, the median traced operation minus the median
    untraced one of the same paired loop."""
    out: dict[str, float] = {}
    ops = len(run.traced_seconds)
    jobs = stages = tasks = 0
    for op in run.op_ids:
        j, st, t = run.probe.jobs_stages_tasks(op)
        jobs, stages, tasks = jobs + j, stages + st, tasks + t
    # Compiles are counted over the whole paired loop, untraced half too.
    out.update({"spark.jobs": jobs / ops, "spark.stages": stages / ops, "spark.tasks": tasks / ops,
                "spark.codegen_compiles": compiles / ops})
    for layer, s in run.tracer.self_seconds().items():
        out[f"layer.{layer}.self_s"] = s / ops
    out["trace.overhead_s"] = statistics.median(run.traced_seconds) - statistics.median(run.op_seconds)
    return out


def source_metrics(run, layer: dict) -> None:
    """Per source: files matched, records in the model, and the seconds the
    last forced scan took (a noop write each, in ``Run.force_sources``)."""
    from corpus import CONFIG

    if run.name == "operator_batch":
        return
    if not run.parse_seconds:
        run.force_sources()
    records = run.corpus.records()
    for src, cfg in CONFIG["sources"].items():
        pattern = os.path.join(run.root, cfg["pattern"])
        layer[f"sources.{src}.parse_s"] = run.parse_seconds[src]
        layer[f"sources.{src}.files"] = len(glob.glob(pattern, recursive="**" in pattern))
        layer[f"sources.{src}.records"] = records[src]


if __name__ == "__main__":
    sys.exit(main())
