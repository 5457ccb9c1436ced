"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced with the noop sink (full computation, no driver
materialization) so timings measure the engine, not result transfer.

Artifact format (r6): the external driver records only a 2000-char tail of
stdout, which is why the r4/r5 BENCH artifacts parsed as null once the set
grew past ~40 queries.  So:
  - stdout gets ONE compact line (< ~1900 chars): full-set totals, the
    stable CORE per-query map (cross-round comparable), and a per-run
    spread health summary (max/median rep-spread ratio + the worst
    offenders as [min, med, max] triples — the r3-contamination lesson:
    a healthy run has per-query spread within ~±15%, a contaminated one
    shows uniform 2-4x spread everywhere);
  - the FULL per-query detail (exec min + all reps + construct) is
    written to BENCH_FULL.json next to this script and committed with
    the round, so every number in SCALE.md stays reproducible.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry
from staticql_spark.session import get_spark

# BENCH_EXEMPT: the registry keys left out of the headline run.  They are
# the long-stable set whose numbers stopped moving between early runs:
# the TPC-H group-C shapes, small staticql-parity lookups
# (where_eq/point_lookup/...), simple set/pivot/window variants, and a few
# trained-index twins whose cost is the train step already timed via
# their headline sibling (ann_ivf_trained ~ ann_ivf_pq).
BENCH_EXEMPT = [
    "ann_ivf_trained", "ann_lsh", "ann_quantized", "anti_join",
    "brand_supplier_count", "cheapest_supplier", "cm_heavy_hitters",
    "conditional_pivot", "corpus_report", "cube_rollup", "cursor_before",
    "dedup_components", "dedup_jaccard_hist", "dedup_keep",
    "dedup_minhash_sig", "dedup_ngram_jaccard", "disjunctive_filter_revenue",
    "doc_bm25", "doc_fingerprint", "doc_normalize", "doc_quality_filter",
    "doc_repetition", "doc_split", "doc_term_df", "doc_tokens", "doc_winnow",
    "dominant_supplier", "embedding_neardup", "embedding_quantize",
    "events_lag_gap", "events_props_json", "events_range_window",
    "events_sliding", "events_trending", "exists_subquery",
    "forecast_revenue", "full_outer_activity", "grouping_sets_agg",
    "has_many_collect", "idle_customer_balance", "important_part_value",
    "large_volume_customer", "late_shipment_priority", "latest_per_user",
    "multimodal_features", "nation_profit", "nation_volume_shipping",
    "order_page1", "order_priority_check", "order_value_percentiles",
    "pivot_priority", "point_lookup", "projection_prune", "promo_revenue",
    "returned_item_revenue", "rollup_agg", "salted_hot_key_agg",
    "scalar_subquery", "set_except", "set_intersect", "simhash_pairs",
    "small_qty_avg_yearly", "stratified_sample", "through_rows",
    "top_supplier", "union_distinct", "unpivot_metrics", "where_eq",
    "where_in", "where_startswith",
]

# HEADLINE: every other registry key, in registry order.
HEADLINE = [k for k in entry.queries() if k not in BENCH_EXEMPT]

# CORE: the fixed subset whose per-query numbers ride in the compact
# stdout line, so that line stays comparable across runs.  The FULL set's
# numbers are in BENCH_FULL.json.
CORE = [
    "where_and", "has_one_join", "has_many_agg", "belongs_to_join",
    "through_count", "cursor_after", "pricing_summary", "ship_priority",
    "market_share", "waiting_supplier", "customer_order_distribution",
    "topk_per_group", "region_revenue", "agg_distinct", "window_running",
    "events_windowed", "events_sessionize", "asof_click_purchase",
    "range_followups", "kmv_distinct", "doc_quality", "doc_lang", "doc_pii",
    "doc_decontaminate", "doc_selfdedup", "dedup_exact", "dedup_minhash_lsh",
    "dedup_simhash", "ann_cosine_topk", "ann_ivf", "stream_first_seen",
    "asof_hotkey_bucketed", "dedup_incremental", "doc_rebalance", "doc_pack",
    "doc_training_manifest", "dedup_semantic_keep", "dedup_semantic",
    "doc_split_leakfree", "pipeline_clean_corpus", "pipeline_curate_mixture",
    "dedup_cluster_stats", "events_pagerank", "bpe_train", "doc_logreg",
    "embedding_mrl_recall", "events_ab_cuped", "events_bt_ratings",
    "events_rater_agreement", "events_tcloseness",
]


def _sentinel(spark):
    """Fixed-work drift sentinel (r9 verdict #5): a constant-size synthetic
    aggregate — 64M generated rows hashed onto 9973 keys, one map-side-
    combined shuffle — with ZERO dependence on sf or any parquet input.
    Its time moves only with host conditions (CPU contention, page cache,
    JVM state), so cross-round per-query comparisons should normalize by
    the sentinel ratio instead of inferring drift from trivial-key
    medians (the r5->r6 and r8->r9 drift episodes, SCALE.md)."""
    from pyspark.sql import functions as F

    return (
        spark.range(0, 64_000_000, 1, 32)
        .select(
            (F.col("id") % 9973).alias("k"),
            F.xxhash64(F.col("id")).alias("v"),
        )
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.sum(F.col("v") % 1000).alias("s"))
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # sentinel first (before any parquet warmup touches the page cache):
    # best-of-3 like every query; rep 1 eats codegen compile as usual
    sruns = []
    for _ in range(3):
        t0 = time.perf_counter()
        _sentinel(spark).write.format("noop").mode("overwrite").save()
        sruns.append(round(time.perf_counter() - t0, 3))
    sentinel_sec = min(sruns)

    queries = entry.queries()
    # JVM/codegen/scan warmup: touch every table once so timings measure
    # engine throughput, not first-use class loading + footer reads
    import glob

    for p in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        spark.read.parquet(p).count()

    # r8: build the shared persisted artifacts (k-means fit, LSH /
    # SemDeDup pairs, contaminated spans, PQ indexes) UP FRONT and time
    # each build explicitly — these are one-off index-build jobs whose
    # consumers are benched at probe cost; timing them here keeps the
    # build cost a visible, attributable number instead of letting it
    # land in some first consumer's construct and vanish in min-of-reps.
    artifact_build = (
        entry.build_artifacts(spark, sf_dir)
        if hasattr(entry, "build_artifacts")
        else {}
    )
    artifact_build_total = round(sum(artifact_build.values()), 3)

    # r14 (r13 verdict #1/#2, measurement-bug fix, declared in
    # OPTIMIZATION_r14.md): the operators' bounded persist registry used
    # to survive across the 3 timed reps AND across sibling keys in this
    # process, so min-of-3 reported a number that excluded a key's own
    # pinned-frame computation (ann_rnn_pairs reps read [2.5, 0.16, 0.16])
    # and some keys started warm off a sibling's persists (ann_ndcg via
    # ann_mrr).  The registry is an optimization WITHIN one query
    # evaluation (multi-consumed frames computed once per action), so the
    # honest per-rep time releases it first: every rep is self-contained,
    # min-of-3 is steady-state cold (rep 1 still eats one-time codegen
    # compile), and "cold_sec" (rep-1) is recorded per key alongside the
    # min.  Old-methodology numbers stay committed in BENCH_r13/
    # BENCH_FULL artifacts for comparison.
    from staticql_spark.operators import release_persists

    timings: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    construct: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in HEADLINE:
        # best of 3: run 1 includes one-time whole-stage-codegen class
        # compilation (measured 3-4x the steady-state on expression-heavy
        # queries), and this host shows ±25% background drift between
        # identical runs — a third rep keeps the minimum near sustained
        # engine throughput.  All reps are recorded in the artifact so
        # host contention is visible in the numbers themselves: a healthy
        # run has rep spread within ~±15%; a contaminated run (like the
        # r3 driver artifact) shows uniform 2-4x spread on every query.
        # Two timed phases per rep, both recorded:
        # - construct: building the DataFrame.  Mostly driver-side Catalyst
        #   analysis (fixed cost, amortized at scale), but for iterative
        #   operators (pagerank, connected-components paths) it includes
        #   their eager localCheckpoint rounds — REAL distributed work that
        #   timing only the write would silently exclude.
        # - exec (the headline "queries" map, metric-compatible with prior
        #   rounds): the noop write, i.e. engine throughput.
        runs, cruns = [], []
        for _ in range(3):
            release_persists()  # every rep self-contained (note above)
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            cruns.append(round(t1 - t0, 3))
            runs.append(round(time.perf_counter() - t1, 3))
        timings[name] = min(runs)
        reps[name] = runs
        construct[name] = min(cruns)
        cold[name] = runs[0]

    total = round(sum(timings.values()), 3)
    sf_num = float(sf) if sf.replace(".", "").isdigit() else sf
    construct_total = round(sum(construct.values()), 3)

    # full artifact: everything, for the repo (committed per round)
    full = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "reps": reps,
        "cold_sec": cold,
        "persist_policy": (
            "operator persist registry released before EVERY rep (r14; "
            "r13 verdict #1/#2): reps are self-contained, min-of-3 is "
            "steady-state cold, cold_sec is rep-1 (includes one-time "
            "codegen compile + the key's own persist builds)"
        ),
        "construct_sec": construct,
        "construct_total": construct_total,
        "artifact_build_sec": artifact_build,
        "artifact_build_total": artifact_build_total,
        "sentinel_sec": sentinel_sec,
        "sentinel_reps": sruns,
        "sentinel_note": (
            "fixed-work 64M-row synthetic agg, sf-independent; divide a "
            "round's sentinel_sec by another round's to get the host-drift "
            "factor, then judge per-query ratios against THAT"
        ),
        # keys benched at probe cost over a shared persisted artifact
        # (r8 rewires): cross-round per-key diffs must not read their
        # derive->probe switch as an engine speedup (r8 ADVICE #4)
        "artifact_consumers": [
            k
            for k in (
                entry.artifact_consumer_keys()
                if hasattr(entry, "artifact_consumer_keys")
                else []
            )
            if k in timings
        ],
        "sf": sf_num,
    }
    # r14 (r13 verdict finding #4): the fixed BENCH_FULL.json path let the
    # driver's 8-core scaling run clobber the 32-core artifact.  The
    # cpu-count-versioned file is the durable artifact (32- and 8-core
    # runs coexist); BENCH_FULL.json remains the latest-run pointer for
    # existing tooling.
    here = os.path.dirname(os.path.abspath(__file__))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    for fname in (f"BENCH_FULL_c{cpus}.json", "BENCH_FULL.json"):
        with open(os.path.join(here, fname), "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)

    # spread health: per-query max/min rep ratio; worst offenders carry
    # their [min, med, max] triple so a contaminated run self-diagnoses
    # from the compact line alone
    def ratio(rs):
        lo = max(min(rs), 1e-3)
        return round(max(rs) / lo, 2)

    ratios = {q: ratio(rs) for q, rs in reps.items()}
    srt = sorted(ratios, key=lambda q: -ratios[q])
    worst = {
        q: [min(reps[q]), sorted(reps[q])[1], max(reps[q])]
        for q in srt[:3]
    }
    rvals = sorted(ratios.values())
    compact = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": {q: timings[q] for q in CORE if q in timings},
        "sf": sf_num,
        "n_queries": len(timings),
        # r14: sum of per-key rep-1 (self-contained cold) times — the
        # attributable companion to the min-of-3 headline (verdict #1)
        "cold_total": round(sum(cold.values()), 3),
        "construct_total": construct_total,
        "artifact_build_total": artifact_build_total,
        # fixed-work drift sentinel: sf-independent 64M-row agg; normalize
        # cross-round per-query ratios by the sentinel ratio (r9 verdict #5)
        "sentinel_sec": sentinel_sec,
        "spread": {
            "max_ratio": rvals[-1],
            "median_ratio": rvals[len(rvals) // 2],
            "worst": worst,
        },
        "full": f"BENCH_FULL_c{cpus}.json",
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # the driver keeps a 2000-char stdout tail
        compact["queries"] = {q: timings[q] for q in CORE[:30] if q in timings}
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
