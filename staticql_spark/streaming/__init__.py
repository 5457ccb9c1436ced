"""Structured Streaming surface + the reference's incremental (CDC) path.

The reference has no continuous streaming — its closest analogue is
micro-batch incremental index maintenance from a git-diff change feed
(SURVEY §2.9). Here:

- ``read_event_stream`` / ``windowed_agg`` / ``sessionize``: Structured
  Streaming over the ``events`` table shape (watermark + tumbling/sliding/
  session windows) — the Spark-native way to run the reference's
  "micro-batch" maintenance continuously.
- ``apply_diff``: DiffEntry semantics (A/D/M — src/types.ts:48-53) applied
  to a snapshot DataFrame: the batch MERGE equivalent
  (src/IndexBuilder.ts:117-450 rewrites only affected shards; on Spark we
  recompute affected index partitions — see incremental notes below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def load_events(spark: SparkSession, path: str) -> DataFrame:
    """Batch-load an events parquet, normalizing nanosecond timestamps.

    With ``spark.sql.legacy.parquet.nanosAsLong`` the ns-precision ``ts``
    arrives as int64 nanos; convert to a microsecond timestamp the way
    engines that *can* read nanos (DuckDB) truncate it.

    The conf is a runtime SQL conf, so set it here rather than relying on
    session-construction configs: this loader must work under any caller's
    SparkSession (without it, reading TIMESTAMP(NANOS) parquet throws
    PARQUET_TYPE_ILLEGAL before the LongType fallback below can run)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # TIMESTAMP_NTZ, not timestamp_micros (LTZ): an instant renders in
        # the session TZ, so downstream values (windows, sessions, first-
        # seen) would shift under a non-UTC session while the DuckDB oracle
        # shows naive UTC wall-clock. NTZ epoch arithmetic is TZ-free and
        # matches the oracle bit-for-bit under any session TZ.
        # ts DIV 1000: integer division — float loses precision at 1e18 ns.
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts DIV 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df


def read_event_stream(spark: SparkSession, path: str, max_files: int = 1) -> DataFrame:
    """File-source stream over parquet event drops."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def windowed_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding) event-time aggregation with late-data bound.

    Works identically on batch and streaming DataFrames — the batch twin is
    what the DuckDB oracle checks (events_windowed query).
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        src.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
            "approx_users",
        )
    )


def sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user (gap-based), batch- and stream-compatible."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def trending_counts(
    events: DataFrame,
    window: str = "15 minutes",
    slide: str = "5 minutes",
    watermark: str = "2 hours",
    by: str = "event_type",
) -> DataFrame:
    """Sliding-window counts per ``by`` value — the streaming-safe half of
    trending top-k.

    A plain windowed aggregation (valid under streaming append mode with a
    watermark). The shuffle key is (window, by): map-side partial counts
    collapse each task's input to |windows-in-task| x |distinct by| rows, so
    at 100 TB the shuffle moves pre-aggregated counts, never raw events.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"), F.col(by))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), by, "n_events")
    )


def rank_topk(counts: DataFrame, k: int = 3, by: str = "event_type") -> DataFrame:
    """Rank finisher: keep the top-k ``by`` values per window.

    Ties break on ``by`` ascending so the result is engine-portable. Window
    functions are not allowed on a streaming DataFrame — in streaming, apply
    this inside ``foreachBatch``: with append mode each window is emitted
    exactly once, complete, after the watermark closes it, so per-batch
    ranking equals batch ranking (tests/test_streaming.py exercises this).
    Input is already one row per (window, by) — |windows| x |types| rows —
    so the rank stage is orders of magnitude smaller than the raw stream.
    """
    w = Window.partitionBy("window_start").orderBy(F.desc("n_events"), F.asc(by))
    return counts.withColumn("rnk", F.rank().over(w)).filter(F.col("rnk") <= k)


def trending_topk(
    events: DataFrame,
    window: str = "15 minutes",
    slide: str = "5 minutes",
    k: int = 3,
    watermark: str = "2 hours",
    by: str = "event_type",
) -> DataFrame:
    """Batch composition of trending_counts + rank_topk (heavy hitters per
    sliding window). For a streaming source, call the two halves yourself:
    ``trending_counts(stream).writeStream.foreachBatch(lambda b, _:
    sink(rank_topk(b)))``."""
    if events.isStreaming:
        raise ValueError(
            "trending_topk is the batch twin; for streams rank per micro-batch "
            "via foreachBatch(rank_topk) on trending_counts output"
        )
    return rank_topk(trending_counts(events, window, slide, watermark, by), k, by)


# ------------------------------------------------- custom stateful operator

def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    window: str = "5 minutes",
    watermark: str = "2 hours",
    left_cols: tuple[str, ...] = ("event_id",),
    right_cols: tuple[str, ...] = ("event_id", "value"),
) -> DataFrame:
    """Stream-stream interval join: right rows within (left.ts, left.ts +
    window] for the same key — the streaming twin of
    ``operators.asof.range_join``, built on Spark's NATIVE watermarked
    stream-stream join (state eviction is derived from the watermark +
    time-range condition, so state is bounded to the window span; no
    custom state code needed). Works identically on batch inputs, which
    is what the equivalence test pins.
    """
    l = left.select(
        F.col(on).alias("_lkey"), F.col("ts").alias("lts"),
        *[F.col(c).alias(f"l_{c}") for c in left_cols],
    )
    r = right.select(
        F.col(on).alias("_rkey"), F.col("ts").alias("rts"),
        *[F.col(c).alias(f"r_{c}") for c in right_cols],
    )
    if left.isStreaming:
        l = l.withWatermark("lts", watermark)
    if right.isStreaming:
        r = r.withWatermark("rts", watermark)
    cond = (
        (F.col("_lkey") == F.col("_rkey"))
        & (F.col("rts") > F.col("lts"))
        & (F.col("rts") <= F.col("lts") + F.expr(f"INTERVAL {window}"))
    )
    return l.join(r, cond, "inner").drop("_rkey").withColumnRenamed("_lkey", on)


def stream_quality_score(
    docs: DataFrame,
    weights: DataFrame,
    threshold: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score a document stream with a trained quality/language classifier
    (classify.logreg_fit weights) — the continuous-ingest shape of the
    batch filter: every arriving doc gets its probability, optionally
    filtered at ``threshold``.

    Stream-safe by construction: features are map-only regex/length
    arithmetic, and the static 1-row weight table attaches via a
    stream-static broadcast join (logreg_score's crossJoin of a broadcast
    single row — supported against a stream because the static side is
    broadcast, never shuffled). No state, no watermark — O(1) per doc.
    Works identically on a batch DataFrame (the twin test runs both).
    """
    from ..operators.classify import english_surface_features, logreg_score

    cols = ["x_stop", "x_dia", "x_cjk", "x_bias"]
    feats = english_surface_features(
        docs, text_col, label_lang=None, keep_cols=(id_col,)
    )
    scored = logreg_score(feats, weights, cols).select(
        id_col, F.round(F.col("p"), 6).alias("p")
    )
    if threshold is not None:
        scored = scored.filter(F.col("p") >= threshold)
    return scored


def stream_volume_anomaly(
    events: DataFrame,
    stats: DataFrame,
    window: str = "1 hour",
    threshold: float = 2.0,
    watermark: str = "2 hours",
) -> DataFrame:
    """Continuous volume-spike detection: windowed per-type event counts
    z-scored against STATIC per-type baseline stats (event_type, mu,
    sigma — e.g. yesterday's profile from the batch events_anomaly
    pipeline) — flag windows with |z| >= threshold.

    Streaming shape: one watermarked windowed count (state bounded by the
    watermark horizon), then a broadcast join against the tiny baseline
    table and a map-only z filter. The baseline is deliberately static —
    recomputing mu/sigma over the stream itself would need a second
    full-history aggregation; the production pattern is a periodically
    refreshed profile. Works identically on a batch frame (twin test).
    """
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    counts = events.groupBy(
        F.window("ts", window).alias("w"), "event_type"
    ).agg(F.count("*").alias("n"))
    z = F.when(
        F.col("sigma") > 0, (F.col("n") - F.col("mu")) / F.col("sigma")
    ).otherwise(F.lit(0.0))
    return (
        counts.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            "n",
            F.round(z, 4).alias("z"),
        )
        .filter(F.abs(F.col("z")) >= threshold)
    )


def stream_lsh_dedup(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_shingles: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Continuous near-dup detection: a STREAM of new documents probed
    against a static persisted MinHash index (``dedup.minhash_index``
    output read back as batch DataFrames) — the streaming face of
    ``dedup.incremental_lsh_pairs``'s new-vs-corpus half.

    Stream side is entirely map-side (shingle set, signature, and band
    keys computed in-row; the shingle array rides along for the verify),
    so the plan is append-mode friendly: candidates come from a
    stream-static equi join on (band, key), the exact Jaccard is one
    per-row ``array_intersect`` after a second static join for the old
    doc's shingles, and ``dropDuplicates`` collapses multi-band hits —
    each (new, old) pair emits once for the lifetime of the checkpoint
    (state = one row per emitted pair; bound it by restarting checkpoints
    per corpus snapshot, the natural cadence since the index itself is
    per-snapshot). New×new pairs inside the stream are out of scope here:
    run the batch ``incremental_lsh_pairs`` at snapshot boundaries for
    those. Identical semantics on batch inputs (the equivalence test
    pins stream-vs-batch).
    """
    from ..operators.dedup import _band_keys, doc_shingles, sig_from_array

    dsh = doc_shingles(new_docs, text_col, id_col, n)
    sig = dsh.select(F.col(id_col), F.col("sh"), sig_from_array(num_hashes))
    banded = _band_keys(sig, bands, num_hashes // bands, id_col, carry=("sh",))
    cands = (
        banded.join(
            index_bands.select(
                F.col(id_col).alias("__old_id"), "band", "key"
            ),
            ["band", "key"],
            "inner",
        )
        .filter(F.col(id_col) != F.col("__old_id"))
        .select(
            F.col(id_col).alias("id_new"),
            F.col("__old_id").alias("id_old"),
            "sh",
        )
        .dropDuplicates(["id_new", "id_old"])
    )
    old_sh = index_shingles.select(
        F.col(id_col).alias("id_old"), F.col("sh").alias("sh_old")
    )
    j = cands.join(old_sh, "id_old")
    inter = F.size(F.array_intersect(F.col("sh"), F.col("sh_old")))
    jac = F.round(
        inter.cast("double") / (F.size("sh") + F.size("sh_old") - inter), 6
    )
    return (
        j.select("id_new", "id_old", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


STREAM_ASOF_SCHEMA = (
    "key string, left_id long, ts timestamp, matched_value double, matched_ts timestamp"
)
_ASOF_STATE = "last_ts timestamp, last_value double"


def stream_asof_enrich(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    left_id: str = "event_id",
    right_value: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming temporal (as-of) join: enrich each left row with the most
    recent right value at-or-before it for the same key — the streaming
    twin of ``operators.asof.asof_join`` (same shape as Flink's temporal
    join).

    Custom stateful operator (applyInPandasWithState): both sides union
    into one keyed stream; state per key = (latest right ts, value). Each
    micro-batch's group is sorted by (ts, side) with right rows first at
    ties, so WITHIN a batch matching is exact as-of; ACROSS batches the
    state carries only the latest right row, so a left row arriving in a
    later batch than a not-yet-seen older right row matches "latest known"
    instead — the standard processing-progress caveat every streaming
    temporal join shares (exact history would mean unbounded state). State
    is O(1) per key: one (ts, value) pair, hash-partitioned to the state
    store on the join key.

    On batch inputs this falls back to the exact batch as-of join, so
    tests and oracles can pin identical semantics without a stream.
    """
    import pandas as pd

    l = left.select(
        F.col(on).cast("string").alias("key"),
        F.col(left_ts).alias("ts"),
        F.lit(1).alias("side"),
        F.col(left_id).cast("long").alias("left_id"),
        F.lit(None).cast("double").alias("val"),
    )
    r = right.select(
        F.col(on).cast("string").alias("key"),
        F.col(right_ts).alias("ts"),
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("left_id"),
        F.col(right_value).cast("double").alias("val"),
    )

    if not left.isStreaming and not right.isStreaming:
        from ..operators.asof import asof_join

        rb = r.select("key", "ts", F.col("val").alias("matched_value")).withColumn(
            "matched_ts", F.col("ts")
        )
        return asof_join(
            l.select("key", "ts", "left_id"),
            rb,
            on="key",
            left_ts="ts",
            right_ts="ts",
            value_cols=["matched_value", "matched_ts"],
            tiebreak="matched_value",
        ).select("key", "left_id", "ts", "matched_value", "matched_ts")

    unioned = l.unionByName(r).withWatermark("ts", watermark)

    def update(key, pdf_iter, state):
        (k,) = key
        last_ts, last_val = state.get if state.exists else (None, None)
        out_id, out_ts, out_val, out_mts = [], [], [], []
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        # right rows sort before left rows at equal ts -> inclusive match
        batch = batch.sort_values(["ts", "side"], kind="mergesort")
        for row in batch.itertuples(index=False):
            if row.side == 0:
                if last_ts is None or row.ts >= last_ts:
                    last_ts, last_val = row.ts, row.val
            else:
                out_id.append(row.left_id)
                out_ts.append(row.ts)
                out_val.append(last_val)
                out_mts.append(last_ts)
        state.update((last_ts, last_val))
        yield pd.DataFrame(
            {
                "key": [k] * len(out_id),
                "left_id": out_id,
                "ts": out_ts,
                "matched_value": out_val,
                "matched_ts": out_mts,
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return unioned.groupBy("key").applyInPandasWithState(
        update,
        outputStructType=STREAM_ASOF_SCHEMA,
        stateStructType=_ASOF_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FIRST_SEEN_SCHEMA = (
    "fp string, first_ts timestamp, n_dups long"
)
_FIRST_SEEN_STATE = "first_ts timestamp, n long"


def streaming_first_seen(
    docs: DataFrame,
    fp_col,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    emit_updates: bool = True,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Stateful streaming dedup: first occurrence wins per fingerprint.

    The custom-stateful-operator path (applyInPandasWithState): state per
    fingerprint = (first_ts, running duplicate count). Each trigger emits
    the fingerprint's current (first_ts, n_dups) — downstream keeps the
    first occurrence and knows how many duplicates arrived.

    This is the streaming twin of exact_dedup: at 100 TB ingest the batch
    job dedups the backfill and this operator dedups the live feed with the
    same fingerprint definition. State is hash-partitioned by fingerprint
    (Spark shuffles groups to their state store); the per-group pandas
    batch is tiny (one fingerprint's new rows), so state memory is
    O(distinct fingerprints per executor), the same budget any streaming
    dedup pays.

    ``state_ttl_ms`` bounds that budget for UNBOUNDED-cardinality
    fingerprints (the forever-running ingest): a processing-time timeout
    evicts any fingerprint idle longer than the TTL, so state tracks the
    active working set, not everything ever seen. The documented trade is
    the standard one: a duplicate arriving after its fingerprint's
    eviction re-registers as first-seen. Without a TTL (default), state
    is exact forever.

    Works on a batch DataFrame too (applyInPandas fallback) so tests and
    the oracle can check the same semantics without a stream.
    """
    import pandas as pd

    keyed = docs.select(
        fp_col.alias("fp") if not isinstance(fp_col, str) else F.col(fp_col).alias("fp"),
        F.col(ts_col).alias("ts"),
    )

    if not keyed.isStreaming:
        return (
            keyed.groupBy("fp")
            .agg(
                F.min("ts").alias("first_ts"),
                (F.count("*") - F.lit(1)).alias("n_dups"),
            )
        )

    def update(key, pdf_iter, state):
        (fp,) = key
        if state_ttl_ms is not None and state.hasTimedOut:
            # idle past the TTL: evict; the next occurrence re-registers
            state.remove()
            return
        n = 0
        first_ts = None
        if state.exists:
            first_ts, n = state.get
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            batch_min = pdf["ts"].min()
            if first_ts is None or batch_min < first_ts:
                first_ts = batch_min
        state.update((first_ts, n))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            {"fp": [fp], "first_ts": [first_ts], "n_dups": [n - 1]}
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        keyed.withWatermark("ts", watermark)
        .groupBy("fp")
        .applyInPandasWithState(
            update,
            outputStructType=FIRST_SEEN_SCHEMA,
            stateStructType=_FIRST_SEEN_STATE,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


# ---------------------------------------------------------------- CDC / diff

DIFF_SCHEMA = T.StructType(
    [
        T.StructField("status", T.StringType(), False),  # 'A' | 'D' | 'M'
        T.StructField("source", T.StringType(), False),
        T.StructField("slug", T.StringType(), False),
    ]
)


def apply_diff(current: DataFrame, new_records: DataFrame, diff: DataFrame) -> DataFrame:
    """Apply a DiffEntry feed to a snapshot: MERGE semantics on plain
    DataFrames (delete D + M, insert A + M from new_records).

    ``new_records`` must contain the A/M rows' full content. Reference
    parity: grouping by status src/IndexBuilder.ts:121-174; unchanged-field
    M entries were already skipped upstream (extractDiff.ts:124-129).
    """
    touched = diff.filter(F.col("status").isin("A", "D", "M")).select("slug").distinct()
    kept = current.join(touched, "slug", "left_anti")
    upserts = new_records.join(
        diff.filter(F.col("status").isin("A", "M")).select("slug").distinct(), "slug", "left_semi"
    )
    return kept.unionByName(upserts)


def stream_diff_refresh(
    staticql,
    diff_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuous incremental index maintenance: a file-source stream of
    DiffEntry parquet drops -> foreachBatch -> partition-level index refresh.

    This is the reference's CI-triggered incremental CLI (cli/generate-index
    .ts:133-153) turned into a Structured Streaming job: each micro-batch of
    change records refreshes exactly the affected (field, prefix) index
    partitions per touched source. Checkpointing makes the maintenance
    exactly-once across restarts — the property the reference approximates
    by diffing explicit git refs.

    Returns the StreamingQuery (caller awaits/stops it).
    """
    spark = staticql.spark
    stream = (
        spark.readStream.schema(DIFF_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(diff_dir)
    )

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        # A StaticQL reads a snapshot of its sources, so each micro-batch
        # indexes the content as it is when the batch runs.
        sql = staticql.fresh()
        sources = [r["source"] for r in batch_df.select("source").distinct().collect()]
        for source in sorted(sources):
            refresh_index_partitions(
                sql, source, batch_df.filter(F.col("source") == source), out_dir
            )

    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def refresh_index_partitions(
    staticql, source: str, diff: DataFrame, out_dir: str
) -> None:
    """Incremental covering-index maintenance: recompute index entries for
    the source and overwrite only partitions containing touched slugs.

    Spark has no in-place JSONL upsert; the idiomatic equivalent of the
    reference's shard rewrite (IndexBuilder.ts:354-447) is dynamic
    partition overwrite of the affected (field, prefix) partitions.
    """
    from ..indexing import index_entries

    spark = staticql.spark
    cfg = staticql.configs[source]
    dfs = {name: staticql.df(name) for name in staticql.configs}
    entries = index_entries(dfs[source], cfg, dfs)
    touched = diff.select(F.col("slug").cast("string")).distinct()
    target = f"{out_dir.rstrip('/')}/{source}"

    # Affected partitions = where the touched slugs' entries land NOW
    # plus where they lived BEFORE (a changed value can move to a different
    # prefix partition — the old shard must be rewritten too, exactly like
    # the reference's per-shard delete branch, IndexBuilder.ts:354-391).
    affected = (
        entries.join(touched, entries["slug"] == touched["slug"], "left_semi")
        .select("field", "prefix")
        .distinct()
    )
    try:
        existing = spark.read.parquet(target)
        old_affected = (
            existing.join(touched, existing["slug"] == touched["slug"], "left_semi")
            .select("field", "prefix")
            .distinct()
        )
        affected = affected.union(old_affected).distinct()
    except Exception:
        existing = None  # first build: nothing to reconcile

    # Materialize the (tiny) partition list BEFORE writing: the lazy plan
    # references the existing index files, and a write that re-reads the
    # location it is overwriting races its own deletes.
    affected_rows = [(r["field"], r["prefix"]) for r in affected.collect()]
    if not affected_rows:
        return
    affected_lit = spark.createDataFrame(affected_rows, "field string, prefix string")
    new_parts = entries.join(
        F.broadcast(affected_lit), ["field", "prefix"], "left_semi"
    )
    (
        new_parts.repartition("field", "prefix")
        .sortWithinPartitions("v", "vs")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("field", "prefix")
        .parquet(target)
    )
    # Dynamic overwrite only replaces partitions it writes rows into; an
    # affected partition with NO remaining entries must be removed by hand
    # (the reference's remove-dir-when-empty, IndexBuilder.ts:393-447).
    nonempty = {
        (r["field"], r["prefix"])
        for r in new_parts.select("field", "prefix").distinct().collect()
    }
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for field, prefix in affected_rows:
        if (field, prefix) not in nonempty:
            p = jvm.org.apache.hadoop.fs.Path(f"{target}/field={field}/prefix={prefix}")
            p.getFileSystem(hconf).delete(p, True)


# ------------------------------------------------------------- KMV sketch

KMV_GROUPED_SCHEMA = "grp string, sketch_k long, kth_hash long, est_ndv double"
_KMV_STATE = "hs array<long>"


def stream_kmv_grouped(
    events: DataFrame,
    group_col: str = "event_type",
    col: str = "user_id",
    k: int = 64,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    salt: str = "kmv1",
) -> DataFrame:
    """Streaming per-group KMV distinct sketch: state per group is the k
    smallest distinct value hashes seen so far; each trigger emits the
    group's refreshed (sketch_k, kth_hash, est_ndv).  The live twin of
    :func:`~staticql_spark.operators.sketch.kmv_grouped` — a dashboard
    reads "distinct users per event type" off the stream without ever
    storing raw ids, and because KMV merges by union, the streaming
    state can be seeded from (or reconciled against) the batch sketch.

    State is O(k) longs per group — bounded regardless of cardinality
    (the whole point of sketching the stream instead of counting it).
    Batch fallback computes the same columns for twin tests / oracles.
    """
    import pandas as pd

    from ..operators.sketch import _HASH_SPACE, kmv_hash

    keyed = events.select(
        F.col(group_col).cast("string").alias("grp"),
        kmv_hash(F.col(col), salt).alias("h"),
        F.col(ts_col).alias("ts"),
    ).filter(F.col("h").isNotNull())

    if not keyed.isStreaming:
        from pyspark.sql import Window as W

        hashes = keyed.select("grp", "h").distinct()
        w = W.partitionBy("grp").orderBy("h")
        sk = (
            hashes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .groupBy("grp")
            .agg(F.count("h").alias("sketch_k"), F.max("h").alias("kth_hash"))
        )
        est = F.when(
            F.col("sketch_k") < F.lit(k), F.col("sketch_k").cast("double")
        ).otherwise(
            F.lit(float(k - 1))
            / (F.col("kth_hash").cast("double") / F.lit(_HASH_SPACE))
        )
        return sk.select(
            "grp", "sketch_k", "kth_hash", F.round(est, 2).alias("est_ndv")
        )

    def update(key, pdf_iter, state):
        (grp,) = key
        hs: list[int] = list(state.get[0]) if state.exists else []
        seen = set(hs)
        for pdf in pdf_iter:
            for h in pdf["h"]:
                h = int(h)
                if h not in seen:
                    seen.add(h)
                    hs.append(h)
        hs.sort()
        hs = hs[:k]
        state.update((hs,))
        kth = hs[-1] if hs else None
        est = (
            float(len(hs))
            if len(hs) < k
            else (k - 1) / (kth / _HASH_SPACE)
        )
        yield pd.DataFrame(
            {
                "grp": [grp],
                "sketch_k": [len(hs)],
                "kth_hash": [kth],
                "est_ndv": [round(est, 2)],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        keyed.withWatermark("ts", watermark)
        .groupBy("grp")
        .applyInPandasWithState(
            update,
            outputStructType=KMV_GROUPED_SCHEMA,
            stateStructType=_KMV_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


QSKETCH_GROUPED_SCHEMA = (
    "grp string, sketch_n long, kth_hash long, p50 double, p90 double"
)
_QSK_STATE = "hs array<long>, vs array<double>"


def stream_qsketch_grouped(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    key_col: str = "event_id",
    k: int = 64,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    salt: str = "qsk1",
) -> DataFrame:
    """Streaming per-group quantile sketch: state per group is the
    bottom-k (row-key hash, value) pairs seen so far — the live twin of
    :func:`~staticql_spark.operators.sketch.qsketch` — and every trigger
    emits the group's refreshed type-1 p50/p90.  A latency dashboard
    reads distribution tails off the stream with O(k) state per group,
    and because bottom-k-by-hash merges by union, the streaming state
    can be seeded from (or reconciled against) a batch sketch.

    Hashing the UNIQUE row key (not the value) keeps the sample uniform
    over rows AND makes re-delivered rows idempotent: the same key
    always lands on the same hash, so at-least-once upstream delivery
    cannot bias the sketch.  Batch fallback computes the same columns
    for twin tests / oracles (quantile rank = max(1, ceil(q * n)) over
    the sketch ordered by (v, h), identical arithmetic in both paths).

    Contract: ``key_col`` is a unique, immutable-value row key.  If that
    is violated — a key re-delivered with a DIFFERENT value, or two keys
    colliding on the 60-bit hash — both paths resolve the hash's value
    with the same order-free policy, MIN value per (group, hash), so the
    streaming result still cannot depend on micro-batch arrival order
    and still equals the batch fallback (r9 ADVICE).
    """
    import pandas as pd

    from ..operators.sketch import kmv_hash

    keyed = events.select(
        F.col(group_col).cast("string").alias("grp"),
        kmv_hash(F.col(key_col), salt).alias("h"),
        F.col(value_col).cast("double").alias("v"),
        F.col(ts_col).alias("ts"),
    ).filter(F.col("h").isNotNull() & F.col("v").isNotNull())

    if not keyed.isStreaming:
        from pyspark.sql import Window as W

        # min-v-per-hash: the shared, order-free tie policy (see docstring)
        dedup = keyed.groupBy("grp", "h").agg(F.min("v").alias("v"))
        w = W.partitionBy("grp").orderBy("h")
        sk = dedup.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= k
        )
        wv = W.partitionBy("grp").orderBy("v", "h")
        wall = W.partitionBy("grp")
        ranked = sk.withColumn("rn2", F.row_number().over(wv)).withColumn(
            "n", F.count("*").over(wall)
        )
        pick = lambda q: F.max(
            F.when(
                F.col("rn2")
                == F.greatest(
                    F.lit(1).cast("long"), F.ceil(F.lit(q) * F.col("n"))
                ),
                F.col("v"),
            )
        )
        return ranked.groupBy("grp").agg(
            F.max("n").cast("long").alias("sketch_n"),
            F.max("h").alias("kth_hash"),
            pick(0.5).alias("p50"),
            pick(0.9).alias("p90"),
        )

    import math

    def update(key, pdf_iter, state):
        (grp,) = key
        if state.exists:
            hs, vs = list(state.get[0]), list(state.get[1])
        else:
            hs, vs = [], []
        pairs = dict(zip(hs, vs))
        for pdf in pdf_iter:
            for h, v in zip(pdf["h"], pdf["v"]):
                h, v = int(h), float(v)
                # same min-v tie policy as the batch fallback: arrival
                # order (micro-batch boundaries) must never pick the value
                pairs[h] = v if h not in pairs else min(pairs[h], v)
        kept = sorted(pairs.items())[:k]
        state.update(([h for h, _ in kept], [v for _, v in kept]))
        byv = sorted(kept, key=lambda p: (p[1], p[0]))
        n = len(byv)
        p50 = byv[max(1, math.ceil(0.5 * n)) - 1][1]
        p90 = byv[max(1, math.ceil(0.9 * n)) - 1][1]
        yield pd.DataFrame(
            {
                "grp": [grp],
                "sketch_n": [n],
                "kth_hash": [kept[-1][0] if kept else None],
                "p50": [p50],
                "p90": [p90],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        keyed.withWatermark("ts", watermark)
        .groupBy("grp")
        .applyInPandasWithState(
            update,
            outputStructType=QSKETCH_GROUPED_SCHEMA,
            stateStructType=_QSK_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------- live shard checksums


def stream_shard_checksums(
    df: DataFrame,
    content_cols: list[str],
    n_shards: int = 16,
    id_col: str = "doc_id",
    salt: str = "shard1",
) -> DataFrame:
    """Live corpus checksums: maintain the per-shard XOR content digests
    of :func:`~staticql_spark.operators.shards.shard_checksums` over a
    document STREAM, so every micro-batch leaves the running (n_rows,
    xor_checksum) per shard equal to what the batch operator would
    compute over everything ingested so far — an always-current version
    manifest for :func:`~staticql_spark.operators.shards.checksum_delta`
    to diff against, with no end-of-day full rescan.

    XOR is what makes this a plain streaming AGGREGATE: the state per
    shard is one long + one count (bounded, no list of seen rows), and
    Spark's own bit_xor agg buffer folds each batch in exactly.  Works
    on a batch frame too (same plan as the batch operator), which is the
    twin-test / oracle path.
    """
    from ..operators.shards import row_digest, shard_of

    keyed = df.select(
        shard_of(id_col, n_shards, salt).alias("shard_id"),
        row_digest(content_cols).alias("__d"),
    )
    return keyed.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.expr("bit_xor(__d)").alias("xor_checksum"),
    )


# ------------------------------------------------------ PQ-code near-dup


def stream_pq_neardup(
    new_vecs: DataFrame,
    codebooks: DataFrame,
    index_keys: DataFrame,
    static_vecs: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    dim: int = 64,
    threshold: float = 0.35,
) -> DataFrame:
    """Continuous embedding near-dup detection against a static PQ index
    — the vector-space sibling of :func:`stream_lsh_dedup`.

    A STREAM of new vectors is PQ-encoded entirely in-row against the
    frozen codebooks (``pq.encode_inrow``: literal centroids, argmin
    bit-identical to the distributed ``pq_encode``), then probed against
    the persisted corpus code index by exact code-tuple match — the PQ
    blocking rule: two vectors whose m codes ALL agree sit in the same
    product-quantizer cell intersection, a far tighter candidate set
    than one coarse IVF cell.  Candidates verify with the exact cosine
    against the static side's float vector (one id-keyed join), rounded
    to 6, kept at >= ``threshold``.

    The stream side is map-only (no shuffle, no state) so the plan is
    append-mode friendly; ``codebooks`` is collected to literals — m x K
    rows, bounded by construction (the logreg broadcast-weights
    precedent).  Codebooks MUST be the ones the index was encoded with
    (frozen at snapshot build, the same contract as stream_lsh_dedup's
    band index).  New x new pairs inside the stream are out of scope:
    run the batch path at snapshot boundaries.  Identical semantics on
    batch inputs (test_stream_pq_neardup_stream_matches_batch).
    """
    from ..operators.pq import encode_inrow
    from ..operators.similarity import as_double, cosine, dot

    dsub = dim // m
    # collect the codeword self-dots alongside the centroids: Spark
    # computes round(c·c, 6) JVM-side here, so encode_inrow can embed it
    # as a plain literal (bit-identical value, ~3x smaller expression
    # tree — the construct-time cost that dominated this query's bench)
    cvec = as_double(F.col("centroid"))
    cb_rows = codebooks.select(
        "subspace", "code", "centroid", F.round(dot(cvec, cvec), 6).alias("cc")
    ).collect()
    probe = new_vecs.select(
        F.col(id_col).alias("id_new"),
        F.col(vec_col).alias("__nv"),
        encode_inrow(F.col(vec_col), cb_rows, m, dsub).alias("code_key"),
    )
    cands = probe.join(
        index_keys.select(F.col("vid").alias("id_old"), "code_key"), "code_key"
    ).filter(F.col("id_new") != F.col("id_old"))
    old = static_vecs.select(
        F.col(id_col).alias("id_old"), F.col(vec_col).alias("__ov")
    )
    out = cands.join(old, "id_old").select(
        "id_new",
        "id_old",
        F.round(cosine(as_double(F.col("__nv")), as_double(F.col("__ov"))), 6).alias(
            "cosine"
        ),
    )
    return out.filter(F.col("cosine") >= threshold)


# ------------------------------------------------------ live HLL registers


def stream_hll_registers(
    df: DataFrame,
    group_col: str = "event_type",
    col: str = "user_id",
    salt: str = "hll1",
) -> DataFrame:
    """Live per-group HyperLogLog registers: maintain the (grp, j, m_j)
    register frame of
    :func:`~staticql_spark.operators.sketch.hll_grouped` over a STREAM.

    HLL is the sketch that is *streaming-native as a plain aggregate*:
    the register merge is MAX, so Spark's own max() agg buffer folds
    every micro-batch exactly — no applyInPandasWithState, no custom
    state schema (contrast stream_kmv_grouped, whose bottom-k state
    needs a custom stateful operator). State per group is bounded at m
    registers x one int; a consumer folds registers to an estimate with
    sketch.hll_estimate whenever it reads the sink, and register frames
    from different streams/days merge by the same per-(grp, j) MAX
    (sketch.hll_merge).

    Works on a batch frame too (identical plan) — the twin-test /
    oracle path; output columns (grp, j, m_j).
    """
    from ..operators.sketch import _HLL_M, _HLL_P, _HLL_WBITS, kmv_hash

    h = kmv_hash(F.col(col), salt)
    keyed = df.select(F.col(group_col).cast("string").alias("grp"), h.alias("h")).filter(
        F.col("h").isNotNull()
    )
    w = F.shiftright(F.col("h"), _HLL_P)
    rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.conv(w.cast("string"), 10, 2))
    )
    return (
        keyed.select(
            "grp",
            F.col("h").bitwiseAND(F.lit(_HLL_M - 1)).alias("j"),
            rho.alias("rho"),
        )
        .groupBy("grp", "j")
        .agg(F.max("rho").cast("int").alias("m_j"))
    )


# ------------------------------------------------- live event transitions

TRANSITIONS_SCHEMA = "src_type string, dst_type string, n_pairs long"
_TRANS_STATE = "last_ts timestamp, last_order long, last_type string"


def stream_event_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Live first-order transition counts — the streaming twin of
    :func:`~staticql_spark.operators.behavior.event_transitions`: per
    user, chain each event to its predecessor and emit (src_type,
    dst_type, n_pairs) DELTAS per micro-batch; summing a sink's rows per
    pair reproduces the batch counts over everything ingested.

    The custom-stateful-operator path (applyInPandasWithState): state per
    user is ONE row — the (ts, order, type) of the user's latest event —
    so state memory is O(active users), not O(events); each trigger
    sorts only that user's new rows by (ts, order) and chains them onto
    the stored tail.  Like every per-key chaining operator this assumes
    per-user in-order arrival ACROSS micro-batches (the file/kafka
    source's usual per-key ordering); a late event older than the stored
    tail extends the chain in arrival order rather than re-sorting
    history — the standard trade of keeping state bounded (re-sorting
    would mean buffering per-user history forever).

    ``state_ttl_ms`` bounds state for UNBOUNDED user populations (the
    forever-running ingest): a processing-time timeout evicts users idle
    longer than the TTL, so state tracks the active working set; the
    documented trade is that a returning user's first event after
    eviction starts a fresh chain (one lost transition per eviction).
    Without a TTL (default), state is exact forever.

    Works on a batch frame too (the lead-window formulation, identical
    counts), which is the twin-test / oracle path.
    """
    import pandas as pd

    keyed = df.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("ts"),
        F.col(order_col).alias("o"),
        F.col(type_col).alias("et"),
    )

    if not keyed.isStreaming:
        from pyspark.sql import Window as _W

        w = _W.partitionBy("u").orderBy("ts", "o")
        pairs = (
            keyed.withColumn("dst_type", F.lead("et").over(w))
            .filter(F.col("dst_type").isNotNull())
            .select(F.col("et").alias("src_type"), "dst_type")
        )
        return pairs.groupBy("src_type", "dst_type").agg(
            F.count("*").cast("long").alias("n_pairs")
        )

    def update(key, pdf_iter, state):
        (u,) = key
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        last = state.get if state.exists else None  # (ts, order, type)
        counts: dict = {}
        # applyInPandasWithState may hand a key's trigger rows as SEVERAL
        # Arrow chunks; sorting each chunk independently would chain a
        # large user out of (ts, order) order, so concatenate first and
        # sort the trigger's rows ONCE (the docstring's contract).
        pdfs = [p for p in pdf_iter if len(p)]
        if pdfs:
            pdf = pd.concat(pdfs).sort_values(["ts", "o"])
            for ts, o, et in zip(pdf["ts"], pdf["o"], pdf["et"]):
                if last is not None:
                    k = (last[2], et)
                    counts[k] = counts.get(k, 0) + 1
                last = (ts, int(o), et)
        if last is not None:
            state.update((last[0], last[1], last[2]))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if counts:
            yield pd.DataFrame(
                {
                    "src_type": [k[0] for k in counts],
                    "dst_type": [k[1] for k in counts],
                    "n_pairs": list(counts.values()),
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    # no watermark: processing-time/no timeout needs none, and load_events
    # yields TIMESTAMP_NTZ (session-TZ-independent) which event-time
    # watermarks reject — chaining is arrival-ordered per key
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return keyed.groupBy("u").applyInPandasWithState(
        update,
        outputStructType=TRANSITIONS_SCHEMA,
        stateStructType=_TRANS_STATE,
        outputMode="update",
        timeoutConf=timeout,
    )


# ------------------------------------------------------- live funnel stages

FUNNEL_SCHEMA = "step_idx int, n_advanced long"
_FUNNEL_STATE = "stage int, t timestamp"


def stream_funnel(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Live ordered-funnel counts — the streaming twin of
    :func:`~staticql_spark.operators.behavior.funnel_report`: per user a
    greedy stage automaton advances when the next expected step type
    arrives at/after the previous stage's time; each micro-batch emits
    (step_idx, n_advanced) DELTAS, so summing a sink's rows per step
    reproduces the batch n_users over everything ingested.

    Scanning a user's events in ts ascending, with each EQUAL-TIMESTAMP
    group processed atomically (re-scanned after every stage advance,
    since qualifying ties share ts >= t), is exactly the batch chain of
    per-user MINs (t_k = min ts of step-k events >= t_{k-1}): within one
    timestamp the batch formulation admits advances in any event order,
    so a step-k event that sorts before the same-ts event advancing
    stage k-1 still counts.  Equivalence with the batch report holds
    whenever a user's events arrive across micro-batches in ts order.
    State per user is ONE (stage, t) row; like
    :func:`stream_event_transitions` it assumes per-user in-order
    arrival across micro-batches (a late event older than the stored
    stage time is considered in arrival order — bounded state, the
    standard trade).

    ``state_ttl_ms`` bounds state for unbounded user populations (same
    processing-time eviction trade as :func:`stream_event_transitions`:
    an evicted user restarts the funnel at stage 0).  Without a TTL
    (default), state is exact forever.

    Works on a batch frame too: the fallback returns the same
    (step_idx, n_advanced) totals via :func:`behavior.funnel_report`,
    which is the twin-test / oracle path.
    """
    import pandas as pd

    keyed = df.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("ts"),
        F.col(order_col).alias("o"),
        F.col(type_col).alias("et"),
    )

    if not keyed.isStreaming:
        from ..operators.behavior import funnel_report

        rep = funnel_report(keyed, steps, user_col="u", ts_col="ts", type_col="et")
        return rep.select(
            "step_idx", F.col("n_users").alias("n_advanced")
        )

    step_of = {s: i for i, s in enumerate(steps)}

    def update(key, pdf_iter, state):
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        stage, t = state.get if state.exists else (0, None)
        advanced: dict = {}
        # Concatenate ALL Arrow chunks for the key and sort once (a
        # per-chunk sort would break (ts, order) ordering for users
        # larger than one Arrow batch), then process EQUAL-TIMESTAMP
        # groups atomically: the batch chain-of-MINs admits several
        # stage advances at one timestamp regardless of event order
        # within it (condition is ts >= t with t == that ts), so after
        # any advance the group is re-scanned until a full pass adds
        # nothing — at most len(steps) passes, each over one ts-group.
        # A single greedy forward scan would skip a step-k event that
        # sorts BEFORE the same-ts event advancing stage k-1.
        pdfs = [p for p in pdf_iter if len(p)]
        if pdfs:
            pdf = pd.concat(pdfs).sort_values(["ts", "o"])
            for ts, grp in pdf.groupby("ts", sort=True):
                if stage >= len(steps):
                    break
                if stage > 0 and ts < t:
                    continue  # whole group precedes the stage threshold
                types = list(grp["et"])
                progressed = True
                while progressed and stage < len(steps):
                    progressed = False
                    for et in types:
                        if stage >= len(steps):
                            break
                        if step_of.get(et) == stage and (
                            stage == 0 or ts >= t
                        ):
                            stage += 1
                            t = ts
                            advanced[stage] = advanced.get(stage, 0) + 1
                            progressed = True
        state.update((stage, t))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if advanced:
            yield pd.DataFrame(
                {
                    "step_idx": list(advanced.keys()),
                    "n_advanced": list(advanced.values()),
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    # no watermark (processing-time/no timeout; load_events yields NTZ)
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return keyed.groupBy("u").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_SCHEMA,
        stateStructType=_FUNNEL_STATE,
        outputMode="update",
        timeoutConf=timeout,
    )


# ---------------------------------------------------------- live PSI drift

def stream_numeric_psi(
    new_df: DataFrame,
    edges: list[float],
    old_counts: list[int],
    col: str,
) -> DataFrame:
    """Live drift monitor — the streaming twin of
    :func:`~staticql_spark.operators.profile.numeric_psi`: the OLD
    snapshot's bucket grid (``edges``, deduplicated ascending) and bucket
    counts are frozen at deploy time (both driver-side literals, <=
    n_buckets values); the STREAM maintains the new-side bucket counts as
    a plain complete-mode aggregate, and every micro-batch leaves the
    per-bucket (n_old, n_new, p_old, p_new, psi_term) equal to what the
    batch operator computes over everything ingested — drift pages the
    moment sum(psi_term) crosses the alert threshold, no nightly rescan.

    State is one count per bucket (<= n_buckets longs).  Smoothing and
    rounding mirror numeric_psi exactly, so the batch fallback (which is
    also the oracle path) hash-matches it.
    """
    k = len(edges)
    if len(old_counts) != k + 1:
        raise ValueError(
            f"old_counts must have {k + 1} entries (one per bucket), "
            f"got {len(old_counts)}"
        )
    x = F.col(col).cast("double")
    b = F.lit(1)
    for e in edges:
        b = b + (x > F.lit(float(e))).cast("int")
    counts = (
        new_df.filter(x.isNotNull())
        .groupBy(b.cast("long").alias("bucket"))
        .agg(F.count("*").cast("long").alias("n_new"))
    )
    if new_df.isStreaming:
        # the maintained state IS the report's only moving part: the
        # <= n_buckets (bucket, n_new) counts, a plain complete-mode
        # aggregate.  The frozen old side + smoothing arithmetic are
        # <= n_buckets-row driver math the sink applies per trigger
        # (psi_from_counts below) — chaining a stream-static join and a
        # global-total window AFTER a streaming aggregate is exactly the
        # plan shape Structured Streaming disallows, and it buys nothing
        # at this cardinality.
        return counts
    spark = new_df.sparkSession
    oldf = spark.createDataFrame(
        [(i + 1, int(c)) for i, c in enumerate(old_counts)],
        "bucket long, n_old long",
    )
    cells = oldf.join(counts, "bucket", "left").select(
        "bucket",
        "n_old",
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
    )
    to = float(sum(old_counts))
    nb = float(k + 1)
    sm = F.lit(0.5)
    tn = F.sum("n_new").over(Window.partitionBy())
    po = (F.col("n_old") + sm) / (F.lit(to) + sm * F.lit(nb))
    pn = (F.col("n_new") + sm) / (tn.cast("double") + sm * F.lit(nb))
    return cells.select(
        "bucket",
        "n_old",
        "n_new",
        F.round(po, 6).alias("p_old"),
        F.round(pn, 6).alias("p_new"),
        F.round((po - pn) * F.log(po / pn), 6).alias("psi_term"),
    )


def psi_from_counts(
    new_counts: dict[int, int], edges: list[float], old_counts: list[int]
) -> list[tuple[int, int, int, float, float, float]]:
    """Driver-side finisher for :func:`stream_numeric_psi`'s streaming
    path: fold the sink's (bucket -> n_new) map against the frozen old
    side with the SAME smoothing/rounding as the batch report.  Returns
    (bucket, n_old, n_new, p_old, p_new, psi_term) tuples.

    Rounding matches Spark's ``F.round`` (HALF_UP via Decimal), NOT
    Python's ``round`` (banker's half-even) — the two disagree on exact
    6dp ties (see tests/test_drift_property.py), and this finisher's
    contract is hash-equality with the batch ``numeric_psi`` report.
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x: float) -> float:
        return float(
            Decimal(repr(float(x))).quantize(
                Decimal("0.000001"), ROUND_HALF_UP
            )
        )

    k = len(edges)
    nb = float(k + 1)
    to = float(sum(old_counts))
    tn = float(sum(new_counts.values()))
    out = []
    for i, n_old in enumerate(old_counts):
        bucket = i + 1
        n_new = int(new_counts.get(bucket, 0))
        po = (n_old + 0.5) / (to + 0.5 * nb)
        pn = (n_new + 0.5) / (tn + 0.5 * nb)
        out.append(
            (
                bucket,
                int(n_old),
                n_new,
                r6(po),
                r6(pn),
                r6((po - pn) * math.log(po / pn)),
            )
        )
    return out


# ------------------------------------------------- live arena leaderboard

ARENA_SLIDING_SCHEMA = (
    "win_start_us long, item_a long, item_b long, n long, wins_a long, "
    "wins_b long, win_rate_a double, wilson_lb_a double"
)
_ARENA_STATE = "n long, wins_a long"


def stream_arena_sliding(
    comparisons: DataFrame,
    time_col: str = "t_us",
    winner_col: str = "winner",
    loser_col: str = "loser",
    window_us: int = 7 * 86400 * 1_000_000,
    slide_us: int = 2 * 86400 * 1_000_000,
    z: float = 1.96,
    out_round: int = 6,
    max_fanout: int = 1024,
    watermark: str = "2 hours",
    state_ttl_ms: int | None = None,
    event_time_eviction: bool = False,
) -> DataFrame:
    """Live sliding-window arena leaderboard — the streaming twin of
    :func:`~staticql_spark.operators.preference.arena_sliding` (r10
    verdict #6): every micro-batch of pairwise comparisons refreshes the
    Wilson-bounded win-rate rows of exactly the (window, pair) cells it
    touched, so a dashboard ranks models on RECENT evidence without an
    end-of-day batch recompute.

    Same shape discipline as the batch operator: window membership is an
    in-row ``sequence`` explode (fan-out = ceil(window/slide), guarded by
    ``max_fanout`` at construct time) over exact LONG floor division, so
    boundary timestamps bucket identically in both paths and for
    pre-epoch times.  The stateful aggregate keys on (window, item_a,
    item_b); state per key is TWO LONGS (n, wins_a) — O(windows x
    observed pairs) total, independent of comparison volume, the
    streaming analogue of the batch plan's "the exchange never carries
    per-comparison rows".  Counts are order-free sums, so at-least-once
    replays of a whole micro-batch are the only double-count hazard —
    the standard Structured Streaming sink contract.

    Over an unbounded run even two-longs-per-cell accumulates (windows
    keep arriving forever); ``state_ttl_ms`` bounds it with the
    streaming_first_seen recipe — a processing-time timeout evicts
    (window, pair) cells idle past the TTL, which is exactly when a
    window has slid out of the live leaderboard's interest.  Size the
    TTL >= window span + late-data slack; an evicted cell that DOES see
    a late comparison restarts from zero (the emitted row then
    undercounts that stale window — acceptable for a recency
    leaderboard, run the batch operator for the archival matrix).

    ``event_time_eviction`` (r12, the watermark-driven alternative the
    r11 roadmap called for) instead registers an EVENT-TIME timeout at
    the cell's window END: the cell is evicted exactly when the
    watermark passes k*S + W, i.e. when no in-watermark comparison can
    land in that window anymore — so unlike the processing-time TTL
    there is NO undercount window to size against late data; the
    watermark delay IS the late-data contract.  State stays O(live
    windows x observed pairs) regardless of how long the query runs.
    Mutually exclusive with ``state_ttl_ms``.

    The Wilson lower bound is computed per emit with the SAME IEEE
    double expression order as the batch operator and rounded HALF_UP
    via Decimal (Python's ``round`` is half-even and disagrees on exact
    6dp ties — the psi_from_counts precedent), so the final emit per key
    is hash-equal to the batch row.

    Batch inputs fall through to the batch operator itself — the twin
    test and any oracle pin identical semantics with no stream.
    """
    from ..operators.preference import arena_sliding

    if not comparisons.isStreaming:
        return arena_sliding(
            comparisons,
            time_col=time_col,
            winner_col=winner_col,
            loser_col=loser_col,
            window_us=window_us,
            slide_us=slide_us,
            z=z,
            out_round=out_round,
            max_fanout=max_fanout,
        )

    if window_us <= 0 or slide_us <= 0:
        raise ValueError("window_us and slide_us must be positive")
    if event_time_eviction and state_ttl_ms is not None:
        raise ValueError(
            "event_time_eviction and state_ttl_ms are mutually exclusive "
            "eviction policies — pick one"
        )
    fanout = -(-window_us // slide_us)
    if fanout > max_fanout:
        raise ValueError(
            f"window/slide fan-out {fanout} exceeds max_fanout={max_fanout}; "
            "widen the slide or raise the cap deliberately"
        )

    import math
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    from ..operators.asof import _floordiv_long

    t = F.col(time_col).cast("long")
    w, l = F.col(winner_col).cast("long"), F.col(loser_col).cast("long")
    k_min = _floordiv_long(t - F.lit(window_us), slide_us) + F.lit(1)
    k_max = _floordiv_long(t, slide_us)
    keyed = comparisons.select(
        F.explode(F.sequence(k_min, k_max)).alias("k"),
        F.least(w, l).alias("item_a"),
        F.greatest(w, l).alias("item_b"),
        (w < l).cast("int").alias("a_won"),
        F.timestamp_micros(t).alias("__ts"),
    ).withWatermark("__ts", watermark)

    def rq(x: float) -> float:
        q = Decimal(1).scaleb(-out_round)
        return float(Decimal(repr(float(x))).quantize(q, ROUND_HALF_UP))

    z2 = z * z

    def update(key, pdf_iter, state):
        kk, item_a, item_b = key
        if state.hasTimedOut:
            # TTL mode: cell idle past the TTL (a late arrival
            # re-registers).  Watermark mode: the watermark passed the
            # cell's window end — no in-watermark comparison can land
            # here again; eviction is exact, not a heuristic.
            state.remove()
            return
        n, wins_a = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += int(len(pdf))
            wins_a += int(pdf["a_won"].sum())
        state.update((n, wins_a))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        elif event_time_eviction:
            # evict when the watermark passes this cell's window END.
            # Spark requires the timeout timestamp to sit beyond the
            # current watermark: a cell updated by a late-but-accepted
            # row after its window closed gets one watermark tick of
            # grace instead of an AnalysisException.
            end_ms = (int(kk) * slide_us + window_us) // 1000
            cur_wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(end_ms, cur_wm + 1))
        # same IEEE expression order as the batch operator's Columns
        nn = float(n)
        p = float(wins_a) / nn
        num = p + z2 / (2.0 * nn) - z * math.sqrt(
            (p * (1.0 - p) + z2 / (4.0 * nn)) / nn
        )
        den = 1.0 + z2 / nn
        yield pd.DataFrame(
            {
                "win_start_us": [int(kk) * slide_us],
                "item_a": [item_a],
                "item_b": [item_b],
                "n": [n],
                "wins_a": [wins_a],
                "wins_b": [n - wins_a],
                "win_rate_a": [rq(p)],
                "wilson_lb_a": [rq(num / den)],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return keyed.groupBy("k", "item_a", "item_b").applyInPandasWithState(
        update,
        outputStructType=ARENA_SLIDING_SCHEMA,
        stateStructType=_ARENA_STATE,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.EventTimeTimeout
            if event_time_eviction
            else GroupStateTimeout.NoTimeout
        ),
    )


# --------------------------------------------------- live consensus labels

CONSENSUS_SCHEMA = (
    "item long, n_labels long, consensus_cat string, n_consensus long, "
    "consensus_share double"
)
_CONSENSUS_STATE = "cats array<string>, counts array<long>, last_ms long"


def stream_consensus(
    labels: DataFrame,
    item_col: str = "item",
    cat_col: str = "cat",
    time_col: str = "ts",
    out_round: int = 6,
    watermark: str = "2 hours",
    state_ttl_ms: int | None = None,
    idle_horizon_ms: int | None = None,
) -> DataFrame:
    """Live per-item consensus label — the streaming twin of
    :func:`~staticql_spark.operators.preference.consensus_labels` (r12,
    the rater-QC stream coverage the r11 roadmap called for): every
    micro-batch of label events refreshes the (item, consensus_cat,
    share) rows of exactly the items it touched, so a labeling
    dashboard reads current truth without an end-of-day recompute.

    State per item is the per-category count vector as two parallel
    arrays — bounded by |categories seen for the item|, independent of
    label volume (a million re-labels of one item still hold one array
    slot per category).  Counts are order-free sums, so at-least-once
    replays of a whole micro-batch are the only double-count hazard —
    the standard Structured Streaming sink contract.  The modal pick
    (max count, ties toward the smallest category) and the share
    division replay the batch operator's exact expression order, with
    HALF_UP Decimal rounding so the final emit per item is hash-equal
    to the batch row (the stream_arena_sliding precedent).

    ``state_ttl_ms`` evicts items idle past the TTL (an item that does
    get a late label restarts its counts — run the batch operator for
    archival truth).  ``idle_horizon_ms`` (r12) is the EVENT-TIME
    alternative, ported from stream_arena_sliding's watermark eviction:
    an item has no natural window end, so the timeout registers at
    ``last label's event time + horizon`` — the item is evicted exactly
    when the watermark proves it has been label-silent for the horizon,
    independent of processing-time stalls or replays (the right
    semantics for "forget items nobody has labeled in 30 days").  State
    carries the max label event-time for this (one long).  Mutually
    exclusive with ``state_ttl_ms``.  Items must be integral ids on the
    live path (the fixed state-key schema); the batch fallback keeps
    any type.

    Batch inputs fall through to the batch operator itself — the twin
    test and the driver oracle pin identical semantics with no stream.
    """
    from ..operators.preference import consensus_labels

    if not labels.isStreaming:
        return consensus_labels(
            labels, item_col=item_col, cat_col=cat_col, out_round=out_round
        )
    if state_ttl_ms is not None and idle_horizon_ms is not None:
        raise ValueError(
            "state_ttl_ms and idle_horizon_ms are mutually exclusive "
            "eviction policies — pick one"
        )

    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    keyed = labels.select(
        F.col(item_col).cast("long").alias("item"),
        F.col(cat_col).cast("string").alias("cat"),
        F.col(time_col).alias("__ts"),
    ).withWatermark("__ts", watermark)

    def rq(x: float) -> float:
        q = Decimal(1).scaleb(-out_round)
        return float(Decimal(repr(float(x))).quantize(q, ROUND_HALF_UP))

    def update(key, pdf_iter, state):
        (item,) = key
        if state.hasTimedOut:
            # TTL mode: idle past the processing-time TTL.  Horizon
            # mode: the watermark proved the item label-silent for the
            # horizon.  Either way: evict.
            state.remove()
            return
        cats, counts, last_ms = (
            state.get if state.exists else ([], [], 0)
        )
        d = dict(zip(list(cats), [int(c) for c in counts]))
        last_ms = int(last_ms)
        for pdf in pdf_iter:
            for cat, c in pdf["cat"].value_counts().items():
                d[cat] = d.get(cat, 0) + int(c)
            if idle_horizon_ms is not None and len(pdf):
                batch_max = int(pdf["__ts"].max().value // 1_000_000)
                last_ms = max(last_ms, batch_max)
        # sorted category order keeps the state arrays deterministic
        # across replays and makes the modal tiebreak a plain max scan
        items = sorted(d.items())
        state.update(
            ([c for c, _ in items], [n for _, n in items], last_ms)
        )
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        elif idle_horizon_ms is not None:
            # evict when the watermark passes the last label + horizon;
            # Spark requires the timestamp beyond the current watermark
            cur_wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(last_ms + idle_horizon_ms, cur_wm + 1))
        n = sum(d.values())
        # modal = max count; ties toward the smallest category (items
        # is category-sorted, so strict > keeps the earliest winner)
        best_cat, best_n = items[0]
        for cat, c in items[1:]:
            if c > best_n:
                best_cat, best_n = cat, c
        yield pd.DataFrame(
            {
                "item": [int(item)],
                "n_labels": [n],
                "consensus_cat": [best_cat],
                "n_consensus": [best_n],
                "consensus_share": [rq(float(best_n) / float(n))],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return keyed.groupBy("item").applyInPandasWithState(
        update,
        outputStructType=CONSENSUS_SCHEMA,
        stateStructType=_CONSENSUS_STATE,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.EventTimeTimeout
            if idle_horizon_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


# ----------------------------------------------- live rater severity

RATER_SEVERITY_SCHEMA = (
    "rater long, n_scored long, mean_score double, mean_gap double"
)
_RATER_SEVERITY_STATE = "n long, sum_micros long, sum_nanos long"


def stream_rater_severity(
    scores: DataFrame,
    reference: DataFrame,
    item_col: str = "item",
    rater_col: str = "rater",
    score_col: str = "score",
    ref_col: str = "ref_score",
    time_col: str = "ts",
    out_round: int = 6,
    watermark: str = "2 hours",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Live per-rater severity vs a FIXED per-item reference — the
    streaming twin of
    :func:`~staticql_spark.operators.preference.rater_severity` (r13,
    the last uncovered preference-stream shape from the r12 roadmap):
    every micro-batch of score events refreshes the (rater, n_scored,
    mean_score, mean_gap) rows of exactly the raters it touched, so a
    labeling dashboard watches severity drift live instead of waiting
    for the end-of-day :func:`rater_bias` recompute.

    Why the FIXED reference is the streamable shape: rater_bias'
    leave-one-out item mean moves retroactively with every new label of
    the item — per-rater gaps are not order-free and no bounded state
    can emit them incrementally.  Freezing the per-item expectation
    (``reference``: a static batch frame — yesterday's item means, a
    golden set, a reward-model prediction) makes each gap a per-event
    constant, so per-rater state collapses to three longs.

    Arithmetic twin contract (hash-equal final emits): the per-event
    6dp score round, the 9dp gap round, and the item join all run as
    SPARK expressions before the stateful step, identical to the batch
    operator; state then holds EXACT integers — n, the score sum in
    micro-units (the DECIMAL(38,6) fold's integer numerator), the gap
    sum in nano-units (the DECIMAL(38,9) numerator) — and the final
    division + HALF_UP round replay the batch expression order via the
    module's Decimal quantize idiom (the stream_consensus precedent).
    Long capacity: |gap| <= 10^6 means ~9e18/1e15 = 9000+ trillion-event
    headroom per rater before sum_nanos could overflow — not a 100 TB
    hazard for per-rater volumes.

    The reference join is STREAM-STATIC (broadcast: references are
    dimension-sized by contract); items absent from the reference drop
    out, matching the batch inner join.  ``state_ttl_ms`` evicts raters
    idle past the processing-time TTL (the consensus TTL path; a rater
    who returns restarts their sums — run the batch operator for
    archival truth).  Raters must be integral ids on the live path (the
    fixed state-key schema); the batch fallback keeps any type.

    Batch inputs fall through to the batch operator itself — the twin
    test and the driver oracle pin identical semantics with no stream.
    """
    from ..operators.preference import rater_severity

    if not scores.isStreaming:
        return rater_severity(
            scores,
            reference,
            item_col=item_col,
            rater_col=rater_col,
            score_col=score_col,
            ref_col=ref_col,
            out_round=out_round,
        )

    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    ref = reference.select(
        F.col(item_col).alias("item"),
        F.round(F.col(ref_col).cast("double"), 6).alias("__ref"),
    ).filter(F.col("__ref").isNotNull())
    v6 = F.round(F.col(score_col).cast("double"), 6)
    keyed = (
        scores.select(
            F.col(item_col).alias("item"),
            F.col(rater_col).cast("long").alias("rater"),
            v6.alias("__v"),
            F.col(time_col).alias("__ts"),
        )
        .filter(F.col("__v").isNotNull())
        .withWatermark("__ts", watermark)
        .join(F.broadcast(ref), "item")
        .select(
            "rater",
            # exact integer numerators of the batch decimal folds:
            # round(v6 * 1e6) == the DECIMAL(38,6) value in micros,
            # round(round(v-ref, 9) * 1e9) == the DECIMAL(38,9) gap in
            # nanos — Spark-side rounds so engine semantics match batch
            F.round(F.col("__v") * 1e6, 0).cast("long").alias("__vmic"),
            F.round(F.round(F.col("__v") - F.col("__ref"), 9) * 1e9, 0)
            .cast("long")
            .alias("__gnano"),
            "__ts",
        )
    )

    def rq(x: float) -> float:
        q = Decimal(1).scaleb(-out_round)
        return float(Decimal(repr(float(x))).quantize(q, ROUND_HALF_UP))

    def update(key, pdf_iter, state):
        (rater,) = key
        if state.hasTimedOut:
            state.remove()
            return
        n, sum_micros, sum_nanos = state.get if state.exists else (0, 0, 0)
        n, sum_micros, sum_nanos = int(n), int(sum_micros), int(sum_nanos)
        for pdf in pdf_iter:
            n += len(pdf)
            sum_micros += int(pdf["__vmic"].sum())
            sum_nanos += int(pdf["__gnano"].sum())
        state.update((n, sum_micros, sum_nanos))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        # replay the batch expression order: decimal sum -> double,
        # one division, one HALF_UP round
        mean_score = rq(float(Decimal(sum_micros).scaleb(-6)) / float(n))
        mean_gap = rq(float(Decimal(sum_nanos).scaleb(-9)) / float(n))
        yield pd.DataFrame(
            {
                "rater": [int(rater)],
                "n_scored": [n],
                "mean_score": [mean_score],
                "mean_gap": [mean_gap],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return keyed.groupBy("rater").applyInPandasWithState(
        update,
        outputStructType=RATER_SEVERITY_SCHEMA,
        stateStructType=_RATER_SEVERITY_STATE,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
