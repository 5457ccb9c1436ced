"""Structured Streaming: file-source stream -> windowed agg -> memory sink,
checked against the batch twin (same code path, SURVEY §2.9 note)."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from staticql_spark.streaming import (
    load_events,
    read_event_stream,
    sessionize,
    windowed_agg,
)
from tests.conftest import SF_SMOKE


def _events_dir(spark, tmp_path_factory):
    """Stage the events table as a directory of parquet files with µs
    timestamps (streaming file source needs a dir; ns needs normalizing)."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_events(spark, f"{SF_SMOKE}/events.parquet").repartition(4).write.mode(
        "overwrite"
    ).parquet(d)
    return d


@pytest.mark.slow  # soak-grade: excluded from the default gate (pytest.ini)
def test_stream_windowed_agg_matches_batch(spark, tmp_path_factory):
    d = _events_dir(spark, tmp_path_factory)
    batch = windowed_agg(spark.read.parquet(d), window="1 hour")
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }

    stream = read_event_stream(spark, d, max_files=2)
    assert stream.isStreaming
    q = (
        windowed_agg(stream, window="1 hour")
        .writeStream.format("memory")
        .queryName("win_agg_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from win_agg_test").collect()
    }
    # append mode only emits windows the watermark has closed; everything
    # emitted must match the batch result exactly, and most windows close
    assert len(got) > 0
    for k, v in got.items():
        assert expected[k] == v, k


@pytest.mark.slow  # soak-grade: excluded from the default gate (pytest.ini)
def test_streaming_first_seen_matches_batch(spark, tmp_path_factory):
    from staticql_spark.streaming import streaming_first_seen

    d = _events_dir(spark, tmp_path_factory)
    batch = streaming_first_seen(
        spark.read.parquet(d), F.col("event_type")
    )
    expected = {
        r["fp"]: (r["first_ts"], r["n_dups"]) for r in batch.collect()
    }

    stream = read_event_stream(spark, d, max_files=1)
    q = (
        streaming_first_seen(stream, F.col("event_type"))
        .writeStream.format("memory")
        .queryName("first_seen_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # update mode emits per-trigger snapshots; the final state per fp is the
    # row with the highest duplicate count (monotone non-decreasing)
    rows = spark.sql(
        """select fp, first_ts, n_dups from (
             select *, row_number() over (partition by fp order by n_dups desc) rn
             from first_seen_test) where rn = 1"""
    ).collect()
    got = {r["fp"]: (r["first_ts"], r["n_dups"]) for r in rows}
    assert got == expected


def test_sessionize_batch_sanity(spark):
    ev = load_events(spark, f"{SF_SMOKE}/events.parquet")
    sess = sessionize(ev, gap="30 minutes")
    rows = sess.collect()
    assert len(rows) > 0
    # sessions are disjoint per user and end after they start
    for r in rows:
        assert r["session_end"] > r["session_start"]
    total_events = sum(r["n_events"] for r in rows)
    assert total_events == ev.count()


def test_stream_diff_refresh_updates_index(spark, content_dir, tmp_path):
    """DiffEntry parquet drop -> foreachBatch -> affected index partitions
    refreshed (the reference's incremental CLI as a streaming job)."""
    import shutil

    from staticql_spark import define
    from staticql_spark.streaming import DIFF_SCHEMA, stream_diff_refresh
    from tests.conftest import CONFIG

    root = tmp_path / "content"
    shutil.copytree(content_dir, root)
    out = str(tmp_path / "idx")

    define(CONFIG)(base_dir=str(root), spark=spark).save_indexes(out)
    before = {
        r["v"]
        for r in spark.read.parquet(f"{out}/herbs").filter("field = 'name'").collect()
    }
    assert "ゴボウ" in before and "牛蒡" not in before

    # content change lands (rename ゴボウ -> 牛蒡), CI drops a DiffEntry file
    p = root / "content" / "herbs" / "arctium-lappa.md"
    p.write_text(p.read_text().replace("name: ゴボウ", "name: 牛蒡"), encoding="utf-8")
    diff_dir = str(tmp_path / "diffs")
    spark.createDataFrame([("M", "herbs", "arctium-lappa")], DIFF_SCHEMA).write.parquet(
        diff_dir
    )

    # fresh session over the changed content (as the maintenance job sees it)
    sql2 = define(CONFIG)(base_dir=str(root), spark=spark)
    q = stream_diff_refresh(sql2, diff_dir, out, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    after = {
        r["v"]
        for r in spark.read.parquet(f"{out}/herbs").filter("field = 'name'").collect()
    }
    assert "牛蒡" in after and "ゴボウ" not in after
    # untouched herbs' entries survive the partition-level overwrite
    assert "ゴツゴラ" in after


def _two_refresh_runs(spark, content_dir, tmp_path, change):
    """One StaticQL drives two availableNow refresh runs sharing one
    checkpoint; ``change(herbs_dir)`` edits the content between them and
    returns the second run's DiffEntry.  Returns the indexed herb names
    after each run."""
    import shutil

    from staticql_spark import define
    from staticql_spark.streaming import DIFF_SCHEMA, stream_diff_refresh
    from tests.conftest import CONFIG

    root = tmp_path / "content"
    shutil.copytree(content_dir, root)
    out = str(tmp_path / "idx")
    diff_dir = str(tmp_path / "diffs")
    ckpt = str(tmp_path / "ckpt")
    sql = define(CONFIG)(base_dir=str(root), spark=spark)
    sql.save_indexes(out)

    def names():
        idx = spark.read.parquet(f"{out}/herbs").filter("field = 'name'")
        return {r["v"] for r in idx.collect()}

    def run(diff):
        spark.createDataFrame([diff], DIFF_SCHEMA).write.mode("append").parquet(diff_dir)
        stream_diff_refresh(sql, diff_dir, out, ckpt).awaitTermination(180)
        return names()

    p = root / "content" / "herbs" / "arctium-lappa.md"
    p.write_text(p.read_text().replace("name: ゴボウ", "name: 牛蒡"), encoding="utf-8")
    first = run(("M", "herbs", "arctium-lappa"))
    return first, run(change(root / "content" / "herbs"))


def test_stream_refresh_sees_a_file_added_between_runs(spark, content_dir, tmp_path):
    def add(herbs):
        (herbs / "zingiber-officinale.md").write_text(
            "---\nname: ショウガ\ntagSlugs:\n  - warming\noverview: ショウガの概要\n---\n",
            encoding="utf-8",
        )
        return ("A", "herbs", "zingiber-officinale")

    first, second = _two_refresh_runs(spark, content_dir, tmp_path, add)
    assert "牛蒡" in first and "ショウガ" not in first
    assert {"牛蒡", "ショウガ", "ゴツゴラ"} <= second


def test_stream_refresh_sees_an_edit_between_runs(spark, content_dir, tmp_path):
    def edit(herbs):
        p = herbs / "centella-asiatica.md"
        p.write_text(p.read_text().replace("name: ゴツゴラ", "name: ツボクサ"), encoding="utf-8")
        return ("M", "herbs", "centella-asiatica")

    first, second = _two_refresh_runs(spark, content_dir, tmp_path, edit)
    assert "ゴツゴラ" in first
    assert "ツボクサ" in second and "ゴツゴラ" not in second and "牛蒡" in second


@pytest.mark.slow  # soak-grade: excluded from the default gate (pytest.ini)
def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data bound: an event older than the watermark must NOT reopen
    its already-emitted window. Two availableNow runs share one checkpoint
    (file sink — memory sinks can't recover one), so the watermark
    persisted by run 1 governs run 2."""
    import datetime as dt

    from staticql_spark.streaming import EVENT_SCHEMA, read_event_stream

    d = str(tmp_path / "drops")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def ev(eid, hhmm, etype="click", value=1.0):
        h, m = map(int, hhmm.split(":"))
        return (eid, dt.datetime(2024, 1, 1, h, m), 7, etype, value, "{}")

    def run_once():
        q = (
            windowed_agg(read_event_stream(spark, d, max_files=10), window="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["window_start"], r["event_type"]): r["n_events"]
            for r in spark.read.parquet(out).collect()
        }

    # run 1: events up to 06:00 -> watermark advances to 04:00 (2h bound);
    # the 00:00 and 01:00 windows close and emit
    batch1 = spark.createDataFrame(
        [ev(1, "00:10"), ev(2, "00:40"), ev(3, "01:15"), ev(4, "06:00")],
        schema=EVENT_SCHEMA,
    )
    batch1.coalesce(1).write.mode("append").parquet(d)
    run1 = run_once()
    assert run1[(dt.datetime(2024, 1, 1, 0, 0), "click")] == 2

    # run 2: one event at 00:30 — 3.5h behind the persisted watermark,
    # inside a window that already emitted -> dropped, sink unchanged
    spark.createDataFrame([ev(5, "00:30")], schema=EVENT_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(d)
    run2 = run_once()
    assert run2 == run1

    # control: a batch run sees all five events at once (no watermark
    # cutoff applies), so the same 00:00 window counts the late row
    control = windowed_agg(spark.read.parquet(d), window="1 hour")
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in control.collect()
    }
    assert got[(dt.datetime(2024, 1, 1, 0, 0), "click")] == 3


@pytest.mark.slow  # soak-grade: excluded from the default gate (pytest.ini)
def test_stream_asof_enrich_matches_batch(spark, tmp_path):
    """Streaming temporal join: two checkpointed availableNow runs with
    time-ordered drops must reproduce the exact batch as-of join (arrivals
    in order = the case where 'latest known' IS 'as of event time')."""
    import datetime as dt

    from staticql_spark.streaming import (
        EVENT_SCHEMA,
        read_event_stream,
        stream_asof_enrich,
    )

    d = str(tmp_path / "drops")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def ev(eid, minute, etype, value):
        return (eid, dt.datetime(2024, 1, 1, 10, minute), 7, etype, value, "{}")

    def split(df):
        clicks = df.filter("event_type = 'click'")
        purch = df.filter("event_type = 'purchase'")
        return clicks, purch

    def run_once():
        stream = read_event_stream(spark, d, max_files=10)
        clicks, purch = split(stream)
        q = (
            stream_asof_enrich(clicks, purch, on="user_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r["left_id"]: (r["matched_value"], r["matched_ts"])
            for r in spark.read.parquet(out).collect()
        }

    batch1 = spark.createDataFrame(
        [
            ev(1, 0, "purchase", 10.0),
            ev(2, 5, "click", 0.0),     # -> 10.0
            ev(3, 10, "purchase", 20.0),
            ev(4, 10, "click", 0.0),    # tie ts -> inclusive, 20.0
        ],
        schema=EVENT_SCHEMA,
    )
    batch1.coalesce(1).write.mode("append").parquet(d)
    run1 = run_once()
    assert run1[2] == (10.0, dt.datetime(2024, 1, 1, 10, 0))
    assert run1[4] == (20.0, dt.datetime(2024, 1, 1, 10, 10))

    # run 2: later drop — state must carry purchase 20.0 across batches,
    # then supersede it mid-batch
    spark.createDataFrame(
        [
            ev(5, 20, "click", 0.0),    # -> carried 20.0 from run 1 state
            ev(6, 25, "purchase", 30.0),
            ev(7, 30, "click", 0.0),    # -> 30.0
        ],
        schema=EVENT_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(d)
    run2 = run_once()
    assert run2[5] == (20.0, dt.datetime(2024, 1, 1, 10, 10))
    assert run2[7] == (30.0, dt.datetime(2024, 1, 1, 10, 25))

    # batch fallback twin: identical semantics on the full static input
    clicks, purch = split(spark.read.parquet(d))
    got = {
        r["left_id"]: (r["matched_value"], r["matched_ts"])
        for r in stream_asof_enrich(clicks, purch, on="user_id").collect()
    }
    assert got == run2


def test_stream_interval_join_matches_batch(spark, tmp_path_factory):
    """Native watermarked stream-stream join reproduces the batch interval
    join exactly under availableNow replay."""
    from staticql_spark.streaming import stream_interval_join

    d = _events_dir(spark, tmp_path_factory)
    batch_ev = spark.read.parquet(d)
    bl = batch_ev.filter("event_type = 'click'")
    br = batch_ev.filter("event_type = 'purchase'")
    expected = {
        (r["l_event_id"], r["r_event_id"])
        for r in stream_interval_join(bl, br, on="user_id").collect()
    }

    stream = read_event_stream(spark, d, max_files=2)
    q = (
        stream_interval_join(
            stream.filter("event_type = 'click'"),
            stream.filter("event_type = 'purchase'"),
            on="user_id",
        )
        .writeStream.format("memory")
        .queryName("ivj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["l_event_id"], r["r_event_id"])
        for r in spark.sql("select * from ivj_test").collect()
    }
    assert got == expected and len(expected) > 0


def test_stream_trending_topk_matches_batch(spark, tmp_path_factory):
    """Trending heavy hitters: windowed counts stream under append mode,
    ranked per micro-batch via foreachBatch. Append emits each window once,
    complete, after the watermark closes it — so per-batch rank() equals
    the batch twin on every emitted window."""
    from staticql_spark.streaming import rank_topk, trending_counts, trending_topk

    d = _events_dir(spark, tmp_path_factory)
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["rnk"])
        for r in trending_topk(
            spark.read.parquet(d), window="15 minutes", slide="5 minutes", k=3
        ).collect()
    }

    ranked: list = []

    def sink(batch_df, _epoch):
        ranked.extend(rank_topk(batch_df, k=3).collect())

    stream = read_event_stream(spark, d, max_files=2)
    q = (
        trending_counts(stream, window="15 minutes", slide="5 minutes")
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r["window_start"], r["event_type"]): (r["n_events"], r["rnk"]) for r in ranked}
    # every watermark-closed window must match the batch ranking exactly
    assert len(got) > 0
    for key, v in got.items():
        assert expected[key] == v, key


def test_stream_lsh_dedup_matches_batch(spark, tmp_path):
    """Continuous dedup: a 2-micro-batch document stream probed against a
    static MinHash index must emit exactly the batch operator's pairs,
    each exactly once (dropDuplicates state collapses multi-band hits)."""
    from staticql_spark.operators import dedup
    from staticql_spark.streaming import stream_lsh_dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    old = docs.filter("doc_id % 5 != 0")
    new = docs.filter("doc_id % 5 == 0")
    ob, osh = dedup.minhash_index(old)

    # batch twin of the same operator
    want = {
        (r["id_new"], r["id_old"], r["jaccard"])
        for r in stream_lsh_dedup(new, ob, osh, threshold=0.2).collect()
    }
    # cross-check vs incremental_lsh_pairs: its mixed (one-new) pairs are
    # exactly the stream's new-vs-corpus scope
    mixed = {
        (r["id_a"], r["id_b"], r["jaccard"]) if r["id_a"] % 5 == 0
        else (r["id_b"], r["id_a"], r["jaccard"])
        for r in dedup.incremental_lsh_pairs(new, ob, osh, threshold=0.2).collect()
        if (r["id_a"] % 5 == 0) != (r["id_b"] % 5 == 0)
    }
    assert want == mixed
    assert want, "fixture must produce at least one cross-set pair"

    drops = str(tmp_path / "drops")
    new.filter("doc_id % 10 = 0").coalesce(1).write.mode("append").parquet(drops)
    new.filter("doc_id % 10 <> 0").coalesce(1).write.mode("append").parquet(drops)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = (
        stream_lsh_dedup(stream, ob, osh, threshold=0.2)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got_rows = spark.read.parquet(str(tmp_path / "out")).collect()
    got = {(r["id_new"], r["id_old"], r["jaccard"]) for r in got_rows}
    assert got == want
    assert len(got_rows) == len(got)  # exactly-once per pair


def test_streaming_first_seen_ttl_still_matches_batch(spark, tmp_path_factory):
    # a TTL far longer than the run must not change results (eviction only
    # fires on idle state); this locks the TTL plumbing end-to-end
    from staticql_spark.streaming import streaming_first_seen

    d = _events_dir(spark, tmp_path_factory)
    expected = {
        r["fp"]: (r["first_ts"], r["n_dups"])
        for r in streaming_first_seen(spark.read.parquet(d), F.col("event_type")).collect()
    }
    stream = read_event_stream(spark, d, max_files=1)
    q = (
        streaming_first_seen(stream, F.col("event_type"), state_ttl_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("first_seen_ttl_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    # The 1h processing-time TTL timer keeps the availableNow query alive
    # waiting for state timeouts, so awaitTermination burned its full
    # timeout (measured: exactly 180s, 28% of the whole suite) — and
    # processAllAvailable blocks on the same pending timer.  Poll the
    # memory sink for the expected fingerprint set instead, then stop.
    import time as _time

    deadline = _time.monotonic() + 150
    final_sql = """select fp, first_ts, n_dups from (
             select *, row_number() over (partition by fp order by n_dups desc) rn
             from first_seen_ttl_test) where rn = 1"""
    while _time.monotonic() < deadline:
        got_now = {
            r["fp"]: (r["first_ts"], r["n_dups"])
            for r in spark.sql(final_sql).collect()
        }
        if got_now == expected:
            break
        _time.sleep(1)
    q.stop()
    rows = spark.sql(final_sql).collect()
    got = {r["fp"]: (r["first_ts"], r["n_dups"]) for r in rows}
    assert got == expected


def test_stream_quality_score_matches_batch(spark, tmp_path):
    """Continuous classifier scoring: a 2-micro-batch doc stream scored
    with static trained weights must emit exactly the batch scores."""
    from staticql_spark.operators import classify
    from staticql_spark.streaming import stream_quality_score

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cols = ["x_stop", "x_dia", "x_cjk", "x_bias"]
    weights = classify.logreg_fit(
        classify.english_surface_features(docs), cols, iters=2, lr=4.0
    ).localCheckpoint(eager=True)  # pin the fit; both runs use identical weights

    # threshold at the batch median so the filter is non-trivial on any
    # fixture (2 GD iterations from zero keep all scores near 0.39)
    all_p = sorted(
        r["p"] for r in stream_quality_score(docs, weights).collect()
    )
    thr = all_p[len(all_p) // 2]
    want = {
        (r["doc_id"], r["p"])
        for r in stream_quality_score(docs, weights, threshold=thr).collect()
    }
    assert want and len(want) < len(all_p), "threshold must split the fixture"

    drops = str(tmp_path / "drops")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(drops)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(drops)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = (
        stream_quality_score(stream, weights, threshold=thr)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["p"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == want


def test_stream_volume_anomaly_matches_batch(spark, tmp_path_factory):
    """Windowed z-score spike detection against a static baseline: every
    window the stream emits must carry exactly the batch z/flag."""
    from staticql_spark.streaming import stream_volume_anomaly

    d = _events_dir(spark, tmp_path_factory)
    hist = spark.read.parquet(d)
    # baseline profile from the full history (what a daily job would persist)
    hourly = hist.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_pop("n").alias("sigma")
    ).localCheckpoint(eager=True)

    # permissive threshold so the fixture yields flags
    batch = stream_volume_anomaly(hist, stats, threshold=0.5)
    expected = {
        (r["event_type"], r["window_start"]): (r["n"], r["z"])
        for r in batch.collect()
    }
    assert expected, "fixture must flag some windows"

    q = (
        stream_volume_anomaly(
            read_event_stream(spark, d, max_files=2), stats, threshold=0.5
        )
        .writeStream.format("memory")
        .queryName("vol_anom_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_type"], r["window_start"]): (r["n"], r["z"])
        for r in spark.sql("select * from vol_anom_test").collect()
    }
    assert len(got) > 0
    for k, v in got.items():
        assert expected[k] == v, k


def test_stream_kmv_grouped_matches_batch(spark, tmp_path_factory):
    # the final per-group emit of the streaming bottom-k sketch must equal
    # the batch sketch of the same data: KMV state merges across
    # micro-batches exactly (sketch_k monotone up, kth_hash monotone down)
    from staticql_spark.streaming import read_event_stream, stream_kmv_grouped

    d = _events_dir(spark, tmp_path_factory)
    batch = {
        r["grp"]: (r["sketch_k"], r["kth_hash"], r["est_ndv"])
        for r in stream_kmv_grouped(spark.read.parquet(d), k=32).collect()
    }
    stream = read_event_stream(spark, d, max_files=2)
    q = (
        stream_kmv_grouped(stream, k=32)
        .writeStream.format("memory")
        .queryName("kmv_stream_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # final state per group = largest sketch, then smallest kth hash
    rows = spark.sql(
        """select grp, sketch_k, kth_hash, est_ndv from (
             select *, row_number() over (partition by grp
                 order by sketch_k desc, kth_hash asc) rn
             from kmv_stream_test) where rn = 1"""
    ).collect()
    got = {r["grp"]: (r["sketch_k"], r["kth_hash"], r["est_ndv"]) for r in rows}
    assert got == batch


@pytest.mark.slow  # soak-grade: excluded from the default gate (pytest.ini)
def test_stream_pq_neardup_stream_matches_batch(spark, tmp_path):
    """Streaming PQ-code near-dup: a 2-micro-batch vector stream probed
    against the static code index must emit exactly the batch twin's
    pairs; the in-row encoder must agree with the distributed encode."""
    from staticql_spark.operators import pq
    from staticql_spark.streaming import stream_pq_neardup

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    old = emb.filter("vec_id % 5 != 3")
    new = emb.filter("vec_id % 5 == 3")
    cbs = pq.pq_train(old, m=4, dim=64, stride=100, iters=2)
    keys = pq.code_keys(pq.pq_encode(old, cbs, m=4, dim=64))

    # in-row encoder == distributed encoder on the same frozen codebooks
    cb_rows = cbs.collect()
    inrow = {
        r["vec_id"]: r["ck"]
        for r in new.select(
            "vec_id", pq.encode_inrow(F.col("embedding"), cb_rows, 4, 16).alias("ck")
        ).collect()
    }
    dist = {
        r["vid"]: r["code_key"]
        for r in pq.code_keys(pq.pq_encode(new, cbs, m=4, dim=64)).collect()
    }
    assert inrow == dist

    want = {
        (r["id_new"], r["id_old"], r["cosine"])
        for r in stream_pq_neardup(new, cbs, keys, old, threshold=0.0).collect()
    }
    assert want, "fixture must produce at least one code-collision pair"

    drops = str(tmp_path / "drops")
    new.filter("vec_id % 10 = 3").coalesce(1).write.mode("append").parquet(drops)
    new.filter("vec_id % 10 <> 3").coalesce(1).write.mode("append").parquet(drops)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = (
        stream_pq_neardup(stream, cbs, keys, old, threshold=0.0)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["id_new"], r["id_old"], r["cosine"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == want


def test_stream_shard_checksums_matches_batch(spark, tmp_path):
    """Live shard checksums: after a 2-micro-batch document stream drains,
    the complete-mode table must equal the batch shard_checksums of the
    whole corpus — XOR state folds micro-batches exactly."""
    from staticql_spark.operators.shards import shard_checksums
    from staticql_spark.streaming import stream_shard_checksums

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cols = ["text", "lang", "source", "n_chars"]
    want = {
        r["shard_id"]: (r["n_rows"], r["xor_checksum"])
        for r in shard_checksums(docs, cols).collect()
    }

    drops = str(tmp_path / "drops")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(drops)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(drops)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = (
        stream_shard_checksums(stream, cols)
        .writeStream.format("memory")
        .queryName("shard_ck_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["shard_id"]: (r["n_rows"], r["xor_checksum"])
        for r in spark.sql("select * from shard_ck_stream").collect()
    }
    assert got == want


def test_stream_gopher_gate_matches_batch(spark, tmp_path):
    """The Gopher gate report is join-free map + one agg, so it streams
    as-is: after a 2-micro-batch document stream drains, the complete-mode
    table must equal the batch report over the whole corpus."""
    from staticql_spark.operators.text import gopher_gate_report

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    want = {r["source"]: r.asDict() for r in gopher_gate_report(docs).collect()}

    drops = str(tmp_path / "gdrops")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(drops)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(drops)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = (
        gopher_gate_report(stream)
        .writeStream.format("memory")
        .queryName("gopher_gate_stream")
        .option("checkpointLocation", str(tmp_path / "gck"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["source"]: r.asDict() for r in
           spark.sql("select * from gopher_gate_stream").collect()}
    assert got == want


def test_stream_event_transitions_matches_batch(spark, tmp_path):
    """Per-user transition chaining with one-row-per-user state: after a
    2-micro-batch ts-ordered stream drains, summing the update-mode delta
    rows per (src, dst) must equal the batch lead-window counts."""
    import time

    from staticql_spark.streaming import load_events, stream_event_transitions

    ev = load_events(spark, f"{SF_SMOKE}/events.parquet")
    want = {
        (r["src_type"], r["dst_type"]): r["n_pairs"]
        for r in stream_event_transitions(ev).collect()
    }

    drops = str(tmp_path / "tdrops")
    split = "2024-01-15"
    first = ev.filter(F.col("ts") <= F.lit(split).cast("timestamp_ntz"))
    second = ev.filter(F.col("ts") > F.lit(split).cast("timestamp_ntz"))
    # per-user in-order arrival across micro-batches: write the earlier
    # half first with a distinct mtime so the file source triggers in order
    first.coalesce(1).write.mode("append").parquet(drops)
    time.sleep(1.2)
    second.coalesce(1).write.mode("append").parquet(drops)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = (
        stream_event_transitions(stream)
        .writeStream.format("memory")
        .queryName("transitions_stream")
        .option("checkpointLocation", str(tmp_path / "tck"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("select * from transitions_stream").collect():
        k = (r["src_type"], r["dst_type"])
        got[k] = got.get(k, 0) + r["n_pairs"]
    assert got == want


def test_stream_funnel_matches_batch(spark, tmp_path):
    """Greedy per-user stage automaton vs the batch chain-of-MINs: after
    a 2-micro-batch ts-ordered stream drains, summing the delta rows per
    step must equal funnel_report's n_users."""
    import time

    from staticql_spark.streaming import load_events, stream_funnel

    steps = ["signup", "view", "click", "purchase"]
    ev = load_events(spark, f"{SF_SMOKE}/events.parquet")
    want = {
        r["step_idx"]: r["n_advanced"]
        for r in stream_funnel(ev, steps).collect()
    }

    drops = str(tmp_path / "fdrops")
    split = "2024-01-15"
    ev.filter(F.col("ts") <= F.lit(split).cast("timestamp_ntz")).coalesce(1)\
        .write.mode("append").parquet(drops)
    time.sleep(1.2)
    ev.filter(F.col("ts") > F.lit(split).cast("timestamp_ntz")).coalesce(1)\
        .write.mode("append").parquet(drops)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = (
        stream_funnel(stream, steps)
        .writeStream.format("memory")
        .queryName("funnel_stream")
        .option("checkpointLocation", str(tmp_path / "fck"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("select * from funnel_stream").collect():
        got[r["step_idx"]] = got.get(r["step_idx"], 0) + r["n_advanced"]
    # batch keeps zero-count steps as rows; the stream emits no delta
    assert {k: v for k, v in want.items() if v > 0} == got


def test_stream_numeric_psi_matches_batch(spark, tmp_path):
    """Live drift monitor: after a 2-micro-batch document stream drains,
    the complete-mode bucket counts + the driver-side finisher must equal
    the batch numeric_psi report on the same frozen old grid."""
    from staticql_spark.operators.profile import exact_quantiles, numeric_psi
    from staticql_spark.streaming import psi_from_counts, stream_numeric_psi

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    new = docs.filter("doc_id % 10 <> 0 AND n_chars <= 400")
    # frozen old side: the batch operator's own grid and counts
    qs = [k / 10 for k in range(1, 10)]
    edges = sorted({r["value"] for r in exact_quantiles(docs, "n_chars", qs).collect()})
    want_rows = numeric_psi(docs, new, "n_chars").collect()
    want = {
        r["bucket"]: (r["n_old"], r["n_new"], r["p_old"], r["p_new"], r["psi_term"])
        for r in want_rows
    }
    old_counts = [want[b][0] for b in sorted(want)]

    drops = str(tmp_path / "pdrops")
    new.filter("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(drops)
    new.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(drops)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = (
        stream_numeric_psi(stream, edges, old_counts, "n_chars")
        .writeStream.format("memory")
        .queryName("psi_stream")
        .option("checkpointLocation", str(tmp_path / "pck"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_counts = {
        r["bucket"]: r["n_new"]
        for r in spark.sql("select * from psi_stream").collect()
    }
    got = {
        b: (no, nn, po, pn, term)
        for b, no, nn, po, pn, term in psi_from_counts(got_counts, edges, old_counts)
    }
    assert got == want


def test_stream_funnel_same_ts_group_atomic(spark, tmp_path):
    """r8 ADVICE regression: a step-B event that sorts BEFORE the same-ts
    step-A event (smaller event_id) must still advance stage 2 — the
    batch chain-of-MINs counts it (B@10 >= t_A=10), so the stream
    re-scans equal-ts groups after each advance instead of one greedy
    pass.  An EARLIER-ts B stays uncounted (user 3)."""
    from staticql_spark.streaming import stream_funnel

    steps = ["A", "B"]
    rows = [
        # user 1: B sorts before the same-ts A -> batch reaches stage 2
        (1, "2024-01-01 00:00:10", 1, "B"),
        (1, "2024-01-01 00:00:10", 2, "A"),
        # user 2: plain in-order pair at distinct ts -> stage 2
        (2, "2024-01-01 00:00:05", 3, "A"),
        (2, "2024-01-01 00:00:06", 4, "B"),
        # user 3: B strictly earlier than A -> stage 1 only
        (3, "2024-01-01 00:00:09", 5, "B"),
        (3, "2024-01-01 00:00:10", 6, "A"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id int, ts string, event_id int, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    # batch ground truth first (chain-of-MINs): 3 users at step 1, 2 at 2
    want = {
        r["step_idx"]: r["n_advanced"]
        for r in stream_funnel(ev, steps).collect()
    }
    assert want == {1: 3, 2: 2}

    drops = str(tmp_path / "fts")
    ev.coalesce(1).write.mode("append").parquet(drops)
    stream = spark.readStream.schema(ev.schema).parquet(drops)
    q = (
        stream_funnel(stream, steps)
        .writeStream.format("memory")
        .queryName("funnel_ts_stream")
        .option("checkpointLocation", str(tmp_path / "ftsck"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("select * from funnel_ts_stream").collect():
        got[r["step_idx"]] = got.get(r["step_idx"], 0) + r["n_advanced"]
    assert got == want


def test_stream_transitions_multi_chunk_single_sort(spark, tmp_path):
    """r8 ADVICE regression: applyInPandasWithState may hand one key's
    trigger rows as several Arrow chunks (forced here with
    maxRecordsPerBatch=2); chaining must concat + sort ONCE, not sort
    each chunk independently.  One user, 7 events written in DESCENDING
    ts order so any per-chunk sort chains out of order."""
    import time

    from staticql_spark.streaming import stream_event_transitions

    types = ["a", "b", "c", "d", "e", "f", "g"]
    rows = [
        (1, f"2024-01-01 00:00:{10 + i:02d}", i, t)
        for i, t in enumerate(types)
    ]
    ev = spark.createDataFrame(
        rows, "user_id int, ts string, event_id int, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    want = {
        (r["src_type"], r["dst_type"]): r["n_pairs"]
        for r in stream_event_transitions(ev).collect()
    }
    assert len(want) == 6  # a>b ... f>g, each once

    drops = str(tmp_path / "chunks")
    ev.orderBy(F.col("ts").desc()).coalesce(1).write.mode("append").parquet(
        drops
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = spark.readStream.schema(ev.schema).parquet(drops)
        q = (
            stream_event_transitions(stream)
            .writeStream.format("memory")
            .queryName("chunk_stream")
            .option("checkpointLocation", str(tmp_path / "cck"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got: dict = {}
    for r in spark.sql("select * from chunk_stream").collect():
        k = (r["src_type"], r["dst_type"])
        got[k] = got.get(k, 0) + r["n_pairs"]
    assert got == want


def test_psi_from_counts_rounds_half_up():
    """r8 ADVICE regression: the driver-side finisher must round like
    Spark's F.round (HALF_UP), not Python round() (half-even) — they
    disagree on exact 6dp ties.  old bucket 1 count 0 of 63 gives
    p_old = 0.5/64 = 0.0078125 exactly: half-up 0.007813, half-even
    0.007812."""
    from staticql_spark.streaming import psi_from_counts

    assert round(0.0078125, 6) == 0.007812  # the trap this guards
    edges = [100.0]
    old_counts = [0, 63]
    rows = psi_from_counts({1: 5, 2: 5}, edges, old_counts)
    by_bucket = {r[0]: r for r in rows}
    assert by_bucket[1][3] == 0.007813


def test_encode_inrow_property_matches_distributed(spark):
    """r8 property lock on the SQL-literal in-row encoder: over
    adversarial floats (tiny/huge magnitudes, negative zero, exact ties
    from duplicated vectors) the map-only encoder must produce the SAME
    codes as the distributed pq_encode under the same codebooks — the
    literal plumbing changed twice in r8 (cc precompute, CAST('repr')
    arrays), and this is the contract that keeps the streaming path
    hash-compatible with the persisted index."""
    import random

    from staticql_spark.operators import pq

    rnd = random.Random(8)
    m, dim, dsub = 2, 8, 4
    vecs = []
    for i in range(60):
        scale = 10.0 ** rnd.randint(-6, 6)
        vecs.append(
            (i, [rnd.uniform(-1, 1) * scale for _ in range(dim)])
        )
    vecs.append((60, [-0.0] * dim))
    vecs.append((61, [0.0] * dim))
    vecs.append((62, vecs[0][1]))  # exact duplicate -> argmin tie paths
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    cbs = pq.pq_train(df, m=m, dim=dim, stride=10, iters=2)
    dist = {
        r["vid"]: r["code_key"]
        for r in pq.code_keys(pq.pq_encode(df, cbs, m=m, dim=dim)).collect()
    }
    # both collect flavors: with and without the precomputed cc field
    from staticql_spark.operators.similarity import as_double, dot

    cvec = as_double(F.col("centroid"))
    with_cc = cbs.select(
        "subspace", "code", "centroid", F.round(dot(cvec, cvec), 6).alias("cc")
    ).collect()
    for rows in (cbs.collect(), with_cc):
        inrow = {
            r["vec_id"]: r["ck"]
            for r in df.select(
                "vec_id",
                pq.encode_inrow(F.col("embedding"), rows, m, dsub).alias("ck"),
            ).collect()
        }
        assert inrow == dist and len(inrow) == 63


def test_stream_lsh_dedup_over_persisted_index(spark, tmp_path):
    """r8 composition lock: the streaming near-dup probe consuming a
    dedup.lsh_build/lsh_load index (with its frozen meta recipe) must
    emit exactly the pairs it emits over in-memory minhash_index frames
    — the persisted index IS the deployment shape the docstring
    promises ('static persisted MinHash index read back')."""
    from staticql_spark.operators import dedup as dd
    from staticql_spark.streaming import stream_lsh_dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    old = docs.filter("doc_id % 5 != 0")
    new = docs.filter("doc_id % 5 = 0")

    path = str(tmp_path / "lshidx")
    dd.lsh_build(old, path, n=3, num_hashes=16, bands=4)
    idx = dd.lsh_load(spark, path)

    key = lambda df: sorted(
        (r[0], r[1], r[2]) for r in df.collect()
    )
    via_loaded = key(stream_lsh_dedup(
        new, idx.bands, idx.shingles,
        n=idx.n, num_hashes=idx.num_hashes, bands=idx.n_bands, threshold=0.2,
    ))
    b, sh = dd.minhash_index(old, n=3, num_hashes=16, bands=4)
    inline = key(stream_lsh_dedup(
        new, b, sh, n=3, num_hashes=16, bands=4, threshold=0.2,
    ))
    assert via_loaded == inline and len(via_loaded) > 0


def test_stream_qsketch_grouped_matches_batch(spark, tmp_path_factory):
    # the final per-group emit of the streaming bottom-k quantile sketch
    # must equal the batch sketch of the same data: bottom-k-by-hash state
    # merges across micro-batches exactly (sketch_n monotone up, kth_hash
    # monotone down once the sketch is full)
    from staticql_spark.streaming import (
        read_event_stream,
        stream_qsketch_grouped,
    )

    d = _events_dir(spark, tmp_path_factory)
    batch = {
        r["grp"]: (r["sketch_n"], r["kth_hash"], r["p50"], r["p90"])
        for r in stream_qsketch_grouped(spark.read.parquet(d), k=32).collect()
    }
    stream = read_event_stream(spark, d, max_files=2)
    q = (
        stream_qsketch_grouped(stream, k=32)
        .writeStream.format("memory")
        .queryName("qsk_stream_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        """select grp, sketch_n, kth_hash, p50, p90 from (
             select *, row_number() over (partition by grp
                 order by sketch_n desc, kth_hash asc) rn
             from qsk_stream_test) where rn = 1"""
    ).collect()
    got = {
        r["grp"]: (r["sketch_n"], r["kth_hash"], r["p50"], r["p90"])
        for r in rows
    }
    assert got == batch


def test_stream_arena_sliding_matches_batch(spark, tmp_path_factory):
    # the FINAL emit per (window, pair) of the live arena leaderboard
    # must hash-equal the batch arena_sliding row: counts are order-free
    # sums and the Wilson bound is computed with the same IEEE expression
    # order + Decimal HALF_UP rounding in both paths
    from staticql_spark.operators import asof
    from staticql_spark.streaming import read_event_stream, stream_arena_sliding

    def comps(ev):
        c = ev.select(
            asof.epoch_us(ev, "ts").alias("t_us"),
            (F.col("event_id") % 24).alias("a"),
            F.expr("(event_id div 24) % 24").alias("b"),
            F.expr("event_id div 576").alias("t"),
        ).filter(F.col("a") != F.col("b"))
        a_wins = (F.col("t") % (F.col("a") + F.col("b") + 2)) <= F.col("a")
        return c.select(
            "t_us",
            F.when(a_wins, F.col("a")).otherwise(F.col("b")).alias("winner"),
            F.when(a_wins, F.col("b")).otherwise(F.col("a")).alias("loser"),
        )

    d = _events_dir(spark, tmp_path_factory)
    win, slide = 2 * 86400 * 1_000_000, 12 * 3600 * 1_000_000
    batch = {
        (r["win_start_us"], r["item_a"], r["item_b"]): (
            r["n"], r["wins_a"], r["wins_b"], r["win_rate_a"], r["wilson_lb_a"]
        )
        for r in stream_arena_sliding(
            comps(spark.read.parquet(d)), window_us=win, slide_us=slide
        ).collect()
    }
    assert batch, "fixture produced no comparisons"

    stream = read_event_stream(spark, d, max_files=2)
    q = (
        stream_arena_sliding(comps(stream), window_us=win, slide_us=slide)
        .writeStream.format("memory")
        .queryName("arena_stream_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        """select * from (
             select *, row_number() over (
                 partition by win_start_us, item_a, item_b
                 order by n desc) rn
             from arena_stream_test) where rn = 1"""
    ).collect()
    got = {
        (r["win_start_us"], r["item_a"], r["item_b"]): (
            r["n"], r["wins_a"], r["wins_b"], r["win_rate_a"], r["wilson_lb_a"]
        )
        for r in rows
    }
    assert got == batch


@pytest.mark.slow  # soak-grade: excluded from the default gate (pytest.ini)
def test_stream_arena_sliding_ttl_still_matches_batch(spark, tmp_path_factory):
    # with a state TTL configured (the unbounded-run state bound), a
    # single availableNow pass must still equal the batch operator: the
    # processing-time timeout can only evict between triggers, and no
    # cell is idle within one pass
    from staticql_spark.operators import asof
    from staticql_spark.streaming import read_event_stream, stream_arena_sliding

    def comps(ev):
        c = ev.select(
            asof.epoch_us(ev, "ts").alias("t_us"),
            (F.col("event_id") % 24).alias("a"),
            F.expr("(event_id div 24) % 24").alias("b"),
            F.expr("event_id div 576").alias("t"),
        ).filter(F.col("a") != F.col("b"))
        a_wins = (F.col("t") % (F.col("a") + F.col("b") + 2)) <= F.col("a")
        return c.select(
            "t_us",
            F.when(a_wins, F.col("a")).otherwise(F.col("b")).alias("winner"),
            F.when(a_wins, F.col("b")).otherwise(F.col("a")).alias("loser"),
        )

    d = _events_dir(spark, tmp_path_factory)
    win, slide = 2 * 86400 * 1_000_000, 12 * 3600 * 1_000_000
    batch = {
        (r["win_start_us"], r["item_a"], r["item_b"]): (r["n"], r["wins_a"])
        for r in stream_arena_sliding(
            comps(spark.read.parquet(d)), window_us=win, slide_us=slide
        ).collect()
    }
    stream = read_event_stream(spark, d, max_files=2)
    q = (
        stream_arena_sliding(
            comps(stream), window_us=win, slide_us=slide,
            state_ttl_ms=3_600_000,
        )
        .writeStream.format("memory")
        .queryName("arena_ttl_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        """select * from (
             select *, row_number() over (
                 partition by win_start_us, item_a, item_b
                 order by n desc) rn
             from arena_ttl_test) where rn = 1"""
    ).collect()
    got = {
        (r["win_start_us"], r["item_a"], r["item_b"]): (r["n"], r["wins_a"])
        for r in rows
    }
    assert got == batch


def test_stream_consensus_matches_batch(spark, tmp_path_factory):
    # the FINAL emit per item of the live consensus table must hash-equal
    # the batch consensus_labels row: counts are order-free sums and the
    # modal pick + share replay the batch expression order (r12)
    from staticql_spark.streaming import read_event_stream, stream_consensus

    def labels(ev):
        return ev.select(
            F.col("user_id").alias("item"),
            F.col("event_type").alias("cat"),
            F.col("ts"),
        )

    d = _events_dir(spark, tmp_path_factory)
    batch = {
        r["item"]: (
            r["n_labels"], r["consensus_cat"], r["n_consensus"],
            r["consensus_share"],
        )
        for r in stream_consensus(labels(spark.read.parquet(d))).collect()
    }
    assert batch, "fixture produced no labels"

    stream = read_event_stream(spark, d, max_files=2)
    q = (
        stream_consensus(labels(stream))
        .writeStream.format("memory")
        .queryName("consensus_stream_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        """select * from (
             select *, row_number() over (
                 partition by item order by n_labels desc) rn
             from consensus_stream_test) where rn = 1"""
    ).collect()
    got = {
        r["item"]: (
            r["n_labels"], r["consensus_cat"], r["n_consensus"],
            r["consensus_share"],
        )
        for r in rows
    }
    assert got == batch


def test_stream_arena_event_time_eviction_matches_batch(spark, tmp_path_factory):
    # watermark-driven eviction (r12): with a watermark delay wider than
    # the fixture's time span no cell can be evicted mid-run, so a
    # multi-batch pass must still equal the batch operator — this pins
    # the EventTimeTimeout plumbing (timestamp registration, timeout
    # handling) without depending on file ordering
    from staticql_spark.operators import asof
    from staticql_spark.streaming import read_event_stream, stream_arena_sliding

    def comps(ev):
        c = ev.select(
            asof.epoch_us(ev, "ts").alias("t_us"),
            (F.col("event_id") % 24).alias("a"),
            F.expr("(event_id div 24) % 24").alias("b"),
            F.expr("event_id div 576").alias("t"),
        ).filter(F.col("a") != F.col("b"))
        a_wins = (F.col("t") % (F.col("a") + F.col("b") + 2)) <= F.col("a")
        return c.select(
            "t_us",
            F.when(a_wins, F.col("a")).otherwise(F.col("b")).alias("winner"),
            F.when(a_wins, F.col("b")).otherwise(F.col("a")).alias("loser"),
        )

    d = _events_dir(spark, tmp_path_factory)
    win, slide = 2 * 86400 * 1_000_000, 12 * 3600 * 1_000_000
    batch = {
        (r["win_start_us"], r["item_a"], r["item_b"]): (r["n"], r["wins_a"])
        for r in stream_arena_sliding(
            comps(spark.read.parquet(d)), window_us=win, slide_us=slide
        ).collect()
    }
    stream = read_event_stream(spark, d, max_files=2)
    q = (
        stream_arena_sliding(
            comps(stream), window_us=win, slide_us=slide,
            watermark="365 days", event_time_eviction=True,
        )
        .writeStream.format("memory")
        .queryName("arena_evt_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        """select * from (
             select *, row_number() over (
                 partition by win_start_us, item_a, item_b
                 order by n desc) rn
             from arena_evt_test) where rn = 1"""
    ).collect()
    got = {
        (r["win_start_us"], r["item_a"], r["item_b"]): (r["n"], r["wins_a"])
        for r in rows
    }
    assert got == batch


def test_stream_arena_eviction_policies_exclusive(spark, tmp_path_factory):
    import pytest

    from staticql_spark.streaming import read_event_stream, stream_arena_sliding

    d = _events_dir(spark, tmp_path_factory)
    stream = read_event_stream(spark, d).select(
        (F.unix_micros("ts")).alias("t_us"),
        (F.col("event_id") % 3).alias("winner"),
        (F.col("event_id") % 3 + 1).alias("loser"),
    )
    with pytest.raises(ValueError, match="mutually exclusive"):
        stream_arena_sliding(
            stream, state_ttl_ms=1000, event_time_eviction=True
        )


def test_stream_arena_event_time_eviction_drops_closed_windows(
    spark, tmp_path_factory
):
    # eviction actually happens: four time-ordered files processed one
    # per micro-batch with a tight watermark.  File 1 fills a window's
    # cell; file 2 advances the watermark past that window's end; file 3
    # (no data for the cell) lets the event-time timeout fire and evict
    # it — a timed-out group that receives data in the SAME batch keeps
    # its state, so the data-less batch is what makes eviction real.
    # File 4's late comparison for the closed window then cannot see the
    # evicted counts: the accumulated total (n=3) must never be emitted
    # — it either rebuilds from zero or is dropped as late (both within
    # the documented watermark contract).
    import os
    import time

    from staticql_spark.streaming import stream_arena_sliding

    d = str(tmp_path_factory.mktemp("arena_evict"))
    day_us = 86_400_000_000
    base = 1_700_000_000_000_000  # µs, safely post-epoch

    def write_file(name, rows, mtime):
        pdf = spark.createDataFrame(
            rows, "t_us long, winner long, loser long"
        ).toPandas()
        p = os.path.join(d, name)
        pdf.to_parquet(p, index=False)
        os.utime(p, (mtime, mtime))

    now = time.time()
    # batch 1: two comparisons in window k=0 ([base-aligned day 0])
    write_file("f1.parquet", [(base, 1, 2), (base + 1000, 1, 2)], now - 400)
    # batch 2: far future (day 40) — watermark jumps past day 0's end
    write_file("f2.parquet", [(base + 40 * day_us, 3, 4)], now - 300)
    # batch 3: another future row, NO data for k=0 -> its timeout fires
    write_file("f3.parquet", [(base + 41 * day_us, 3, 4)], now - 200)
    # batch 4: late row landing back in day 0's window
    write_file("f4.parquet", [(base + 2000, 2, 1)], now - 100)

    stream = (
        spark.readStream.schema("t_us long, winner long, loser long")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        stream_arena_sliding(
            stream,
            time_col="t_us",
            window_us=day_us,
            slide_us=day_us,
            watermark="1 hour",
            event_time_eviction=True,
        )
        .writeStream.format("memory")
        .queryName("arena_evict_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "select * from arena_evict_test order by win_start_us, n"
    ).collect()
    k0 = base // day_us * day_us
    k0_emits = [
        (r["n"], r["wins_a"]) for r in rows if r["win_start_us"] == k0
    ]
    # the batch-1 accumulation was emitted, and the closed window's
    # counts were never carried into the late batch: n=3 must not exist
    # (the late row either rebuilt from zero -> (1, 0), or was dropped
    # as sub-watermark late data -> no further emit)
    assert (2, 2) in k0_emits, k0_emits
    assert all(n < 3 for n, _ in k0_emits), k0_emits


def test_stream_consensus_idle_horizon_matches_batch(spark, tmp_path_factory):
    # with an event-time idle horizon wider than the fixture's span no
    # item can be evicted mid-run: multi-batch equality pins the
    # EventTimeTimeout plumbing (last_ms tracking, timeout registration)
    from staticql_spark.streaming import read_event_stream, stream_consensus

    def labels(ev):
        return ev.select(
            F.col("user_id").alias("item"),
            F.col("event_type").alias("cat"),
            F.col("ts"),
        )

    d = _events_dir(spark, tmp_path_factory)
    batch = {
        r["item"]: (r["n_labels"], r["consensus_cat"], r["consensus_share"])
        for r in stream_consensus(labels(spark.read.parquet(d))).collect()
    }
    q = (
        stream_consensus(
            labels(read_event_stream(spark, d, max_files=2)),
            watermark="365 days",
            idle_horizon_ms=400 * 86400 * 1000,
        )
        .writeStream.format("memory")
        .queryName("consensus_horizon_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        """select * from (
             select *, row_number() over (
                 partition by item order by n_labels desc) rn
             from consensus_horizon_test) where rn = 1"""
    ).collect()
    got = {
        r["item"]: (r["n_labels"], r["consensus_cat"], r["consensus_share"])
        for r in rows
    }
    assert got == batch


def test_stream_consensus_idle_horizon_evicts_silent_items(
    spark, tmp_path_factory
):
    # the arena 4-batch recipe on items: fill item 1, advance the
    # watermark past its last label + horizon, give the timeout a
    # data-less batch to fire in, then send a late label — the
    # accumulated n_labels=3 must never appear for item 1
    import os
    import time

    from staticql_spark.streaming import stream_consensus

    d = str(tmp_path_factory.mktemp("consensus_evict"))
    import datetime as dt

    def write_file(name, rows, mtime):
        pdf = spark.createDataFrame(
            rows, "item long, cat string, ts timestamp"
        ).toPandas()
        p = os.path.join(d, name)
        # micros precision: pandas default nanos round-trips as INT64
        # under the session's nanosAsLong and breaks the typed reader
        pdf.to_parquet(p, index=False, coerce_timestamps="us")
        os.utime(p, (mtime, mtime))

    t0 = dt.datetime(2024, 1, 1)
    day = dt.timedelta(days=1)
    now = time.time()
    write_file("f1.parquet", [(1, "a", t0), (1, "a", t0 + dt.timedelta(minutes=1))], now - 400)
    write_file("f2.parquet", [(2, "x", t0 + 40 * day)], now - 300)
    write_file("f3.parquet", [(2, "x", t0 + 41 * day)], now - 200)
    write_file("f4.parquet", [(1, "b", t0 + dt.timedelta(minutes=2))], now - 100)

    stream = (
        spark.readStream.schema("item long, cat string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        stream_consensus(
            stream, watermark="1 hour", idle_horizon_ms=86_400_000
        )
        .writeStream.format("memory")
        .queryName("consensus_evict_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from consensus_evict_test").collect()
    item1 = [(r["n_labels"], r["consensus_cat"]) for r in rows if r["item"] == 1]
    assert (2, "a") in item1, item1
    assert all(n < 3 for n, _ in item1), item1


def test_stream_consensus_eviction_policies_exclusive(spark, tmp_path_factory):
    import pytest

    from staticql_spark.streaming import read_event_stream, stream_consensus

    d = _events_dir(spark, tmp_path_factory)
    stream = read_event_stream(spark, d).select(
        F.col("user_id").alias("item"),
        F.col("event_type").alias("cat"),
        F.col("ts"),
    )
    with pytest.raises(ValueError, match="mutually exclusive"):
        stream_consensus(stream, state_ttl_ms=1000, idle_horizon_ms=1000)


def test_stream_rater_severity_matches_batch(spark, tmp_path_factory):
    # the FINAL emit per rater of the live severity table must hash-equal
    # the batch rater_severity row (r13, the fixed-reference streamable
    # variant of rater_bias): the 6dp/9dp rounds and the reference join
    # run as Spark expressions pre-state, the state holds exact integer
    # micro/nano sums, and the final division + HALF_UP round replay the
    # batch expression order
    from staticql_spark.streaming import read_event_stream, stream_rater_severity

    def scores(ev):
        return ev.select(
            F.col("user_id").alias("item"),
            (F.col("event_id") % 7).alias("rater"),
            F.col("value").alias("score"),
            F.col("ts"),
        )

    d = _events_dir(spark, tmp_path_factory)
    batch_ev = scores(spark.read.parquet(d))
    # frozen reference = the per-item decimal-fold mean of the same feed
    # ("yesterday's item means"): order-free, engine-stable
    ref = batch_ev.groupBy("item").agg(
        F.round(
            F.sum(
                F.round(F.col("score").cast("double"), 6).cast("decimal(38,6)")
            ).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("ref_score")
    )
    batch = {
        r["rater"]: (r["n_scored"], r["mean_score"], r["mean_gap"])
        for r in stream_rater_severity(batch_ev, ref).collect()
    }
    assert batch, "fixture produced no scores"

    stream = read_event_stream(spark, d, max_files=2)
    q = (
        stream_rater_severity(scores(stream), ref)
        .writeStream.format("memory")
        .queryName("rater_severity_stream_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        """select * from (
             select *, row_number() over (
                 partition by rater order by n_scored desc) rn
             from rater_severity_stream_test) where rn = 1"""
    ).collect()
    got = {
        r["rater"]: (r["n_scored"], r["mean_score"], r["mean_gap"])
        for r in rows
    }
    assert got == batch


@pytest.mark.slow  # soak-grade: excluded from the default gate (pytest.ini)
def test_stream_rater_severity_ttl_plumbing_matches_batch(spark, tmp_path_factory):
    # the TTL path (setTimeoutDuration per batch, hasTimedOut removal)
    # must not disturb results when no eviction can fire mid-run: a
    # 1-hour TTL over a multi-batch availableNow pass still equals batch
    from staticql_spark.streaming import read_event_stream, stream_rater_severity

    def scores(ev):
        return ev.select(
            F.col("user_id").alias("item"),
            (F.col("event_id") % 7).alias("rater"),
            F.col("value").alias("score"),
            F.col("ts"),
        )

    d = _events_dir(spark, tmp_path_factory)
    batch_ev = scores(spark.read.parquet(d))
    ref = batch_ev.groupBy("item").agg(
        F.round(
            F.sum(
                F.round(F.col("score").cast("double"), 6).cast("decimal(38,6)")
            ).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("ref_score")
    )
    batch = {
        r["rater"]: (r["n_scored"], r["mean_score"], r["mean_gap"])
        for r in stream_rater_severity(batch_ev, ref).collect()
    }
    stream = read_event_stream(spark, d, max_files=2)
    q = (
        stream_rater_severity(scores(stream), ref, state_ttl_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("rater_severity_ttl_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        """select * from (
             select *, row_number() over (
                 partition by rater order by n_scored desc) rn
             from rater_severity_ttl_test) where rn = 1"""
    ).collect()
    got = {
        r["rater"]: (r["n_scored"], r["mean_score"], r["mean_gap"])
        for r in rows
    }
    assert got == batch


# ------------------------------------------------- streamed content sources

_DROPS = {
    "pattern": "drops/*.md",
    "type": "markdown",
    "schema": {
        "type": "object",
        "properties": {"name": {"type": "string"}},
        "required": ["name"],
    },
}


def _source(name, raw):
    from staticql_spark.config import resolve_config

    return resolve_config({"sources": {name: raw}})[name]


def _drop(root, rel, name):
    p = root / rel
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(f"---\nname: {name}\n---\nbody\n", encoding="utf-8")


def _stream_runs(spark, cfg, root, tmp_path, between):
    """Two availableNow runs of ``stream_source`` sharing one checkpoint;
    ``between()`` changes the content after the first.  Returns the sink's
    rows after each run."""
    from staticql_spark.sources import stream_source

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def run():
        q = (
            stream_source(spark, cfg, str(root))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return spark.read.parquet(out).collect()

    first = run()
    between()
    return first, run()


def test_stream_source_flat_glob_ingests_new_files_once(spark, tmp_path):
    root = tmp_path / "site"
    _drop(root, "drops/alpha.md", "A")
    _drop(root, "drops/beta.md", "B")

    def between():
        _drop(root, "drops/gamma.md", "C")
        _drop(root, "drops/alpha.md", "A2")  # a seen path is not re-read

    first, second = _stream_runs(spark, _source("drops", _DROPS), root, tmp_path, between)
    assert sorted(r["slug"] for r in first) == ["alpha", "beta"]
    assert sorted((r["slug"], r["name"]) for r in second) == [
        ("alpha", "A"),
        ("beta", "B"),
        ("gamma", "C"),
    ]


def test_stream_source_nested_glob(spark, tmp_path):
    root = tmp_path / "site"
    _drop(root, "drops/top.md", "T")
    _drop(root, "drops/g1/x1.md", "X1")
    _drop(root, "drops/g2/h/x2.md", "X2")
    cfg = _source("drops", {**_DROPS, "pattern": "drops/**/*.md"})

    first, second = _stream_runs(
        spark, cfg, root, tmp_path, lambda: _drop(root, "drops/g3/x3.md", "X3")
    )
    assert sorted(r["slug"] for r in first) == ["g1--x1", "g2--h--x2", "top"]
    assert sorted(r["slug"] for r in second) == ["g1--x1", "g2--h--x2", "g3--x3", "top"]


def test_stream_source_single_file_yaml(spark, tmp_path):
    root = tmp_path / "site"
    (root / "y" / "sub").mkdir(parents=True)
    (root / "y" / "sub" / "other.yaml").write_text("- slug: no\n  name: N\n")
    (root / "y" / "tags.yaml").write_text("- slug: a\n  name: A\n- slug: b\n  name: B\n")
    cfg = _source("tags", {**_DROPS, "pattern": "y/tags.yaml", "type": "yaml"})

    first, second = _stream_runs(spark, cfg, root, tmp_path, lambda: None)
    assert sorted((r["slug"], r["name"]) for r in first) == [("a", "A"), ("b", "B")]
    assert sorted(r["slug"] for r in second) == ["a", "b"]


def test_stream_source_schema_and_validation_match_read_source(
    spark, content_dir, tmp_path
):
    from pyspark.errors import StreamingQueryException

    from staticql_spark.config import resolve_config
    from staticql_spark.sources import read_source, stream_source
    from tests.conftest import CONFIG

    for cfg in resolve_config(CONFIG).values():
        assert (
            stream_source(spark, cfg, str(content_dir)).schema
            == read_source(spark, cfg, str(content_dir)).schema
        ), cfg.name

    root = tmp_path / "site"
    (root / "drops").mkdir(parents=True)
    (root / "drops" / "bad.md").write_text("---\ntitle: no name\n---\n")
    cfg = _source("drops", _DROPS)
    message = "[drops] required field 'name' is null for slug=bad"
    with pytest.raises(Exception, match=re.escape(message)):
        read_source(spark, cfg, str(root)).collect()
    with pytest.raises(StreamingQueryException, match=re.escape(message)):
        _stream_runs(spark, cfg, root, tmp_path, lambda: None)


@pytest.mark.parametrize("form", ["absolute", "cwd-relative", "file-uri"])
def test_nested_slugs_under_every_base_dir_form(spark, content_dir, tmp_path, form):
    """A '**' source's slugs keep their directories whatever form base_dir
    takes: the relative path is taken against the base as Spark names it."""
    import os

    from staticql_spark.config import resolve_config
    from staticql_spark.sources import read_source
    from tests.conftest import CONFIG

    base_dir = {
        "absolute": str(content_dir),
        "cwd-relative": os.path.relpath(content_dir),
        "file-uri": f"file://{content_dir}",
    }[form]
    cfg = resolve_config(CONFIG)["recipes"]
    want = ["recipeGroup001--001", "recipeGroup002--001"]
    assert sorted(r["slug"] for r in read_source(spark, cfg, base_dir).collect()) == want
    first, second = _stream_runs(spark, cfg, base_dir, tmp_path, lambda: None)
    assert sorted(r["slug"] for r in first) == sorted(r["slug"] for r in second) == want
