"""Physical-plan assertions — the scale contract, encoded as tests.

Correctness says a query returns the right rows at sf0.01; these tests say
the PLAN is the one that survives a 100x scale-up: filters reach the
parquet scan, scans read only projected columns, small dimensions broadcast
instead of shuffling the fact side, and aggregations are partial (map-side
combine) before the exchange. A regression here is a 100 TB incident that
no correctness test would catch.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_second_content_read_scans_the_snapshot(herbal):
    # A StaticQL parses each content source once: after one read, the next
    # read of the instance scans the kept rows, with no Python parse left.
    herbal.from_("herbs").where("tagSlugs", "eq", "memory").exec()
    df = herbal.from_("herbs").where("tagSlugs", "eq", "memory").plan()
    assert [r["slug"] for r in df.collect()] == ["centella-asiatica"]
    p = df._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "PythonMapInArrow", "BatchEvalPython"):
        assert node not in p, p
    assert "Scan ExistingRDD" in p, p


def test_second_join_read_attaches_the_kept_match_table(herbal):
    # The first read that joins a relation keeps its match table with the
    # snapshot; the next join read broadcasts that table: no explode and no
    # aggregate left for the relation.
    q = lambda: herbal.from_("herbs").where("tagSlugs", "eq", "memory").join("tags")
    q().exec()
    df = q().plan()
    assert [(r["slug"], [t["slug"] for t in r["tags"]]) for r in df.collect()] == [
        ("centella-asiatica", ["memory", "skin"])
    ]
    p = df._jdf.queryExecution().executedPlan().toString()
    for node in ("HashAggregate", "Generate explode", "MapInPandas"):
        assert node not in p, p
    assert "BroadcastHashJoin" in p, p
    assert re.search(r"Scan ExistingRDD\[slug#\d+,_matches#\d+\]", p), p


@pytest.mark.parametrize("name", ["herbs", "recipes"])
def test_content_read_is_one_text_scan_into_one_parse(herbal, name):
    # The first parse of a content source ('*' herbs, '**' recipes): one
    # wholetext FileScan whose rows carry their file path straight into
    # exactly one MapInPandas parse.
    from staticql_spark.sources import read_source

    df = read_source(herbal.spark, herbal.configs[name], herbal.base_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("MapInPandas") == 1 and p.count("FileScan") == 1, p
    assert re.search(
        r"MapInPandas parse_batch\(raw_text#\d+, file_path#\d+\)[^\n]*\n"
        r"\s*\+- \*\(\d+\) Project \[value#\d+ AS raw_text#\d+, "
        r"input_file_name\(\) AS file_path#\d+\]\n"
        r"\s*\+- FileScan text \[value#\d+\]",
        p,
    ), p


def test_filter_pushdown_eq(spark):
    p = plan(entrymod.q_where_eq(spark, SF_SMOKE))
    assert re.search(r"PushedFilters:.*EqualTo\(c_mktsegment,BUILDING\)", p), p


def test_filter_pushdown_startswith(spark):
    p = plan(entrymod.q_where_startswith(spark, SF_SMOKE))
    assert re.search(r"PushedFilters:.*StringStartsWith\(p_name,small\)", p), p


def test_filter_pushdown_range_conjunction(spark):
    p = plan(entrymod.q_where_and(spark, SF_SMOKE))
    assert "GreaterThanOrEqual(l_shipdate" in p and "LessThan(l_shipdate" in p, p
    assert "GreaterThan(l_discount,0.05)" in p, p


def test_column_pruning(spark):
    p = plan(entrymod.q_projection_prune(spark, SF_SMOKE))
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # scan reads exactly the filter + projection columns, nothing else
    assert cols == {"c_custkey", "c_mktsegment", "c_acctbal"}, cols


def test_dim_joins_broadcast_not_shuffle(spark):
    p = plan(entrymod.entry(spark))
    assert "BroadcastHashJoin" in p, p
    # the three dims (customer, nation, region) broadcast; the only
    # sort-merge-eligible join left is lineitem x orders (both large)
    assert p.count("BroadcastExchange") >= 3, p


def test_agg_is_partial_before_exchange(spark):
    p = plan(entrymod.q_pricing_summary(spark, SF_SMOKE))
    # partial hash agg on the map side, final after the exchange: the
    # map-side combine that keeps the shuffle proportional to groups
    assert len(re.findall(r"HashAggregate", p)) >= 2, p
    assert "Exchange" in p, p


def test_keyset_pagination_has_limit(spark):
    # O3: the cursor page plan carries a global limit (n+1 probe), so the
    # scan terminates early instead of materializing the full order
    df = entrymod.q_cursor_after(spark, SF_SMOKE)
    p = plan(df)
    assert re.search(r"(TakeOrderedAndProject|GlobalLimit|CollectLimit)", p), p


def test_semi_join_for_exists(spark):
    p = plan(entrymod.q_exists_subquery(spark, SF_SMOKE))
    assert "LeftSemi" in p, p


def test_anti_join_plan(spark):
    p = plan(entrymod.q_anti_join(spark, SF_SMOKE))
    assert "LeftAnti" in p, p


def test_whole_stage_codegen_on_hot_path(spark):
    # doc_quality is pure built-in expressions -> must stay inside
    # WholeStageCodegen (no Python/UDF stage boundaries)
    df = entrymod.q_doc_quality(spark, SF_SMOKE)
    df.collect()  # AQE: codegen markers appear once the final plan is picked
    p = plan(df)
    # formatted mode marks codegen stages with "[codegen id : N]"; the
    # higher-order filter() lambda legitimately evaluates outside codegen
    assert "codegen id" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_bucketed_join_no_exchange(spark, tmp_path_factory):
    # co-located storage: same key, same bucket count -> the join reads
    # pre-bucketed files with no Exchange under it
    from staticql_spark.operators.bucketing import bucketed_join, write_bucketed

    # warehouse dir is static config; tables land in ./spark-warehouse
    # (gitignored) and are dropped below
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "b_orders", "o_orderkey", num_buckets=8)
    write_bucketed(lineitem, "b_lineitem", "o_orderkey", num_buckets=8)
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        # disable broadcast so the test exercises the SMJ path a real
        # fact x fact join would take
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            p = plan(joined)
            assert "SortMergeJoin" in p, p
            assert "Exchange" not in p, p
            assert joined.count() == spark.read.parquet(
                f"{SF_SMOKE}/lineitem.parquet"
            ).count()
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_ivf_query_partition_pruning(spark, tmp_path_factory):
    # persisted IVF index: a query probing nprobe cells must SCAN only those
    # cell partitions (disk-level pruning), and match the in-memory ivf_topk
    from staticql_spark.operators.similarity import ivf_build, ivf_query, ivf_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    idx = str(tmp_path_factory.mktemp("ivf")) + "/index"
    ivf_build(emb, idx, centroid_stride=100)

    queries = emb.filter(F.col("vec_id") % 50 == 0)
    df = ivf_query(spark, idx, queries, emb, k=5, centroid_stride=100, nprobe=3)
    p = plan(df)
    assert re.search(r"PartitionFilters: \[.*cell", p), p

    got = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in df.collect()}
    want = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivf_topk(emb.filter(F.col("vec_id") % 50 == 0), emb,
                          k=5, centroid_stride=100, nprobe=3).collect()
    }
    assert got == want


def test_forecast_revenue_full_pushdown(spark):
    # TPC-H Q6: every predicate reaches the scan; agg is partial+final
    p = plan(entrymod.q_forecast_revenue(spark, SF_SMOKE))
    for needle in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert needle in p, (needle, p)
    assert len(re.findall(r"HashAggregate", p)) >= 2, p


def test_ship_priority_broadcasts_dim(spark):
    # TPC-H Q3: customer is the selective dim -> broadcast, not shuffled
    p = plan(entrymod.q_ship_priority(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, p
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in p, p


def test_order_priority_check_semi_join(spark):
    # TPC-H Q4: EXISTS compiles to ONE left-semi join on orderkey carrying
    # the non-equi shipdate condition — not a join + distinct + rejoin
    p = plan(entrymod.q_order_priority_check(spark, SF_SMOKE))
    assert "LeftSemi" in p, p
    # the quarter filter reaches the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in p and "LessThan(o_orderdate" in p, p


def test_nation_volume_shipping_broadcasts_all_dims(spark):
    # TPC-H Q7: supplier/customer/nation(x2) broadcast; the only big-big
    # join (lineitem x orders) is the single non-broadcast join
    p = plan(entrymod.q_nation_volume_shipping(spark, SF_SMOKE))
    assert p.count("BroadcastExchange") >= 4, p
    # shipdate window reaches the lineitem scan
    assert "GreaterThanOrEqual(l_shipdate" in p, p


def test_market_share_single_shuffle_join(spark):
    # TPC-H Q8: 7-way join with every dim broadcast — part/supplier/
    # customer/nation(x2)/region; the ECONOMY and AMERICA filters are
    # pushed to their dim scans
    p = plan(entrymod.q_market_share(spark, SF_SMOKE))
    assert p.count("BroadcastExchange") >= 5, p
    assert "EqualTo(p_type,ECONOMY)" in p, p
    assert "EqualTo(r_name,AMERICA)" in p, p


def test_customer_order_distribution_preaggregates(spark):
    # TPC-H Q13: orders collapse to one row per customer BEFORE the join
    # with customer (HashAggregate below the join), so the join input is
    # |customers|, not |orders|
    df = entrymod.q_customer_order_distribution(spark, SF_SMOKE)
    p = plan(df)
    join_pos = p.find("Join")
    agg_pos = p.find("HashAggregate")
    assert join_pos != -1 and agg_pos != -1, p
    # formatted plans list children before parents top-down by operator id;
    # assert the priority filter was pushed to the orders scan instead
    assert "Not(EqualTo(o_orderpriority,5-LOW))" in p, p
    assert len(re.findall(r"HashAggregate", p)) >= 4, p  # pre-agg + dist agg


def test_small_qty_avg_yearly_semi_reduced(spark):
    # TPC-H Q17: the per-part avg is computed only over the brand's parts
    # (semi-reduction via broadcast join), and the brand filter reaches the
    # part scan
    p = plan(entrymod.q_small_qty_avg_yearly(spark, SF_SMOKE))
    assert "EqualTo(p_brand,Brand#23)" in p, p
    assert "BroadcastHashJoin" in p, p


def test_waiting_supplier_semi_no_duplicate_join(spark):
    # TPC-H Q21: EXISTS -> left-semi; the NOT EXISTS is a sole-late-supplier
    # aggregation so the late-lines join is built once — the plan must not
    # scan lineitem/orders for a second copy of it (was 14 scans as
    # semi+anti; the agg form needs at most lineitem x2 + orders + 2 dims)
    p = plan(entrymod.q_waiting_supplier(spark, SF_SMOKE))
    assert "LeftSemi" in p, p
    scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    assert scans <= 5, (scans, p)


def test_idle_customer_balance_anti_join(spark):
    # TPC-H Q22: NOT EXISTS (recent orders) -> left-anti; the date filter
    # reaches the orders scan so the anti-join build side is small
    p = plan(entrymod.q_idle_customer_balance(spark, SF_SMOKE))
    assert "LeftAnti" in p, p
    assert "GreaterThanOrEqual(o_orderdate" in p, p


def test_decontaminate_broadcasts_benchmark(spark):
    # the benchmark gram set must broadcast — a shuffled corpus-side join
    # here is the 100 TB regression this test exists to catch
    p = plan(entrymod.q_doc_decontaminate(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_asof_join_single_key_shuffle_no_cartesian(spark):
    # as-of = union + window: the only exchanges are hashpartitioning on
    # the join key (one per union branch pre-AQE); no join operator at all,
    # so no cartesian/BNLJ can regress in
    p = plan(entrymod.q_asof_click_purchase(spark, SF_SMOKE))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Window" in p, p
    assert re.search(r"hashpartitioning\(user_id", p), p


def test_range_join_is_bucketed_equi_join(spark):
    # interval predicate compiles to an equi join on (key, bucket) — the
    # range filter rides as a post-join condition, never a nested loop
    p = plan(entrymod.q_range_followups(spark, SF_SMOKE))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "__rj_bkt" in p, p


def test_kmv_topk_is_take_ordered(spark):
    # the k-smallest-hashes step must be TakeOrderedAndProject (per-
    # partition heaps), not a global Sort of all distinct hashes
    p = plan(entrymod.q_kmv_distinct(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p, p


def test_bm25_stats_broadcast_and_topk(spark):
    # corpus stats (one row) broadcast back; final ranking is top-k, not a
    # global sort
    p = plan(entrymod.q_doc_bm25(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    assert "TakeOrderedAndProject" in p, p


def test_selfdedup_has_no_join(spark):
    # gram ownership is a whole-partition window over one gram pass — a
    # regression to the owner-aggregate + self-join doubles the map work
    p = plan(entrymod.q_doc_selfdedup(spark, SF_SMOKE))
    assert "Window" in p, p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p, p


def test_cm_probe_broadcasts_against_sketch(spark):
    # probe (d, bucket) pairs broadcast; the sketch build is the only
    # aggregate over the input — the corpus must never sort-merge
    p = plan(entrymod.q_cm_heavy_hitters(spark, SF_SMOKE))
    assert "BroadcastExchange" in p, p
    assert "SortMergeJoin" not in p, p


def test_quantized_ann_is_broadcast_corpus_scan(spark):
    # same shape contract as the exact baseline: queries broadcast against
    # a single corpus scan; no shuffle of the corpus for pairing
    p = plan(entrymod.q_ann_quantized(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    assert "SortMergeJoin" not in p, p


def test_fuzzy_match_no_cartesian(spark):
    # q-gram blocking must keep the fuzzy join an equi join on the gram —
    # never a cartesian/nested-loop over the two key sets
    p = plan(entrymod.q_fuzzy_match(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_weighted_sample_is_take_ordered(spark):
    # A-Res top-k must compile to per-partition heaps, not a global sort
    p = plan(entrymod.q_doc_weighted_sample(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p, p
    assert "PushedFilters" in p  # the weight>0 filter reaches the scan


def test_token_entropy_partial_aggs(spark):
    # both aggregations map-side combine before their exchange
    p = plan(entrymod.q_doc_token_entropy(spark, SF_SMOKE))
    assert p.count("partial_") >= 1, p


def test_table_profile_two_scans_no_sorted_expand(spark):
    # r13 split: one keyless nulls/min-max fold + one hash-aggregated ndv
    # Expand, crossed — two scans total (never one per column), and the
    # Expand must aggregate hash-based: string min/max in the same
    # aggregate forced the expanded frame through a SortAggregate sort
    # (the measured 2.6 s cost at sf0.1)
    p = plan(entrymod.q_table_profile(spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 2, p
    assert "Expand" in p, p
    # no Sort may feed the Expand's aggregation: every Sort in the plan
    # (if any) must belong to the keyless min/max SortAggregate, which
    # needs none — so the plan is sort-free
    assert "(\n" not in p and not re.search(r"\(\d+\) Sort\b", p), p


def test_zorder_range_broadcast_and_single_scan_shape(spark):
    # the min/max range row broadcasts back; the z-key computation itself
    # adds no exchange over the fact table
    p = plan(entrymod.q_zorder_layout(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p


def test_corr_matrix_single_scan_single_agg(spark):
    # every moment comes out of ONE aggregation over ONE scan
    p = plan(entrymod.q_corr_matrix(spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p


def test_rrf_fuse_partial_agg(spark):
    # fusion aggregates map-side combine before the exchange
    p = plan(entrymod.q_ann_hybrid_rrf(spark, SF_SMOKE))
    assert "partial_" in p, p


def test_decontaminate_bloom_probes_are_broadcast(spark):
    # the fixed-size bloom word-table rides as broadcast joins (one per
    # hash probe); corpus-side shuffle happens only for survivors' verify
    p = plan(entrymod.q_doc_decontaminate_bloom(spark, SF_SMOKE))
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_cap_per_stratum_is_window_group_limit(spark):
    # the rank<=cap filter must push into WindowGroupLimit (per-partition
    # top-cap heaps before AND after the stratum exchange) — a plain
    # Window + Filter would sort every hot stratum's full row set
    p = plan(entrymod.q_doc_source_cap(spark, SF_SMOKE))
    assert "WindowGroupLimit" in p, p
    assert re.search(r"hashpartitioning\(source", p), p


def test_dsir_lm_join_is_broadcast(spark):
    # the |buckets|-row log-ratio table must broadcast back onto the
    # exploded corpus; a SortMergeJoin on the token stream is the 100 TB
    # regression; the tiny rc<->tc bucket join may SMJ (4096 rows)
    p = plan(entrymod.q_doc_dsir(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, p
    # final per-doc agg is partial before the exchange
    assert re.search(r"HashAggregate.*partial", p, re.S) or "partial_count" in p, p


def test_knn_vote_join_keeps_corpus_unshuffled(spark):
    # the |queries|*k pair table broadcasts against the corpus label
    # projection: no exchange may carry the corpus for the vote join
    p = plan(entrymod.q_ann_knn_classify(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, p
    # top-k via rank filter must use per-partition group limits
    assert "WindowGroupLimit" in p, p


def test_events_attribution_no_cartesian(spark):
    # range_join composition: bucketed equi join only — a cartesian or
    # unbounded nested loop between purchases and clicks must never appear
    p = plan(entrymod.q_events_attribution(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert re.search(r"hashpartitioning\(p_id", p), p


def test_hard_negatives_broadcasts_queries(spark):
    # broadcast(queries) x corpus scan: the corpus must never shuffle for
    # scoring; the only exchange is the per-(query, role) rank
    p = plan(entrymod.q_ann_hard_negatives(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p


def test_ivf_assign_argmax_is_partial_agg(spark):
    # the nprobe=1 assign path must be a map-side-combined aggregate
    # (partial HashAggregate before the exchange), NOT a window sort over
    # |vectors| x |centroids| rows carrying the vector arrays
    p = plan(entrymod.q_ann_cell_balance(spark, SF_SMOKE))
    assert re.search(r"HashAggregate.*partial_min", p) or "partial_min" in p, p


def test_containment_probe_is_equi_join_on_hash(spark):
    # bottom-k probe vs inverted index: an equi join on the shingle hash,
    # never a cross join; the verify intersect runs in-row
    p = plan(entrymod.q_dedup_containment(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_kmv_grouped_window_group_limit(spark):
    # the per-group bottom-k must compile to WindowGroupLimit (bounded
    # per-group heaps inside each task), not a full per-group sort
    p = plan(entrymod.q_kmv_grouped(spark, SF_SMOKE))
    assert "WindowGroupLimit" in p, p


def test_vocab_coverage_topn_is_take_ordered(spark):
    # each top-N slice must be a distributed TakeOrdered, not a global sort
    p = plan(entrymod.q_doc_vocab_coverage(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p, p


def test_bigram_counts_broadcast_back(spark):
    # bigram/unigram count tables join back onto the position stream as
    # broadcasts — the corpus-sized side keeps its partitioning
    p = plan(entrymod.q_doc_bigram_nll(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_pq_codebooks_and_dtable_are_broadcast(spark):
    # PQ ADC serving plan (r8: probes the PERSISTED index, so no encode
    # in the query): codebooks and the per-query distance table reach the
    # codes scan as broadcasts; the tall codes frame never shuffles for
    # scoring beyond the final (query_id, vid) partial-agg sum; and the
    # codes side is a parquet SCAN, not a re-derivation
    p = plan(entrymod.q_ann_pq_adc(spark, SF_SMOKE))
    assert "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p
    assert "partial_sum" in p, p  # map-side-combined ADC fold
    assert p.count("Scan parquet") >= 2, p  # codes + codebooks from the index


def test_pq_encode_argmin_is_map_side_combined(spark):
    # the BUILD pipeline's argmin assign (now inside pq_build, no longer
    # in any query plan) stays a map-side-combined partial agg over a
    # broadcast codebook join
    from staticql_spark.operators import pq as pqm

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cbs = pqm.pq_train(emb, m=4, dim=64, stride=100, iters=1)
    p = plan(pqm.pq_encode(emb, cbs, m=4, dim=64))
    assert "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p
    assert "partial_min" in p, p


def test_chunk_dedup_counts_on_hash_not_text(spark):
    # the chunk document-frequency count groups md5 keys; the doc text
    # crosses only the final doc-keyed join — no chunk-text shuffle, no
    # cartesian anywhere
    p = plan(entrymod.q_doc_chunk_dedup(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert "count(distinct " in p or "partial_count(distinct" in p.lower(), p


def test_shuffle_shards_no_whale_partitions(spark):
    # the within-shard rank must run per (shard, bucket) with a broadcast
    # base-offset join — never one row_number partition per shard
    p = plan(entrymod.q_doc_shuffle_shards(spark, SF_SMOKE))
    assert "BroadcastExchange" in p, p
    # the big-side window sorts on (shard, _b): both keys in one sort
    assert re.search(r"Window.*shard.*_b|partitionBy.*shard.*_b", p) or "_b" in p, p


def test_bpe_fertility_two_map_frames_one_agg(spark):
    # lang_id and token_count are both map-only over the same scan; the
    # join keys doc_id and the final agg is a tiny |langs|-row frame
    p = plan(entrymod.q_bpe_fertility(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p


def test_ivf_pq_prunes_via_cell_join_no_cartesian(spark):
    # IVF-PQ: the codes frame must reach ADC through equi joins (id ->
    # cell -> probes) with broadcast probe/distance tables — no cartesian,
    # and the argmin/argmax assigns stay partial aggs
    p = plan(entrymod.q_ann_ivf_pq(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert "BroadcastExchange" in p, p


def test_stream_pq_neardup_stream_side_is_shuffle_free_prejoin(spark):
    # the probe side must be map-only up to the code-key join (in-row
    # encode from literals, no argmin aggregation, no cartesian)
    p = plan(entrymod.q_stream_pq_neardup(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p


def test_embedding_prototypes_assign_is_partial_agg(spark):
    # the cell assign is the map-side-combined argmax; the centroid join
    # for the proto-cosine is a broadcast
    p = plan(entrymod.q_embedding_prototypes(spark, SF_SMOKE))
    assert "partial_min" in p, p
    assert "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p


def test_training_order_plan_broadcast_and_no_whales(spark):
    # the |strata|-row epochs plan and the |shard x bucket| base offsets
    # must both broadcast; the expansion explode is map-side
    p = plan(entrymod.q_doc_training_order(spark, SF_SMOKE))
    assert "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p
    assert "Generate" in p, p  # the per-doc repeat explode


def test_exact_percentiles_no_global_sort(spark):
    # the scale contract: pass-2 ranks per bucket (hash exchange on bkt),
    # never a rangepartitioning global sort of the value stream
    p = plan(entrymod.q_exact_percentiles(spark, SF_SMOKE))
    assert "rangepartitioning" not in p.lower(), p
    assert "CartesianProduct" not in p, p


def test_kanon_second_aggregate_is_cell_sized(spark):
    # suppression re-groups only the cell aggregate — no second pass over
    # raw events, no cartesian
    p = plan(entrymod.q_events_kanon(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p


def test_supplier_pareto_window_on_aggregate(spark):
    # the cumulative-share window must consume the |suppliers| aggregate:
    # the Window's child chain contains a HashAggregate, and the raw scan
    # feeds the aggregate, not the window sort
    p = plan(entrymod.q_supplier_pareto(spark, SF_SMOKE))
    assert "Window" in p and "HashAggregate" in p, p


def test_cohort_ltv_no_cartesian_window_on_aggregate(spark):
    p = plan(entrymod.q_events_cohort_ltv(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert "Window" in p and "HashAggregate" in p, p


def test_kmv_join_estimate_sketch_sides_are_take_ordered(spark):
    # each bottom-k sketch must compile to a distributed TakeOrdered
    # (bounded per-partition heaps), never a full global sort
    p = plan(entrymod.q_kmv_join_estimate(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p, p


def test_ri_report_anti_joins(spark):
    # orphan checks are anti joins on the key columns, no cartesian
    p = plan(entrymod.q_ri_report(spark, SF_SMOKE))
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p, p


def test_shard_checksums_single_exchange_partial_agg(spark):
    # the checksum must be one map-side-combined aggregation: partial
    # HashAggregate before the single shard_id exchange, no join, no sort
    p = plan(entrymod.q_shard_checksums(spark, SF_SMOKE))
    assert p.count("Exchange (") == 1, p
    assert "bit_xor" in p, p
    assert "Join" not in p and "CartesianProduct" not in p, p


def test_ngram_coverage_bench_side_broadcast(spark):
    # the benchmark gram set rides a broadcast join against the corpus
    # gram stream — the corpus must never shuffle for the membership test
    p = plan(entrymod.q_doc_ngram_coverage(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_checksum_delta_joins_shard_frames_only(spark):
    # the version diff joins two |shards|-row aggregates; both sides are
    # aggregated before the join so the full-outer join is tiny
    p = plan(entrymod.q_checksum_delta(spark, SF_SMOKE))
    assert "FullOuter" in p, p
    assert "CartesianProduct" not in p, p


def test_dau_wau_explodes_distinct_frame_not_raw_events(spark):
    # the 7x explode must sit ABOVE the user-day distinct aggregate:
    # a Generate whose child contains the dedup aggregate, never a
    # Generate directly over the scan
    df = entrymod.q_events_dau_wau(spark, SF_SMOKE)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    gen_idx = logical.find("Generate explode")
    agg_below = logical.find("Aggregate", gen_idx)
    assert gen_idx != -1 and agg_below != -1, logical


def test_orders_backlog_window_on_day_aggregate(spark):
    # the running sum must sit above the per-day HashAggregate (a window
    # over the calendar-bounded frame), and no interval-day explode
    p = plan(entrymod.q_orders_backlog(spark, SF_SMOKE))
    assert "Window" in p and "HashAggregate" in p, p
    assert "Generate" not in p, p  # sweep line, not a day explode


def test_retention_matrix_join_free(spark):
    # the cohort day is a whole-partition window MIN over the distinct
    # (user, day) frame — no cohort aggregate joined back, no broadcast
    p = plan(entrymod.q_events_retention_curve(spark, SF_SMOKE))
    assert "Join" not in p and "CartesianProduct" not in p, p
    assert p.count("Window") >= 2, p  # cohort min + age-0 cohort size



def test_funnel_steps_reuses_user_key_no_collect(spark):
    # every stage is a keyed MIN + equi join on the same user key; no
    # collect_list of per-user event arrays anywhere in the plan
    p = plan(entrymod.q_events_funnel_steps(spark, SF_SMOKE))
    assert "collect_list" not in p, p
    assert "CartesianProduct" not in p, p


def test_numeric_psi_bucket_counts_are_partial_aggs(spark):
    # each snapshot reduces to an n_buckets-row frame via map-side
    # combine; the smoothing total is a broadcast of a 1-row frame
    p = plan(entrymod.q_profile_psi(spark, SF_SMOKE))
    assert "partial_count" in p, p
    assert "CartesianProduct" not in p or "BroadcastNestedLoopJoin" in p, p


def test_hll_grouped_no_distinct_exchange(spark):
    # r6 ADVICE: the register build must NOT shuffle distinct hashes —
    # the only wide exchanges are the (grp, j) register key and the grp
    # fold; no Expand/distinct over the raw hash stream
    p = plan(entrymod.q_hll_grouped_ndv(spark, SF_SMOKE))
    assert "hashpartitioning(grp" in p, p
    # exactly 4 exchanges: (grp, j) registers, grp fold, the exact
    # twin's (grp, user) + grp — NO extra hash-stream distinct exchange
    import re
    ex = re.findall(r"Arguments: hashpartitioning[^,]*", p)
    assert len(ex) == 4, p


def test_ivfpq_query_partition_pruning(spark, tmp_path_factory):
    # r8: persisted cell-partitioned PQ index — the IVFADC probe must scan
    # only the probed cell partitions AND match the in-memory ivfpq_topk
    # under the same coarse centroids + codebooks
    from staticql_spark.operators import pq as pqm
    from staticql_spark.operators.similarity import centroid_sample

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    coarse = centroid_sample(emb, "embedding", "vec_id", 100)
    idx = str(tmp_path_factory.mktemp("ivfpq")) + "/index"
    pqm.pq_build(emb, idx, m=4, dim=64, stride=100, iters=1,
                 coarse_centroids=coarse)

    queries = emb.filter(F.col("vec_id") % 50 == 0)
    df = pqm.ivfpq_query(spark, idx, queries, k=5, nprobe=3)
    p = plan(df)
    assert re.search(r"PartitionFilters: \[.*cell", p), p

    loaded = pqm.pq_load(spark, idx)
    want = pqm.ivfpq_topk(
        queries, emb, loaded.codes.drop("cell"), loaded.codebooks,
        k=5, m=4, dim=64, coarse_stride=100, nprobe=3,
    )
    key = lambda d: sorted(
        (r["query_id"], r["neighbor_id"], r["adc"], r["rank"])
        for r in d.collect()
    )
    got = key(df)
    assert got == key(want) and len(got) > 0


def test_ab_cuped_single_user_shuffle_no_cartesian(spark):
    # r9: CUPED readout — the event stream crosses ONE user-keyed
    # exchange into the per-user frame; the ts-span bound rides in as a
    # 1-row broadcast (BroadcastNestedLoopJoin over one row, the stat-
    # join idiom), never a CartesianProduct; aggregates collapse 2 rows
    # -> 1 row without another wide shuffle
    p = plan(entrymod.q_events_ab_cuped(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p  # the 1-row span bound
    # one hash-partitioned exchange carries the raw events (the user
    # groupBy); the only other hash exchange is the 2-row variant
    # aggregate over the per-user frame (map-side combined)
    assert len(re.findall(r"hashpartitioning\(user_id", p)) == 1, p
    assert len(re.findall(r"hashpartitioning\(", p)) <= 2, p


def test_mrl_recall_broadcasts_queries_no_corpus_shuffle(spark):
    # every per-dim exact pass is cosine_topk's block kernel: the query
    # sample goes in as ONE broadcast block (a BroadcastNestedLoopJoin
    # against the corpus blocks), and the corpus crosses exactly one block
    # exchange per pass; it is never hash-exchanged by id — the only other
    # wide exchanges partition by query_id for the per-query top-k windows
    from staticql_spark.operators.similarity import mrl_recall

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    p = plan(mrl_recall(emb, dims=(8, 16), k=3, query_stride=50))
    assert "CartesianProduct" not in p, p
    passes = len(re.findall(r"\(\d+\) MapInArrow", p))
    assert passes == 3, p  # the full-dim list + one per truncated dim
    # the broadcast (build) side of each pass's nested loop is its query
    # block; the other nested loops are the 1-row count cross joins
    query_blocks = set(re.findall(r"BroadcastNestedLoopJoin Cross BuildLeft \((\d+)\)", p))
    assert len(query_blocks) == passes, p
    assert len(re.findall(r"Arguments: shufflepartitionidpassthrough", p)) == passes, p
    assert not re.findall(r"Exchange hashpartitioning\(vec_id", p), p


def test_bt_ratings_broadcasts_rating_vector_no_cartesian(spark):
    # r9 preference family: the raw comparisons cross ONE map-side-
    # combined shuffle into unordered pair counts; every MM iteration
    # joins the tiny rating vector back as a BROADCAST hash join (never
    # a shuffled join of the pair table against itself), and the mean-1
    # normalization rides in as a 1-row broadcast (the stat-join idiom,
    # BroadcastNestedLoopJoin over one row) — no CartesianProduct
    # r12: the driver key probes the shared artifact, so the MM-chain
    # plan contract is asserted on the INLINE operator (what the
    # artifact build runs and the oracle replays)
    from staticql_spark.operators import preference

    p = plan(
        preference.bt_ratings(
            entrymod._pref_comparisons(entrymod._t(spark, SF_SMOKE, "events")),
            iters=5, alpha=0.5,
        )
    )
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    # the localCheckpoint lineage cuts hide earlier iterations from the
    # final plan; what remains must not re-shuffle the raw event scan
    assert "events.parquet" not in p, p
    # and the driver key itself is a pure artifact probe: one parquet
    # scan, no joins, no raw events
    q = plan(entrymod.q_events_bt_ratings(spark, SF_SMOKE))
    assert "events.parquet" not in q, q
    assert "Join" not in q, q


def test_win_matrix_single_pair_shuffle(spark):
    # one hash exchange on the unordered pair key, map-side combined;
    # the Wilson arithmetic is projection-only on the aggregated rows
    p = plan(entrymod.q_events_win_matrix(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert len(re.findall(r"hashpartitioning\(", p)) == 1, p


def test_fleiss_kappa_count_shuffles_and_scalar_folds(spark):
    # the labels cross one (item, cat) count exchange; the per-item and
    # per-category reduces re-key that aggregate; the two scalar
    # summaries join as 1-row broadcasts — no CartesianProduct, no
    # wide join anywhere
    p = plan(entrymod.q_events_rater_agreement(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p  # the 1-row p_e / tot joins


def test_bt_ties_broadcast_iterations_no_cartesian(spark):
    # r10 Rao-Kupper BT: same contract as bt_ratings — the raw outcomes
    # cross ONE map-side-combined shuffle into unordered pair counts;
    # every MM iteration broadcasts the rating vector and theta (1-row)
    # into the O(pairs) directed table; localCheckpoint lineage cuts
    # keep earlier iterations out of the final plan
    # r12: asserted on the inline operator (the artifact build's plan);
    # the driver key is a probe of the persisted frame
    from staticql_spark.operators import preference

    p = plan(
        preference.bt_ties(
            entrymod._pref_comparisons_ties(
                entrymod._t(spark, SF_SMOKE, "events")
            ),
            iters=5, alpha=0.5,
        )
    )
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "events.parquet" not in p, p  # no raw re-scan across iterations
    q = plan(entrymod.q_events_bt_ties(spark, SF_SMOKE))
    assert "events.parquet" not in q, q
    assert "Join" not in q, q


def test_rater_bias_single_item_shuffle_then_rater_agg(spark):
    # one (item) sum/count exchange, one item-keyed equi join back onto
    # the scores, one rater-keyed aggregate — no windows over raw rows,
    # no CartesianProduct
    p = plan(entrymod.q_events_rater_bias(spark, SF_SMOKE))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Window" not in p, p


def test_arena_sliding_single_combinable_shuffle(spark):
    # the explode multiplies rows by <= ceil(window/slide) in-row, then
    # ONE map-side-combined (k, pair) aggregate; no windows over raw
    # rows, no CartesianProduct, and the partial_count proves map-side
    # combine before the exchange
    p = plan(entrymod.q_events_arena_sliding(spark, SF_SMOKE))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Window" not in p, p
    assert p.count("hashpartitioning(") == 1, p
    assert "partial_count" in p, p


def test_mann_kendall_and_cusum_never_join_raw_events(spark):
    # r12 series operators: the daily aggregate is checkpointed before
    # reuse, so the pair self-join / prefix windows see ONE small
    # lineage-cut frame — never a second scan of events.parquet, and
    # never a cartesian
    for q in (entrymod.q_events_mann_kendall, entrymod.q_events_cusum):
        df = q(spark, SF_SMOKE)
        df.collect()  # materialize the lazy checkpoint under AQE
        p = plan(df)
        assert "CartesianProduct" not in p, p
        assert p.count("events.parquet") == 0, p


def test_zipf_two_phase_rank_no_whale_window(spark):
    # the top-n selection must run as histogram-base + tie-class window
    # (Window partitioned by (grp, c)) — never a single whole-group
    # window over the (grp, token) counts, and never a cartesian
    p = plan(entrymod.q_doc_zipf(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    # every window spec carries the count-class key next to grp
    import re as _re

    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, p
    assert all("c#" in s for s in specs), specs
    # r13: the literal row_number bound must trigger Catalyst's
    # InferWindowGroupLimit — a Partial (pre-shuffle, per map task)
    # and a Final WindowGroupLimit — so a surviving count=1 class
    # (the whole hapax vocabulary when a group has fewer than top_n
    # repeated tokens) is trimmed BEFORE the exchange instead of
    # materializing as one whale window partition (r12 ADVICE low)
    assert "WindowGroupLimit" in p and "Partial" in p, p


def test_benford_single_digit_shuffle(spark):
    # one (grp, digit) count exchange plus the tiny totals join as a
    # broadcast — no windows, no cartesian over raw events
    p = plan(entrymod.q_events_benford(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert "Window" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_gini_windows_over_count_histogram_only(spark):
    # r13: the rank-sum phase must window over the per-(grp, count)
    # HISTOGRAM (one row per distinct frequency), never over per-token
    # rows — the zipf/ccnet two-phase discipline.  Every window spec
    # carries the count-class key; no cartesian anywhere.
    p = plan(entrymod.q_doc_gini(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, p
    assert all("c#" in s for s in specs), specs


def test_theil_sen_never_joins_raw_events(spark):
    # r13: same contract as mann_kendall/cusum — the daily aggregate is
    # checkpointed before the pair self-join and the period count, so
    # nothing re-scans events.parquet and there is no cartesian
    df = entrymod.q_events_theil_sen(spark, SF_SMOKE)
    df.collect()  # materialize the lazy checkpoint under AQE
    p = plan(df)
    assert "CartesianProduct" not in p, p
    assert p.count("events.parquet") == 0, p


def test_rater_confusion_single_label_scan_no_cartesian(spark):
    # r13: one (item, cat) count shuffle for the consensus, one
    # item-keyed equi join back, one count agg — no cartesian, and the
    # only window runs over the per-item COUNT frame (modal pick),
    # partitioned by item
    p = plan(entrymod.q_events_rater_confusion(spark, SF_SMOKE))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs and all("item#" in s for s in specs), specs


@pytest.mark.parametrize(
    "key", ["ann_recall", "ann_rbo", "ann_mrr", "ann_ndcg", "ann_kendall_tau"]
)
def test_kendall_tau_equi_joins_only(spark, key):
    # every ranking-eval key is one (query, item) equi join of the two
    # top-k lists plus an aggregate: never a cartesian product of the
    # lists (kendall's pair expansion runs inside the per-query array),
    # and no pinned frame, since each input is read once
    p = plan(entrymod.queries()[key](spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert "InMemoryRelation" not in p and "InMemoryTableScan" not in p, p


def test_verify_jaccard_builds_on_shingle_side(spark):
    # r13 (SCALE §22): the entire verify-width spill analysis rests on
    # verify_jaccard's join orientation — BOTH joins must be
    # ShuffledHashJoin with the doc-bounded SHINGLE side as the build
    # (BuildRight: pairs.join(hinted dsh)), never a static broadcast of
    # the unbounded pair frame and never a sort-merge whose sort buffers
    # the pair stream.  If this orientation changes, every width-lever
    # conclusion must be re-measured.
    from staticql_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} a b c d e f g h") for i in range(50)],
        ["doc_id", "text"],
    )
    dsh = dedup.doc_shingles(docs)
    pairs = spark.createDataFrame([(1, 2), (3, 4)], ["id_a", "id_b"])
    p = plan(dedup.verify_jaccard(pairs, dsh, "doc_id"))
    assert p.count("ShuffledHashJoin Inner BuildRight") == 2, p
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" not in p, p


@pytest.mark.parametrize("key", ["ann_cosine_topk", "ann_label_noise", "ann_rnn_pairs"])
def test_exact_topk_is_one_arrow_block_kernel(spark, key):
    # each exact retrieval is ONE mapInArrow over (broadcast query block x
    # corpus blocks): no Generate mirroring a half-scored pair set, and no
    # zip_with fold in any pair projection; ann_rnn_pairs reads its
    # neighbour list once (one kernel, not one per side of a self-join)
    p = plan(entrymod.queries()[key](spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) MapInArrow", p)) == 1, p
    assert len(re.findall(r"Arguments: shufflepartitionidpassthrough", p)) == 1, p
    assert "Generate" not in p, p
    assert "zip_with" not in p, p


@pytest.mark.parametrize(
    "key",
    [
        "ann_label_noise", "ann_rnn_pairs", "embedding_mrl_recall",
        "dedup_semantic_incr", "embedding_neardup", "ann_semantic_decon",
        "ann_quantized", "ann_pq_quant_error", "embedding_top_pc",
    ],
)
def test_vector_kernels_are_the_fold(spark, key):
    # dot/norm/_int_dot have one physical form, the zip_with/aggregate
    # fold: no array-length CASE guard selecting a per-element SQL sum
    # may reach the optimized plan of any pairwise or per-row vector key
    from staticql_spark.operators import release_persists

    try:
        df = entrymod.queries()[key](spark, SF_SMOKE)
        p = df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        release_persists()
    assert "CASE WHEN (size(" not in p, p
