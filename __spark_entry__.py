"""Driver contract: entry(spark) smoke, queries() vs oracle_sql() correctness.

Every query is a thin composition over staticql_spark — the engine package —
and each oracle is the exact ANSI-SQL twin DuckDB runs on the same parquet.
Column names are aliased identically on both sides (the driver's comparator
sorts columns by name before hashing).

Portability rules used throughout the oracles:
- DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all.
- hashing is md5 (portable), never murmur3.
- float aggregates are rounded on BOTH sides before compare/rank.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from staticql_spark.operators import asof, classify, dedup, multimodal, pq, similarity, sketch, text
from staticql_spark.plans.pagination import keyset_page_df
from staticql_spark import streaming as streaming_mod
from staticql_spark.streaming import load_events, sessionize, trending_topk, windowed_agg

SF_SMOKE = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# =====================================================================
# entry — flagship query (smoke check at sf0.001)
# =====================================================================


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: revenue by region — the two-hop 'through join' shape the
    reference models (J5/J6) at warehouse scale: region -> nation ->
    customer -> orders -> lineitem with broadcast dims + one shuffle agg."""
    sf = SF_SMOKE
    region, nation, customer, orders, lineitem = (
        _t(spark, sf, n) for n in ("region", "nation", "customer", "orders", "lineitem")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lineitems"),
        )
        .orderBy("r_name")
    )


# =====================================================================
# staticql query surface (SURVEY §2.2/2.3/2.6) over the TPC-H-ish tables
# =====================================================================


def q_where_eq(spark, sf):
    # P1: indexed eq filter
    return (
        _t(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name", "c_acctbal")
    )


def q_where_startswith(spark, sf):
    # P2: prefix filter (pushed to the parquet scan as StringStartsWith)
    return (
        _t(spark, sf, "part")
        .filter(F.col("p_name").startswith("small"))
        .select("p_partkey", "p_name", "p_brand")
    )


def q_where_in(spark, sf):
    # P3: membership filter
    return (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_custkey", "o_orderpriority")
    )


def q_where_and(spark, sf):
    # P4: AND-conjunction; Catalyst merges into one pushed predicate
    li = _t(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") > 0.05)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


def q_point_lookup(spark, sf):
    # P8: point lookup by key (find(slug) analogue)
    return _t(spark, sf, "customer").filter(F.col("c_custkey") == 42)


def q_projection_prune(spark, sf):
    # P9: covering/index-only projection — scan reads 2 columns only
    return (
        _t(spark, sf, "customer")
        .filter(F.col("c_acctbal") > 5000.0)
        .select("c_custkey", "c_mktsegment")
    )


def q_has_one_join(spark, sf):
    # J1: to-one relation attach (orders -> customer), broadcast dim
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey", "c_name", "c_mktsegment"
    )


def q_has_many_agg(spark, sf):
    # J2+A1: to-many relation, aggregated form (count + spend per customer)
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))), 2).alias(
                "total_spent"
            ),
        )
    )


def q_has_many_collect(spark, sf):
    # J2 faithful form: related keys attached sorted per row. Serialized to a
    # csv string (not array<long>) so the driver comparator — which pandas-
    # sorts result columns — gets a hashable scalar; semantics unchanged.
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("o_orderkey")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("order_keys")
        )
    )


def q_belongs_to_join(spark, sf):
    # J3: inverse relation (lineitem -> part), semi-join-reduced probe
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 100)
    p = _t(spark, sf, "part")
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_orderkey", "l_linenumber", "p_name", "p_brand"
    )


def q_through_count(spark, sf):
    # J5/J6: two-hop through join (region -through nation-> customer)
    r = _t(spark, sf, "region")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_customers"))
    )


def q_through_rows(spark, sf):
    # J5 row form: supplier joined through nation to region
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name", "r_name")
    )


def q_order_page1(spark, sf):
    # O1/O2: first page, total order (c_name, c_custkey) — keyset page 1
    c = _t(spark, sf, "customer")
    return keyset_page_df(
        c.select("c_custkey", "c_name", "c_acctbal"),
        [(F.col("c_name"), False)],
        F.col("c_custkey"),
        after=None,
        page_size=20,
    )


def q_cursor_after(spark, sf):
    # O3: keyset cursor page — WHERE (name, key) > (cursor) ORDER LIMIT n
    c = _t(spark, sf, "customer")
    return keyset_page_df(
        c.select("c_custkey", "c_name", "c_acctbal"),
        [(F.col("c_name"), False)],
        F.col("c_custkey"),
        after=["Customer#000000100", 100],
        page_size=20,
    )


def q_forecast_revenue(spark, sf):
    # TPC-H Q6 shape: pure scan-side predicate aggregation — the whole
    # query folds into PushedFilters + one partial agg
    li = _t(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


def q_latest_per_user(spark, sf):
    # keep-latest-version-per-key: the training-data dedup for re-crawled
    # documents, as a window rank over (key, event time)
    from staticql_spark.streaming import load_events

    ev = load_events(spark, f"{sf}/events.parquet")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


def q_returned_item_revenue(spark, sf):
    # TPC-H Q10 shape: revenue lost to returns per customer in a quarter,
    # nation attached, top 20 by revenue
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_promo_revenue(spark, sf):
    # TPC-H Q14 shape: conditional aggregation ratio (promo parts share)
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    p = _t(spark, sf, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").startswith("PROMO"), disc).otherwise(0.0))
                / F.sum(disc),
                4,
            ).alias("promo_revenue_pct")
        )
    )


def q_top_supplier(spark, sf):
    # TPC-H Q15 shape: revenue per supplier over a ship-date window, then
    # keep suppliers at the max (scalar-subquery comparison against an agg)
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    max_rev = rev.agg(F.max("total_revenue").alias("m"))
    s = _t(spark, sf, "supplier")
    return (
        rev.join(F.broadcast(max_rev), rev.total_revenue == max_rev.m)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_brand_supplier_count(spark, sf):
    # TPC-H Q16 shape: distinct-supplier count per brand/size bucket with a
    # NOT-IN-style exclusion (suppliers with negative balance excluded)
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_size").isin(1, 5, 9, 13))
    bad = _t(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


def q_large_volume_customer(spark, sf):
    # TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    # (HAVING over a join-side agg), attached back to the customer
    li = _t(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
    )


def q_order_priority_check(spark, sf):
    # TPC-H Q4 shape: orders in a quarter with at least one line shipped
    # after the order date (EXISTS -> left-semi join; the non-equi part of
    # the condition rides along with the equi key, so this stays a single
    # shuffle on orderkey at scale)
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_nation_volume_shipping(spark, sf):
    # TPC-H Q7 shape: bilateral trade volume between two nations by year.
    # lineitem|x|orders is the one big-big shuffle; supplier/customer/nation
    # dims are broadcast (nation twice, aliased per side).
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = _t(spark, sf, "orders")
    s = _t(spark, sf, "supplier")
    c = _t(spark, sf, "customer")
    n1 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_market_share(spark, sf):
    # TPC-H Q8 shape: one nation's supplier share of a region's market for a
    # part type, by order year (conditional-sum ratio over a 7-way join;
    # every dim broadcast, the single shuffle is lineitem|x|orders)
    p = _t(spark, sf, "part").filter(F.col("p_type") == "ECONOMY")
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = _t(spark, sf, "customer")
    n1 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n2 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf, "region").filter(F.col("r_name") == "AMERICA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q_nation_profit(spark, sf):
    # TPC-H Q9 shape (adapted: no partsupp table in the testdata, so profit
    # is revenue minus a retail-price cost proxy): profit by supplier nation
    # and year for parts whose name contains 'red'
    p = _t(spark, sf, "part").filter(F.col("p_name").contains("red"))
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    n = _t(spark, sf, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * 0.1 * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


def q_late_shipment_priority(spark, sf):
    # TPC-H Q12 shape (adapted: no l_shipmode column — bucket by shipping
    # delay instead): high- vs low-priority line counts per delay bucket
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = _t(spark, sf, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    # datediff (whole calendar days) not + INTERVAL 60 DAYS: the interval adds
    # exact 60x24h in the session TZ while DuckDB adds calendar days, flipping
    # midnight-aligned boundary rows across a DST shift under non-UTC sessions.
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.when(late, "late").otherwise("ontime").alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


def q_customer_order_distribution(spark, sf):
    # TPC-H Q13 shape: distribution of customers by order count (left join
    # preserved for zero-order customers; orders pre-aggregated by custkey
    # first so the shuffle carries one row per customer, not per order)
    c = _t(spark, sf, "customer").select("c_custkey")
    per_cust = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("c_count"))
    )
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("c_count"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_small_qty_avg_yearly(spark, sf):
    # TPC-H Q17 shape: yearly revenue from small-quantity orders of one
    # brand's parts (correlated avg -> per-part agg joined back; the avg is
    # computed only over the brand's parts via a semi-reduction first)
    p = _t(spark, sf, "part").filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    li = _t(spark, sf, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    brand_li = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thresholds = brand_li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        brand_li.join(
            F.broadcast(thresholds),
            (brand_li.l_partkey == thresholds.t_partkey)
            & (brand_li.l_quantity < thresholds.qty_threshold),
        )
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def q_disjunctive_filter_revenue(spark, sf):
    # TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides —
    # Catalyst extracts the common l_partkey=p_partkey conjunct so the join
    # stays a broadcast hash join with the disjunction as a post-filter
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q_waiting_supplier(spark, sf):
    # TPC-H Q21 shape (adapted: lateness = shipped >60 days after the order
    # date, since the testdata has no commit/receipt dates): suppliers in
    # one nation who were the ONLY late shipper on a multi-supplier
    # finished order. EXISTS/NOT EXISTS compile to one semi and one anti
    # join, both co-partitioned on orderkey with the main shuffle.
    # The NOT EXISTS (another late supplier) is computed as a sole-late-
    # supplier aggregation rather than an anti join against a second copy
    # of the late-lines join: Spark does not reuse the duplicated exchange
    # (observed 14 scans in the semi+anti formulation), and at scale that
    # doubles the biggest join in the query. The EXISTS (another supplier
    # shipped the order) stays a left-semi join. Per-line multiplicity is
    # preserved via n_lines (every late line of the sole late supplier
    # counts, exactly as the per-line EXISTS/NOT EXISTS oracle counts).
    o = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = li.join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey")).filter(
        # calendar-day lateness (TZ-proof; see q_late_shipment_priority)
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60
    ).select("l_orderkey", "l_suppkey")
    sole = (
        late.groupBy("l_orderkey")
        .agg(
            F.count_distinct("l_suppkey").alias("n_late"),
            F.max("l_suppkey").alias("l_suppkey"),
            F.count("*").alias("n_lines"),
        )
        .filter(F.col("n_late") == 1)
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation").filter(F.col("n_name") == "NATION_1")
    return (
        sole.join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.sum("n_lines").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


def q_cheapest_supplier(spark, sf):
    # TPC-H Q2 shape (adapted: no partsupp — lineitem is the supply
    # relation, avg sale price the cost): for small parts, the supplier(s)
    # whose average price for that part is the part's minimum (correlated
    # min subquery -> per-part window min, zero extra shuffle since the
    # window reuses the groupBy partitioning)
    p = _t(spark, sf, "part").filter(F.col("p_size") < 10)
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    per = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.round(F.avg("l_extendedprice"), 2).alias("avg_price"))
    )
    w = W.partitionBy("l_partkey")
    return (
        per.withColumn("min_price", F.min("avg_price").over(w))
        .filter(F.col("avg_price") == F.col("min_price"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_suppkey",
            "s_name",
            "avg_price",
        )
    )


def q_important_part_value(spark, sf):
    # TPC-H Q11 shape (adapted: shipped volume stands in for stock value):
    # parts whose total shipped value exceeds 1.5x the average part value
    # (scale-invariant threshold) — group-agg + scalar-subquery HAVING
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    val = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_partkey", "p_name")
        .agg(F.round(F.sum(F.col("l_quantity") * F.col("p_retailprice")), 2).alias("value"))
    )
    total = val.agg((F.avg("value") * 1.5).alias("threshold"))
    return (
        val.join(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("p_partkey", "p_name", "value")
        .orderBy(F.col("value").desc(), F.col("p_partkey").asc())
    )


def q_dominant_supplier(spark, sf):
    # TPC-H Q20 shape (adapted: no partsupp/availqty — a supplier is
    # 'dominant' for a red part if it shipped > 30% of that part's total
    # 1996 volume): nested aggregation feeding a semi-join into supplier
    p = _t(spark, sf, "part").filter(F.col("p_name").startswith("red"))
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    s = _t(spark, sf, "supplier")
    red_li = li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == p.p_partkey)
    per_supp = red_li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    per_part = red_li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.sum("l_quantity") * 0.3).alias("part_qty_threshold")
    )
    dominant = (
        per_supp.join(
            per_part,
            (per_supp.l_partkey == per_part.t_partkey)
            & (per_supp.supp_qty > per_part.part_qty_threshold),
        )
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q_idle_customer_balance(spark, sf):
    # TPC-H Q22 shape (adapted: no phone column, and every customer has at
    # least one order — so 'idle' = above-average balance with no orders in
    # the final period): count + total balance per nation, anti join for
    # the NOT EXISTS, scalar subquery broadcast for the avg threshold
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    recent = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


def q_cursor_before(spark, sf):
    # O3 'before' direction: rows strictly before the cursor in (name, key)
    # order — reversed keyset predicate + reversed sort + limit, re-sorted
    # ascending (the reference's readBackward walk, QueryBuilder.ts:246-274)
    c = _t(spark, sf, "customer").select("c_custkey", "c_name", "c_acctbal")
    name, key = "Customer#000000100", 100
    pred = (F.col("c_name") < name) | (
        (F.col("c_name") == name) & (F.col("c_custkey") < key)
    )
    page = (
        c.filter(pred)
        .orderBy(F.col("c_name").desc(), F.col("c_custkey").desc())
        .limit(20)
    )
    return page.orderBy("c_name", "c_custkey")


# =====================================================================
# Spark-native relational surface (aggregations / windows / set ops)
# =====================================================================


def q_set_intersect(spark, sf):
    # set op: custkeys that placed an order AND hold acctbal > 5000
    a = _t(spark, sf, "orders").select(F.col("o_custkey").alias("ckey"))
    b = (
        _t(spark, sf, "customer")
        .filter(F.col("c_acctbal") > 5000.0)
        .select(F.col("c_custkey").alias("ckey"))
    )
    return a.intersect(b)


def q_ship_priority(spark, sf):
    # TPC-H Q3 shape: selective filters on three tables, broadcast dim,
    # one shuffle agg, deterministic top-10
    cutoff = F.lit("1995-03-15").cast("timestamp")
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_pricing_summary(spark, sf):
    # TPC-H Q1 shape: full-scan agg with map-side partial aggregation
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_topk_per_group(spark, sf):
    # window ranking: top-3 orders per priority (deterministic tiebreak)
    o = _t(spark, sf, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
    )


def q_region_revenue(spark, sf):
    # TPC-H Q5 shape: star join, broadcast dims, single shuffle agg
    region, nation, customer, orders, lineitem = (
        _t(spark, sf, n) for n in ("region", "nation", "customer", "orders", "lineitem")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lineitems"),
        )
    )


def q_agg_distinct(spark, sf):
    # exact distinct aggregation (expand-based in Spark, one extra shuffle)
    o = _t(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


def q_set_except(spark, sf):
    # set op: customers with no orders (EXCEPT == left_anti at plan level)
    c = _t(spark, sf, "customer").select("c_custkey")
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.exceptAll(o).distinct()


def q_window_running(spark, sf):
    # analytic window: running spend per customer over order keys
    o = _t(spark, sf, "orders").filter(F.col("o_custkey") < 50)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


def q_cube_rollup(spark, sf):
    # OLAP cube: order totals by (priority, year) with all subtotal planes —
    # one pass, grouping-id disambiguates NULL-as-subtotal from NULL data
    o = _t(spark, sf, "orders")
    return (
        o.cube(F.col("o_orderpriority").alias("prio"), F.year("o_orderdate").alias("o_year"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
            F.grouping_id().alias("gid"),
        )
    )


def q_pivot_priority(spark, sf):
    # pivot: orders per year x priority as columns (explicit value list so
    # the output schema is static — the scalable pivot form; an inferred
    # value list would need an extra distinct pass over the fact table)
    o = _t(spark, sf, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return (
        o.groupBy(F.year("o_orderdate").alias("o_year"))
        .pivot("o_orderpriority", prios)
        .count()
        .select(
            "o_year",
            *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(f"p{i+1}") for i, p in enumerate(prios)],
        )
    )


def q_events_windowed(spark, sf):
    # tumbling event-time window (batch twin of streaming.windowed_agg)
    ev = load_events(spark, f"{sf}/events.parquet")
    return windowed_agg(ev, window="1 hour").drop("approx_users")


def q_events_anomaly(spark, sf):
    # volume-spike detection: hourly counts per event_type z-scored
    # against that type's own mean/population-stddev; |z| >= 2 flags.
    # The per-type stats table is |types| rows broadcast back against the
    # hourly counts — no global window over the count stream.
    ev = load_events(spark, f"{sf}/events.parquet")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "event_type",
    ).agg(F.count("*").alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.avg("n").alias("mu"),
        F.stddev_pop("n").alias("sigma"),
    )
    z = F.when(
        F.col("sigma") > 0, (F.col("n") - F.col("mu")) / F.col("sigma")
    ).otherwise(F.lit(0.0))
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "hour",
            "n",
            F.round(z, 4).alias("z"),
        )
        .filter(F.abs(F.round(z, 4)) >= 2.0)
    )


def q_customer_rfm(spark, sf):
    # RFM segmentation: per-customer recency/frequency/monetary, quartile
    # scores from exact interpolated thresholds broadcast back (the
    # doc_curriculum pattern — never a global ntile window). Quarter
    # interpolation weights keep integer-column thresholds float-exact;
    # monetary compares on 2-dp rounded sums vs 6-dp rounded thresholds.
    o = _t(spark, sf, "orders")
    per = o.groupBy("o_custkey").agg(
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        F.max("o_orderdate").alias("last_order"),
    )
    ref = o.agg(F.max("o_orderdate").alias("ref_date"))
    base = per.crossJoin(F.broadcast(ref)).withColumn(
        "recency_days", F.datediff("ref_date", "last_order").cast("int")
    )
    thr = base.agg(
        *[
            F.expr(
                f"transform(percentile({c}, array(0.25D, 0.5D, 0.75D)), x -> round(x, 6))"
            ).alias(t)
            for c, t in [("recency_days", "rt"), ("frequency", "ft"), ("monetary", "mt")]
        ]
    )

    def quart(col: str, tcol: str):
        return (
            F.lit(1) + F.size(F.filter(F.col(tcol), lambda t: t <= F.col(col)))
        ).cast("int")

    return base.crossJoin(F.broadcast(thr)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        quart("recency_days", "rt").alias("r_q"),
        quart("frequency", "ft").alias("f_q"),
        quart("monetary", "mt").alias("m_q"),
    )


def q_events_markov(spark, sf):
    # first-order behavior model: event-type transition matrix. One lag
    # window per user (deterministic (ts, event_id) order), one
    # map-side-combined count, per-prev totals broadcast back for the
    # transition probabilities — |types|^2 output rows.
    ev = load_events(spark, f"{sf}/events.parquet")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev")
    )
    trans = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count("*").alias("n"))
    )
    tot = trans.groupBy("prev").agg(F.sum("n").alias("tot"))
    return trans.join(F.broadcast(tot), "prev").select(
        "prev", "next", "n", F.round(F.col("n") / F.col("tot"), 6).alias("p")
    )


def q_events_sessionize(spark, sf):
    # session windows per user (30-minute gap)
    ev = load_events(spark, f"{sf}/events.parquet")
    return sessionize(ev, gap="30 minutes")


def q_events_sliding(spark, sf):
    # hopping event-time window (15 min wide, 5 min hop): each event lands
    # in exactly 3 overlapping windows via Spark's window() explode
    ev = load_events(spark, f"{sf}/events.parquet")
    return (
        windowed_agg(ev, window="15 minutes", slide="5 minutes")
        .drop("approx_users")
    )


def q_events_trending(spark, sf):
    # trending heavy hitters: top-3 event types per sliding window. The
    # heavy shuffle is the windowed count (map-side combined to |windows| x
    # |types| rows); the rank stage then runs over that tiny aggregate —
    # the streaming twin ranks the same counts per micro-batch via
    # foreachBatch (tests/test_streaming.py::test_stream_trending).
    ev = load_events(spark, f"{sf}/events.parquet")
    return trending_topk(ev, window="15 minutes", slide="5 minutes", k=3)


def q_events_lag_gap(spark, sf):
    # lag/lead analytics: per-user inter-event gaps. Gap sums stay in
    # exact integer microseconds; the single trailing division is the only
    # float op, so the rounded average is engine-portable.
    ev = load_events(spark, f"{sf}/events.parquet")
    ts_us = asof.epoch_us(ev, "ts")
    w = W.partitionBy("user_id").orderBy(ts_us, "event_id")
    gap = ts_us - F.lag(ts_us).over(w)
    return (
        ev.select("user_id", gap.alias("_gap"))
        .groupBy("user_id")
        .agg(
            F.count("_gap").alias("n_gaps"),
            F.sum("_gap").alias("sum_gap_us"),
        )
        .filter(F.col("n_gaps") > 0)
        .select(
            "user_id",
            "n_gaps",
            "sum_gap_us",
            F.round(F.col("sum_gap_us") / F.col("n_gaps") / F.lit(1_000_000.0), 3).alias(
                "avg_gap_s"
            ),
        )
    )


def q_unpivot_metrics(spark, sf):
    # wide-to-long reshape (unpivot/melt): lineitem measure columns become
    # (metric, value) rows in one pass — no per-metric scan union
    li = _t(spark, sf, "lineitem")
    melted = li.unpivot(
        ["l_orderkey"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "val",
    )
    return melted.groupBy("metric").agg(
        F.count("*").alias("n"), F.round(F.sum("val"), 2).alias("total")
    )


def q_events_range_window(spark, sf):
    # RANGE-framed window (value-based frame, not row-based): per user,
    # count of events in the trailing 10 minutes at each event — exact
    # integer frame bounds over epoch-µs, so no float frame edges
    ev = load_events(spark, f"{sf}/events.parquet")
    ts_us = asof.epoch_us(ev, "ts")
    w = (
        W.partitionBy("user_id")
        .orderBy(ts_us)
        .rangeBetween(-600_000_000, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_trailing_10m"),
        F.round(F.sum("value").over(w), 4).alias("sum_trailing_10m"),
    )


def q_asof_click_purchase(spark, sf):
    # as-of join (backward inclusive): each click sees the user's most
    # recent purchase at-or-before it — the join family Spark lacks
    # natively, built as union + last-ignorenulls window (one shuffle).
    # The right side is pre-deduped to unique (user_id, ts) so "most
    # recent" is well-defined on both engines.
    ev = load_events(spark, f"{sf}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("value").alias("purchase_value"),
            F.max("event_id").alias("purchase_event"),
        )
    )
    res = asof.asof_join(
        clicks, purch, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["purchase_value", "purchase_event"],
    )
    return res.select(
        "event_id",
        "user_id",
        "purchase_event",
        F.round("purchase_value", 4).alias("purchase_value"),
    )


def q_asof_hotkey_bucketed(spark, sf):
    # the hot-key-safe as-of variant (coarse_bucket_us splits each key's
    # timeline so no single key serializes its window) — semantics are
    # identical to asof_click_purchase, checked against the SAME DuckDB
    # ASOF LEFT JOIN oracle
    ev = load_events(spark, f"{sf}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("value").alias("purchase_value"),
            F.max("event_id").alias("purchase_event"),
        )
    )
    res = asof.asof_join(
        clicks, purch, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["purchase_value", "purchase_event"],
        coarse_bucket_us=3_600_000_000,
    )
    return res.select(
        "event_id",
        "user_id",
        "purchase_event",
        F.round("purchase_value", 4).alias("purchase_value"),
    )


_ARTIFACT_CACHE: dict = {}

_ARTIFACT_ROOT: str | None = None


def _artifact_dir(prefix: str) -> str:
    """Fresh directory for one persisted artifact, under ONE per-process
    root (r8 verdict #7 / ADVICE: mkdtemp-per-key leaked multi-hundred-MB
    parquet trees in /tmp with no cleanup hook).  Default root is a
    process-private tempdir removed at interpreter exit (atexit); set
    ``STATICQL_SPARK_ARTIFACT_ROOT`` to point a serving fleet at real
    storage — the per-process root is still mkdtemp'd UNDER it (two
    processes can never share a path, locked by
    test_artifact_dirs_distinct_across_processes) but is then RETAINED,
    since fleet storage owns its own retention."""
    global _ARTIFACT_ROOT
    import atexit
    import shutil
    import tempfile

    if _ARTIFACT_ROOT is None:
        base = os.environ.get("STATICQL_SPARK_ARTIFACT_ROOT")
        if base:
            os.makedirs(base, exist_ok=True)
            _ARTIFACT_ROOT = tempfile.mkdtemp(prefix="staticql_artifacts_", dir=base)
        else:
            _ARTIFACT_ROOT = tempfile.mkdtemp(prefix="staticql_artifacts_")
            atexit.register(shutil.rmtree, _ARTIFACT_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_ARTIFACT_ROOT)


def _artifact(spark, key: tuple, build):
    """Build-once-per-process materialized frame (parquet in a tempdir):
    the shared-index idiom behind _pq_index, generalized — training a
    model / deriving a heavy frame is a JOB, not a query prefix, so
    queries that consume the same derivation share one evaluation and
    pay parquet-load cost afterwards.  A fresh process always rebuilds
    (no cross-run staleness); every artifact here is longs/doubles (or
    6dp-rounded doubles), so the parquet hop is value-exact and the
    oracle twins, which replay the derivation inline, still hash-match
    (locked for the PQ case by test_pq_append_equals_full_rebuild)."""
    from staticql_spark import snapshots

    path = _ARTIFACT_CACHE.get(key)
    if path is None:
        path = _artifact_dir(f"staticql_{key[0]}_")
        # r10 (r9 roadmap #2): through the snapshot facade's generic
        # "frame" kind — every ad-hoc artifact now carries the same
        # XOR-digest manifest as the named index families, and the
        # first load integrity-verifies it (the torn-write guard runs
        # on every bench/driver process, not only in the facade tests).
        snapshots.snapshot_build(build(), path, "frame", name=key[0])
        # cache the path only AFTER the verified load succeeds (r10
        # ADVICE): if the integrity verify raises on a torn write, a
        # pre-assigned cache entry would route every later call in the
        # process down the unverified branch onto the corrupt artifact.
        out = snapshots.snapshot_load(spark, path, verify=True)
        _ARTIFACT_CACHE[key] = path
        return out
    return snapshots.snapshot_load(spark, path)


def artifact_consumer_keys() -> list[str]:
    """Registry keys whose ``queries()`` callable consumes a shared
    persisted artifact — i.e. keys benched at PROBE cost since r8, with
    the derive cost reported separately in ``artifact_build_sec``.
    bench.py embeds this list in BENCH_FULL.json (r9, per r8 ADVICE #4)
    so cross-round per-key diffs know which keys switched from
    derive-cost to probe-cost rather than reading a ~100x artifact-split
    speedup as an engine win.  Derived by INSPECTION of each query
    function's source for the artifact-helper call markers, so the list
    can't drift from the code."""
    import inspect

    markers = (
        "_artifact(", "_cached(", "_pq_index", "_lsh_index_old",
        "_kmeans_centroids(", "_lpa_prior(", "_pagerank_cached(",
    )
    out = []
    for k, fn in queries().items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            continue
        if any(m in src for m in markers):
            out.append(k)
    return sorted(out)


def _kmeans_centroids(spark, sf):
    """The shared full-corpus k-means fit (stride-100 init, 2 Lloyd
    iterations) — consumed by ann_ivf_trained, embedding_prototypes,
    kmeans_inertia, dedup_semantic and dedup_semantic_keep (r7 verdict
    #4: the train was re-run at every consumer's construct)."""
    return _artifact(
        spark,
        ("kmeans", sf),
        lambda: similarity.kmeans_fit(
            _t(spark, sf, "embeddings"), centroid_stride=100, iters=2
        ),
    )


def _semantic_pairs_cached(spark, sf):
    """ONE SemDeDup pairs evaluation (threshold 0.35 over the shared
    trained cells) feeding dedup_semantic AND dedup_semantic_keep —
    the keep query's construct was the single biggest item (6.19 s at
    sf0.1) because it re-ran train + assign + self-join."""
    return _artifact(
        spark,
        ("sempairs", sf),
        lambda: dedup.semantic_dedup_pairs(
            _t(spark, sf, "embeddings"),
            threshold=0.35,
            centroids=_kmeans_centroids(spark, sf),
        ),
    )


def _lsh_pairs_cached(spark, sf):
    """ONE MinHash-LSH pairs evaluation (full documents corpus, the
    n=3 / 16-hash / 4-band / 0.2 recipe) feeding the SEVEN pure pair
    consumers (components, keep, triangles, canonical_meta,
    cluster_stats, jaccard_hist, split_leakfree).  dedup_minhash_lsh
    itself and the flagship compositions (pipeline_clean_corpus,
    doc_training_manifest) deliberately KEEP computing inline: the
    former is the cross-round LSH-throughput benchmark, the latter two
    demonstrate the one-declarative-program composition their oracles
    replay.  Pairs are (long, long, double) — parquet hop value-exact.

    r11 (r10 verdict #2's reuse lever): derived FROM the shared
    persisted full-corpus index (dedup.lsh_pairs_from_index) instead of
    re-shingling + re-signing the corpus the index build just
    processed — row-identical by per-doc signature independence (locked
    by test_lsh_pairs_from_index_equals_inline)."""
    idx = _lsh_index_full(spark, sf)
    return _artifact(
        spark,
        ("lshpairs", sf),
        lambda: dedup.lsh_pairs_from_index(
            idx.bands, idx.shingles, threshold=0.2,
        ),
    )


def _bt_ratings_cached(spark, sf):
    """ONE Bradley-Terry MM run (5 iterations over the _pref_comparisons
    pair counts) shared by its two consumers, events_bt_ratings and
    events_bt_reliability (r12, r11 roadmap #3): the per-iteration
    eager localCheckpoint rounds are REAL distributed work that every
    bench rep — and the reliability key's inner derivation — previously
    re-ran from scratch.  Ratings are (long, long, long, 6dp double) —
    the parquet hop is value-exact, and the oracle twins keep replaying
    the full MM chain inline (_bt_sql), so the driver's hash compare
    still pins the iteration trajectory itself."""
    from staticql_spark.operators import preference

    return _artifact(
        spark,
        ("btratings", sf),
        lambda: preference.bt_ratings(
            _pref_comparisons(_t(spark, sf, "events")), iters=5, alpha=0.5
        ),
    )


def _bt_ties_cached(spark, sf):
    """ONE Rao-Kupper MM run (ties model, 5 joint pi/theta iterations)
    behind the artifact facade — the single heaviest construct key of
    the r11 bench (6.6 s of eager checkpoint rounds per rep).  Output
    is (long, long, long, long, 6dp double, 6dp double); oracle replays
    the iterations inline (_bt_ties_sql)."""
    from staticql_spark.operators import preference

    return _artifact(
        spark,
        ("btties", sf),
        lambda: preference.bt_ties(
            _pref_comparisons_ties(_t(spark, sf, "events")), iters=5, alpha=0.5
        ),
    )


def _pagerank_cached(spark, sf):
    """ONE PageRank power-iteration run over the bidirected user<->item
    click graph (r12, r11 roadmap #3).  (node string, rank 6dp double)
    — parquet-exact; the oracle unrolls both iterations inline."""
    from staticql_spark.operators.graph import pagerank

    ev = load_events(spark, f"{sf}/events.parquet")
    base = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
            F.concat(
                F.lit("k:"), F.get_json_object("props", "$.k")
            ).alias("dst"),
        )
        .distinct()
    )
    edges = base.union(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return _artifact(spark, ("pagerank", sf), lambda: pagerank(edges, iters=2))


def _lsh_components_cached(spark, sf):
    """ONE connected-components evaluation over the shared LSH pairs —
    the iterative min-label propagation (localCheckpoint rounds = real
    distributed work at CONSTRUCT) cost 14-20 s PER consumer at the
    500k-doc soak even with pairs shared; clustering the pair graph is
    a job, so its result is an artifact too.  (member_id, component_id)
    longs — parquet hop value-exact."""
    return _artifact(
        spark,
        ("lshcc", sf),
        lambda: dedup.connected_components(_lsh_pairs_cached(spark, sf)),
    )


def _semantic_components_cached(spark, sf):
    """CC over the shared SemDeDup pairs — dedup_semantic_keep's
    remaining construct cost (3.9 s at soak) was exactly this."""
    return _artifact(
        spark,
        ("semcc", sf),
        lambda: dedup.connected_components(_semantic_pairs_cached(spark, sf)),
    )


def _lsh_index_full(spark, sf):
    """Persisted FULL-corpus LSH index (dedup.lsh_build) — the one
    shingle+signature pass every LSH artifact derives from (r11, r10
    verdict #2): the shared pair set reads its bands/shingles back
    (lsh_pairs_from_index) and the old-corpus snapshot is a doc_id
    filter over the same frames.  The BUILD goes through the package's
    named index API so the driver exercises lsh_build/lsh_load, not
    just the in-memory minhash_index pair."""
    from staticql_spark import snapshots

    key = ("lshidx_full", sf)
    path = _ARTIFACT_CACHE.get(key)
    if path is None:
        path = _artifact_dir("staticql_lshidx_")
        docs = _t(spark, sf, "documents")
        # r9: through the snapshot facade — the build stamps the
        # XOR-digest manifest, and the first load integrity-verifies it
        # (torn-write / partial-upload guard exercised on EVERY bench
        # and driver run, not just in the facade's own test)
        snapshots.snapshot_build(docs, path, "lsh", n=3, num_hashes=16, bands=4)
        # cache only after the verified load (torn-write guard must not
        # be one-shot per process — r10 ADVICE)
        out = snapshots.snapshot_load(spark, path, verify=True)
        _ARTIFACT_CACHE[key] = path
        return out
    return snapshots.snapshot_load(spark, path)


def _lsh_index_old(spark, sf):
    """Old-corpus LSH index (doc_id % 5 != 0 snapshot) for the
    incremental dedup key — since r11 a pair of FILTERED VIEWS over the
    shared full-corpus index's parquet frames: per-doc signatures depend
    only on the doc's own text, so filter(build(all)) is row-identical
    to build(filter(all)) (locked by
    test_lsh_index_old_filter_equals_subset_build) and the second full
    shingle+signature pass the old build paid per process disappears.
    The doc_id filter reaches the parquet scan (predicate pushdown)."""
    full = _lsh_index_full(spark, sf)
    return dedup.LSHIndex(
        bands=full.bands.filter(F.col("doc_id") % 5 != 0),
        shingles=full.shingles.filter(F.col("doc_id") % 5 != 0),
        n=full.n,
        num_hashes=full.num_hashes,
        n_bands=full.n_bands,
    )


def _chunk_index_old(spark, sf):
    """Shared persisted chunk-frequency index of the old corpus
    (doc_id % 5 != 0, width=8), via the snapshot facade: the build
    stamps the XOR-digest manifest, and the first in-process load
    integrity-verifies it."""
    from staticql_spark import snapshots

    key = ("chunkidx_old", sf)
    path = _ARTIFACT_CACHE.get(key)
    if path is None:
        path = _artifact_dir("staticql_chunkidx_")
        docs = _t(spark, sf, "documents")
        snapshots.snapshot_build(
            docs.filter(F.col("doc_id") % 5 != 0), path, "chunk", width=8
        )
        # cache only after the verified load (torn-write guard must not
        # be one-shot per process — r10 ADVICE)
        out = snapshots.snapshot_load(spark, path, verify=True)
        _ARTIFACT_CACHE[key] = path
        return out
    return snapshots.snapshot_load(spark, path)


def build_artifacts(spark, sf) -> dict:
    """Force-build every shared persisted artifact, returning per-artifact
    build seconds.  bench.py calls this BEFORE its query loop so the
    one-off index-build jobs are timed explicitly (the
    ``artifact_build_sec`` map in BENCH_FULL.json) instead of landing in
    the first consumer's construct and then vanishing from min-of-reps —
    the honesty rule for the "index build is a job" pattern: consumers
    are benched at probe cost, and the build cost stays a visible,
    attributable number."""
    import time as _time

    steps = [
        ("kmeans_centroids", lambda: _kmeans_centroids(spark, sf)),
        (
            "kmeans_centroids_old",
            lambda: _artifact(
                spark,
                ("kmeans_old", sf),
                lambda: similarity.kmeans_fit(
                    _t(spark, sf, "embeddings").filter(
                        F.col("vec_id") % 5 != 3
                    ),
                    centroid_stride=100,
                    iters=2,
                ),
            ),
        ),
        ("semantic_pairs", lambda: _semantic_pairs_cached(spark, sf)),
        ("semantic_components", lambda: _semantic_components_cached(spark, sf)),
        ("lsh_index_full", lambda: _lsh_index_full(spark, sf)),
        ("lsh_pairs", lambda: _lsh_pairs_cached(spark, sf)),
        ("lsh_components", lambda: _lsh_components_cached(spark, sf)),
        ("contaminated_spans", lambda: _contaminated_spans_cached(spark, sf)),
        ("lsh_index_old", lambda: _lsh_index_old(spark, sf)),
        ("lpa_prior", lambda: _lpa_prior(spark, sf)),
        ("chunk_index_old", lambda: _chunk_index_old(spark, sf)),
        ("pq_index", lambda: _pq_index(spark, sf)),
        ("pq_index_old", lambda: _pq_index(spark, sf, subset="old")),
        ("bt_ratings", lambda: _bt_ratings_cached(spark, sf)),
        ("bt_ties", lambda: _bt_ties_cached(spark, sf)),
        ("pagerank", lambda: _pagerank_cached(spark, sf)),
    ]
    out = {}
    for name, fn in steps:
        t0 = _time.perf_counter()
        fn()
        out[name] = round(_time.perf_counter() - t0, 3)
    return out


def q_ann_ivf_trained(spark, sf):
    # IVF over kmeans_fit-trained centroids (2 Lloyd iterations, assign =
    # broadcast cosine argmax, update = one map-side-combined aggregation
    # per iteration). The fixed iteration count makes the whole fit
    # SQL-expressible: the oracle (_ivf_trained_sql) unrolls both Lloyd
    # steps in DuckDB; the NumPy Lloyd twin test stays as a second check.
    # r8: centroids come from the shared persisted fit (_kmeans_centroids).
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cents = _kmeans_centroids(spark, sf)
    return similarity.ivf_topk(queries, emb, k=5, nprobe=3, centroids=cents)


_PQ_INDEX_CACHE: dict = {}


def _pq_index(spark, sf, subset="all"):
    """Shared PERSISTED PQ index (pq.pq_build/pq_load): training an index
    is a job, not a query prefix, so the five PQ consumers (ann_pq_adc,
    ann_ivf_pq, ann_pq_recall, ann_ivfpq_recall, ann_pq_quant_error —
    plus stream_pq_neardup on the old-corpus subset) share ONE build per
    (sf, subset) and pay parquet-load cost afterwards.  The build goes to
    a per-process tempdir, so a fresh process (fresh code) always
    rebuilds — no cross-run staleness; the append-equals-rebuild /
    load-equals-inline contract is test_pq_append_equals_full_rebuild.
    subset="old" is stream_pq_neardup's frozen snapshot (vec_id % 5 != 3,
    the residue class that avoids the stride-100 init ids)."""
    from staticql_spark import snapshots

    # _pq_index_path integrity-verifies the build before committing it
    # to the cache (torn-write guard); loads here skip the stat scan
    return snapshots.snapshot_load(spark, _pq_index_path(spark, sf, subset))


def _pq_index_path(spark, sf, subset="all"):
    """Path of the shared persisted PQ index, building on first use.
    The "all" index is CELL-PARTITIONED (pq_build coarse_centroids= the
    same stride-100 coarse sample the IVFADC queries probe), so
    ann_ivfpq_persisted's probe is a partition-pruned read; the "old"
    snapshot index stays flat (its consumer probes by code key, not
    cell)."""
    key = (sf, subset)
    path = _PQ_INDEX_CACHE.get(key)
    if path is None:
        path = _artifact_dir(f"staticql_pq_{subset}_")
        from staticql_spark import snapshots

        emb = _t(spark, sf, "embeddings")
        if subset == "all":
            coarse = similarity.centroid_sample(emb, "embedding", "vec_id", 100)
            snapshots.snapshot_build(
                emb, path, "pq", m=4, dim=64, stride=100, iters=2,
                coarse_centroids=coarse,
            )
        else:
            corpus = emb.filter(F.col("vec_id") % 5 != 3)
            snapshots.snapshot_build(
                corpus, path, "pq", m=4, dim=64, stride=100, iters=2
            )
        # integrity-verify the build BEFORE committing the path to the
        # cache (r10 ADVICE: a pre-assigned entry made the torn-write
        # guard one-shot per process — a verify failure here must leave
        # the cache empty so the next call rebuilds/re-verifies)
        snapshots.snapshot_load(spark, path, verify=True)
        _PQ_INDEX_CACHE[key] = path
    return path


def q_ann_pq_adc(spark, sf):
    # Product quantization (Jégou et al. 2011): per-subspace Lloyd
    # codebooks (m=4 x 16 dims, 2 unrolled rounds, deterministic stride
    # init), corpus stored as 4 small codes per vector (the 64x storage
    # cut that makes 1e11-vector ANN feasible), queries scored by ADC —
    # a broadcast per-query distance table + one map-side-combinable sum.
    # r8: codes/codebooks come from the shared PERSISTED index
    # (_pq_index -> pq.pq_build/pq_load) — the train is a one-off build
    # job, not per-query construct. The oracle (_pq_adc_sql) replays
    # train+encode+ADC at the documented rounding boundaries (subvector
    # dots and the ADC sum, both @6); parquet round-trips doubles
    # bit-exactly, so loaded == inline (test_pq_append_equals_full_rebuild).
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    idx = _pq_index(spark, sf)
    return pq.pq_adc_topk(queries, idx.codes, idx.codebooks, k=5, m=4, dim=64)


def q_ann_ivf_pq(spark, sf):
    # IVF-PQ (FAISS's IVFADC): stride-sampled coarse cells prune the
    # candidate set to nprobe/|cells| of the corpus; PQ-ADC scores the
    # survivors off the broadcast distance table. r8: the codes frame is
    # the shared persisted index (at scale you'd persist it PARTITIONED
    # BY cell — probe = partition-pruned read; ivf_build models that
    # layout). Oracle: _ivf_pq_sql composes the shared PQ CTEs with the
    # ann_ivf coarse-quantizer SQL.
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    idx = _pq_index(spark, sf)
    return pq.ivfpq_topk(
        queries, emb, idx.codes.drop("cell"), idx.codebooks,
        k=5, m=4, dim=64, coarse_stride=100, nprobe=3,
    )


def q_ann_ivfpq_persisted(spark, sf):
    # IVFADC against the PERSISTED cell-partitioned PQ index: probe cells
    # computed driver-side from the tiny persisted coarse set and pushed
    # as a PARTITION FILTER — the codes scan reads nprobe directories,
    # not the corpus (the disk-level skip list ivf_query pioneered, now
    # on the composed index). Output-identical to ann_ivf_pq (same
    # coarse, codebooks, rounding, tiebreak), so the oracle is the same
    # _ivf_pq_sql; plan contract: test_ivfpq_query_partition_pruning.
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    path = _pq_index_path(spark, sf)
    return pq.ivfpq_query(spark, path, queries, k=5, nprobe=3)


def q_stream_pq_neardup(spark, sf):
    # streaming PQ-code near-dup, batch twin: codebooks trained on the
    # OLD corpus only (frozen at index build — the streaming contract),
    # old corpus encoded distributed + collapsed to code keys; the "new"
    # batch (vec_id % 5 == 3, the residue class that avoids the stride-100
    # init ids) is encoded IN-ROW from literal centroids and probed by
    # exact code-tuple match, then cosine-verified against the old floats.
    # Stream-vs-batch equality: test_stream_pq_neardup_stream_matches_batch.
    # r8: the frozen snapshot side (codebooks + code keys) is the
    # persisted old-corpus PQ index (_pq_index subset="old") — the
    # streaming consumer now loads the index it probes instead of
    # retraining codebooks at every query construction.
    emb = _t(spark, sf, "embeddings")
    old = emb.filter(F.col("vec_id") % 5 != 3)
    new = emb.filter(F.col("vec_id") % 5 == 3)
    idx = _pq_index(spark, sf, subset="old")
    return streaming_mod.stream_pq_neardup(
        new, idx.codebooks, idx.keys, old, m=4, dim=64, threshold=0.35
    )


def q_embedding_prototypes(spark, sf):
    # D4 prototypicality pass (Tirumala et al. 2023): rank every vector
    # by cosine to its trained k-means cell centroid; the top drop_frac
    # per cell (the templated cluster core) is the prune set that D4
    # removes after SemDeDup. Same trained cells as dedup_semantic /
    # ann_ivf_trained (oracle reuses the unrolled-Lloyd CTEs).
    emb = _t(spark, sf, "embeddings")
    cents = _kmeans_centroids(spark, sf)  # r8: shared persisted fit
    return similarity.cell_prototypicality(emb, centroids=cents, drop_frac=0.25)


def q_doc_training_order(spark, sf):
    # the final mile: mixture_epochs plan -> epoch expansion (floor
    # repeats + seeded md5-Bernoulli fractional repeat) -> independent
    # shuffle key per (doc, rep) -> two-phase sharded positions. Budget
    # 40k over 20 even sources => epochs ~1.5, so the fractional-draw
    # path is exercised, not just integer repeats.
    docs = _t(spark, sf, "documents")
    return text.training_order(docs, budget_tokens=40_000, n_shards=8)


def q_doc_temperature_mix(spark, sf):
    # XLM/CC-100 temperature sampling (Conneau et al. 2020): stratum
    # share p -> tempered q ∝ p^0.7; boost = q/p is the up/down-sampling
    # factor. Two tiny aggs broadcast back — the soft alternative to
    # doc_source_cap's hard cutoff.
    return text.temperature_weights(
        _t(spark, sf, "documents"), alpha=0.7, strata_col="source"
    )


def q_events_kanon(spark, sf):
    # k-anonymous telemetry release: per-(event_type, day) counts with
    # cells under 50 distinct users suppressed into one residual row —
    # the release gate that keeps an aggregate export from isolating a
    # small user group. privacy.kanon_release; strict/totals modes via
    # the suppressed flag.
    from staticql_spark.operators.privacy import kanon_release

    ev = load_events(spark, f"{sf}/events.parquet").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "user_id",
    )
    return kanon_release(ev, dims=["event_type", "day"], k=50, subject_col="user_id")


def q_embedding_drift(spark, sf):
    # population-stability drift between corpus versions over FROZEN
    # old-corpus cells (the baseline must not move with the data):
    # per-cell Laplace-smoothed shares and PSI terms; sum psi_term for
    # the headline drift number (<0.1 stable, >0.25 shifted).
    emb = _t(spark, sf, "embeddings")
    old = emb.filter(F.col("vec_id") % 5 != 3)
    new = emb.filter(F.col("vec_id") % 5 == 3)
    return similarity.embedding_drift(old, new, centroid_stride=100)


def q_ann_label_noise(spark, sf):
    # confident-learning-lite: every labeled vector classified by its 5
    # nearest neighbors in the same corpus; per-label neighborhood
    # disagreement rate = the re-review shortlist for the labeling team.
    from staticql_spark.operators.classify import label_noise_report

    return label_noise_report(_t(spark, sf, "embeddings"), k=5)


def q_doc_chunk_dedup(spark, sf):
    # C4-style exact unit dedup (Raffel et al. 2020): non-overlapping
    # 8-token chunks, drop any chunk seen in >= 2 distinct docs,
    # reassemble. The text crosses one shuffle; chunk strings never do
    # (the frequency count runs on 16-byte md5 keys and the reassembly
    # re-slices kept positions map-side — dedup.chunk_dedup).
    docs = _t(spark, sf, "documents")
    return dedup.chunk_dedup(docs, width=8, min_docs=2)


def q_doc_shuffle_shards(spark, sf):
    # deterministic global training shuffle: seeded md5 key, shard = key
    # mod 8, pos = rank of key within shard — computed two-phase (rank
    # within (shard, high-bits bucket) + broadcast base offsets), never
    # one row_number per shard, so no whale partitions at corpus scale.
    docs = _t(spark, sf, "documents")
    return text.shuffle_shards(docs, n_shards=8, seed="shuf1", pos_buckets=64)


def q_bpe_fertility(spark, sf):
    # tokenizer fertility by language bucket: subword-proxy pieces (the
    # TOKEN_RE regex tokenizer) per whitespace word, aggregated over
    # lang_id's prediction — the tokenizer-health metric multilingual
    # pipelines track (a lang whose fertility spikes is being shredded
    # into bytes). Two map-only frames joined on doc_id, one tiny agg.
    docs = _t(spark, sf, "documents")
    lang = text.lang_id(docs).select("doc_id", "lang_pred")
    tok = text.token_count(docs)
    return (
        lang.join(tok, "doc_id")
        .groupBy("lang_pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws_tokens").cast("long").alias("ws_total"),
            F.sum("re_tokens").cast("long").alias("re_total"),
            F.round(
                F.when(
                    F.sum("ws_tokens") > 0,
                    F.sum("re_tokens").cast("double") / F.sum("ws_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("fertility"),
        )
    )


def q_range_followups(spark, sf):
    # bucketed range join: events within 5 minutes AFTER each click, same
    # user — equi join on (user, time-bucket), never a cross join; the
    # left-outer "zeros included" shape composes as count + join-back.
    ev = load_events(spark, f"{sf}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    matched = asof.range_join(
        clicks,
        ev.select(
            "user_id", "ts",
            F.col("event_id").alias("f_event"),
            F.col("event_type").alias("f_type"),
        ),
        on="user_id", left_ts="ts", right_ts="ts",
        lower_us=0, upper_us=300_000_000, include_lower=False,
        right_cols=["f_event", "f_type"],
    )
    counts = matched.groupBy("event_id").agg(
        F.count("f_event").alias("n_followups"),
        F.sum((F.col("f_type") == "purchase").cast("long")).alias("n_purchases"),
    )
    return clicks.join(counts, "event_id", "left").select(
        "event_id",
        "user_id",
        F.coalesce("n_followups", F.lit(0)).alias("n_followups"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
    )


def q_kmv_distinct(spark, sf):
    # KMV (bottom-k) distinct sketch: deterministic md5-hash estimator
    # next to the exact count — the oracle-checkable cousin of HLL
    orders = _t(spark, sf, "orders")
    return sketch.kmv_distinct(orders, "o_custkey", k=256)


def q_cm_heavy_hitters(spark, sf):
    # count-min sketch: frequency estimates (upper bounds) for a probe
    # set next to exact counts; the sketch is depth x width counts, so
    # the shuffle is O(1) regardless of input size
    ev = load_events(spark, f"{sf}/events.parquet")
    return sketch.cm_estimate(
        ev, "user_id", probes=["1", "2", "3", "999999"], depth=4, width=256
    )


def q_full_outer_activity(spark, sf):
    # full outer join: overdrawn customers vs urgent-order counts — rows
    # survive from either side (the one outer-join form no other query
    # exercises); dims coalesce into one key
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    left = c.filter(F.col("c_acctbal") < 0).select(
        "c_custkey", F.round("c_acctbal", 2).alias("neg_bal")
    )
    right = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_urgent"))
    )
    return left.join(
        right, left["c_custkey"] == right["o_custkey"], "full_outer"
    ).select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "neg_bal",
        F.coalesce("n_urgent", F.lit(0)).alias("n_urgent"),
    )


def q_events_props_json(spark, sf):
    # semi-structured metadata: extract a JSON field from the props column
    # (JVM-side get_json_object, no UDF) and aggregate over its buckets
    ev = load_events(spark, f"{sf}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


# =====================================================================
# text analysis / dedup / similarity (training-data pipeline surface)
# =====================================================================


def q_order_value_percentiles(spark, sf):
    # ordered-set aggregates: exact interpolated percentiles per group
    # (percentile() is Spark's exact linear-interpolation variant — matches
    # DuckDB quantile_cont; approx_percentile would NOT hash-match)
    o = _t(spark, sf, "orders")
    pcts = F.expr("percentile(o_totalprice, array(0.5D, 0.95D))")
    return (
        o.groupBy("o_orderpriority")
        .agg(pcts.alias("_p"), F.count("*").alias("n_orders"))
        .select(
            "o_orderpriority",
            F.round(F.col("_p").getItem(0), 2).alias("p50_value"),
            F.round(F.col("_p").getItem(1), 2).alias("p95_value"),
            "n_orders",
        )
        .orderBy("o_orderpriority")
    )


def q_rollup_agg(spark, sf):
    # multi-level aggregation: GROUP BY ROLLUP (free via Catalyst Expand)
    o = _t(spark, sf, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


def q_exists_subquery(spark, sf):
    # EXISTS (correlated) -> left_semi at plan level
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 100000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def q_anti_join(spark, sf):
    # NOT EXISTS -> left_anti: parts never shipped
    p = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem")
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select(
        "p_partkey", "p_name"
    )


def q_conditional_pivot(spark, sf):
    # pivot-style conditional aggregation (engine-portable CASE form)
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0.0)), 2).alias("qty_open"),
        F.round(F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0.0)), 2).alias("qty_filled"),
        F.count("*").alias("n_rows"),
    )


def q_scalar_subquery(spark, sf):
    # orders above the global average price (scalar subquery -> broadcast)
    o = _t(spark, sf, "orders")
    avg_price = o.select(F.avg("o_totalprice").alias("ap"))
    return (
        o.crossJoin(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.col("ap") * 1.5)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def q_union_distinct(spark, sf):
    # set op: union of two customer segments, distinct keys
    c = _t(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 7500.0).select("c_custkey")
    return a.union(b).distinct()


def q_salted_hot_key_agg(spark, sf):
    # skew path: two-phase salted aggregation (operators.skew) — result is
    # identical to a plain GROUP BY, which is exactly what the oracle runs
    from staticql_spark.operators.skew import two_phase_agg

    li = _t(spark, sf, "lineitem")
    out = two_phase_agg(li, "l_returnflag", "l_quantity", salts=16)
    return out.select(
        "l_returnflag",
        F.round(F.col("sum_l_quantity"), 2).alias("sum_qty"),
        "n_rows",
        F.round(F.col("avg_l_quantity"), 4).alias("avg_qty"),
    )


def q_doc_tokens(spark, sf):
    return text.token_count(_t(spark, sf, "documents"))


def q_doc_quality(spark, sf):
    return text.quality_score(_t(spark, sf, "documents"))


def q_doc_lang(spark, sf):
    return text.lang_id(_t(spark, sf, "documents"))


def q_doc_fingerprint(spark, sf):
    return text.fingerprint(_t(spark, sf, "documents"))


def q_stratified_sample(spark, sf):
    # training-data mixture control: deterministic per-language quotas
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "source")
    return text.hash_sample(
        docs, {"en": 0.5, "ja": 0.25, "de": 0.1}, strata_col="lang"
    )


def q_doc_split_leakfree(spark, sf):
    # cluster-aware split: the md5 draw runs on each doc's near-dup
    # component representative, so a near-dup pair can never straddle
    # train/eval (the leakage a per-doc hash split allows)
    docs = _t(spark, sf, "documents")
    comp = _lsh_components_cached(spark, sf)  # r8: shared CC artifact
    return dedup.leakfree_split(docs, None, components=comp).select(
        "doc_id", "rep", "split"
    )


def q_bpe_pair_counts(spark, sf):
    # one BPE merge round's counting step: top adjacent-token pairs
    return text.bpe_pair_counts(_t(spark, sf, "documents"), top_k=100)


def q_bpe_train(spark, sf):
    # full BPE merge LEARNING, 4 rounds: vocab-collapse once, then per
    # round one map-side-combined pair agg + 1-row argmax broadcast back
    # for a map-only greedy merge (wrapped-symbol string replace ==
    # single-scan greedy). Deterministic throughout; the fixed round
    # count unrolls into the exact DuckDB twin (_bpe_train_sql).
    return text.bpe_train(_t(spark, sf, "documents"), merges=4)


def q_bpe_encode(spark, sf):
    # tokenize-under-trained-vocab stats: the encode runs over the
    # distinct-word vocab only (merges are a function of the word), so
    # the corpus totals come from word counts — no second corpus pass.
    return text.bpe_encode_stats(_t(spark, sf, "documents"), merges=4)


def q_doc_logreg(spark, sf):
    # learned quality/language classifier: full-batch GD logistic
    # regression (algebraic sigmoid — rational ops only, engine-exact)
    # predicting lang=='en' from surface stats. Per iteration: one
    # map-side-combined k-double gradient agg + a broadcast 1-row weight
    # crossJoin back over the corpus; fixed 2 iterations unroll into the
    # DuckDB twin (_logreg_sql). NumPy GD twin in tests/test_operators.py.
    feats = classify.english_surface_features(_t(spark, sf, "documents"))
    return classify.logreg_fit(
        feats, ["x_stop", "x_dia", "x_cjk", "x_bias"], iters=2, lr=4.0
    )


def q_doc_unigram_nll(spark, sf):
    # perplexity proxy: mean unigram -log2 p under the corpus's own
    # unigram LM (broadcast vocab; OOV floored at 1/total)
    return text.unigram_logprob(_t(spark, sf, "documents"))


def q_doc_curriculum(spark, sf):
    # curriculum ordering: difficulty decile of each doc within the
    # corpus quality distribution. Exact interpolated decile thresholds
    # (percentile() matches DuckDB quantile_cont) are ONE broadcast row;
    # the decile is the count of thresholds at or below the doc's score —
    # no global rank/ntile window over the corpus.
    docs = _t(spark, sf, "documents")
    scored = text.quality_score(docs, keep_cols=("lang",)).select(
        "doc_id", "lang", "quality"
    )
    # Thresholds rounded to 6 decimals: quality is 4-decimal and the decile
    # fractions are multiples of 0.1, so every exact interpolated threshold
    # is a multiple of 1e-5 — round(·, 6) recovers it exactly and removes
    # the engine-specific fp interpolation noise (e.g. DuckDB's
    # 0.9390000000000001 vs Spark's 0.939) that otherwise flips >= at ties.
    thr = scored.agg(
        F.expr(
            "transform(percentile(quality,"
            " array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D)),"
            " x -> round(x, 6))"
        ).alias("__thr")
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "lang",
        "quality",
        F.size(F.filter(F.col("__thr"), lambda t: F.col("quality") >= t))
        .cast("long")
        .alias("decile"),
    )


def q_events_pagerank(spark, sf):
    # graph propagation (new r5): PageRank over the bidirected user <-> item
    # click graph (item = props.k), 2 fixed power iterations so the DuckDB
    # oracle can unroll them (same strategy as ann_ivf_trained). Each
    # iteration: edges-join-ranks + one map-side-combined sum per node.
    return _pagerank_cached(spark, sf)  # r12: shared iteration artifact


def q_doc_weighted_sample(spark, sf):
    # Efraimidis-Spirakis weighted sample without replacement: md5-uniform
    # draw, key = u^(1/n_chars), rounded top-100 with id tiebreak
    docs = _t(spark, sf, "documents")
    return text.weighted_sample(docs, "n_chars", k=100).select(
        "doc_id", "n_chars", "ws_key"
    )


def q_doc_token_entropy(spark, sf):
    # information-density quality signal: Shannon entropy of each doc's
    # token distribution (repetitive docs -> low bits)
    return text.token_entropy(_t(spark, sf, "documents"))


def q_kmv_union(spark, sf):
    # KMV sketch ALGEBRA: ndv(A ∪ B) from two independently-built bottom-k
    # sketches (halves of lineitem split by order parity) — the merge path
    # that lets per-partition/per-day sketches compose without re-scanning
    li = _t(spark, sf, "lineitem")
    return sketch.kmv_union_distinct(
        li.filter(F.col("l_orderkey") % 2 == 0),
        li.filter(F.col("l_orderkey") % 2 == 1),
        "l_partkey",
        k=256,
    )


def q_events_sequences(spark, sf):
    # behavioral-LM training corpus: per-user time-ordered token sequence
    # ("type:item"), one groupBy with an in-row sort of the collected
    # struct array — (ts, event_id) order is total, so the string is
    # deterministic on both engines
    ev = load_events(spark, f"{sf}/events.parquet")
    tok = F.concat(
        F.col("event_type"),
        F.lit(":"),
        F.coalesce(F.get_json_object("props", "$.k"), F.lit("_")),
    )
    return (
        ev.select("user_id", "ts", "event_id", tok.alias("tok"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "tok"))
                    ),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("seq"),
        )
    )


def q_zorder_layout(spark, sf):
    # Z-order layout keys (new r5): bucket (l_partkey, l_suppkey) over
    # their min-max ranges (1-row agg broadcast back), interleave bits —
    # the write-side clustering key that gives BOTH columns min/max
    # pruning power in the produced files
    from staticql_spark.operators.layout import range_bucket, zorder_key

    li = _t(spark, sf, "lineitem")
    rng = li.agg(
        F.min("l_partkey").alias("__plo"),
        F.max("l_partkey").alias("__phi"),
        F.min("l_suppkey").alias("__slo"),
        F.max("l_suppkey").alias("__shi"),
    )
    b = li.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey").crossJoin(
        F.broadcast(rng)
    )
    z = zorder_key(
        [
            range_bucket(F.col("l_partkey"), F.col("__plo"), F.col("__phi"), 256),
            range_bucket(F.col("l_suppkey"), F.col("__slo"), F.col("__shi"), 256),
        ],
        bits=8,
    )
    return b.select("l_orderkey", "l_linenumber", z.alias("zkey"))


def q_events_retention(spark, sf):
    # cohort retention (new r5): users grouped by first-activity day
    # (cohort), counted by day offset of each later active day -- the
    # classic engagement matrix, two keyed aggregations and one join
    ev = load_events(spark, f"{sf}/events.parquet")
    day = F.to_date("ts")
    active = ev.select("user_id", day.alias("d")).distinct()
    cohort = active.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        active.join(cohort, "user_id")
        .groupBy("cohort_day", F.datediff(F.col("d"), F.col("cohort_day")).alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def q_dedup_cluster_stats(spark, sf):
    # duplicate-cluster size distribution (new r5): how much of the corpus
    # sits in near-dup clusters of each size -- the dedup health report
    docs = _t(spark, sf, "documents")
    comp = _lsh_components_cached(spark, sf)  # r8: shared CC artifact
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .withColumn("n_docs", F.col("cluster_size") * F.col("n_clusters"))
    )


def q_embedding_top_pc(spark, sf):
    # corpus anisotropy diagnostic (new r5): dominant principal direction
    # by 2 unrolled power iterations (RNG-free init; oracle unrolls both).
    # Unpivoted to (dim_idx, component) scalar rows -- the value-hash
    # compare handles scalars, not arrays.
    pc = similarity.power_iteration_pc(_t(spark, sf, "embeddings"), iters=2, dim=64)
    return pc.select(F.posexplode("pc").alias("dim_idx", "component"))


def q_corr_matrix(spark, sf):
    # single-pass Pearson correlation matrix (new r5): every moment from
    # ONE map-side-combined aggregation, pairs assembled arithmetically
    from staticql_spark.operators.profile import corr_matrix

    return corr_matrix(
        _t(spark, sf, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


def q_langid_confusion(spark, sf):
    # language-ID self-evaluation (new r5): confusion matrix of the n-gram
    # heuristic against the corpus's labeled lang column -- the quality
    # gate for the classifier itself, one count per (label, prediction)
    docs = _t(spark, sf, "documents")
    pred = text.lang_id(docs).select("doc_id", "lang_pred")
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )


def q_quality_quantile_norm(spark, sf):
    # cross-source score normalization (new r5): percent-rank of quality
    # WITHIN each source, so heterogeneous sources compare on a common
    # [0,1] scale (source-fair curriculum / mixing); one window per source
    docs = _t(spark, sf, "documents")
    scored = text.quality_score(docs, keep_cols=("source",)).select(
        "doc_id", "source", "quality"
    )
    w = W.partitionBy("source").orderBy("quality")
    return scored.select(
        "doc_id", "source", "quality",
        F.round(F.percent_rank().over(w), 6).alias("q_norm"),
    )


def q_scd2_history(spark, sf):
    # SCD type-2 snapshot history (new r5): bootstrap at ts=100, merge the
    # same simulated second snapshot as corpus_diff at ts=200 -- the
    # version-history table a 100 TB corpus keeps for time travel
    from staticql_spark.operators.scd import scd2_merge, scd2_open

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    hist = scd2_open(docs, "doc_id", ["text"], ts=100)
    snap2 = (
        docs.filter(F.col("doc_id") % 17 != 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    out = scd2_merge(hist, snap2, "doc_id", ["text"], ts=200)
    return out.select(
        "doc_id", "valid_from", "valid_to", F.md5("text").alias("fp")
    )


def q_events_decayed(spark, sf):
    # time-decayed engagement (new r5): exponentially weighted event value
    # per user, half-life 1 day against the corpus max ts (deterministic
    # reference point, broadcast back). Map-only weighting + one combine.
    ev = load_events(spark, f"{sf}/events.parquet")
    us = asof.epoch_us(ev, "ts")
    ref = ev.agg(F.max(us).alias("__ref"))
    half_us = 86_400_000_000.0
    w = F.pow(F.lit(0.5), (F.col("__ref") - us).cast("double") / F.lit(half_us))
    return (
        ev.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.round(F.sum(F.col("value") * w), 6).alias("decayed_value"),
            F.count("*").alias("n_events"),
        )
    )


def q_corpus_diff(spark, sf):
    # snapshot diff (new r5): status per doc between two corpus snapshots
    # (added / deleted / modified / unchanged by content fingerprint) --
    # one full outer join on the id, md5 fingerprints computed map-side.
    # The simulated "new" snapshot drops ids % 17 == 0, modifies % 5 == 0.
    docs = _t(spark, sf, "documents")
    old = docs.select("doc_id", F.md5("text").alias("fp_old"))
    new = (
        docs.filter(F.col("doc_id") % 17 != 0)
        .withColumn(
            "text2",
            F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text")),
        )
        .select("doc_id", F.md5("text2").alias("fp_new"))
    )
    j = old.join(new, "doc_id", "full_outer")
    return j.select(
        "doc_id",
        F.when(F.col("fp_old").isNull(), "added")
        .when(F.col("fp_new").isNull(), "deleted")
        .when(F.col("fp_old") != F.col("fp_new"), "modified")
        .otherwise("unchanged")
        .alias("status"),
    )


def q_ann_hybrid_rrf(spark, sf):
    # hybrid retrieval (new r5): reciprocal-rank fusion of the IVF and
    # LSH candidate lists -- two cheap approximate passes whose fused
    # ranking beats either alone, merged on the tiny result sets only
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    ivf = similarity.ivf_topk(queries, emb, k=5, nprobe=3)
    lsh = similarity.lsh_topk(queries, emb, k=5)
    return similarity.rrf_fuse([ivf, lsh], rrf_k=60, top=5)


def q_events_next_prediction(spark, sf):
    # next-event-prediction training pairs (new r5): per user-event, the
    # ordered context of up to 8 preceding event tokens + the event as
    # label — the sliding-window example generator for a behavioral LM.
    # One window spec (ts, event_id total order), no self-joins.
    ev = load_events(spark, f"{sf}/events.parquet")
    tok = F.concat(
        F.col("event_type"),
        F.lit(":"),
        F.coalesce(F.get_json_object("props", "$.k"), F.lit("_")),
    )
    wn = W.partitionBy("user_id").orderBy("ts", "event_id")
    wc = wn.rowsBetween(-8, -1)
    return (
        ev.select("user_id", "ts", "event_id", tok.alias("tok"))
        .withColumn("pos", F.row_number().over(wn))
        .withColumn("context", F.array_join(F.collect_list("tok").over(wc), " "))
        .filter(F.col("pos") >= 2)
        .select("user_id", "pos", "context", F.col("tok").alias("label"))
    )


def _ivf_vs_exact(spark, sf):
    # The shared IVF-vs-exact ranking pair (approx, exact) behind every
    # ranking-eval key: stride-50 queries, top-5 on both paths, nprobe 3.
    # The Spark twin of the oracle's _IVF_VS_EXACT_CTES, so the
    # derivation cannot drift between keys on either engine.
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return (
        similarity.ivf_topk(queries, emb, k=5, nprobe=3),
        similarity.cosine_topk(queries, emb, k=5),
    )


def q_ann_recall(spark, sf):
    # ANN self-evaluation: recall@5 of the IVF path against the exact
    # brute-force top-5 over the same query set — the metric that
    # justifies (or vetoes) an approximate index in a retrieval pipeline.
    # One global aggregate over the rank_overlap of the two result sets.
    both = F.col("rank_a").isNotNull() & F.col("rank_b").isNotNull()
    return (
        similarity.rank_overlap(*_ivf_vs_exact(spark, sf))
        .agg(
            F.count("rank_b").alias("n_exact_pairs"),
            F.count(F.when(both, 1)).alias("n_hits"),
        )
        .select(
            "n_exact_pairs",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_exact_pairs"), 4).alias("recall_at_5"),
        )
    )


def q_doc_training_manifest(spark, sf):
    # the flagship composition (new r5): everything a training run needs
    # about every document in ONE declarative program — leak-free
    # train/val/test split over near-dup clusters, curriculum decile from
    # the corpus quality distribution, and the packed 512-token chunk
    # span.  Three doc_id-keyed joins; each subtree keeps its own scale
    # shape (bucketed LSH, broadcast thresholds, two-phase prefix sum).
    docs = _t(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, n=3, num_hashes=16, bands=4, threshold=0.2)
    split = dedup.leakfree_split(docs, pairs).select("doc_id", "split")
    scored = text.quality_score(docs).select("doc_id", "quality")
    thr = scored.agg(
        F.expr(
            "transform(percentile(quality,"
            " array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D)),"
            " x -> round(x, 6))"
        ).alias("__thr")
    )
    decile = scored.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "quality",
        F.size(F.filter(F.col("__thr"), lambda t: F.col("quality") >= t))
        .cast("long")
        .alias("decile"),
    )
    pack = text.pack_sequences(docs, seq_len=512).select(
        "doc_id", "n_tokens", "chunk_first", "chunk_last"
    )
    return (
        pack.join(split, "doc_id")
        .join(decile, "doc_id")
        .select(
            "doc_id", "split", "quality", "decile",
            "n_tokens", "chunk_first", "chunk_last",
        )
    )


def q_skew_report(spark, sf):
    # shuffle-key skew diagnostic (new r5): heaviest event users with row
    # share and multiple-of-mean -- the pre-flight check for salting
    ev = load_events(spark, f"{sf}/events.parquet")
    from staticql_spark.operators.skew import skew_report

    return skew_report(ev, "user_id", top=10)


def q_price_histogram(spark, sf):
    # exact equi-width histogram (new r5): one bounded groupBy, boundary
    # bins bit-identical across engines via a fixed operation order
    from staticql_spark.operators.profile import histogram

    return histogram(_t(spark, sf, "lineitem"), "l_extendedprice", 0.0, 100000.0, 20)


def q_table_profile(spark, sf):
    # single-pass data-quality audit (new r5): nulls / exact ndv / native
    # min-max per column, unpivoted to one row per column
    from staticql_spark.operators.profile import table_profile

    return table_profile(
        _t(spark, sf, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
    )


def q_fuzzy_match(spark, sf):
    # entity resolution (new r5): probe names are part names with the 3rd
    # character deterministically dropped (so both engines build identical
    # probes); fuzzy_join blocks candidates on shared character 3-grams
    # and verifies with exact Levenshtein <= 1 — never a cross join
    from staticql_spark.operators.fuzzy import fuzzy_join

    part = _t(spark, sf, "part")
    probes = part.filter(F.col("p_partkey") % 20 == 0).select(
        F.col("p_partkey").alias("probe_id"),
        F.concat(
            F.substring("p_name", 1, 2), F.expr("substring(p_name, 4)")
        ).alias("probe_name"),
    )
    return fuzzy_join(
        probes,
        part.select("p_partkey", "p_name"),
        left_key="probe_name",
        right_key="p_name",
        left_id="probe_id",
        right_id="p_partkey",
        max_distance=1,
    ).select("probe_id", "p_partkey", "probe_name", "p_name", "distance")


def q_events_funnel(spark, sf):
    # ordered funnel: first click -> first view strictly after it ->
    # first purchase strictly after that, per user; one summary row of
    # stage survivors. Each stage is a keyed min-aggregate + equi join on
    # user_id — no window over the whole event stream.
    from staticql_spark.operators import _persist_scoped

    ev = load_events(spark, f"{sf}/events.parquet")
    # clicks feeds views AND the summary join; views feeds purchases AND
    # the summary join — unpinned, the summary's three inputs re-derive
    # the chain from raw events 1+2+3 times (r13).  Pinned, each per-user
    # MIN frame is computed once.
    clicks = _persist_scoped(
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    views = _persist_scoped(
        ev.filter(F.col("event_type") == "view")
        .join(clicks, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(views, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        clicks.join(views, "user_id", "left")
        .join(purchases, "user_id", "left")
        .agg(
            F.count("t1").alias("n_clicked"),
            F.count("t2").alias("n_viewed_after"),
            F.count("t3").alias("n_purchased_after"),
        )
    )


def q_pipeline_clean_corpus(spark, sf):
    # the full cleaning pipeline as ONE declarative DataFrame program:
    # near-dup keep-set (MinHash-LSH + connected components) -> benchmark
    # decontamination against the eval split -> quality cut. No stage
    # materializes; Catalyst plans the whole graph at once. Scoring is a
    # pass-through projection (keep_cols), not a join-back, so the dedup
    # subtree is computed once.
    docs = _t(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, n=3, num_hashes=16, bands=4, threshold=0.2)
    kept = dedup.dedup_keep(docs, pairs)
    corpus = kept.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    clean = text.decontaminate_keep(corpus, bench, n=5, min_shared=1)
    scored = text.quality_score(clean, keep_cols=("lang", "source"))
    return scored.filter(F.col("quality") >= 0.5).select(
        "doc_id", "lang", "source", "quality"
    )


def q_doc_pack(spark, sf):
    # tokenize-and-pack: map every doc's token span onto fixed 512-token
    # training sequences. The global token offset is a two-phase prefix
    # sum (per-md5-bucket windows + a |buckets|-row base-offset window) —
    # never one global single-partition window.
    return text.pack_sequences(_t(spark, sf, "documents"), seq_len=512)


def q_doc_rebalance(spark, sf):
    # mixture rebalancing: downsample strata toward a declared target
    # mixture (en 60 / ja 20 / de 20); the binding stratum survives whole,
    # the rest are md5-bucket-thinned to keep the ratios. One map-side
    # filter pass over the corpus; only |strata| rows aggregate.
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "source")
    return text.rebalance_sample(
        docs, {"en": 0.6, "ja": 0.2, "de": 0.2}, strata_col="lang"
    )


def q_doc_winnow(spark, sf):
    # winnowing fingerprints over a slice (rolling-hash family; bounded rows)
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return text.winnow_fingerprints(docs, k=8, window=4)


def q_doc_pii(spark, sf):
    # PII scrub plumbing check: the synthetic docs carry no natural PII, so
    # deterministic emails/phones/IPs derived from doc_id are injected into
    # the text IDENTICALLY on both engines, then counted + redacted
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 2000)
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1 555 "),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" 9876 via 10.1."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    return text.pii_scrub(docs.select("doc_id", injected.alias("text")))


def q_doc_repetition(spark, sf):
    return text.repetition_score(_t(spark, sf, "documents"))


def q_doc_decontaminate(spark, sf):
    # benchmark decontamination: every 10th doc plays the eval set; corpus
    # docs sharing any 5-gram with it are flagged with their overlap count.
    # The benchmark gram set is broadcast — the corpus never shuffles.
    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return text.decontaminate(corpus, bench, n=5, min_shared=1)


def q_doc_decontaminate_bloom(spark, sf):
    # the same contamination answer via the fixed-size-broadcast Bloom
    # prefilter (16 KiB bitmap regardless of bench-set size) + exact
    # verify — the scale path when the bench gram set outgrows broadcast.
    # Oracle twin == doc_decontaminate's (the bloom is transparent).
    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return text.decontaminate_bloom(corpus, bench, n=5, min_shared=1)


def q_doc_gopher(spark, sf):
    # the published Gopher quality rules, map-only, report form
    return text.gopher_rules(_t(spark, sf, "documents"))


def q_doc_quality_filter(spark, sf):
    # distribution-based filtering: keep docs at or above their language's
    # exact median quality — the per-stratum percentile cut a corpus
    # curator applies instead of one global threshold. The (tiny) per-lang
    # median table broadcasts back against the scored corpus.
    docs = _t(spark, sf, "documents")
    q = text.quality_score(docs).select("doc_id", "quality")
    ql = q.join(docs.select("doc_id", "lang"), "doc_id")
    med = ql.groupBy("lang").agg(F.expr("percentile(quality, 0.5D)").alias("med"))
    return (
        ql.join(F.broadcast(med), "lang")
        .filter(F.col("quality") >= F.col("med"))
        .select("doc_id", "lang", "quality", F.round("med", 4).alias("lang_median"))
    )


def q_doc_normalize(spark, sf):
    # canonical normalization (lowercase, strip punctuation, collapse ws)
    # with md5 dedup key and token count — map-only regexp chain
    return text.normalize_corpus(_t(spark, sf, "documents"))


def q_doc_term_df(spark, sf):
    # inverted-index statistics: the 50 highest-document-frequency terms —
    # the posting-list size table a search-index planner reads; distinct
    # terms per doc explode map-side, one uniform-key shuffle counts df
    from staticql_spark.operators.dedup import normalize_text

    docs = _t(spark, sf, "documents")
    terms = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(text.tokens(normalize_text(F.col("text"))))
        ).alias("term"),
    ).filter(F.col("term") != "")
    return (
        terms.groupBy("term")
        .agg(F.count("*").alias("df_docs"))
        .orderBy(F.col("df_docs").desc(), F.col("term"))
        .limit(50)
    )


def q_doc_selfdedup(spark, sf):
    # substring-level self-dedup (Lee et al. n-gram formulation): share of
    # each doc's 5-grams already owned by an earlier doc
    return text.selfdedup_grams(_t(spark, sf, "documents"), n=5, threshold=0.5)


def q_corpus_report(spark, sf):
    # mixture report: token mass and corpus share per (lang, source)
    return text.corpus_report(_t(spark, sf, "documents"))


def q_doc_bm25(spark, sf):
    # BM25 keyword retrieval: top-50 docs for a fixed query bag; scores
    # rounded before ranking so the order is engine-portable
    return text.bm25_rank(
        _t(spark, sf, "documents"), terms=["spark", "hash", "table"], k=50
    )


def q_embedding_quantize(spark, sf):
    # symmetric int8 quantization of the embedding column, summarized in
    # exact-integer code stats (list cells would crash the comparator)
    return similarity.quantize_int8(_t(spark, sf, "embeddings"))


def q_doc_split(spark, sf):
    # reproducible train/val/test split: the md5 bucket that decides a
    # doc's split never changes when other docs appear — rows can be
    # added to a corpus without reshuffling anyone's assignment
    docs = _t(spark, sf, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split1|"), F.col("doc_id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars_total"))
    )


def q_dedup_exact(spark, sf):
    return dedup.exact_dedup(_t(spark, sf, "documents"))


def q_doc_dup_spans(spark, sf):
    """Exact duplicated-substring spans (cross-doc repeated >= 20 chars),
    merged to maximal extents — the substring-level dedup pass of
    Lee et al. 2022, k-gram formulation (dedup.duplicated_spans)."""
    return dedup.duplicated_spans(
        _t(spark, sf, "documents"), k=20, anchor_mod=1
    )


def q_doc_dup_spans_anchored(spark, sf):
    """The petabyte path of duplicated_spans: content-defined anchor
    sampling (hash % 4 == 0) with merge_gap widened to bridge anchor
    gaps — deterministic, so it gets a full oracle too."""
    return dedup.duplicated_spans(
        _t(spark, sf, "documents"), k=20, anchor_mod=4, merge_gap=8
    )


def q_doc_dup_excise(spark, sf):
    """Substring-dedup excision: cut the cross-doc duplicated spans out of
    every document (dedup.excise_spans over dedup.duplicated_spans)."""
    docs = _t(spark, sf, "documents")
    spans = dedup.duplicated_spans(docs, k=20, anchor_mod=1)
    return dedup.excise_spans(docs, spans)


def q_dedup_minhash_sig(spark, sf):
    sh = dedup.shingles(_t(spark, sf, "documents"), n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=8)
    return sig.select(
        "doc_id", *[F.col("sig").getItem(i).alias(f"h{i}") for i in range(8)]
    )


def q_dedup_minhash_lsh(spark, sf):
    return dedup.minhash_lsh_pairs(
        _t(spark, sf, "documents"), n=3, num_hashes=16, bands=4, threshold=0.2
    )


def q_dedup_incremental(spark, sf):
    # incremental dedup: 20% of the corpus arrives as a NEW batch; the
    # other 80% contributes only its persisted (id, band, key) index +
    # shingle arrays. Emits exactly the full run's pairs that touch a new
    # doc — old x old never re-pairs (cost tracks the batch, not the
    # accumulated corpus). Oracle: full-corpus LSH pipeline restricted to
    # new-touching pairs.
    # r8: the old side is a PERSISTED LSH index (dedup.lsh_build/lsh_load
    # — the named job minhash_index's docstring promised), so the query
    # pays index-read cost, not a re-shingle of the accumulated corpus.
    docs = _t(spark, sf, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    idx = _lsh_index_old(spark, sf)
    return dedup.incremental_lsh_pairs(
        new, idx.bands, idx.shingles,
        n=3, num_hashes=16, bands=4, threshold=0.2,
    )


def q_dedup_jaccard_hist(spark, sf):
    # similarity-distribution report over the near-dup pairs: decile bins
    # of exact Jaccard — the table a dedup-threshold owner reads before
    # picking the cut; one extra tiny aggregate over the pair output
    pairs = _lsh_pairs_cached(spark, sf)  # r8: shared pairs artifact
    bin_ = F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("int")
    return pairs.groupBy(bin_.alias("bin")).agg(
        F.count("*").alias("n_pairs"),
        F.round(F.min("jaccard"), 6).alias("min_j"),
        F.round(F.max("jaccard"), 6).alias("max_j"),
    )


def q_grouping_sets_agg(spark, sf):
    # explicit GROUPING SETS (finer control than cube/rollup): status-only,
    # year-only, and grand-total planes in one pass
    o = _t(spark, sf, "orders").select(
        "o_orderstatus", F.year("o_orderdate").alias("o_year"), "o_totalprice"
    )
    return o.groupingSets(
        [["o_orderstatus"], ["o_year"], []], "o_orderstatus", "o_year"
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.grouping_id().alias("gid"),
    )


def q_dedup_components(spark, sf):
    # duplicate CLUSTERS from near-dup pairs: min-label propagation over
    # the LSH pair graph (the step that turns pairwise evidence into a
    # keep-one-per-cluster decision)
    # r8: the CC frame is itself a shared artifact (iterative job)
    return _lsh_components_cached(spark, sf)


def q_dedup_keep(spark, sf):
    # end-to-end near-dup dedup: the kept document set (cluster
    # representatives + untouched docs) after LSH pairing + clustering
    docs = _t(spark, sf, "documents")
    comp = _lsh_components_cached(spark, sf)  # r8: shared CC artifact
    return dedup.dedup_keep(docs, None, components=comp).select(
        "doc_id", "lang", "source"
    )


def q_dedup_ngram_jaccard(spark, sf):
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2)


def q_dedup_lsh_recall(spark, sf):
    # self-evaluation of the LSH candidate generator: recall of the
    # banded MinHash pipeline against exact shingle-blocked Jaccard
    # ground truth at the same threshold, on the doc_id<500 sub-corpus
    # (same bench-cost guard as dedup_ngram_jaccard). Both pipelines
    # share doc_shingles, so the gap measured is banding recall alone.
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
    # ONE shingle computation feeds both pipelines (dsh=...) — shingling
    # is the dominant map cost and the eval's point is comparing candidate
    # GENERATION, which must see identical shingle sets anyway. truth
    # feeds both the denominator count and the semi join; the shared
    # cache pins it (a lazy localCheckpoint was A/B-measured to only
    # shift ~2 s from exec into construct — stage-overhead-bound here).
    dsh = dedup.doc_shingles(docs, n=3).cache()
    # r13: truth is consumed twice (denominator + semi join), and each
    # consumer re-derived the whole exact-Jaccard pipeline (block join +
    # verify) downstream of the cached shingles — the scoped persist
    # halves that work (pairs are the tiny decision frame).
    truth = dedup._persist_scoped(
        dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2, dsh=dsh).select(
            "id_a", "id_b"
        )
    )
    lsh = dedup.minhash_lsh_pairs(
        docs, n=3, num_hashes=16, bands=4, threshold=0.2, dsh=dsh
    ).select("id_a", "id_b")
    hits = truth.join(lsh, ["id_a", "id_b"], "leftsemi")
    return (
        truth.agg(F.count("*").alias("n_true"))
        .crossJoin(hits.agg(F.count("*").alias("n_hit")))
        .select(
            "n_true",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_true"), 4).alias("recall"),
        )
    )


def q_dedup_semantic(spark, sf):
    # SemDeDup: k-means cells (trained, 2 Lloyd iterations) as the
    # blocking key, within-cell cosine pairs — never a corpus cross join.
    # Same 0.35 threshold rationale as embedding_neardup (synthetic
    # embeddings top out near 0.43). r8: the pairs frame is the shared
    # materialized evaluation (_semantic_pairs_cached) it co-owns with
    # dedup_semantic_keep.
    return _semantic_pairs_cached(spark, sf)


def q_dedup_semantic_keep(spark, sf):
    # full SemDeDup: cluster-blocked cosine pairs -> connected components
    # -> keep cluster representatives + untouched vectors. r8: consumes
    # the shared materialized pairs frame instead of re-running
    # train + assign + within-cell self-join at construct.
    emb = _t(spark, sf, "embeddings")
    comp = _semantic_components_cached(spark, sf)  # r8: shared CC artifact
    return dedup.dedup_keep(emb, None, id_col="vec_id", components=comp).select(
        "vec_id"
    )


def q_dedup_semantic_incr(spark, sf):
    # incremental SemDeDup: 20% of the embeddings arrive as a new batch;
    # centroids frozen from the old corpus, old side reduced to touched
    # cells, old x old never pairs. Oracle: the full old-trained pipeline
    # restricted to new-touching pairs (the cap counts commute).
    emb = _t(spark, sf, "embeddings")
    # batch residue 3 (NOT 0): the deterministic stride-100 centroid init
    # picks vec_id % 100 == 0 ids, all of which have residue 0 mod 5 — a
    # residue-0 batch would strip every init vector from the old corpus
    new = emb.filter(F.col("vec_id") % 5 == 3)
    old = emb.filter(F.col("vec_id") % 5 != 3)
    # r8: the frozen old-corpus fit is a shared persisted artifact (the
    # deploy-time contract made literal — the incremental path must
    # assign against the centroids the index snapshot was built with,
    # so persisting them IS the semantics, not just a cache)
    cents = _artifact(
        spark,
        ("kmeans_old", sf),
        lambda: similarity.kmeans_fit(old, centroid_stride=100, iters=2),
    )
    return dedup.incremental_semantic_pairs(
        new, old, threshold=0.35, centroids=cents
    )


def q_dedup_simhash(spark, sf):
    return dedup.simhash(_t(spark, sf, "documents"))


def q_simhash_pairs(spark, sf):
    return dedup.simhash_pairs(_t(spark, sf, "documents"), max_hamming=12)


def q_ann_cosine_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.cosine_topk(queries, emb, k=5)


def q_ann_quantized(spark, sf):
    # memory-compressed retrieval: top-k cosine over int8 codes — the
    # dot/norms are exact integer sums (no float-order hazard), scales
    # cancel out of cosine so codes compare directly
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.quantized_topk(queries, emb, k=5)


def q_embedding_neardup(spark, sf):
    # synthetic embeddings top out near cosine 0.43; 0.35 keeps the tail
    return dedup.embedding_neardup_pairs(_t(spark, sf, "embeddings"), threshold=0.35)


def q_ann_lsh(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.lsh_topk(queries, emb, k=5, dim=64, num_planes=6)


def q_ann_ivf(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.ivf_topk(queries, emb, k=5, centroid_stride=100, nprobe=3)


def q_stream_first_seen(spark, sf):
    """Batch twin of the applyInPandasWithState stateful dedup (the
    streaming execution itself is exercised in tests/test_streaming.py)."""
    from staticql_spark.streaming import load_events, streaming_first_seen

    ev = load_events(spark, f"{sf}/events.parquet")
    return streaming_first_seen(ev, F.col("event_type"))


_MEDIA_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", "media_real.parquet"
)


def q_multimodal_features(spark, sf):
    # Real bytes -> header facts: payloads are actual PPM/WAV containers
    # (committed fixture, identical to multimodal.synthetic_media_real)
    # parsed by the pure-Python codecs via the Arrow-batched mapInPandas
    # boundary.  Emits only oracle-reproducible columns (length, hex-md5,
    # netpbm / RIFF header fields) so DuckDB can re-derive every value from
    # the same parquet blobs; the float feature vectors stay pytest-twinned
    # (tests/test_multimodal.py).
    media = spark.read.parquet(_MEDIA_FIXTURE)
    return multimodal.parse_headers(media)


def q_multimodal_ahash(spark, sf):
    # image near-dup by average-hash over the real PPM fixture rasters:
    # integer-exact bit rule (luma*npix > total), identical-hash families
    # with min-id canonical. Expression path for oracle parity; the
    # production path is the numpy twin over mapInPandas (pytest-locked).
    media = spark.read.parquet(_MEDIA_FIXTURE)
    return multimodal.image_ahash_small(media)


def q_exact_percentiles(spark, sf):
    # EXACT distributed quantiles by two-phase bucket counting — no
    # global sort, no driver collect, no per-group value buffering (the
    # memory hazard of SQL percentile at 100 TB). Shared rank definition
    # with the oracle: value at rank ceil(q*n), 1-based ascending.
    from staticql_spark.operators.profile import exact_quantiles

    li = _t(spark, sf, "lineitem")
    return exact_quantiles(li, "l_extendedprice", [0.25, 0.5, 0.9, 0.99])


def q_multimodal_audio_hash(spark, sf):
    # audio near-dup by energy-contour hash over the real WAV fixture
    # clips: signed int16 samples straight off the hex payload, 8 equal
    # blocks, bit = block energy * 8 > total — integer-exact, so the
    # oracle replays it bit-for-bit; numpy twin locked by pytest.
    media = spark.read.parquet(_MEDIA_FIXTURE)
    return multimodal.audio_energy_hash_small(media)


def q_fd_discovery(spark, sf):
    # functional-dependency discovery (the pairwise Metanome core) over
    # customer columns: c_nationkey -> c_mktsegment does NOT hold,
    # key -> anything holds — one two-column distinct agg per pair.
    from staticql_spark.operators.profile import fd_discovery

    cust = _t(spark, sf, "customer")
    return fd_discovery(cust, ["c_custkey", "c_nationkey", "c_mktsegment"])


def q_ri_report(spark, sf):
    # referential-integrity audit across the warehouse FK graph: orphan
    # counts/rates per relationship via left-anti joins on the keys.
    from staticql_spark.operators.profile import ri_report

    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    s = _t(spark, sf, "supplier")
    return ri_report(
        [
            ("lineitem.orderkey->orders", li, "l_orderkey", "", o, "o_orderkey"),
            ("orders.custkey->customer", o, "o_custkey", "", c, "c_custkey"),
            ("customer.nationkey->nation", c, "c_nationkey", "", n, "n_nationkey"),
            ("supplier.nationkey->nation", s, "s_nationkey", "", n, "n_nationkey"),
            ("lineitem.suppkey->supplier", li, "l_suppkey", "", s, "s_suppkey"),
        ]
    )


def q_dedup_chunk_incremental(spark, sf):
    # incremental C4 chunk dedup: the daily batch (doc_id % 5 == 0)
    # cleaned against the persisted chunk-frequency index of the old
    # corpus — a chunk drops when old+batch distinct-doc frequency hits
    # 2, so boilerplate the corpus has seen once is cut immediately.
    # Cost tracks the batch; the old corpus contributes (h, nd) rows only.
    # r8: the old-corpus chunk-frequency index is a shared persisted
    # artifact ((h, nd) longs — the snapshot a daily job would load)
    docs = _t(spark, sf, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    idx = _chunk_index_old(spark, sf)
    return dedup.incremental_chunk_dedup(new, idx, width=8, min_docs=2)


def q_kmv_join_estimate(spark, sf):
    # optimizer-style join-cardinality planning from per-table KMV
    # sketches: distinct custkeys on each side, union by sketch merge,
    # intersection by inclusion-exclusion — next to the exact twins for
    # calibration. All sketch math on <= 3k hash rows.
    from staticql_spark.operators.sketch import kmv_join_estimate

    return kmv_join_estimate(
        _t(spark, sf, "orders"), "o_custkey",
        _t(spark, sf, "customer"), "c_custkey",
        k=256,
    )


def q_events_bot_score(spark, sf):
    # bot/automation detection — a training-data curation gate (machine
    # traffic poisons behavioral corpora): per user, inter-event gap
    # regularity as the coefficient of variation computed EXACTLY in
    # integer microseconds (sum and sum-of-squares in decimal128, so
    # both engines agree bit-for-bit before the one rounded sqrt);
    # flag = high-volume + low-variance cadence.
    ev = load_events(spark, f"{sf}/events.parquet")
    ts_us = asof.epoch_us(ev, "ts")
    w = W.partitionBy("user_id").orderBy(ts_us, "event_id")
    gap = ts_us - F.lag(ts_us).over(w)
    g = ev.select("user_id", gap.alias("_g")).filter(F.col("_g").isNotNull())
    agg = g.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("_g").cast("decimal(38,0)").alias("_s"),
        F.sum(F.col("_g").cast("decimal(38,0)") * F.col("_g")).alias("_s2"),
    )
    n = F.col("n_gaps").cast("double")
    s = F.col("_s").cast("double")
    s2 = F.col("_s2").cast("double")
    cv = F.when(
        F.col("_s") > 0,
        F.sqrt(F.greatest(n * s2 - s * s, F.lit(0.0))) / s,
    ).otherwise(F.lit(0.0))
    return agg.select(
        "user_id",
        "n_gaps",
        F.floor(F.col("_s").cast("double") / F.col("n_gaps")).cast("long").alias("mean_gap_us"),
        F.round(cv, 6).alias("gap_cv"),
        ((F.col("n_gaps") >= 20) & (cv < 0.5)).alias("bot_flag"),
    )


def q_doc_vocab_drift(spark, sf):
    # vocabulary-distribution drift between corpus versions: token mass
    # in 512 hashed buckets (dsir idiom — bounded state), smoothed
    # shares, per-bucket PSI terms; the text twin of embedding_drift.
    docs = _t(spark, sf, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    return text.vocab_drift(old, new, buckets=512)


def q_pipeline_media_manifest(spark, sf):
    # composed multimodal curation: image aHash + audio energy-hash
    # families reduced to their canonical members — the dedup manifest a
    # media-heavy training pipeline ships (one row per kept asset with
    # its fingerprint and family size). Oracle composes the two hash
    # oracles verbatim (see oracle_sql()).
    media = spark.read.parquet(_MEDIA_FIXTURE)
    imgs = (
        multimodal.image_ahash_small(media)
        .filter(F.col("media_id") == F.col("canonical"))
        .select(
            "media_id",
            F.lit("image").alias("kind"),
            F.col("ahash").cast("string").alias("fingerprint"),
            F.col("n_dups").alias("family_size"),
        )
    )
    auds = (
        multimodal.audio_energy_hash_small(media)
        .filter(F.col("media_id") == F.col("canonical"))
        .select(
            "media_id",
            F.lit("audio").alias("kind"),
            F.col("ehash").cast("string").alias("fingerprint"),
            F.col("n_dups").alias("family_size"),
        )
    )
    return imgs.unionByName(auds)


def q_dedup_triangles(spark, sf):
    # local clustering of the near-dup graph: per-doc triangle counts
    # over the LSH pair edges (degree-oriented wedge enumeration — the
    # O(sqrt(E)) fan-out bound that survives hub nodes). Dense template
    # clusters triangle-close; borderline chains don't. Oracle composes
    # the dedup_minhash_lsh pair SQL verbatim (see oracle_sql()).
    from staticql_spark.operators.graph import triangle_counts

    pairs = _lsh_pairs_cached(spark, sf)  # r8: shared pairs artifact
    return triangle_counts(pairs, src="id_a", dst="id_b")


def q_events_ppr(spark, sf):
    # personalized PageRank — graph-based data selection: restart mass
    # pinned to a seed user set (user_id % 100 == 0), rank = multi-hop
    # proximity to the seeds through the bidirected user<->item click
    # graph; unreachable nodes stay at exactly 0. Two unrolled rounds
    # (no dangling on a bidirected graph, so the oracle drops that term).
    from staticql_spark.operators.graph import personalized_pagerank

    ev = load_events(spark, f"{sf}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click")
    base = clicks.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("k:"), F.get_json_object("props", "$.k")).alias("dst"),
    ).distinct()
    edges = base.unionByName(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = (
        clicks.filter(F.col("user_id") % 100 == 0)
        .select(F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("node"))
        .distinct()
    )
    return personalized_pagerank(edges, seeds, iters=2)


def q_ann_pq_recall(spark, sf):
    # PQ self-evaluation: recall@5 of the ADC path against the exact L2
    # top-5 (same rounded-sqdist boundary) — the number that says how
    # much ranking quality the 64x compression costs on THIS corpus.
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    idx = _pq_index(spark, sf)  # r8: shared persisted index, no retrain
    approx = pq.pq_adc_topk(
        queries, idx.codes, idx.codebooks, k=5, m=4, dim=64
    ).select("query_id", "neighbor_id")
    # exact is consumed twice (semi-join probe + n_exact_pairs): pinned
    # so the exact-L2 pass runs once (r13). |Q|·k rows.
    exact = dedup._persist_scoped(
        pq.l2_topk(queries, emb, k=5).select("query_id", "neighbor_id")
    )
    hits = approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
    return (
        exact.agg(F.count("*").alias("n_exact_pairs"))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .select(
            "n_exact_pairs",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_exact_pairs"), 4).alias("recall_at_5"),
        )
    )


def q_supplier_pareto(spark, sf):
    # ABC / Pareto analysis: suppliers ranked by revenue, cumulative
    # share, class A (<= 80%), B (<= 95%), C (rest). The window runs on
    # the |suppliers|-row AGGREGATE, never the raw lineitem stream — the
    # scale-honest way to do a "global" cumulative share.
    # Cardinality CONTRACT (r8 verdict #6): the single-partition rank is
    # sized for aggregate tables up to ~1M rows; the assert_true guard
    # below is a pure JVM expression folded into the rnk column (zero
    # extra jobs) that fails the query LOUDLY if a 100x supplier table
    # would otherwise silently serialize through one task — the fix at
    # that scale is the two-phase bucketed prefix-sum idiom (text.py
    # doc_pack), not a bigger window.
    li = _t(spark, sf, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    wtot = rev.agg(F.sum("revenue").alias("__tot"))
    w = W.orderBy(F.col("revenue").desc(), F.col("l_suppkey").asc())
    rn = F.row_number().over(w)
    guarded_rn = F.coalesce(
        F.assert_true(
            rn <= F.lit(1_000_000),
            F.lit(
                "supplier_pareto: global rank input exceeded its 1M-row "
                "cardinality contract — use a two-phase bucketed prefix sum"
            ),
        ).cast("int"),
        rn,
    )
    ranked = (
        rev.crossJoin(F.broadcast(wtot))
        .withColumn("rnk", guarded_rn)
        .withColumn(
            "cum_share",
            F.round(
                F.sum("revenue").over(
                    w.rowsBetween(W.unboundedPreceding, W.currentRow)
                )
                / F.col("__tot"),
                6,
            ),
        )
    )
    return ranked.select(
        "l_suppkey",
        "revenue",
        "rnk",
        "cum_share",
        F.when(F.col("cum_share") <= 0.80, F.lit("A"))
        .when(F.col("cum_share") <= 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


def q_doc_ccnet_buckets(spark, sf):
    # CCNet head/middle/tail (Wenzek et al. 2020): per-language exact
    # perplexity terciles over the unigram-NLL proxy; integer 3*rank vs n
    # decision, two-phase rank (no per-language whale windows).
    return text.ccnet_buckets(_t(spark, sf, "documents"))


def q_ann_ivfpq_recall(spark, sf):
    # the eval triad's third leg: recall@5 of the composed IVF-PQ path
    # (cell pruning ON TOP of quantization) vs exact L2 — separates the
    # pruning loss from ann_pq_recall's pure quantization loss.
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    idx = _pq_index(spark, sf)  # r8: shared persisted index, no retrain
    approx = pq.ivfpq_topk(
        queries, emb, idx.codes.drop("cell"), idx.codebooks,
        k=5, m=4, dim=64, coarse_stride=100, nprobe=3,
    ).select("query_id", "neighbor_id")
    # exact is consumed twice (semi-join probe + n_exact_pairs): pinned
    # so the exact-L2 pass runs once (r13). |Q|·k rows.
    exact = dedup._persist_scoped(
        pq.l2_topk(queries, emb, k=5).select("query_id", "neighbor_id")
    )
    hits = approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
    return (
        exact.agg(F.count("*").alias("n_exact_pairs"))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .select(
            "n_exact_pairs",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_exact_pairs"), 4).alias("recall_at_5"),
        )
    )


def q_events_cohort_ltv(spark, sf):
    # cohort lifetime value: purchase value accumulated by day-offset per
    # first-activity cohort — the revenue twin of events_retention. The
    # running sum windows over the (cohort, offset) AGGREGATE (tiny
    # frame), never the raw event stream; per-user normalization rides in
    # from the cohort-size join.
    ev = load_events(spark, f"{sf}/events.parquet")
    day = F.to_date("ts")
    first = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", day.alias("d"), "value"
    )
    per_off = (
        purchases.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.round(F.sum("value"), 4).alias("day_value"))
    )
    sizes = first.groupBy("cohort_day").agg(
        F.count("*").cast("long").alias("cohort_users")
    )
    w = (
        W.partitionBy("cohort_day")
        .orderBy("day_offset")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        per_off.join(sizes, "cohort_day")
        .withColumn("cum_value", F.round(F.sum("day_value").over(w), 4))
        .select(
            "cohort_day",
            "day_offset",
            "day_value",
            "cum_value",
            "cohort_users",
            F.round(F.col("cum_value") / F.col("cohort_users"), 6).alias(
                "ltv_per_user"
            ),
        )
    )


def q_grouped_percentiles(spark, sf):
    # per-group EXACT quantiles, same two-phase counting scheme and rank
    # definition as exact_percentiles — window partitions are (group,
    # bucket), never a whole group.
    from staticql_spark.operators.profile import grouped_exact_quantiles

    li = _t(spark, sf, "lineitem")
    return grouped_exact_quantiles(
        li, "l_extendedprice", "l_returnflag", [0.5, 0.9, 0.99]
    )


def q_robust_outliers(spark, sf):
    # median/MAD outlier report over event values: exact median and MAD
    # (two two-phase quantile passes, shared rank definition), robust
    # z = |x-med|/(1.4826*MAD). r7-window candidate (tail-registered).
    from staticql_spark.operators.profile import robust_outlier_summary

    ev = load_events(spark, f"{sf}/events.parquet")
    return robust_outlier_summary(ev, "value", z_thresh=3.5)


def q_kmeans_inertia(spark, sf):
    # clustering-quality report over the trained IVF centroids: per-cell
    # count + within-cell SSE (the Lloyd objective) — the geometry twin
    # of ann_cell_balance. d2 from 6dp-rounded dots, exact DECIMAL sum.
    # r7-window candidate (tail-registered).
    emb = _t(spark, sf, "embeddings")
    cents = _kmeans_centroids(spark, sf)  # r8: shared persisted fit
    return similarity.kmeans_inertia(emb, cents)


def q_doc_ngram_coverage(spark, sf):
    # corpus-wide eval-coverage aggregate (GPT-3/Pile overlap-appendix
    # question): what fraction of the eval set's distinct 5-grams the
    # training corpus contains at all. Bench grams broadcast; the only
    # exchange carries <= |bench grams| rows. r7-window candidate.
    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return text.ngram_coverage(corpus, bench, n=5)


def q_shard_checksums(spark, sf):
    # order-independent per-shard content checksums (XOR of 60-bit md5
    # row digests; md5(id)-assigned shards) — export validation / data
    # versioning: re-verifying an export is one map-side pass and a
    # mismatch localizes to 1/16 of the corpus. r7-window candidate.
    from staticql_spark.operators.shards import shard_checksums

    docs = _t(spark, sf, "documents")
    return shard_checksums(
        docs, ["text", "lang", "source", "n_chars"], n_shards=16
    )


def q_events_dau_wau(spark, sf):
    # engagement stickiness: daily actives vs trailing-7-day actives
    # (DAU/WAU). The trailing-distinct is exact via a bounded 7x explode
    # of the DISTINCT (user, day) frame — never of raw events — so the
    # shuffle grows with active-days, not event volume. r7-window cand.
    ev = load_events(spark, f"{sf}/events.parquet")
    active = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    dau = active.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))
    contrib = active.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("d"),
    )
    wau = contrib.groupBy("d").agg(F.countDistinct("user_id").alias("wau"))
    return dau.join(wau, "d").select(
        F.col("d").alias("day"),
        "dau",
        "wau",
        F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
    )


def q_events_time_to_convert(spark, sf):
    # conversion-latency percentiles: per user, first click -> first
    # subsequent purchase, latency in integer microseconds (exact in both
    # engines), then the shared two-phase exact-quantile machinery over
    # the derived frame. r7-window candidate (tail-registered).
    from staticql_spark.operators.asof import epoch_us
    from staticql_spark.operators.profile import exact_quantiles

    ev = load_events(spark, f"{sf}/events.parquet")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    lat = (
        purchases.join(clicks, "user_id")
        .filter(F.col("ts") >= F.col("c_ts"))
        .groupBy("user_id", "c_ts")
        .agg(F.min("ts").alias("p_ts"))
    )
    lat = lat.select(
        (epoch_us(lat, "p_ts") - epoch_us(lat, "c_ts")).alias("latency_us")
    )
    return exact_quantiles(lat, "latency_us", [0.5, 0.9, 0.99])


def q_checksum_delta(spark, sf):
    # corpus-version diff via XOR checksum algebra: v2 = v1 with doc 13
    # dropped and doc 7 edited — exactly the touched shards flag changed,
    # every other shard compares equal, so a consumer re-ships 2/16 of
    # the corpus. r7-window candidate (tail-registered).
    from staticql_spark.operators.shards import checksum_delta

    docs = _t(spark, sf, "documents")
    v2 = docs.filter(F.col("doc_id") != 13).withColumn(
        "text",
        F.when(F.col("doc_id") == 7, F.lit("tampered")).otherwise(F.col("text")),
    )
    return checksum_delta(docs, v2, ["text", "lang", "source", "n_chars"], n_shards=16)


def q_doc_dedup_funnel(spark, sf):
    # curation-funnel observability: survivor count and retained share
    # after each pipeline stage (raw -> exact dedup -> eval holdout ->
    # decontamination -> quality cut) — the per-stage loss report every
    # production pipeline publishes. Five count aggregates, each subtree
    # the stage's own shape; nothing materializes. r7-window candidate.
    docs = _t(spark, sf, "documents")
    # Each funnel stage's frame is consumed by its own count AND by the
    # next stage's derivation; unpinned, the expensive subtrees (exact
    # dedup, the n-gram decontamination) re-ran once per consumer (r13).
    # keepers/held are id-width; decon is the surviving-doc frame.
    keepers = dedup._persist_scoped(dedup.exact_dedup(docs))
    held = dedup._persist_scoped(
        keepers.filter(F.col("doc_id") % 10 != 0).select("doc_id")
    )
    held_docs = docs.join(held, "doc_id")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    decon = dedup._persist_scoped(
        text.decontaminate_keep(held_docs, bench, n=5, min_shared=1)
    )
    qual = text.quality_score(decon).filter(F.col("quality") >= 0.5)

    def stage(df, idx, name):
        return df.agg(F.count("*").cast("long").alias("n_docs")).select(
            F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"), "n_docs"
        )

    funnel = (
        stage(docs, 1, "raw")
        .unionByName(stage(keepers, 2, "exact_dedup"))
        .unionByName(stage(held, 3, "eval_holdout"))
        .unionByName(stage(decon, 4, "decontaminated"))
        .unionByName(stage(qual, 5, "quality"))
    )
    raw = docs.agg(F.count("*").cast("double").alias("__raw"))
    return funnel.crossJoin(F.broadcast(raw)).select(
        "stage_idx",
        "stage",
        "n_docs",
        F.round(F.col("n_docs") / F.col("__raw"), 6).alias("retained_pct"),
    )


def q_events_lpa(spark, sf):
    # label-propagation communities over the bidirected user <-> item
    # click graph: the density-driven complement to connected components
    # (a bridge edge merges components but not LPA labels). 2 synchronous
    # rounds, min-label tie-break — RNG-free, so the oracle unrolls both
    # rounds exactly. r7-window candidate (tail-registered).
    from staticql_spark.operators.graph import label_propagation

    ev = load_events(spark, f"{sf}/events.parquet")
    base = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
            F.concat(F.lit("k:"), F.get_json_object("props", "$.k")).alias("dst"),
        )
        .distinct()
    )
    edges = base.union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return label_propagation(edges, iters=2)


def q_ann_rnn_pairs(spark, sf):
    # reciprocal nearest neighbors (mutual top-10): the hub-robust near-
    # dup criterion — one-directional neighbor lists are asymmetric in
    # dense regions, mutuality filters the hubs. Exact baseline here;
    # neighbors= injects ANN lists at scale. r7-window candidate.
    emb = _t(spark, sf, "embeddings")
    return similarity.reciprocal_topk_pairs(emb, k=10)


def q_quality_gate_report(spark, sf):
    # per-source Gopher rule kill rates: which rule drops what source —
    # the gate observability report next to doc_gopher's per-doc flags.
    # One |sources|-row aggregate over the map-only rule metrics.
    # r7-window candidate (tail-registered).
    return text.gopher_gate_report(_t(spark, sf, "documents"), strata_col="source")


def q_events_forecast_baseline(spark, sf):
    # seasonal-naive backtest: per event type, MAE of predicting each
    # day's total value from 1 day back vs 7 days back — the baseline
    # pair every forecasting deploy must beat. Daily totals round at 4
    # (the events_windowed precedent), lags/diffs on the tiny per-type
    # day frame. r7-window candidate (tail-registered).
    from pyspark.sql import Window as W

    ev = load_events(spark, f"{sf}/events.parquet")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.round(F.sum("value"), 4).alias("v"))
    )
    w = W.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "d",
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 7).over(w).alias("v7"),
    ).filter(F.col("v7").isNotNull())
    return lagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(F.avg(F.abs(F.col("v") - F.col("v1"))), 6).alias("mae_naive1"),
        F.round(F.avg(F.abs(F.col("v") - F.col("v7"))), 6).alias("mae_seasonal7"),
    )


def q_dedup_minhash_1bit(spark, sf):
    # b-bit minhash self-eval (Li & König 2010, b=1): for every LSH-
    # verified pair, exact Jaccard vs the 1-bit-signature estimate
    # J ~ max(2A-1, 0) — the 64x-smaller-signature accuracy report
    # (the PQ-recall pattern applied to minhash). A is a multiple of
    # 1/16, so the estimate is engine-exact. r7-window candidate.
    docs = _t(spark, sf, "documents")
    return dedup.minhash_1bit_estimate(
        docs, n=3, num_hashes=16, bands=4, threshold=0.2
    )


def q_orders_backlog(spark, sf):
    # open-orders-per-day via the sweep line: +1 at order date, -1 the
    # day after the order's last shipment — 2 delta rows per order, the
    # running sum runs on the per-DAY aggregate (calendar-bounded), never
    # a per-interval day explode. r7-window candidate (tail-registered).
    from staticql_spark.operators.asof import interval_concurrency

    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    ends = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max("l_shipdate").alias("__end")
    )
    spans = o.select("o_orderkey", F.col("o_orderdate").alias("__start")).join(
        ends, "o_orderkey"
    )
    return interval_concurrency(spans, "__start", "__end")


def _lpa_clicks_edges(spark, sf):
    """Bidirected user<->item click edges split at 2024-01-21 — shared by
    events_lpa_incr and the lpa_prior artifact build."""
    from staticql_spark.operators.graph import label_propagation  # noqa: F401

    ev = load_events(spark, f"{sf}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("k:"), F.get_json_object("props", "$.k")).alias("dst"),
        F.to_date("ts").alias("d"),
    )
    split = F.lit("2024-01-21").cast("date")

    def bidirect(base):
        b = base.distinct()
        return b.union(
            b.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    old_edges = bidirect(clicks.filter(F.col("d") < split).select("src", "dst"))
    new_edges = bidirect(clicks.filter(F.col("d") >= split).select("src", "dst"))
    return old_edges, new_edges


def _lpa_prior(spark, sf):
    """Persisted prior community assignment (2-round LPA over the first
    20 days) — the snapshot a daily incremental fold loads; build timed
    by build_artifacts."""
    from staticql_spark.operators.graph import label_propagation

    old_edges, _ = _lpa_clicks_edges(spark, sf)
    return _artifact(
        spark, ("lpa_prior", sf), lambda: label_propagation(old_edges, iters=2)
    )


def q_events_lpa_incr(spark, sf):
    # incremental LPA: fold the last-10-days click edges into the first-
    # 20-days community assignment — the graph member of the incremental
    # family (cost tracks the batch: messages travel over NEW edges
    # only, untouched nodes pass through). 1 incr round over a 2-round
    # prior, both unrolled in the oracle. r7-window candidate.
    from staticql_spark.operators.graph import label_propagation_incr

    _, new_edges = _lpa_clicks_edges(spark, sf)
    # r8: the prior assignment is the persisted community snapshot a
    # daily fold would load (iterative LPA = construct-time work)
    return label_propagation_incr(_lpa_prior(spark, sf), new_edges, iters=1)


def q_pipeline_release_manifest(spark, sf):
    # corpus-release composition: exact dedup -> quality cut -> per-shard
    # XOR content checksums of the surviving corpus — the verifiable
    # release manifest a downstream consumer diffs against (the
    # checksum_delta input). Each stage keeps its standalone shape; no
    # stage materializes. r7-window candidate (tail-registered).
    from staticql_spark.operators.shards import shard_checksums

    docs = _t(spark, sf, "documents")
    uniq = docs.join(dedup.exact_dedup(docs).select("doc_id"), "doc_id")
    scored = text.quality_score(uniq, keep_cols=("lang", "source", "n_chars", "text"))
    kept = scored.filter(F.col("quality") >= 0.5).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    return shard_checksums(kept, ["text", "lang", "source", "n_chars"], n_shards=16)


def _contaminated_spans_cached(spark, sf):
    """ONE contaminated_spans evaluation feeding BOTH span-decon keys
    (doc_contamination_by_source + doc_decontaminate_excise — r7 verdict
    #6): the char-gram islands machinery is the heaviest soak operator
    (24.8 s exec at 500k docs), and both keys consume the identical
    (corpus % 10 != 0) x (bench % 10 == 0, k=20) spans frame.  Spans are
    pure longs, so the parquet hop is value-exact."""

    def build():
        docs = _t(spark, sf, "documents")
        corpus = docs.filter(F.col("doc_id") % 10 != 0)
        bench = docs.filter(F.col("doc_id") % 10 == 0)
        return dedup.contaminated_spans(corpus, bench, k=20)

    return _artifact(spark, ("spans", sf), build)


def q_doc_decontaminate_excise(spark, sf):
    # span-level decontamination: excise the exact character ranges that
    # share a 20-char gram with the eval tenth, instead of dropping the
    # whole doc — a page quoting one eval question loses the quote, not
    # the page. Bench gram hashes broadcast; same islands merge + excise
    # machinery as substring dedup. r8: the spans frame is the shared
    # materialized evaluation (_contaminated_spans_cached) it co-owns
    # with doc_contamination_by_source.
    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    spans = _contaminated_spans_cached(spark, sf)
    return dedup.excise_spans(corpus, spans)


def q_events_funnel_windowed(spark, sf):
    # conversion-window funnel: each step must land within 45 minutes of
    # the previous step's time (the constraint real funnels use) — same
    # chained keyed-MIN plan as events_funnel_steps with one extra
    # inclusive bound per stage. New in r7.
    from staticql_spark.operators.behavior import funnel_report

    ev = load_events(spark, f"{sf}/events.parquet")
    return funnel_report(
        ev, ["signup", "view", "click", "purchase"], max_gap_minutes=45
    )


def q_stream_psi(spark, sf):
    # live drift monitor, batch-fallback twin: freeze the old snapshot's
    # decile grid + counts at construct (bounded collects — the deploy
    # step), then the streaming aggregate maintains only the <= n_buckets
    # new-side counts; batch path emits the full report, which equals
    # profile_psi exactly (shared oracle). Stream-vs-batch equality is
    # locked by test_stream_numeric_psi_matches_batch. New in r7.
    from staticql_spark.operators.profile import exact_quantiles, numeric_psi
    from staticql_spark.streaming import stream_numeric_psi

    docs = _t(spark, sf, "documents")
    v2 = docs.filter((F.col("doc_id") % 10 != 0) & (F.col("n_chars") <= 400))
    qs = [k / 10 for k in range(1, 10)]
    edges = sorted(
        {r["value"] for r in exact_quantiles(docs, "n_chars", qs).collect()}
    )
    old_counts = [
        r["n_old"]
        for r in numeric_psi(docs, v2, "n_chars").orderBy("bucket").collect()
    ]
    return stream_numeric_psi(v2, edges, old_counts, "n_chars")


def q_doc_contamination_by_source(spark, sf):
    # WHICH source leaks eval content: per-source contaminated-doc rate
    # + duplicated character mass over the span-decon machinery — the
    # drill-down that turns "0.4% contaminated" into "crawl batch X is
    # the problem". Left join keeps clean sources as zero rows. r8: the
    # spans frame is the shared materialized evaluation
    # (_contaminated_spans_cached) it co-owns with
    # doc_decontaminate_excise.
    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    spans = _contaminated_spans_cached(spark, sf)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("__dup_chars")
    )
    j = corpus.select("doc_id", "source", "n_chars").join(per_doc, "doc_id", "left")
    return j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("__dup_chars").isNotNull().cast("int"))
        .cast("long")
        .alias("n_contaminated"),
        F.round(
            F.sum(F.col("__dup_chars").isNotNull().cast("int"))
            / F.count(F.lit(1)),
            6,
        ).alias("contaminated_rate"),
        F.coalesce(F.sum("__dup_chars"), F.lit(0)).cast("long").alias("dup_chars"),
        F.round(
            F.coalesce(F.sum("__dup_chars"), F.lit(0))
            / F.sum("n_chars"),
            6,
        ).alias("dup_char_share"),
    )


def q_stream_shard_ck(spark, sf):
    # live shard checksums, batch-fallback twin: the same (shard_id,
    # n_rows, xor_checksum) the streaming aggregate maintains; stream-vs-
    # batch equality is locked by test_stream_shard_checksums_matches_batch.
    # r7-window candidate (tail-registered).
    from staticql_spark.streaming import stream_shard_checksums

    docs = _t(spark, sf, "documents")
    return stream_shard_checksums(docs, ["text", "lang", "source", "n_chars"])


def q_pipeline_curate_mixture(spark, sf):
    # end-to-end curation pipeline as ONE declarative program: quality
    # cut -> exact dedup -> per-source cap -> DSIR weighting vs the 'en'
    # target -> per-source mixture report. No stage materializes;
    # Catalyst plans the whole chain (the dedup/cap subtrees are
    # semi-join reductions, the DSIR LM is a broadcast table).
    docs = _t(spark, sf, "documents")
    q = text.quality_score(docs).select("doc_id", "quality")
    kept = docs.join(q.filter(F.col("quality") >= 0.5).select("doc_id"), "doc_id")
    uniq = kept.join(dedup.exact_dedup(kept).select("doc_id"), "doc_id")
    # NOT pinned (r13): capped is consumed 3x (dsir corpus + target +
    # the final mixture join) and a pin halves the exec, but the cached
    # partition layout reorders F.avg(dsir_w)'s double summation and the
    # 4dp mean landed across a rounding boundary at sf0.01 (-11.0511 ->
    # -11.051, oracle mismatch). Values win over speed; the internal
    # dsir_weights LM pins (order-free counts) keep what is safe.
    capped = text.cap_per_stratum(uniq, cap=20, strata_col="source")
    w = text.dsir_weights(capped, capped.filter(F.col("lang") == "en"), buckets=4096)
    return (
        w.join(capped.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(F.avg("dsir_w"), 4).alias("mean_dsir"),
        )
    )


def q_events_attribution(spark, sf):
    # linear multi-touch attribution: each purchase's value is split
    # equally across the same user's clicks in the preceding hour.
    # Composes the bucketed range_join (never a cross join) with one
    # per-purchase window (touch count) and one per-click aggregation —
    # two narrow shuffles over the matched pairs only.
    ev = load_events(spark, f"{sf}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("c_id")
    )
    matched = asof.range_join(
        purchases,
        clicks,
        on="user_id", left_ts="ts", right_ts="ts",
        lower_us=-3_600_000_000, upper_us=0,
        include_lower=True, include_upper=False,
        right_cols=["c_id"],
    )
    w = W.partitionBy("p_id")
    shared = matched.withColumn("__n", F.count("*").over(w))
    return (
        shared.groupBy("c_id", "user_id")
        .agg(
            F.count("*").alias("n_touches"),
            F.round(F.sum(F.col("value") / F.col("__n")), 4).alias("attr_value"),
        )
        .select(F.col("c_id").alias("event_id"), "user_id", "n_touches", "attr_value")
    )


def q_doc_source_cap(spark, sf):
    # RefinedWeb-style per-domain cap: at most 15 docs per source, chosen
    # by the deterministic md5 draw (unbiased within-stratum sample,
    # reproducible across engines and stable under repartitioning)
    return text.cap_per_stratum(
        _t(spark, sf, "documents"), cap=15, strata_col="source"
    ).select("doc_id", "source", "strat_rank")


def q_doc_dsir(spark, sf):
    # DSIR importance resampling: weight every doc by how 'en'-like its
    # hashed-unigram distribution is (target LM = the lang='en' subset,
    # raw LM = the whole corpus; add-1 smoothing over 4096 md5 buckets)
    docs = _t(spark, sf, "documents")
    return text.dsir_weights(docs, docs.filter(F.col("lang") == "en"), buckets=4096)


def q_ann_knn_classify(spark, sf):
    # k-NN label propagation / embedding eval: held-out rows (vec_id % 20
    # == 0) classified by majority vote of their 5 nearest neighbors in
    # the remaining corpus; deterministic (votes DESC, label ASC) tiebreak
    from staticql_spark.operators.classify import knn_classify

    emb = _t(spark, sf, "embeddings")
    return knn_classify(
        emb.filter(F.col("vec_id") % 20 == 0),
        emb.filter(F.col("vec_id") % 20 != 0),
        k=5,
    )


def q_doc_mixture_epochs(spark, sf):
    # data-constrained mixture plan: even token-budget split across
    # sources, epochs per stratum capped at 4 (Muennighoff-style repeats)
    return text.mixture_epochs(
        _t(spark, sf, "documents"), budget_tokens=200_000, strata_col="source"
    )


def q_ann_hard_negatives(spark, sf):
    # contrastive pair mining (new r6): per query vector, the 2 nearest
    # same-label neighbors (positives) and 3 nearest different-label
    # neighbors (hard negatives) — the triplet-loss example miner.
    # broadcast(queries) x corpus scan, per-(query,role) window rank.
    emb = _t(spark, sf, "embeddings")
    return similarity.hard_negatives(
        emb.filter(F.col("vec_id") % 50 == 0), emb, n_pos=2, n_neg=3
    )


def q_ann_cell_balance(spark, sf):
    # IVF index health (new r6): per-cell member count / share / multiple-
    # of-mean — the partition-balance check before persisting a
    # cell-partitioned ANN index (a 20x-mean cell is tomorrow's straggler)
    emb = _t(spark, sf, "embeddings")
    return similarity.ivf_cell_balance(emb, centroid_stride=100)


def q_embedding_class_sep(spark, sf):
    # embedding-space eval (new r6): per-label cohesion vs nearest
    # confusable class centroid + margin — silhouette-style check that an
    # embedding separates the label space
    emb = _t(spark, sf, "embeddings")
    return similarity.class_separation(emb, dim=64)


def q_doc_length_budget(spark, sf):
    # sequence-length planning (new r6): token-length histogram with
    # per-bin padding waste (unpacked batching at seq_len=64) and
    # truncation loss — the report that picks seq_len and justifies
    # packing. map-only + one bounded groupBy.
    docs = _t(spark, sf, "documents")
    return text.length_budget(docs, seq_len=64, bin_width=16)


def q_doc_vocab_coverage(spark, sf):
    # tokenizer vocab planning (new r6): corpus token-mass coverage of the
    # top-N terms for candidate vocab sizes — term counts once, each
    # top-N a distributed TakeOrdered (no global sort shuffle)
    docs = _t(spark, sf, "documents")
    return text.vocab_coverage(docs, vocab_sizes=[5, 10, 20])


def q_stream_kmv(spark, sf):
    # streaming per-group KMV sketch, batch-fallback twin (new r6): the
    # same columns the live applyInPandasWithState operator emits;
    # stream-vs-batch equality is locked by
    # test_stream_kmv_grouped_matches_batch
    from staticql_spark.streaming import load_events, stream_kmv_grouped

    ev = load_events(spark, f"{sf}/events.parquet")
    return stream_kmv_grouped(ev, k=64)


def q_kmv_grouped(spark, sf):
    # per-group distinct sketch (new r6): KMV distinct-user estimate per
    # event type next to its exact twin — the grouped sketch a daily
    # rollup persists instead of raw ids. WindowGroupLimit bounds the
    # per-group heap; sketches merge across days by KMV algebra.
    from staticql_spark.operators.sketch import kmv_grouped

    ev = load_events(spark, f"{sf}/events.parquet")
    return kmv_grouped(ev, "event_type", "user_id", k=64)


def q_dedup_canonical_meta(spark, sf):
    # near-dup cluster provenance (new r6): one row per duplicate family
    # (singletons included) with the canonical doc, member count, and the
    # consolidated lang/source sets + total bytes — the metadata a dedup
    # pass must KEEP when it drops members (provenance, license,
    # mixture accounting all live here)
    docs = _t(spark, sf, "documents")
    comp = _lsh_components_cached(spark, sf).select(  # r8: shared CC
        F.col("member_id").alias("doc_id"), "component_id"
    )
    rep = docs.join(comp, "doc_id", "left").withColumn(
        "rep", F.coalesce("component_id", F.col("doc_id"))
    )
    return rep.groupBy("rep").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").alias("n_docs"),
        F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
        F.sum(F.length("text")).alias("total_chars"),
    )


def q_dedup_containment(spark, sf):
    # asymmetric near-dup (new r6): shingle-set CONTAINMENT (Broder's
    # resemblance-vs-containment) — catches a short doc quoted inside a
    # long one, which Jaccard-targeting MinHash-LSH misses. KMV bottom-k
    # probe against the stop-shingle-capped inverted index.
    docs = _t(spark, sf, "documents")
    return dedup.containment_pairs(docs, n=3, probe_k=8, threshold=0.5)


def q_doc_term_pmi(spark, sf):
    # collocation mining (new r6): document-level PMI of term pairs, the
    # Church & Hanks association report; per-doc distinct-term cap bounds
    # the pair fan-out
    docs = _t(spark, sf, "documents")
    return text.term_pmi(docs, min_pair_df=5, top=100)


def q_doc_bigram_nll(spark, sf):
    # bigram LM perplexity proxy (new r6): add-1-smoothed conditional
    # NLL per doc — the word-order-sensitive LM quality signal one order
    # above doc_unigram_nll
    docs = _t(spark, sf, "documents")
    return text.bigram_logprob(docs)


def q_events_cooccurrence(spark, sf):
    # behavioral co-occurrence lift (new r6): event-type pairs appearing
    # in the same (user, day) far more often than chance — the
    # market-basket report over the event stream; distinct-per-group
    # bounds the pair fan-out at |types|^2
    ev = load_events(spark, f"{sf}/events.parquet")
    g = ev.select(
        "user_id", F.to_date("ts").alias("d"), "event_type"
    ).distinct()
    big_g = g.select("user_id", "d").distinct().agg(
        F.count("*").cast("double").alias("__G")
    )
    uni = g.groupBy("event_type").agg(F.count("*").alias("n_t"))
    pairs = (
        g.alias("x")
        .join(g.alias("y"), ["user_id", "d"])
        .filter(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    ua = uni.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    ub = uni.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(ua), "type_a")
        .join(F.broadcast(ub), "type_b")
        .crossJoin(F.broadcast(big_g))
        .select(
            "type_a", "type_b", "n_ab",
            F.round(
                F.col("n_ab") * F.col("__G") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
    )


def q_hll_distinct(spark, sf):
    # deterministic HyperLogLog (Flajolet et al. 2007) on the shared
    # 60-bit md5 hash: register ranks via exact-integer bit-length, the
    # harmonic sum kept as a LONG so the estimate is ONE IEEE division —
    # DuckDB reproduces every register and the estimate bit-for-bit.
    # Same column as kmv_distinct: the two sketch families side by side
    # (KMV = k hash rows re-ranked; HLL = 512 registers MAX-merged).
    # r7-window candidate (tail-registered).
    orders = _t(spark, sf, "orders")
    return sketch.hll_distinct(orders, "o_custkey")


def q_hll_union(spark, sf):
    # HLL sketch ALGEBRA: ndv(A ∪ B) by per-register MAX of two
    # independently-built sketches (halves of lineitem split by order
    # parity) — constant 4 KB per side no matter the input size; the
    # exact merge==union-sketch property is locked by
    # test_hll_merge_equals_union_sketch. r7-window candidate.
    li = _t(spark, sf, "lineitem")
    return sketch.hll_union_distinct(
        li.filter(F.col("l_orderkey") % 2 == 0),
        li.filter(F.col("l_orderkey") % 2 == 1),
        "l_partkey",
    )


def q_events_seasonality(spark, sf):
    # day-of-week seasonal index per event type: avg daily count on that
    # weekday / overall avg daily count — the multiplicative seasonality
    # table a seasonal-naive forecast (events_forecast_baseline) assumes.
    # dow is pure date arithmetic (days since a fixed Monday, mod 7) so
    # both engines agree without locale-dependent weekday functions; the
    # index is a ratio of two exact-integer averages. r7-window candidate.
    ev = load_events(spark, f"{sf}/events.parquet")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("n"))
    dowd = daily.withColumn(
        "dow", F.pmod(F.datediff(F.col("d"), F.lit("1970-01-05").cast("date")), 7)
    )
    per_dow = dowd.groupBy("event_type", "dow").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_days"),
    )
    overall = dowd.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("_tn"), F.count("*").cast("long").alias("_td")
    )
    dow_avg = F.col("n_events").cast("double") / F.col("n_days").cast("double")
    all_avg = F.col("_tn").cast("double") / F.col("_td").cast("double")
    return (
        per_dow.join(F.broadcast(overall), "event_type")
        .select(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            "n_days",
            "n_events",
            F.round(dow_avg, 6).alias("avg_daily"),
            F.round(dow_avg / all_avg, 6).alias("seasonal_index"),
        )
    )


def q_events_ldiversity(spark, sf):
    # l-diversity audit over the k-anon release cells: per (event_type,
    # day), distinct sensitive prop values (the homogeneity-attack check
    # k-anonymity alone misses — Machanavajjhala et al. 2007); ok flags
    # the cells a release policy may export. r7-window candidate.
    from staticql_spark.operators.privacy import ldiversity_report

    ev = load_events(spark, f"{sf}/events.parquet").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "user_id",
        F.get_json_object("props", "$.k").alias("sensitive"),
    )
    return ldiversity_report(
        ev, dims=["event_type", "day"], sensitive_col="sensitive", l=3,
        subject_col="user_id",
    )


def q_doc_vocab_growth(spark, sf):
    # Heaps'-law vocabulary growth checkpoints: cumulative tokens vs
    # cumulative distinct vocabulary at 10 doc-id cutoffs — the
    # "does the next TB still buy new vocabulary?" curve. Exact integer
    # rows; one explode + one term-level groupBy + ONE conditional agg
    # for all checkpoints. r7-window candidate (tail-registered).
    return text.vocab_growth(_t(spark, sf, "documents"))


def q_source_ablation(spark, sf):
    # leave-one-source-out data valuation (cheapest member): corpus
    # quality-keep rate with vs without each source, derived entirely
    # from the per-source aggregate + 1-row totals by subtraction — one
    # shuffle, never a per-source re-scan. r7-window candidate.
    return text.source_ablation(_t(spark, sf, "documents"))


def q_events_retention_curve(spark, sf):
    # cohort retention triangle WITH rates (the r5 events_retention key
    # keeps its raw-count matrix shape): one
    # row per (cohort_day, age) with still-active count + retention vs
    # the age-0 cohort size. The raw stream reduces to the distinct
    # (user, day) frame first — one map-side-combined agg — so raw
    # events never shuffle twice. New in r7.
    from staticql_spark.operators.behavior import retention_matrix

    ev = load_events(spark, f"{sf}/events.parquet")
    return retention_matrix(ev, max_age_days=30)



def q_events_funnel_steps(spark, sf):
    # ordered 4-step funnel (signup -> view -> click -> purchase), one
    # report ROW PER STEP with conversion ratios (the r5 events_funnel
    # key keeps its 1-row click->view->purchase summary shape): step
    # k counts users with a step-k event at/after their earliest
    # qualifying step-(k-1) time — a chain of per-user MINs on one user
    # key, never a per-user event collect. New in r7.
    from staticql_spark.operators.behavior import funnel_report

    ev = load_events(spark, f"{sf}/events.parquet")
    return funnel_report(ev, ["signup", "view", "click", "purchase"])


def q_profile_psi(spark, sf):
    # Population Stability Index of n_chars between the corpus and a
    # synthetic v2 (drop doc_id%10 + truncate the upper tail) — the
    # numeric member of the drift family (vocab_drift / embedding_drift
    # siblings): old-snapshot exact-decile buckets, +0.5-smoothed
    # shares, per-bucket (p_old-p_new)*ln(p_old/p_new). New in r7.
    from staticql_spark.operators.profile import numeric_psi

    docs = _t(spark, sf, "documents")
    v2 = docs.filter((F.col("doc_id") % 10 != 0) & (F.col("n_chars") <= 400))
    return numeric_psi(docs, v2, "n_chars")


def q_ann_semantic_decon(spark, sf):
    # semantic decontamination: corpus vectors within cosine 0.3 of ANY
    # benchmark vector (vec_id%10 split, the decontaminate convention) —
    # catches paraphrased eval leakage the span/ngram decon passes miss.
    # Sign-pattern blocked cross-set join, per-corpus-doc verdict row
    # (hit count + max cosine). New in r7.
    emb = _t(spark, sf, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    bench = emb.filter(F.col("vec_id") % 10 == 0)
    # 0.3 sits in the synthetic embeddings' near-orthogonal regime (max
    # cross-split cosine ~0.4); real text embeddings would use ~0.9
    pairs = dedup.cross_neardup_pairs(corpus, bench, threshold=0.3)
    return pairs.groupBy(F.col("id_a").alias("vec_id")).agg(
        F.count("*").cast("long").alias("n_bench_hits"),
        F.max("cosine").alias("max_cosine"),
    )


def q_events_attribution_lasttouch(spark, sf):
    # LAST-touch attribution (the linear multi-touch events_attribution
    # key keeps its per-click split): every purchase credits the user's latest
    # PRECEDING non-purchase event (the as-of join family's marketing
    # shape); per-channel purchase counts + exact revenue. Revenue sums
    # in integer cents (round(value*100) is exact on 2-dp data), so the
    # per-channel total is summation-order-free — the r6 class_sep
    # lesson applied up front. New in r7.
    ev = load_events(spark, f"{sf}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    touches = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", F.col("event_type").alias("channel"), "event_id"
    )
    j = asof.asof_join(
        purchases, touches, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["channel"], tiebreak="event_id",
    )
    return j.groupBy(
        F.coalesce(F.col("channel"), F.lit("(none)")).alias("channel")
    ).agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.round(F.sum("cents") / 100.0, 2).alias("revenue"),
    )


def q_stream_transitions(spark, sf):
    # live per-user transition chaining, batch-fallback twin: the same
    # (src_type, dst_type, n_pairs) the applyInPandasWithState operator
    # maintains with ONE state row per user; stream-vs-batch delta
    # equality is locked by test_stream_event_transitions_matches_batch.
    # New in r7.
    from staticql_spark.streaming import stream_event_transitions

    ev = load_events(spark, f"{sf}/events.parquet")
    return stream_event_transitions(ev)


def q_ann_pq_quant_error(spark, sf):
    # PQ index-quality audit: per-subspace mean/max L2² between each
    # subvector and its assigned codeword — the quantization-loss report
    # behind the ADC recall numbers (a lopsided subspace needs more
    # codes or an OPQ rotation). Same 6dp-rounded distances the encoder
    # minimizes, folded in decimal. New in r7.
    emb = _t(spark, sf, "embeddings")
    idx = _pq_index(spark, sf)  # r8: shared persisted index, no retrain
    return pq.pq_quant_error(emb, idx.codebooks, m=4, dim=64)


def q_doc_calibration(spark, sf):
    # reliability diagram: is the CHEAP per-doc quality score calibrated
    # against the EXPENSIVE Gopher gate? p = quality_score, y = gopher
    # keep; 10 fixed-width bins, decimal mean_p (order-free), integer
    # frac_pos — the audit behind any score-thresholded filter. New in
    # r7.
    docs = _t(spark, sf, "documents")
    q = text.quality_score(docs).select("doc_id", "quality")
    g = text.gopher_rules(docs).select(
        "doc_id", F.col("keep").cast("int").alias("y")
    )
    scored = q.join(g, "doc_id")
    return classify.calibration_report(scored, p_col="quality", label_col="y")


def q_events_session_paths(spark, sf):
    # top-20 session paths (first 5 event types per 30-min-gap session)
    # — the multi-step route report the per-edge markov matrix can't
    # see; lag-gap sessions in exact integer microseconds, (count desc,
    # path asc) deterministic rank. New in r7.
    from staticql_spark.operators.behavior import session_paths

    ev = load_events(spark, f"{sf}/events.parquet")
    return session_paths(ev, gap_minutes=30, max_len=5, top_k=20)


def q_stream_funnel(spark, sf):
    # live ordered funnel, batch-fallback twin: per-user greedy stage
    # automaton (applyInPandasWithState, ONE (stage, t) state row per
    # user) whose summed deltas equal the batch chain-of-MINs counts;
    # stream-vs-batch locked by test_stream_funnel_matches_batch. New
    # in r7.
    from staticql_spark.streaming import stream_funnel

    ev = load_events(spark, f"{sf}/events.parquet")
    return stream_funnel(ev, ["signup", "view", "click", "purchase"])


def q_profile_psi_by_lang(spark, sf):
    # per-stratum PSI drill-down: WHICH language segment drifted, on the
    # same global decile grid as profile_psi (shared edges keep strata
    # comparable; per-stratum smoothing keeps small segments finite).
    # New in r7.
    from staticql_spark.operators.profile import grouped_psi

    docs = _t(spark, sf, "documents")
    v2 = docs.filter((F.col("doc_id") % 10 != 0) & (F.col("n_chars") <= 400))
    return grouped_psi(docs, v2, "n_chars", "lang")


def q_embedding_debias(spark, sf):
    # all-but-the-top post-processing (Mu & Viswanath 2018): center,
    # remove the dominant principal direction; per-vector (proj,
    # norm_before, norm_after) audit rows. Exact primitives end-to-end:
    # decimal corpus mean + decimal-Gram power iteration, per-row math
    # on the 6dp-rounded pc. New in r7.
    return similarity.debias_top_pc(_t(spark, sf, "embeddings"), iters=2, dim=64)


def q_hll_grouped_ndv(spark, sf):
    # per-event-type distinct-user HLL next to its exact twin — the
    # grouped cousin of hll_distinct: (grp, j) register build with
    # map-side combine (<= |groups| x 512 rows cross the wire, no
    # distinct over the hash stream), estimate folded per group. New in
    # r7 (the operator landed in r6 unregistered).
    ev = load_events(spark, f"{sf}/events.parquet")
    return sketch.hll_grouped(ev, "event_type", "user_id")


def q_embedding_mrl_recall(spark, sf):
    # Matryoshka truncation audit (new r9): recall@5 of prefix-truncated
    # (re-normalized) cosine top-k vs the full 64-dim exact top-k, for
    # d in {8, 16, 32} — the table that decides how many dims a serving
    # index can shed. Deterministic query sample (vec_id % 50 == 0),
    # 6dp-rounded scores + id tiebreaks (the ann_recall conventions).
    return similarity.mrl_recall(
        _t(spark, sf, "embeddings"), dims=(8, 16, 32), k=5, query_stride=50
    )


def q_events_ab_cuped(spark, sf):
    # A/B readout with CUPED variance reduction (new r9, Deng et al.
    # WSDM 2013): variant = user_id % 2, pre/post split at the exact
    # midpoint of the event-time span (integer microseconds), per-user
    # purchase spend as metric, pre-period spend as covariate; pooled
    # theta, ITT frame (all users, zero-filled). One summary row.
    from staticql_spark.operators import behavior

    ev = load_events(spark, f"{sf}/events.parquet")
    return behavior.ab_cuped(ev)


def _pref_comparisons(events):
    """Deterministic pairwise-comparison derivation for the preference
    family: items a = event_id % 24 and b = (event_id div 24) % 24
    (a != b), with a winning iff t % (a + b + 2) <= a for the cycling
    counter t = event_id div 576 — so P(a wins) converges to EXACTLY
    (a + 1) / (a + b + 2), i.e. the comparisons follow a true
    Bradley-Terry model with latent strengths 1..24 and bt_ratings
    should recover a monotone rating curve.  Pure integer arithmetic,
    mirrored verbatim in the DuckDB oracles.
    """
    c = events.select(
        (F.col("event_id") % 24).alias("a"),
        F.expr("(event_id div 24) % 24").alias("b"),
        F.expr("event_id div 576").alias("t"),
    ).filter(F.col("a") != F.col("b"))
    a_wins = (F.col("t") % (F.col("a") + F.col("b") + 2)) <= F.col("a")
    return c.select(
        F.when(a_wins, F.col("a")).otherwise(F.col("b")).alias("winner"),
        F.when(a_wins, F.col("b")).otherwise(F.col("a")).alias("loser"),
    )


def q_events_bt_ratings(spark, sf):
    # Bradley-Terry strengths from pairwise comparisons (new r9):
    # Hunter-2004 MM iterations over the aggregated pair-count table,
    # mean-1 normalization, 9dp per-iteration determinism barriers.
    # Comparisons derive from events via _pref_comparisons (an exact
    # BT ground truth, so ratings are monotone in item id).
    return _bt_ratings_cached(spark, sf)  # r12: shared MM-run artifact


def q_events_win_matrix(spark, sf):
    # Arena win matrix (new r9): per unordered item pair, comparison
    # count, directional wins, lower-id win rate and its Wilson 95%
    # lower bound (rational ops + one IEEE-exact sqrt).
    from staticql_spark.operators import preference

    return preference.win_matrix(_pref_comparisons(_t(spark, sf, "events")))


def q_events_arena_sliding(spark, sf):
    # Sliding-window arena leaderboard (new r10, the r9 roadmap's
    # remaining preference-depth item): win_matrix per overlapping
    # 7-day window sliding 2 days — windowed win rates with Wilson 95%
    # lower bounds, the recent-evidence readout a live arena ranks by.
    # Comparisons derive from events via the _pref_comparisons integer
    # scheme with each comparison stamped at its event's epoch-µs;
    # window membership is exact LONG floor-division (pmod idiom), so
    # boundary timestamps bucket identically in Spark and DuckDB.
    from staticql_spark.operators import preference

    ev = load_events(spark, f"{sf}/events.parquet")
    c = ev.select(
        asof.epoch_us(ev, "ts").alias("t_us"),
        (F.col("event_id") % 24).alias("a"),
        F.expr("(event_id div 24) % 24").alias("b"),
        F.expr("event_id div 576").alias("t"),
    ).filter(F.col("a") != F.col("b"))
    a_wins = (F.col("t") % (F.col("a") + F.col("b") + 2)) <= F.col("a")
    comps = c.select(
        "t_us",
        F.when(a_wins, F.col("a")).otherwise(F.col("b")).alias("winner"),
        F.when(a_wins, F.col("b")).otherwise(F.col("a")).alias("loser"),
    )
    return preference.arena_sliding(
        comps,
        window_us=7 * 86400 * 1_000_000,
        slide_us=2 * 86400 * 1_000_000,
    )


def q_events_rater_consensus(spark, sf):
    # per-rater consensus agreement (late r9, roadmap #3): each rater's
    # share of labels matching the item's modal label (ties -> smallest
    # category) — the rater-QC readout that complements the pool-level
    # Fleiss kappa.  item = user_id, rater = event_id % 7, category =
    # event_type (the rater_agreement framing with a derived rater id).
    from staticql_spark.operators import preference

    ev = _t(spark, sf, "events").select(
        F.col("user_id").alias("item"),
        (F.col("event_id") % 7).alias("rater"),
        F.col("event_type").alias("cat"),
    )
    return preference.rater_consensus(ev)


def q_events_krippendorff(spark, sf):
    # Krippendorff's alpha, nominal data (new r11): the missing-data-
    # robust reliability coefficient — same (item = user_id, category =
    # event_type) framing as events_rater_agreement so alpha and Fleiss'
    # kappa read side by side on the same label pool (they differ
    # exactly by alpha's coincidence normalization and (n-1) small-
    # sample correction).  One (item, cat) count shuffle, two scalar
    # folds, 1-row result.
    from staticql_spark.operators import preference

    ev = _t(spark, sf, "events")
    return preference.krippendorff_alpha(
        ev.select(F.col("user_id").alias("item"), F.col("event_type").alias("cat"))
    )


def q_ann_rbo(spark, sf):
    # rank-biased overlap of the IVF ranking vs the exact brute-force
    # ranking: the rank-SENSITIVE companion to ann_recall — recall@5
    # counts set hits, RBO@5 (p=0.9) additionally penalizes order
    # disagreement, the metric that catches an ANN index that returns
    # the right set in the wrong order.
    return similarity.rbo_overlap(*_ivf_vs_exact(spark, sf), p=0.9, k=5)


def q_doc_auc(spark, sf):
    # ROC-AUC of the heuristic quality scorer against the labeled
    # language (new r11): does quality_score rank English docs above
    # non-English?  The threshold-free eval for every cheap classifier
    # in the curation stack (Mann-Whitney identity, tie half-credit,
    # two-phase prefix sum — no global rank over raw rows).
    docs = _t(spark, sf, "documents")
    scored = text.quality_score(docs, keep_cols=("lang",))
    return classify.auc_score(
        scored.select(
            (F.col("lang") == "en").cast("int").alias("label"),
            F.col("quality").alias("score"),
        )
    )


def q_stream_arena(spark, sf):
    # streaming arena leaderboard registered at its batch fallback (the
    # stream_qsketch precedent; the live path is pinned stream-vs-batch
    # by test_stream_arena_sliding_matches_batch): 3-day window sliding
    # 1 day — a tighter recency cut than events_arena_sliding's 7/2, so
    # the two keys exercise different window geometries.
    from staticql_spark.streaming import stream_arena_sliding

    ev = load_events(spark, f"{sf}/events.parquet")
    c = ev.select(
        asof.epoch_us(ev, "ts").alias("t_us"),
        (F.col("event_id") % 24).alias("a"),
        F.expr("(event_id div 24) % 24").alias("b"),
        F.expr("event_id div 576").alias("t"),
    ).filter(F.col("a") != F.col("b"))
    a_wins = (F.col("t") % (F.col("a") + F.col("b") + 2)) <= F.col("a")
    comps = c.select(
        "t_us",
        F.when(a_wins, F.col("a")).otherwise(F.col("b")).alias("winner"),
        F.when(a_wins, F.col("b")).otherwise(F.col("a")).alias("loser"),
    )
    return stream_arena_sliding(
        comps,
        window_us=3 * 86400 * 1_000_000,
        slide_us=86400 * 1_000_000,
    )


def q_ann_mrr(spark, sf):
    # mean-reciprocal-rank leg of the ranking-eval suite: recall@5
    # counts set hits, RBO discounts order disagreement, MRR grades only
    # how early the FIRST exact-top-5 item appears in the IVF ranking —
    # the metric for retrieval feeding a one-answer consumer.
    return similarity.mrr_first_hit(*_ivf_vs_exact(spark, sf))


def q_ann_ndcg(spark, sf):
    # NDCG@5 of the IVF ranking vs the exact ranking: the graded leg of
    # the ranking-eval suite — relevance derived from the exact rank
    # (top item gain 5 .. 1), position discount log2(1+rank), ideal DCG
    # a driver-side literal.
    return similarity.ndcg_overlap(*_ivf_vs_exact(spark, sf), k=5)


def q_events_cusum(spark, sf):
    # one-sided CUSUM change-point chart per event type over daily
    # counts (new r12): the abrupt-shift complement to
    # events_mann_kendall's monotone-trend test.  The recursion runs as
    # prefix-sum-minus-prefix-min over the daily AGGREGATE in exact
    # scaled-integer arithmetic; alarm at 4 sigma.
    from staticql_spark.operators.behavior import cusum_counts

    ev = load_events(spark, f"{sf}/events.parquet")
    daily = (
        ev.select(
            F.col("event_type").alias("grp"),
            (asof.epoch_us(ev, "ts") / F.lit(86_400_000_000)).cast("long").alias("t"),
        )
        .groupBy("grp", "t")
        .agg(F.count("*").cast("long").alias("v"))
    )
    return cusum_counts(daily)


def q_events_benford(spark, sf):
    # Benford first-significant-digit audit per event type (new r12):
    # the cheap fabricated-feed detector — per-digit observed vs
    # log10(1+1/d) expectation and the Pearson chi-square terms.
    # Values fixed-pointed to integer cents first; the first digit is
    # integer division by 10^(decimal length - 1), no float log10 at
    # power-of-ten boundaries.  One (type, digit) count shuffle.
    from staticql_spark.operators.profile import benford_digits

    ev = load_events(spark, f"{sf}/events.parquet")
    return benford_digits(
        ev.select(F.col("event_type").alias("grp"), "value")
    )


def q_doc_simpson(spark, sf):
    # Simpson token-diversity index per language (new r12): exact
    # integer sum c(c-1) over the (lang, token) counts — the lexical-
    # concentration complement to doc_zipf's slope (boilerplate floods
    # collapse diversity even when the Zipf fit still looks plausible).
    return text.simpson_diversity(_t(spark, sf, "documents"))


def q_events_mann_kendall(spark, sf):
    # Mann-Kendall monotone-trend test per event type over DAILY event
    # counts (new r12): the non-parametric trend detector ops dashboards
    # run on volume series — no distributional assumption, exact-integer
    # S statistic with tie-corrected variance, continuity-corrected z.
    # The pairwise step self-joins the (type, day, count) AGGREGATE
    # (|types| x days^2/2 rows), never raw events.
    from staticql_spark.operators.behavior import mann_kendall

    ev = load_events(spark, f"{sf}/events.parquet")
    daily = (
        ev.select(
            F.col("event_type").alias("grp"),
            (asof.epoch_us(ev, "ts") / F.lit(86_400_000_000)).cast("long").alias("t"),
        )
        .groupBy("grp", "t")
        .agg(F.count("*").cast("long").alias("v"))
    )
    return mann_kendall(daily)


def q_doc_zipf(spark, sf):
    # Zipf rank-frequency fit per language (new r12): ln(freq) ~ a +
    # s*ln(rank) least squares over each language's top-200 token
    # frequencies — the corpus-health readout that catches template
    # spam (flat slope) and generated text (steep slope, tiny vocab) at
    # the distribution level.  One token-count shuffle; top-n selection
    # runs the module's two-phase rank on the aggregate (no per-language
    # whale windows).
    return text.zipf_fit(_t(spark, sf, "documents"))


def q_stream_consensus(spark, sf):
    # live per-item consensus label registered at its batch fallback
    # (the stream_arena precedent; the live stateful path is pinned
    # stream-vs-batch by test_stream_consensus_matches_batch): item =
    # user_id, category = event_type — the labeling-pipeline "current
    # truth" table kept fresh per micro-batch.
    from staticql_spark.streaming import stream_consensus

    ev = load_events(spark, f"{sf}/events.parquet")
    return stream_consensus(
        ev.select(
            F.col("user_id").alias("item"),
            F.col("event_type").alias("cat"),
            F.col("ts"),
        )
    )


def q_stream_rater_severity(spark, sf):
    # live per-rater severity vs a FROZEN per-item reference, registered
    # at its batch fallback (the stream_consensus precedent; the live
    # stateful path is pinned stream-vs-batch by
    # test_stream_rater_severity_matches_batch).  r13, the last
    # preference-stream shape from the r12 roadmap: rater_bias' leave-
    # one-out mean moves retroactively with every new label, so the
    # FIXED-reference severity is the streamable variant.  item =
    # user_id, rater = event_id % 7, score = value (the events_rater_bias
    # framing); reference = the per-item decimal-fold mean of the feed
    # ("yesterday's item means") — order-free, engine-stable.
    from staticql_spark.streaming import stream_rater_severity

    scores = _t(spark, sf, "events").select(
        F.col("user_id").alias("item"),
        (F.col("event_id") % 7).alias("rater"),
        F.col("value").alias("score"),
    )
    ref = (
        scores.filter(F.col("score").isNotNull())
        .groupBy("item")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("score").cast("double"), 6).cast("decimal(38,6)")
                ).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("ref_score")
        )
    )
    return stream_rater_severity(scores, ref)


def q_doc_gini(spark, sf):
    # Gini coefficient over token frequencies per language (new r13):
    # the third leg of the corpus-concentration triad next to doc_zipf
    # (curve shape) and doc_simpson (collision probability) — the single
    # inequality number tracked per source per snapshot.  Rank sums come
    # from the closed-form tie-class formula over the count histogram
    # (exact integers, DECIMAL(38,0) cross-class fold) — no window ever
    # touches per-token rows.
    return text.gini_concentration(_t(spark, sf, "documents"))


def q_ann_kendall_tau(spark, sf):
    # Kendall's tau over the IVF-vs-exact overlap: the symmetric ORDER
    # correlation of the shared items, where recall counts hits and
    # RBO/MRR/NDCG weight top-down.
    return similarity.kendall_tau_overlap(*_ivf_vs_exact(spark, sf))


def q_events_theil_sen(spark, sf):
    # Theil-Sen robust trend slope per event type over daily counts
    # (new r13): the MAGNITUDE companion to events_mann_kendall's
    # direction test — median pairwise slope, robust to ~29% outlier
    # days.  Lower median of 9dp-rounded slopes (a single order
    # statistic — engine-exact; the two-element average lands on .5
    # boundaries), pairwise step over the daily AGGREGATE only.
    from staticql_spark.operators.behavior import theil_sen

    ev = load_events(spark, f"{sf}/events.parquet")
    daily = (
        ev.select(
            F.col("event_type").alias("grp"),
            (asof.epoch_us(ev, "ts") / F.lit(86_400_000_000)).cast("long").alias("t"),
        )
        .groupBy("grp", "t")
        .agg(F.count("*").cast("double").alias("v"))
    )
    return theil_sen(daily)


def q_events_rater_confusion(spark, sf):
    # per-rater confusion matrix vs the item consensus (new r13): the
    # category-resolved rater-QC readout — WHAT a dissenting rater
    # confuses the modal label with, not just how often (the
    # intervention signal: systematic confusion means re-training,
    # random noise means down-weighting).  Same rater framing as
    # events_rater_bias (item = user_id, rater = event_id % 7,
    # cat = event_type); exact integer counts only.
    from staticql_spark.operators import preference

    ev = _t(spark, sf, "events")
    return preference.rater_confusion(
        ev.select(
            F.col("user_id").alias("item"),
            (F.col("event_id") % 7).alias("rater"),
            F.col("event_type").alias("cat"),
        )
    )


def q_events_tcloseness(spark, sf):
    # t-closeness audit (new r9, Li et al. ICDE 2007): completes the
    # privacy release triad (events_kanon bounds group size,
    # events_ldiversity bounds value diversity, this bounds the EMD
    # between each cell's sensitive distribution and the global one —
    # the skewness attack the other two miss).  Same release cells as
    # the siblings (event_type, day); sensitive ordinal = capped spend
    # bucket floor(value / 50) in 0..9.
    from staticql_spark.operators.privacy import tcloseness_report

    ev = load_events(spark, f"{sf}/events.parquet").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.least(F.floor(F.col("value") / F.lit(50.0)), F.lit(9))
        .cast("int")
        .alias("bucket"),
    )
    return tcloseness_report(
        ev, dims=["event_type", "day"], sensitive_col="bucket", t=0.2
    )


def q_events_quantile_sketch(spark, sf):
    # mergeable bottom-k quantile sketch (new r9): deterministic uniform
    # row sample = 512 smallest md5(event_id) hashes carrying value;
    # type-1 quantiles at fixed ranks.  The oracle-checkable counterpart
    # of approx_percentile, with KMV-style union-merge algebra (tested:
    # sketch(A∪B) == merge(sketch(A), sketch(B)) exactly).
    from staticql_spark.operators import sketch as sk

    ev = _t(spark, sf, "events")
    s = sk.qsketch(ev, "value", "event_id", k=512)
    return sk.qsketch_quantiles(s, qs=(0.1, 0.25, 0.5, 0.75, 0.9, 0.99))


def q_stream_qsketch(spark, sf):
    # streaming per-group quantile sketch, batch-fallback twin (new r9):
    # bottom-k-by-row-key-hash state per group emitting type-1 p50/p90 —
    # the live twin of sketch.qsketch.  Stream-vs-batch equality locked
    # by test_stream_qsketch_grouped_matches_batch; re-delivered rows
    # are idempotent because the same row key always hashes identically.
    from staticql_spark.streaming import load_events, stream_qsketch_grouped

    ev = load_events(spark, f"{sf}/events.parquet")
    return stream_qsketch_grouped(ev, k=64)


def q_events_bt_reliability(spark, sf):
    # BT ratings calibration audit (new r9): observed vs predicted win
    # rate per predicted-probability bucket, over the published 6dp
    # ratings — the reliability diagram for the arena's rating table.
    # Because _pref_comparisons follows an exact BT model, the gaps
    # should be near zero, which the oracle confirms numerically.
    from staticql_spark.operators import preference

    comps = _pref_comparisons(_t(spark, sf, "events"))
    ratings = _bt_ratings_cached(spark, sf)  # r12: shared MM-run artifact
    return preference.bt_reliability(comps, ratings, buckets=5)


def _pref_comparisons_ties(events):
    """Ties variant of :func:`_pref_comparisons` for the Rao-Kupper
    operator: same item derivation (a = event_id % 24,
    b = (event_id div 24) % 24, a != b, cycling counter
    t = event_id div 576), but the residue r = t % (a + b + 4) now
    carves THREE outcomes — a wins iff r <= a, TIE iff r in
    {a+1, a+2}, else b wins — so P(a wins) : P(tie) : P(b wins)
    converges to (a+1) : 2 : (b+1), a monotone ground truth with a
    real draw mass.  Pure integer arithmetic, mirrored verbatim in the
    DuckDB oracle (_PREF_CWT)."""
    c = events.select(
        (F.col("event_id") % 24).alias("a"),
        F.expr("(event_id div 24) % 24").alias("b"),
        F.expr("event_id div 576").alias("t"),
    ).filter(F.col("a") != F.col("b"))
    r = F.col("t") % (F.col("a") + F.col("b") + 4)
    return c.select(
        F.col("a").alias("item_a"),
        F.col("b").alias("item_b"),
        F.when(r <= F.col("a"), F.lit(0))
        .when(r <= F.col("a") + 2, F.lit(2))
        .otherwise(F.lit(1))
        .alias("outcome"),
    )


def q_events_bt_ties(spark, sf):
    # Bradley-Terry WITH ties (new r10, Rao-Kupper 1967 via Hunter 2004
    # §4): arena data has draws and plain BT must discard them; here a
    # tie credits both items' numerators and the tie-propensity theta
    # is estimated jointly (closed-form g + sqrt(g^2+1) update).  Same
    # plan contract as bt_ratings: one map-side-combined pair-count
    # shuffle, broadcast rating vector per MM iteration.
    return _bt_ties_cached(spark, sf)  # r12: shared MM-run artifact


def q_events_rater_bias(spark, sf):
    # per-rater severity/leniency (new r10, roadmap #7's second half):
    # each rater's mean gap vs the leave-one-out mean of the item's
    # other raters — the numeric sibling of rater_consensus, singleton
    # items excluded by the same n_i >= 2 floor.  item = user_id,
    # rater = event_id % 7, score = value.
    from staticql_spark.operators import preference

    ev = _t(spark, sf, "events").select(
        F.col("user_id").alias("item"),
        (F.col("event_id") % 7).alias("rater"),
        F.col("value").alias("score"),
    )
    return preference.rater_bias(ev)


def q_events_rater_agreement(spark, sf):
    # Fleiss' kappa label-quality gate (new r9): item = user_id (do a
    # user's observations agree with each other), category =
    # event_type, generalized to varying ratings-per-item (items with
    # n_i < 2 excluded from both the mean and the chance marginals).
    from staticql_spark.operators import preference

    ev = _t(spark, sf, "events")
    return preference.fleiss_kappa(
        ev.select(F.col("user_id").alias("item"), F.col("event_type").alias("cat"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The query registry, in driver order.

    The external driver value-checks the first 50 keys in insertion
    order, so a new or changed key goes at the front.  Every key is
    also checked against its `oracle_sql()` twin by
    tests/oracle_harness.py."""
    return {
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_knn_classify": q_ann_knn_classify,
        "ann_label_noise": q_ann_label_noise,
        "ann_rnn_pairs": q_ann_rnn_pairs,
        "ann_quantized": q_ann_quantized,
        "embedding_quantize": q_embedding_quantize,
        "multimodal_ahash": q_multimodal_ahash,
        "multimodal_audio_hash": q_multimodal_audio_hash,
        "pipeline_media_manifest": q_pipeline_media_manifest,
        "stream_funnel": q_stream_funnel,
        "stream_transitions": q_stream_transitions,
        "stream_psi": q_stream_psi,
        "ann_pq_adc": q_ann_pq_adc,
        "ann_ivf_pq": q_ann_ivf_pq,
        "ann_pq_recall": q_ann_pq_recall,
        "ann_ivfpq_recall": q_ann_ivfpq_recall,
        "ann_pq_quant_error": q_ann_pq_quant_error,
        "stream_pq_neardup": q_stream_pq_neardup,
        "ann_ivfpq_persisted": q_ann_ivfpq_persisted,
        "ann_ivf_trained": q_ann_ivf_trained,
        "embedding_prototypes": q_embedding_prototypes,
        "kmeans_inertia": q_kmeans_inertia,
        "dedup_semantic": q_dedup_semantic,
        "dedup_semantic_keep": q_dedup_semantic_keep,
        "dedup_semantic_incr": q_dedup_semantic_incr,
        "doc_contamination_by_source": q_doc_contamination_by_source,
        "doc_decontaminate_excise": q_doc_decontaminate_excise,
        "doc_split_leakfree": q_doc_split_leakfree,
        "dedup_cluster_stats": q_dedup_cluster_stats,
        "dedup_jaccard_hist": q_dedup_jaccard_hist,
        "dedup_keep": q_dedup_keep,
        "dedup_triangles": q_dedup_triangles,
        "dedup_canonical_meta": q_dedup_canonical_meta,
        "events_lpa_incr": q_events_lpa_incr,
        "where_eq": q_where_eq,
        "where_startswith": q_where_startswith,
        "where_in": q_where_in,
        "where_and": q_where_and,
        "point_lookup": q_point_lookup,
        "projection_prune": q_projection_prune,
        "has_one_join": q_has_one_join,
        "has_many_agg": q_has_many_agg,
        "has_many_collect": q_has_many_collect,
        "belongs_to_join": q_belongs_to_join,
        "through_count": q_through_count,
        "through_rows": q_through_rows,
        "order_page1": q_order_page1,
        "cursor_after": q_cursor_after,
        "cursor_before": q_cursor_before,
        "set_intersect": q_set_intersect,
        "stream_rater_severity": q_stream_rater_severity,
        "doc_gini": q_doc_gini,
        "ann_kendall_tau": q_ann_kendall_tau,
        "events_theil_sen": q_events_theil_sen,
        "events_rater_confusion": q_events_rater_confusion,
        "events_cusum": q_events_cusum,
        "events_mann_kendall": q_events_mann_kendall,
        "ann_ndcg": q_ann_ndcg,
        "doc_zipf": q_doc_zipf,
        "events_benford": q_events_benford,
        "events_dau_wau": q_events_dau_wau,
        "events_time_to_convert": q_events_time_to_convert,
        "checksum_delta": q_checksum_delta,
        "doc_dedup_funnel": q_doc_dedup_funnel,
        "events_lpa": q_events_lpa,
        "stream_shard_ck": q_stream_shard_ck,
        "dedup_minhash_1bit": q_dedup_minhash_1bit,
        "orders_backlog": q_orders_backlog,
        "quality_gate_report": q_quality_gate_report,
        "events_forecast_baseline": q_events_forecast_baseline,
        "pipeline_release_manifest": q_pipeline_release_manifest,
        "hll_distinct": q_hll_distinct,
        "hll_union": q_hll_union,
        "events_seasonality": q_events_seasonality,
        "events_ldiversity": q_events_ldiversity,
        "doc_vocab_growth": q_doc_vocab_growth,
        "source_ablation": q_source_ablation,
        "events_retention_curve": q_events_retention_curve,
        "events_funnel_steps": q_events_funnel_steps,
        "profile_psi": q_profile_psi,
        "ann_semantic_decon": q_ann_semantic_decon,
        "hll_grouped_ndv": q_hll_grouped_ndv,
        "events_attribution_lasttouch": q_events_attribution_lasttouch,
        "embedding_debias": q_embedding_debias,
        "profile_psi_by_lang": q_profile_psi_by_lang,
        "events_session_paths": q_events_session_paths,
        "events_funnel_windowed": q_events_funnel_windowed,
        "corr_matrix": q_corr_matrix,
        "skew_report": q_skew_report,
        "price_histogram": q_price_histogram,
        "zorder_layout": q_zorder_layout,
        "table_profile": q_table_profile,
        "fuzzy_match": q_fuzzy_match,
        "stream_kmv": q_stream_kmv,
        "kmv_grouped": q_kmv_grouped,
        "embedding_class_sep": q_embedding_class_sep,
        "embedding_top_pc": q_embedding_top_pc,
        "doc_logreg": q_doc_logreg,
        "doc_calibration": q_doc_calibration,
        "ann_mrr": q_ann_mrr,
        "stream_consensus": q_stream_consensus,
        "doc_simpson": q_doc_simpson,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_incremental": q_dedup_incremental,
        "dedup_lsh_recall": q_dedup_lsh_recall,
        "dedup_components": q_dedup_components,
        "pipeline_clean_corpus": q_pipeline_clean_corpus,
        "ann_rbo": q_ann_rbo,
        "events_arena_sliding": q_events_arena_sliding,
        "stream_arena": q_stream_arena,
        "events_bt_ratings": q_events_bt_ratings,
        "events_bt_ties": q_events_bt_ties,
        "events_bt_reliability": q_events_bt_reliability,
        "events_pagerank": q_events_pagerank,
        "events_cooccurrence": q_events_cooccurrence,
        "ann_hard_negatives": q_ann_hard_negatives,
        "ann_cell_balance": q_ann_cell_balance,
        "doc_length_budget": q_doc_length_budget,
        "doc_training_order": q_doc_training_order,
        "doc_temperature_mix": q_doc_temperature_mix,
        "events_kanon": q_events_kanon,
        "embedding_drift": q_embedding_drift,
        "exact_percentiles": q_exact_percentiles,
        "fd_discovery": q_fd_discovery,
        "ri_report": q_ri_report,
        "kmv_join_estimate": q_kmv_join_estimate,
        "events_bot_score": q_events_bot_score,
        "doc_vocab_drift": q_doc_vocab_drift,
        "events_ppr": q_events_ppr,
        "doc_ccnet_buckets": q_doc_ccnet_buckets,
        "events_cohort_ltv": q_events_cohort_ltv,
        "doc_shuffle_shards": q_doc_shuffle_shards,
        "bpe_fertility": q_bpe_fertility,
        "doc_source_cap": q_doc_source_cap,
        "doc_dsir": q_doc_dsir,
        "grouped_percentiles": q_grouped_percentiles,
        "robust_outliers": q_robust_outliers,
        "doc_ngram_coverage": q_doc_ngram_coverage,
        "shard_checksums": q_shard_checksums,
        "events_krippendorff": q_events_krippendorff,
        "doc_auc": q_doc_auc,
        "dedup_simhash": q_dedup_simhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_containment": q_dedup_containment,
        "doc_mixture_epochs": q_doc_mixture_epochs,
        "events_attribution": q_events_attribution,
        "pipeline_curate_mixture": q_pipeline_curate_mixture,
        "events_retention": q_events_retention,
        "langid_confusion": q_langid_confusion,
        "quality_quantile_norm": q_quality_quantile_norm,
        "scd2_history": q_scd2_history,
        "events_decayed": q_events_decayed,
        "corpus_diff": q_corpus_diff,
        "ann_hybrid_rrf": q_ann_hybrid_rrf,
        "events_next_prediction": q_events_next_prediction,
        "ann_recall": q_ann_recall,
        "doc_training_manifest": q_doc_training_manifest,
        "doc_weighted_sample": q_doc_weighted_sample,
        "doc_token_entropy": q_doc_token_entropy,
        "kmv_union": q_kmv_union,
        "events_sequences": q_events_sequences,
        "asof_hotkey_bucketed": q_asof_hotkey_bucketed,
        "doc_rebalance": q_doc_rebalance,
        "doc_pack": q_doc_pack,
        "bpe_pair_counts": q_bpe_pair_counts,
        "bpe_train": q_bpe_train,
        "bpe_encode": q_bpe_encode,
        "doc_decontaminate_bloom": q_doc_decontaminate_bloom,
        "events_anomaly": q_events_anomaly,
        "customer_rfm": q_customer_rfm,
        "events_markov": q_events_markov,
        "doc_gopher": q_doc_gopher,
        "doc_unigram_nll": q_doc_unigram_nll,
        "doc_curriculum": q_doc_curriculum,
        "events_funnel": q_events_funnel,
        "multimodal_features": q_multimodal_features,
        "doc_dup_spans": q_doc_dup_spans,
        "doc_dup_excise": q_doc_dup_excise,
        "doc_dup_spans_anchored": q_doc_dup_spans_anchored,
        "doc_term_pmi": q_doc_term_pmi,
        "doc_bigram_nll": q_doc_bigram_nll,
        "events_rater_bias": q_events_rater_bias,
        "stream_qsketch": q_stream_qsketch,
        "events_rater_consensus": q_events_rater_consensus,
        "events_tcloseness": q_events_tcloseness,
        "cm_heavy_hitters": q_cm_heavy_hitters,
        "full_outer_activity": q_full_outer_activity,
        "events_props_json": q_events_props_json,
        "scalar_subquery": q_scalar_subquery,
        "union_distinct": q_union_distinct,
        "salted_hot_key_agg": q_salted_hot_key_agg,
        "doc_tokens": q_doc_tokens,
        "doc_quality": q_doc_quality,
        "doc_quality_filter": q_doc_quality_filter,
        "doc_lang": q_doc_lang,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_winnow": q_doc_winnow,
        "doc_pii": q_doc_pii,
        "doc_repetition": q_doc_repetition,
        "doc_decontaminate": q_doc_decontaminate,
        "doc_normalize": q_doc_normalize,
        "doc_term_df": q_doc_term_df,
        "doc_selfdedup": q_doc_selfdedup,
        "corpus_report": q_corpus_report,
        "doc_bm25": q_doc_bm25,
        "cube_rollup": q_cube_rollup,
        "pivot_priority": q_pivot_priority,
        "stratified_sample": q_stratified_sample,
        "doc_split": q_doc_split,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_sig": q_dedup_minhash_sig,
        "grouping_sets_agg": q_grouping_sets_agg,
        "simhash_pairs": q_simhash_pairs,
        "embedding_neardup": q_embedding_neardup,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "stream_first_seen": q_stream_first_seen,
        "rollup_agg": q_rollup_agg,
        "order_value_percentiles": q_order_value_percentiles,
        "exists_subquery": q_exists_subquery,
        "anti_join": q_anti_join,
        "conditional_pivot": q_conditional_pivot,
        "embedding_mrl_recall": q_embedding_mrl_recall,
        "events_ab_cuped": q_events_ab_cuped,
        "events_win_matrix": q_events_win_matrix,
        "events_rater_agreement": q_events_rater_agreement,
        "events_quantile_sketch": q_events_quantile_sketch,
        "doc_chunk_dedup": q_doc_chunk_dedup,
        "dedup_chunk_incremental": q_dedup_chunk_incremental,
        "supplier_pareto": q_supplier_pareto,
        "doc_vocab_coverage": q_doc_vocab_coverage,
        "latest_per_user": q_latest_per_user,
        "returned_item_revenue": q_returned_item_revenue,
        "promo_revenue": q_promo_revenue,
        "top_supplier": q_top_supplier,
        "brand_supplier_count": q_brand_supplier_count,
        "large_volume_customer": q_large_volume_customer,
        "order_priority_check": q_order_priority_check,
        "nation_volume_shipping": q_nation_volume_shipping,
        "market_share": q_market_share,
        "nation_profit": q_nation_profit,
        "late_shipment_priority": q_late_shipment_priority,
        "customer_order_distribution": q_customer_order_distribution,
        "small_qty_avg_yearly": q_small_qty_avg_yearly,
        "disjunctive_filter_revenue": q_disjunctive_filter_revenue,
        "waiting_supplier": q_waiting_supplier,
        "idle_customer_balance": q_idle_customer_balance,
        "cheapest_supplier": q_cheapest_supplier,
        "important_part_value": q_important_part_value,
        "dominant_supplier": q_dominant_supplier,
        "pricing_summary": q_pricing_summary,
        "topk_per_group": q_topk_per_group,
        "region_revenue": q_region_revenue,
        "agg_distinct": q_agg_distinct,
        "set_except": q_set_except,
        "window_running": q_window_running,
        "events_windowed": q_events_windowed,
        "events_sessionize": q_events_sessionize,
        "events_sliding": q_events_sliding,
        "events_trending": q_events_trending,
        "events_lag_gap": q_events_lag_gap,
        "events_range_window": q_events_range_window,
        "unpivot_metrics": q_unpivot_metrics,
        "asof_click_purchase": q_asof_click_purchase,
        "range_followups": q_range_followups,
        "kmv_distinct": q_kmv_distinct,
        "ship_priority": q_ship_priority,
        "forecast_revenue": q_forecast_revenue,
    }


# =====================================================================
# DuckDB oracles
# =====================================================================

# shared SQL fragments -------------------------------------------------

_NORM = r"lower(regexp_replace(trim(text), '\s+', ' ', 'g'))"
# whitespace tokens of normalized text (empty -> [])
_TOKS_NORM = (
    "case when trim(text) = '' then []::VARCHAR[] "
    f"else regexp_split_to_array({_NORM}, '\\s+') end"
)
# whitespace tokens of raw (trimmed) text, as the Spark tokens() helper
_TOKS_RAW = (
    "case when trim(text) = '' then []::VARCHAR[] "
    "else regexp_split_to_array(trim(text), '\\s+') end"
)
_STOPS = "('the','a','of','and','to','in','is','on','for','with')"

# 60-bit documents row digest — the exact SQL twin of shards.row_digest:
# per-column md5 (NULL -> the 1-char non-hex sentinel '-'), concatenated,
# then md5 -> first 60 bits.  Fixed-width tokens make the payload uniquely
# decodable, so NULL placement and separator-embedded values can't collide.
_DOC_DIGEST = (
    "('0x' || substr(md5(concat("
    "coalesce(md5(text), '-'), coalesce(md5(lang), '-'), "
    "coalesce(md5(source), '-'), coalesce(md5(n_chars::VARCHAR), '-')"
    ")), 1, 15))::BIGINT"
)

# hashed shingles — the exact SQL twin of dedup.shingles: token hashes are
# 40-bit md5-derived ints, a shingle hash is the mod-P weighted sum of its
# 3 token hashes (weights = dedup.SHINGLE_WEIGHTS, P = dedup.MINHASH_P)
_SHINGLE_EXPR = (
    "((th[i] * 1299721) % 2305843009213693951"
    " + (th[i+1] * 2750161) % 2305843009213693951"
    " + (th[i+2] * 4194301) % 2305843009213693951) % 2305843009213693951"
)

_SHINGLES_BODY = f"""
  SELECT DISTINCT doc_id, sh AS shingle
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(th) - 2, 0) + 1),
                                 i -> {_SHINGLE_EXPR})) AS sh
    FROM tokh WHERE len(th) >= 3
  )
"""

# Shared CTE chain for the substring-dedup oracles (doc_dup_spans,
# doc_dup_excise, doc_dup_spans_anchored): k=20 char-gram per position ->
# optional content-defined anchor sampling -> cross-doc duplication flag
# (min!=max over the hash partition) -> gaps-and-islands merge into
# maximal spans. Mirrors dedup.duplicated_spans(k=20, ...); ends with
# `spansq(doc_id, span_start, span_end)`.
def _dup_spans_ctes(anchor_mod: int = 1, merge_gap: int = 0) -> str:
    anchor = (
        f"""WHERE ('0x' || substr(h, 1, 15))::BIGINT % {anchor_mod} = 0"""
        if anchor_mod > 1
        else ""
    )
    return f"""g AS (
              SELECT doc_id, text,
                     unnest(range(1, greatest(length(text) - 20 + 1, 0) + 1)) AS s
              FROM documents
            ),
            grams AS (
              SELECT doc_id, s, md5(substr(text, s::INT, 20)) AS h FROM g
              {anchor}
            ),
            flag AS (
              SELECT doc_id, s,
                     min(doc_id) OVER (PARTITION BY h) AS mn,
                     max(doc_id) OVER (PARTITION BY h) AS mx
              FROM grams
            ),
            hits AS (SELECT doc_id, s FROM flag WHERE mn <> mx),
            isl AS (
              SELECT doc_id, s,
                     CASE WHEN s > coalesce(max(s + 19) OVER (
                              PARTITION BY doc_id ORDER BY s
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                            -1) + {merge_gap}
                          THEN 1 ELSE 0 END AS st
              FROM hits
            ),
            isl2 AS (
              SELECT doc_id, s,
                     sum(st) OVER (PARTITION BY doc_id ORDER BY s
                                   ROWS UNBOUNDED PRECEDING) AS island
              FROM isl
            ),
            spansq AS (
              SELECT doc_id,
                     min(s)::BIGINT AS span_start,
                     (max(s) + 19)::BIGINT AS span_end
              FROM isl2 GROUP BY doc_id, island
            )"""


_DUP_SPANS_CTES = _dup_spans_ctes()

# span-level decontamination twin: corpus char-gram stream joined against
# the eval tenth's DISTINCT gram hashes, then the same islands merge as
# the dup-spans CTEs (k=20, 1-based inclusive offsets)
_CONTAM_SPANS_CTES = """g AS (
              SELECT doc_id, text,
                     unnest(range(1, greatest(length(text) - 20 + 1, 0) + 1)) AS s
              FROM documents WHERE doc_id % 10 <> 0
            ),
            grams AS (
              SELECT doc_id, s, md5(substr(text, s::INT, 20)) AS h FROM g
            ),
            bg AS (
              SELECT DISTINCT md5(substr(text, s::INT, 20)) AS h FROM (
                SELECT text,
                       unnest(range(1, greatest(length(text) - 20 + 1, 0) + 1)) AS s
                FROM documents WHERE doc_id % 10 = 0
              )
            ),
            hits AS (SELECT g2.doc_id, g2.s FROM grams g2 JOIN bg USING (h)),
            isl AS (
              SELECT doc_id, s,
                     CASE WHEN s > coalesce(max(s + 19) OVER (
                              PARTITION BY doc_id ORDER BY s
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                            -1) + 0
                          THEN 1 ELSE 0 END AS st
              FROM hits
            ),
            isl2 AS (
              SELECT doc_id, s,
                     sum(st) OVER (PARTITION BY doc_id ORDER BY s
                                   ROWS UNBOUNDED PRECEDING) AS island
              FROM isl
            ),
            spansq AS (
              SELECT doc_id,
                     min(s)::BIGINT AS span_start,
                     (max(s) + 19)::BIGINT AS span_end
              FROM isl2 GROUP BY doc_id, island
            )"""

_SHINGLES_CTE = f"""
toks AS (
  SELECT doc_id, {_TOKS_NORM} AS t FROM documents
),
tokh AS (
  SELECT doc_id,
         list_transform(t, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT
                                % 1099511627776) AS th
  FROM toks
),
shingles AS ({_SHINGLES_BODY})
"""

# quality-score CTEs (base text stats -> per-doc ratios + rounded score) —
# shared by the doc_quality and doc_quality_filter oracles; the formula is
# the SQL twin of text.quality_score (DuckDB lateral alias reuse lets the
# score reference the ratio columns defined in the same SELECT)
_QUALITY_CTES = f"""base AS (
              SELECT doc_id, text,
                     length(text) AS n_chars,
                     {_TOKS_RAW} AS toks,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                     length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
                     length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct
              FROM documents
            ),
            r AS (
              SELECT doc_id,
                     len(toks) AS n_tokens,
                     len(list_filter(toks, t -> lower(t) IN {_STOPS})) AS stop_hits,
                     CASE WHEN len(toks) > 0 THEN n_chars::DOUBLE / len(toks) ELSE 0.0 END AS mean_tok_len,
                     CASE WHEN n_chars > 0 THEN n_alpha::DOUBLE / n_chars ELSE 0.0 END AS alpha_ratio,
                     CASE WHEN n_chars > 0 THEN n_digit::DOUBLE / n_chars ELSE 0.0 END AS digit_ratio,
                     CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio,
                     round(((CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 12.0 THEN 1 ELSE 0 END)::DOUBLE
                          + (CASE WHEN len(toks) > 0 AND stop_hits > 0 THEN 1 ELSE 0 END)::DOUBLE
                          + alpha_ratio) / 3.0, 4) AS quality
              FROM base
            )"""

# universal-hash min-hash family — formula mirrors dedup.minhash_params /
# minhash_signatures exactly (k BIGINT projections of the shingle hash)
_MINHASH_HM = "(shingle % 1099511627776)"


def _minhash_cols(num_hashes: int) -> str:
    from staticql_spark.operators.dedup import MINHASH_P, minhash_params

    return ",\n    ".join(
        f"min(({_MINHASH_HM} * {a} + {b}) % {MINHASH_P}) AS h{k}"
        for k, (a, b) in enumerate(minhash_params(num_hashes))
    )


_MINHASH16_COLS = _minhash_cols(16)

# the full MinHash-LSH pair pipeline as CTEs ending in `lsh_pairs` — shared
# by the dedup_minhash_lsh oracle and the dedup_components recursive CTE
_LSH_PAIRS_CTES = f"""{_SHINGLES_CTE},
            sig AS (
              SELECT doc_id, {_MINHASH16_COLS}
              FROM shingles GROUP BY doc_id
            ),
            -- band key = first 60 bits of the slice md5 as BIGINT —
            -- mirrors dedup._band_keys' r11 long key bit-for-bit
            banded_all AS (
              SELECT doc_id, 0 AS band, ('0x' || substr(md5(h0::VARCHAR || '|' || h1::VARCHAR || '|' || h2::VARCHAR || '|' || h3::VARCHAR), 1, 15))::BIGINT AS key FROM sig
              UNION ALL
              SELECT doc_id, 1, ('0x' || substr(md5(h4::VARCHAR || '|' || h5::VARCHAR || '|' || h6::VARCHAR || '|' || h7::VARCHAR), 1, 15))::BIGINT FROM sig
              UNION ALL
              SELECT doc_id, 2, ('0x' || substr(md5(h8::VARCHAR || '|' || h9::VARCHAR || '|' || h10::VARCHAR || '|' || h11::VARCHAR), 1, 15))::BIGINT FROM sig
              UNION ALL
              SELECT doc_id, 3, ('0x' || substr(md5(h12::VARCHAR || '|' || h13::VARCHAR || '|' || h14::VARCHAR || '|' || h15::VARCHAR), 1, 15))::BIGINT FROM sig
            ),
            -- max_bucket=1000 twin of minhash_lsh_pairs' bucket cap
            banded AS (
              SELECT doc_id, band, key FROM banded_all
              QUALIFY count(*) OVER (PARTITION BY band, key) <= 1000
            ),
            cands AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
              FROM banded l JOIN banded r
                ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
            inter AS (
              SELECT c.id_a, c.id_b, count(*) AS inter
              FROM cands c
              JOIN shingles a ON a.doc_id = c.id_a
              JOIN shingles b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY c.id_a, c.id_b
            ),
            lsh_pairs AS (
              SELECT i.id_a, i.id_b,
                     round(i.inter::DOUBLE / (sa.sz + sb.sz - i.inter), 6) AS jaccard
              FROM inter i
              JOIN sizes sa ON sa.doc_id = i.id_a
              JOIN sizes sb ON sb.doc_id = i.id_b
              WHERE i.inter::DOUBLE / (sa.sz + sb.sz - i.inter) >= 0.2
            )"""

_SIMHASH_CTE = f"""
toks AS (
  SELECT DISTINCT doc_id, unnest({_TOKS_NORM}) AS tok FROM documents
  WHERE trim(text) <> ''
),
tok_h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
),
positions AS (SELECT unnest(range(0, 60)) AS pos),
bit_rows AS (
  SELECT doc_id, pos,
         CASE WHEN ((h >> pos) & 1) = 1 THEN 1 ELSE -1 END AS sign
  FROM tok_h CROSS JOIN positions
),
per_pos AS (
  SELECT doc_id, pos, sum(sign) AS s FROM bit_rows GROUP BY doc_id, pos
),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << pos) ELSE 0 END)::BIGINT AS simhash
  FROM per_pos GROUP BY doc_id
)
"""


def _lsh_planes_sql(dim: int = 64, num_planes: int = 6) -> str:
    """Bucket expression for the SQL twin of similarity.lsh_bucket —
    identical md5-derived plane constants, inlined as literals."""
    from staticql_spark.operators.similarity import _plane

    parts = []
    for p in range(num_planes):
        plane = _plane(dim, p)
        arr = "[" + ", ".join(f"{x!r}" for x in plane) + "]::DOUBLE[]"
        parts.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr}) >= 0 "
            "THEN '1' ELSE '0' END)"
        )
    return " || ".join(parts)


def _ivf_assign_sql(src: str, cent: str, vcol: str, idcol: str, nprobe: int) -> str:
    """Assignment-step SQL twin of similarity.ivf_assign: cosine (rounded 6)
    argmax over broadcast centroids, ties on cid asc."""
    return f"""(
              SELECT {idcol}, {vcol}, cell FROM (
                SELECT s.{idcol}, s.{vcol}, c.cid AS cell,
                       row_number() OVER (PARTITION BY s.{idcol} ORDER BY
                         round(list_dot_product(s.{vcol}, c.centroid)
                               / (sqrt(list_dot_product(s.{vcol}, s.{vcol}))
                                  * sqrt(list_dot_product(c.centroid, c.centroid))),
                               6) DESC, c.cid ASC) AS rn
                FROM {src} s CROSS JOIN {cent} c
              ) WHERE rn <= {nprobe}
            )"""


def _dmean(expr: str) -> str:
    """SQL twin of similarity.decimal_mean_array's per-element mean:
    6dp-round, EXACT decimal sum (summation-order-free — a float avg()
    differs between local[32] Spark and DuckDB's scan order), one double
    division."""
    return f"CAST(sum(CAST(round({expr}, 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*)"


def _kmeans_ctes(dim: int = 64) -> str:
    """CTE prefix shared by the ann_ivf_trained and dedup_semantic
    oracles: kmeans_fit's two Lloyd iterations unrolled (deterministic
    stride-100 init, cosine-argmax assign, per-element exact-decimal mean
    update — similarity.py kmeans_fit); yields `emb` (vec_id, v) and the
    trained `cent2` (cid, centroid)."""
    avg_list = "[" + ", ".join(_dmean(f"v[{i + 1}]") for i in range(dim)) + "]"
    return f"""emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cent0 AS (SELECT vec_id AS cid, v AS centroid FROM emb WHERE vec_id % 100 = 0),
            a1 AS {_ivf_assign_sql("emb", "cent0", "v", "vec_id", 1)},
            cent1 AS (SELECT cell AS cid, {avg_list} AS centroid FROM a1 GROUP BY cell),
            a2 AS {_ivf_assign_sql("emb", "cent1", "v", "vec_id", 1)},
            cent2 AS (SELECT cell AS cid, {avg_list} AS centroid FROM a2 GROUP BY cell)"""


def _semantic_dedup_sql(dim: int = 64, threshold: float = 0.35) -> str:
    """SQL twin of q_dedup_semantic: trained cells (same unrolled-Lloyd
    CTEs as ann_ivf_trained), cell cap, within-cell pairs at
    cosine >= threshold rounded to 6 (the engine-crossing comparison)."""
    return f"""
            WITH {_kmeans_ctes(dim)},
            assigned AS (
              SELECT vec_id, v, cell FROM {_ivf_assign_sql("emb", "cent2", "v", "vec_id", 1)}
              QUALIFY count(*) OVER (PARTITION BY cell) <= 5000
            ),
            pairs AS (
              SELECT l.vec_id AS id_a, r.vec_id AS id_b, l.cell AS cell,
                     round(list_dot_product(l.v, r.v)
                           / (sqrt(list_dot_product(l.v, l.v))
                              * sqrt(list_dot_product(r.v, r.v))),
                           6) AS cosine
              FROM assigned l JOIN assigned r
                ON l.cell = r.cell AND l.vec_id < r.vec_id
            )
            SELECT id_a, id_b, cell, cosine FROM pairs
            WHERE cosine >= {threshold}
        """


def _semantic_keep_sql(dim: int = 64, threshold: float = 0.35) -> str:
    """SQL twin of q_dedup_semantic_keep: the semantic-pair CTEs, then the
    same recursive min-reachable-component prune as the dedup_keep
    oracle."""
    pairs_sql = _semantic_dedup_sql(dim, threshold)
    # strip the leading WITH and the trailing final SELECT: keep the CTEs
    body = pairs_sql.split("WITH ", 1)[1].rsplit("SELECT id_a", 1)[0].rstrip().rstrip(",")
    return f"""
            WITH RECURSIVE {body},
            sem_pairs AS (
              SELECT id_a, id_b FROM pairs WHERE cosine >= {threshold}
            ),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM sem_pairs
              UNION
              SELECT id_b, id_a FROM sem_pairs
            ),
            reach(node, other) AS (
              SELECT a, a FROM edges
              UNION
              SELECT a, b FROM edges
              UNION
              SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
            ),
            dropped AS (
              SELECT node FROM reach GROUP BY node HAVING min(other) <> node
            )
            SELECT vec_id FROM embeddings
            WHERE vec_id NOT IN (SELECT node FROM dropped)
        """


def _semantic_incr_sql(dim: int = 64, threshold: float = 0.35) -> str:
    """SQL twin of q_dedup_semantic_incr: centroids trained on the OLD
    corpus only (the kmeans CTE chain re-pointed at old_emb), all vectors
    assigned, full-cell cap, pairs restricted to new-touching — the
    restriction commutes with the incremental operator's touched-cell
    reduction because the cap counts agree on every touched cell."""
    kc = _kmeans_ctes(dim).replace("FROM embeddings", "FROM old_emb")
    return f"""
            WITH old_emb AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 3),
            {kc},
            allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            assigned AS (
              SELECT vec_id, v, cell FROM {_ivf_assign_sql("allv", "cent2", "v", "vec_id", 1)}
              QUALIFY count(*) OVER (PARTITION BY cell) <= 5000
            ),
            pairs AS (
              SELECT l.vec_id AS id_a, r.vec_id AS id_b, l.cell AS cell,
                     round(list_dot_product(l.v, r.v)
                           / (sqrt(list_dot_product(l.v, l.v))
                              * sqrt(list_dot_product(r.v, r.v))),
                           6) AS cosine
              FROM assigned l JOIN assigned r
                ON l.cell = r.cell AND l.vec_id < r.vec_id
            )
            SELECT id_a, id_b, cell, cosine FROM pairs
            WHERE cosine >= {threshold}
              AND (id_a % 5 = 3 OR id_b % 5 = 3)
        """


def _ivf_trained_sql(dim: int = 64) -> str:
    """SQL twin of q_ann_ivf_trained: kmeans_fit's two Lloyd iterations
    unrolled (deterministic stride-100 init, cosine-argmax assign, per-
    element avg centroid update — similarity.py:193-226), then the same
    IVF probe/top-5 as the ann_ivf oracle.  All arithmetic is RNG-free and
    every engine-crossing comparison happens on 6-decimal-rounded cosines,
    so the fp summation-order noise in avg/dot stays far below the rounding
    granularity."""
    return f"""
            WITH {_kmeans_ctes(dim)},
            c AS (SELECT vec_id AS neighbor_id, v AS cv FROM emb),
            q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id % 50 = 0),
            cells AS {_ivf_assign_sql("c", "cent2", "cv", "neighbor_id", 1)},
            probes AS {_ivf_assign_sql("q", "cent2", "qv", "query_id", 3)},
            scored AS (
              SELECT p.query_id, s.neighbor_id,
                     round(list_dot_product(p.qv, s.cv)
                           / (sqrt(list_dot_product(p.qv, p.qv))
                              * sqrt(list_dot_product(s.cv, s.cv))),
                           6) AS cosine
              FROM probes p JOIN cells s USING (cell)
              WHERE p.query_id <> s.neighbor_id
            )
            SELECT query_id, neighbor_id, cosine, rank FROM (
              SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """


def _pq_d2(a: str, b: str) -> str:
    """pq.sqdist6's SQL twin: L2² from three 6-rounded dots, re-rounded."""
    return (
        f"round(round(list_dot_product({a}, {a}), 6)"
        f" - 2 * round(list_dot_product({a}, {b}), 6)"
        f" + round(list_dot_product({b}, {b}), 6), 6)"
    )


def _pq_ctes(m: int = 4, dim: int = 64) -> str:
    """CTE prefix shared by the ann_pq_adc and ann_ivf_pq oracles:
    pq.pq_train's two unrolled Lloyd rounds per subspace (stride-100
    init) + pq_encode.  Yields `emb` (vec_id, v), `sub` (vec_id,
    subspace, sv), the trained `cb2` (subspace, code, centroid) and the
    tall `codes` (vec_id, subspace, code)."""
    dsub = dim // m
    avg_list = "[" + ", ".join(_dmean(f"sv[{i + 1}]") for i in range(dsub)) + "]"

    def assign(src: str, cb: str, keep_sv: bool) -> str:
        sv = ", sv" if keep_sv else ""
        return f"""(
              SELECT vec_id, subspace{sv}, code FROM (
                SELECT s.vec_id, s.subspace, s.sv, c.code,
                       row_number() OVER (PARTITION BY s.vec_id, s.subspace
                         ORDER BY {_pq_d2("s.sv", "c.centroid")} ASC, c.code ASC) AS rn
                FROM {src} s JOIN {cb} c USING (subspace)
              ) WHERE rn = 1
            )"""

    return f"""emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            sub AS (
              SELECT vec_id, j AS subspace,
                     v[(j * {dsub} + 1):(j * {dsub} + {dsub})] AS sv
              FROM emb, range({m}) r(j)
            ),
            cb0 AS (SELECT subspace, vec_id AS code, sv AS centroid
                    FROM sub WHERE vec_id % 100 = 0),
            a1 AS {assign("sub", "cb0", True)},
            cb1 AS (SELECT subspace, code, {avg_list} AS centroid
                    FROM a1 GROUP BY subspace, code),
            a2 AS {assign("sub", "cb1", True)},
            cb2 AS (SELECT subspace, code, {avg_list} AS centroid
                    FROM a2 GROUP BY subspace, code),
            codes AS {assign("sub", "cb2", False)}"""


def _pq_adc_sql(m: int = 4, dim: int = 64, k: int = 5) -> str:
    """SQL twin of q_ann_pq_adc: per-subspace Lloyd train (2 unrolled
    rounds, stride-100 init), encode, per-query ADC distance table, top-k.
    Mirrors pq.py's rounding contract exactly: every subvector L2² is
    computed from three 6-rounded dots and re-rounded to 6; the ADC sum
    of those rounded terms is re-rounded to 6 before ranking."""
    return f"""
            WITH {_pq_ctes(m, dim)},
            qsub AS (SELECT vec_id AS query_id, subspace, sv
                     FROM sub WHERE vec_id % 50 = 0),
            dt AS (
              SELECT s.query_id, s.subspace, c.code,
                     {_pq_d2("s.sv", "c.centroid")} AS pd
              FROM qsub s JOIN cb2 c USING (subspace)
            ),
            scored AS (
              SELECT d.query_id, c.vec_id AS neighbor_id,
                     round(sum(d.pd), 6) AS adc
              FROM codes c JOIN dt d
                ON c.subspace = d.subspace AND c.code = d.code
              WHERE c.vec_id <> d.query_id
              GROUP BY d.query_id, c.vec_id
            )
            SELECT query_id, neighbor_id, adc, rank FROM (
              SELECT query_id, neighbor_id, adc,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY adc ASC, neighbor_id ASC) AS rank
              FROM scored
            ) WHERE rank <= {k}
        """


def _ivf_pq_sql(m: int = 4, dim: int = 64, k: int = 5, nprobe: int = 3) -> str:
    """SQL twin of q_ann_ivf_pq (FAISS's IVFADC): the shared PQ CTEs plus
    the untrained stride-100 coarse quantizer from the ann_ivf oracle —
    cells by cosine argmax, nprobe probes per query, ADC restricted to
    the probed cells' codes."""
    return f"""
            WITH {_pq_ctes(m, dim)},
            cvec AS (SELECT vec_id AS vid, v AS cv FROM emb),
            coarse AS (SELECT vec_id AS cid, v AS centroid FROM emb
                       WHERE vec_id % 100 = 0),
            cells AS {_ivf_assign_sql("cvec", "coarse", "cv", "vid", 1)},
            qvec AS (SELECT vec_id AS query_id, v AS qv FROM emb
                     WHERE vec_id % 50 = 0),
            probes AS {_ivf_assign_sql("qvec", "coarse", "qv", "query_id", nprobe)},
            qsub AS (SELECT vec_id AS query_id, subspace, sv
                     FROM sub WHERE vec_id % 50 = 0),
            dt AS (
              SELECT s.query_id, s.subspace, c.code,
                     {_pq_d2("s.sv", "c.centroid")} AS pd
              FROM qsub s JOIN cb2 c USING (subspace)
            ),
            scored AS (
              SELECT d.query_id, t.vec_id AS neighbor_id,
                     round(sum(d.pd), 6) AS adc
              FROM codes t
              JOIN cells cl ON t.vec_id = cl.vid
              JOIN probes p ON cl.cell = p.cell
              JOIN dt d ON d.query_id = p.query_id
                       AND d.subspace = t.subspace AND d.code = t.code
              WHERE t.vec_id <> p.query_id
              GROUP BY d.query_id, t.vec_id
            )
            SELECT query_id, neighbor_id, adc, rank FROM (
              SELECT query_id, neighbor_id, adc,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY adc ASC, neighbor_id ASC) AS rank
              FROM scored
            ) WHERE rank <= {k}
        """


def _stream_pq_sql(m: int = 4, dim: int = 64, threshold: float = 0.35) -> str:
    """SQL twin of q_stream_pq_neardup: the PQ CTE chain re-pointed at the
    OLD corpus (codebooks frozen at index build), old code keys from the
    distributed encode, new-batch codes by the same argmin against cb2
    (the in-row encoder is bit-identical by construction), exact
    code-tuple join, cosine verify at >= threshold."""
    dsub = dim // m
    kc = _pq_ctes(m, dim).replace("FROM embeddings", "FROM old_emb")
    return f"""
            WITH old_emb AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 3),
            {kc},
            okeys AS (
              SELECT vec_id AS id_old,
                     array_to_string(list(code ORDER BY subspace), '_') AS code_key
              FROM codes GROUP BY vec_id
            ),
            newv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                     WHERE vec_id % 5 = 3),
            nsub AS (
              SELECT vec_id, j AS subspace,
                     v[(j * {dsub} + 1):(j * {dsub} + {dsub})] AS sv
              FROM newv, range({m}) r(j)
            ),
            ncodes AS (
              SELECT vec_id, subspace, code FROM (
                SELECT s.vec_id, s.subspace, c.code,
                       row_number() OVER (PARTITION BY s.vec_id, s.subspace
                         ORDER BY {_pq_d2("s.sv", "c.centroid")} ASC, c.code ASC) AS rn
                FROM nsub s JOIN cb2 c USING (subspace)
              ) WHERE rn = 1
            ),
            nkeys AS (
              SELECT vec_id AS id_new,
                     array_to_string(list(code ORDER BY subspace), '_') AS code_key
              FROM ncodes GROUP BY vec_id
            ),
            oldv AS (SELECT vec_id, v FROM emb)
            SELECT n.id_new, o.id_old,
                   round(list_dot_product(nv.v, ov.v)
                         / (sqrt(list_dot_product(nv.v, nv.v))
                            * sqrt(list_dot_product(ov.v, ov.v))), 6) AS cosine
            FROM nkeys n
            JOIN okeys o USING (code_key)
            JOIN newv nv ON nv.vec_id = n.id_new
            JOIN oldv ov ON ov.vec_id = o.id_old
            WHERE n.id_new <> o.id_old
              AND round(list_dot_product(nv.v, ov.v)
                        / (sqrt(list_dot_product(nv.v, nv.v))
                           * sqrt(list_dot_product(ov.v, ov.v))), 6) >= {threshold}
        """



def _prototypes_sql(drop_frac: float = 0.25) -> str:
    """SQL twin of q_embedding_prototypes: the shared unrolled-Lloyd
    CTEs (cent2), cosine-argmax assignment, per-cell prototypicality
    rank and the floor(cell_n * drop_frac) prune flag."""
    return f"""
            WITH {_kmeans_ctes()},
            assigned AS {_ivf_assign_sql("emb", "cent2", "v", "vec_id", 1)},
            scored AS (
              SELECT a.vec_id, a.cell,
                     round(list_dot_product(a.v, c.centroid)
                           / (sqrt(list_dot_product(a.v, a.v))
                              * sqrt(list_dot_product(c.centroid, c.centroid))),
                           6) AS proto_cos
              FROM assigned a JOIN cent2 c ON a.cell = c.cid
            ),
            ranked AS (
              SELECT vec_id AS vid, cell, proto_cos,
                     row_number() OVER (PARTITION BY cell
                                        ORDER BY proto_cos DESC, vec_id ASC) AS proto_rank,
                     count(*) OVER (PARTITION BY cell) AS cell_n
              FROM scored
            )
            SELECT vid, cell, proto_cos, proto_rank,
                   CAST(cell_n AS BIGINT) AS cell_n,
                   (proto_rank <= floor(cell_n * {drop_frac})) AS proto_drop
            FROM ranked
        """



def _embedding_drift_sql() -> str:
    """SQL twin of q_embedding_drift: old-corpus stride-100 cells, both
    versions assigned by cosine argmax, full-outer per-cell counts,
    Laplace-smoothed shares and PSI terms (all rounded 6)."""
    return f"""
            WITH old_emb AS (SELECT vec_id, embedding::DOUBLE[] AS v
                             FROM embeddings WHERE vec_id % 5 <> 3),
            new_emb AS (SELECT vec_id, embedding::DOUBLE[] AS v
                        FROM embeddings WHERE vec_id % 5 = 3),
            cent AS (SELECT vec_id AS cid, v AS centroid FROM old_emb
                     WHERE vec_id % 100 = 0),
            ao AS {_ivf_assign_sql("old_emb", "cent", "v", "vec_id", 1)},
            an AS {_ivf_assign_sql("new_emb", "cent", "v", "vec_id", 1)},
            co AS (SELECT cell, count(*)::BIGINT AS n_old FROM ao GROUP BY cell),
            cn AS (SELECT cell, count(*)::BIGINT AS n_new FROM an GROUP BY cell),
            cells AS (
              SELECT coalesce(co.cell, cn.cell) AS cell,
                     coalesce(n_old, 0) AS n_old,
                     coalesce(n_new, 0) AS n_new
              FROM co FULL OUTER JOIN cn ON co.cell = cn.cell
            ),
            tot AS (SELECT sum(n_old)::DOUBLE AS t_o, sum(n_new)::DOUBLE AS t_n,
                           count(*)::DOUBLE AS nc
                    FROM cells),
            p AS (
              SELECT cell, n_old, n_new,
                     (n_old + 0.5) / (t_o + 0.5 * nc) AS po,
                     (n_new + 0.5) / (t_n + 0.5 * nc) AS pn
              FROM cells, tot
            )
            SELECT cell, n_old, n_new,
                   round(po, 6) AS p_old,
                   round(pn, 6) AS p_new,
                   round((po - pn) * ln(po / pn), 6) AS psi_term
            FROM p
        """


def _bpe_ctes(merges: int = 4) -> list[str]:
    """CTE chain shared by the bpe_train and bpe_encode oracles: word
    vocab v0, then per round the pair argmax b{r} and merged vocab v{r}.
    Same wrapped-symbol encoding (\\x02 sym \\x03) as text._bpe_rounds, so
    DuckDB's literal replace() applies the identical greedy single-scan
    merge; the argmax tiebreak (count desc, pair asc) is total, so both
    engines pick the same pair every round."""
    sow, eow = "\x02", "\x03"
    ctes = [
        f"""words AS (
              SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
              FROM documents
            )""",
        f"""v0 AS (
              SELECT regexp_replace(word, '(.)', '{sow}\\1{eow}', 'g')
                       || '{sow}#{eow}' AS repr,
                     count(*)::BIGINT AS cnt
              FROM words GROUP BY word
            )""",
    ]
    for r in range(1, merges + 1):
        prev = f"v{r - 1}"
        ctes.append(
            f"""s{r} AS (
              SELECT string_split(substr(repr, 2, length(repr) - 2),
                                  '{eow}{sow}') AS s, cnt
              FROM {prev}
            )""",
        )
        ctes.append(
            f"""b{r} AS (
              SELECT pr.a AS a, pr.b AS b, sum(cnt)::BIGINT AS n_pairs
              FROM (
                SELECT unnest(list_transform(range(1, len(s)),
                              i -> struct_pack(a := s[i], b := s[i + 1]))) AS pr,
                       cnt
                FROM s{r} WHERE len(s) >= 2
              )
              GROUP BY 1, 2
              ORDER BY n_pairs DESC, a, b
              LIMIT 1
            )""",
        )
        ctes.append(
            f"""v{r} AS (
              SELECT replace(repr, '{sow}' || a || '{eow}{sow}' || b || '{eow}',
                             '{sow}' || a || b || '{eow}') AS repr, cnt
              FROM {prev}, b{r}
            )""",
        )
    return ctes


def _bpe_train_sql(merges: int = 4) -> str:
    """SQL twin of q_bpe_train: the shared CTE chain, selecting the
    per-round argmax rows."""
    unions = "\n              UNION ALL ".join(
        f"SELECT {r}::INT AS merge_round, a AS sym_a, b AS sym_b, "
        f"a || b AS merged, n_pairs FROM b{r}"
        for r in range(1, merges + 1)
    )
    return (
        "\n            WITH "
        + ",\n            ".join(_bpe_ctes(merges))
        + f"\n            SELECT * FROM (\n              {unions}\n            ) ORDER BY merge_round\n        "
    )


def _bpe_encode_sql(merges: int = 4) -> str:
    """SQL twin of q_bpe_encode: corpus tokenization stats off the shared
    chain — base symbols from v0, post-merge tokens from v{merges}."""
    nsyms = (
        "len(string_split(substr(repr, 2, length(repr) - 2), '\x03\x02'))"
    )
    return (
        "\n            WITH "
        + ",\n            ".join(_bpe_ctes(merges))
        + f"""
            SELECT base.n_words, base.n_base_symbols, enc.n_tokens,
                   round(base.n_base_symbols::DOUBLE / enc.n_tokens, 6) AS compression
            FROM (SELECT sum(cnt)::BIGINT AS n_words,
                         sum(cnt * {nsyms})::BIGINT AS n_base_symbols FROM v0) base,
                 (SELECT sum(cnt * {nsyms})::BIGINT AS n_tokens FROM v{merges}) enc
        """
    )


def _lpa_ctes(pfx: str, where: str = "") -> str:
    """CTE block shared by the events_lpa / events_lpa_incr oracles:
    2-round synchronous LPA (min-label tie-break) over the bidirected
    click graph restricted by ``where``; yields {pfx}final (node,
    community) plus the intermediate {pfx}edges/{pfx}nodes."""
    return f"""{pfx}base AS (
              SELECT DISTINCT 'u:' || user_id::VARCHAR AS src,
                     'k:' || json_extract_string(props, '$.k') AS dst
              FROM events WHERE event_type = 'click' {where}
            ),
            {pfx}edges AS (SELECT src, dst FROM {pfx}base
                           UNION SELECT dst, src FROM {pfx}base),
            {pfx}nodes AS (SELECT DISTINCT src AS node FROM {pfx}edges),
            {pfx}l0 AS (SELECT node, node AS community FROM {pfx}nodes),
            {pfx}m1 AS (
              SELECT e.dst AS node, l.community, count(*) AS c
              FROM {pfx}edges e JOIN {pfx}l0 l ON l.node = e.src
              GROUP BY e.dst, l.community
            ),
            {pfx}n1 AS (
              SELECT node, community FROM (
                SELECT node, community,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, community ASC) AS rn
                FROM {pfx}m1
              ) WHERE rn = 1
            ),
            {pfx}l1 AS (
              SELECT n.node, coalesce(x.community, n.node) AS community
              FROM {pfx}nodes n LEFT JOIN {pfx}n1 x USING (node)
            ),
            {pfx}m2 AS (
              SELECT e.dst AS node, l.community, count(*) AS c
              FROM {pfx}edges e JOIN {pfx}l1 l ON l.node = e.src
              GROUP BY e.dst, l.community
            ),
            {pfx}n2 AS (
              SELECT node, community FROM (
                SELECT node, community,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, community ASC) AS rn
                FROM {pfx}m2
              ) WHERE rn = 1
            ),
            {pfx}final AS (
              SELECT l.node, coalesce(x.community, l.community) AS community
              FROM {pfx}l1 l LEFT JOIN {pfx}n2 x ON l.node = x.node
            )"""


def _logreg_sql(lr: float = 4.0) -> str:
    """SQL twin of q_doc_logreg: classify.logreg_fit's two GD iterations
    unrolled. Same feature expressions, same algebraic sigmoid (rational
    ops -> IEEE-identical), same left-associative margin term order, and
    the same round(·, 9) gradient barrier per iteration, so both engines
    walk the identical weight trajectory."""
    xs = ["x0", "x1", "x2", "x3"]
    names = ["x_bias", "x_cjk", "x_dia", "x_stop"]  # alphabetical for ORDER BY
    idx = {"x_stop": 0, "x_dia": 1, "x_cjk": 2, "x_bias": 3}
    g1 = ", ".join(f"round(avg((0.5 - y) * {x}), 9) AS g{i}" for i, x in enumerate(xs))
    w1 = ", ".join(f"0.0 - {lr} * g{i} AS wc{i}" for i in range(len(xs)))
    margin = " + ".join(f"wc{i} * {x}" for i, x in enumerate(xs))
    g2 = ", ".join(f"round(avg((p - y) * {x}), 9) AS g{i}" for i, x in enumerate(xs))
    w2 = ", ".join(f"wc{i} - {lr} * g{i} AS wc{i}" for i in range(len(xs)))
    unions = "\n              UNION ALL ".join(
        f"SELECT '{n}' AS feature, round(wc{idx[n]}, 6) AS weight FROM w2"
        for n in names
    )
    ctes = _logreg_w2_ctes(lr)
    return f"""
            WITH {ctes}
            SELECT * FROM (
              {unions}
            ) ORDER BY feature
        """


def _logreg_w2_ctes(lr: float = 4.0) -> str:
    """The base..w2 CTE chain of _logreg_sql, shared with the
    doc_calibration oracle (which scores the corpus with the final
    6dp-rounded weights instead of emitting them)."""
    xs = ["x0", "x1", "x2", "x3"]
    g1 = ", ".join(f"round(avg((0.5 - y) * {x}), 9) AS g{i}" for i, x in enumerate(xs))
    w1 = ", ".join(f"0.0 - {lr} * g{i} AS wc{i}" for i in range(len(xs)))
    margin = " + ".join(f"wc{i} * {x}" for i, x in enumerate(xs))
    g2 = ", ".join(f"round(avg((p - y) * {x}), 9) AS g{i}" for i, x in enumerate(xs))
    w2 = ", ".join(f"wc{i} - {lr} * g{i} AS wc{i}" for i in range(len(xs)))
    return f"""base AS (
              SELECT text, lang, length(text)::DOUBLE AS n, {_TOKS_RAW} AS toks
              FROM documents
            ),
            f AS (
              SELECT
                CASE WHEN len(toks) > 0
                     THEN len(list_filter(toks, t -> lower(t) IN {_STOPS}))::DOUBLE / len(toks)
                     ELSE 0.0 END AS x0,
                CASE WHEN n > 0 THEN (n - length(regexp_replace(text, '[äöüßÄÖÜàâçéèêëîïôûùüÿœáéíóúñ¿¡]', '', 'g'))) / n ELSE 0.0 END AS x1,
                CASE WHEN n > 0 THEN (n - length(regexp_replace(text, '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g'))) / n ELSE 0.0 END AS x2,
                1.0 AS x3,
                CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
              FROM base
            ),
            g1 AS (SELECT {g1} FROM f),
            w1 AS (SELECT {w1} FROM g1),
            p2 AS (
              SELECT f.*, 0.5 + 0.5 * (m / (1.0 + abs(m))) AS p
              FROM (SELECT f.*, {margin} AS m FROM f, w1) f
            ),
            g2 AS (SELECT {g2} FROM p2),
            w2 AS (SELECT {w2} FROM w1, g2)"""


_DOC_LANG_SQL = f"""
            WITH base AS (
              SELECT doc_id, text, length(text)::DOUBLE AS n,
                     {_TOKS_RAW} AS toks
              FROM documents
            ),
            r AS (
              SELECT doc_id, n, toks,
                CASE WHEN n > 0 THEN (n - length(regexp_replace(text, '[\\x{{3040}}-\\x{{30ff}}]', '', 'g'))) / n ELSE 0.0 END AS kana,
                CASE WHEN n > 0 THEN (n - length(regexp_replace(text, '[\\x{{ac00}}-\\x{{d7af}}]', '', 'g'))) / n ELSE 0.0 END AS hangul,
                CASE WHEN n > 0 THEN (n - length(regexp_replace(text, '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g'))) / n ELSE 0.0 END AS cjk,
                CASE WHEN n > 0 THEN (n - length(regexp_replace(text, '[\\x{{0400}}-\\x{{04ff}}]', '', 'g'))) / n ELSE 0.0 END AS cyr,
                CASE WHEN n > 0 THEN (n - length(regexp_replace(text, '[\\x{{0600}}-\\x{{06ff}}]', '', 'g'))) / n ELSE 0.0 END AS arabic,
                CASE WHEN n > 0 THEN (n - length(regexp_replace(text, '[äöüßÄÖÜ]', '', 'g'))) / n ELSE 0.0 END AS de_chars,
                CASE WHEN n > 0 THEN (n - length(regexp_replace(text, '[àâçéèêëîïôûùüÿœ]', '', 'g'))) / n ELSE 0.0 END AS fr_chars,
                CASE WHEN n > 0 THEN (n - length(regexp_replace(text, '[áéíóúñ¿¡]', '', 'g'))) / n ELSE 0.0 END AS es_chars,
                CASE WHEN len(toks) > 0
                     THEN len(list_filter(toks, t -> lower(t) IN {_STOPS}))::DOUBLE / len(toks)
                     ELSE 0.0 END AS stop_ratio
              FROM base
            )
            SELECT doc_id,
                   CASE WHEN kana > 0.05 THEN 'ja'
                        WHEN hangul > 0.05 THEN 'ko'
                        WHEN cjk > 0.05 THEN 'zh'
                        WHEN cyr > 0.05 THEN 'ru'
                        WHEN arabic > 0.05 THEN 'ar'
                        WHEN de_chars > 0.002 THEN 'de'
                        WHEN es_chars > 0.002 THEN 'es'
                        WHEN fr_chars > 0.002 THEN 'fr'
                        WHEN stop_ratio >= 0.03 THEN 'en'
                        ELSE 'und' END AS lang_pred,
                   round(stop_ratio, 4) AS en_stop_ratio
            FROM r
        """

_ANN_IVF_SQL = """
            WITH c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                  FROM embeddings WHERE vec_id % 50 = 0),
            cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS centroid
                     FROM embeddings WHERE vec_id % 100 = 0),
            cells AS (
              SELECT neighbor_id, cv, cell FROM (
                SELECT c.neighbor_id, c.cv, cent.cid AS cell,
                       row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
                         round(list_dot_product(cv, centroid)
                               / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(centroid, centroid))),
                               6) DESC, cent.cid ASC) AS rn
                FROM c CROSS JOIN cent
              ) WHERE rn = 1
            ),
            probes AS (
              SELECT query_id, qv, cell FROM (
                SELECT q.query_id, q.qv, cent.cid AS cell,
                       row_number() OVER (PARTITION BY q.query_id ORDER BY
                         round(list_dot_product(qv, centroid)
                               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(centroid, centroid))),
                               6) DESC, cent.cid ASC) AS rn
                FROM q CROSS JOIN cent
              ) WHERE rn <= 3
            ),
            scored AS (
              SELECT p.query_id, s.neighbor_id,
                     round(list_dot_product(p.qv, s.cv)
                           / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(s.cv, s.cv))),
                           6) AS cosine
              FROM probes p JOIN cells s USING (cell)
              WHERE p.query_id <> s.neighbor_id
            )
            SELECT query_id, neighbor_id, cosine, rank FROM (
              SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """

_ANN_LSH_SQL = f"""
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS dv, {_lsh_planes_sql()} AS bucket
              FROM embeddings
            ),
            q AS (SELECT vec_id AS query_id, dv AS qv, bucket FROM v WHERE vec_id % 50 = 0),
            c AS (SELECT vec_id AS neighbor_id, dv AS cv, bucket FROM v),
            scored AS (
              SELECT query_id, neighbor_id,
                     round(list_dot_product(qv, cv)
                           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                           6) AS cosine
              FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id
            )
            SELECT query_id, neighbor_id, cosine, rank FROM (
              SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """


# HyperLogLog oracle skeleton — the exact SQL twin of sketch.hll_registers
# + hll_estimate: register index/rank via bit ops + base-2 string length
# (both exact integers in both engines), harmonic sum as a LONG, and the
# estimate as ONE IEEE division by the shared python-float numerator.
_HLL_NUM = repr(
    sketch._HLL_ALPHA
    * sketch._HLL_M
    * sketch._HLL_M
    * float(1 << (sketch._HLL_WBITS + 1))
)


def _hll_sql(hash_cte: str, exact_sql: str) -> str:
    m = sketch._HLL_M
    maxrho = sketch._HLL_WBITS + 1
    pow52 = 1 << maxrho
    return f"""
            WITH h AS ({hash_cte}),
            regs AS (
              SELECT h & {m - 1} AS j,
                     max(CASE WHEN (h >> {sketch._HLL_P}) = 0 THEN {maxrho}
                         ELSE {maxrho} - length(bin(h >> {sketch._HLL_P})) END)::INT AS m_j
              FROM h GROUP BY 1
            ),
            a AS (
              SELECT count(*)::BIGINT AS n_regs,
                     sum((pow(2.0, {maxrho}.0 - m_j))::BIGINT)::BIGINT AS s_present
              FROM regs
            ),
            b AS (
              SELECT n_regs,
                     (s_present + ({m} - n_regs) * {pow52})::BIGINT AS sum_inv,
                     ({m} - n_regs) AS zeros
              FROM a
            ),
            c AS (
              SELECT n_regs, sum_inv,
                     round({_HLL_NUM} / sum_inv::DOUBLE, 2) AS est_raw,
                     round(CASE WHEN zeros > 0
                           THEN {m}.0 * ln({m}.0 / zeros::DOUBLE) END, 2) AS est_linear
              FROM b
            )
            SELECT n_regs, sum_inv, est_raw, est_linear,
                   CASE WHEN est_raw <= {2.5 * m} AND est_linear IS NOT NULL
                        THEN est_linear ELSE est_raw END AS est_ndv,
                   ({exact_sql})::BIGINT AS exact_ndv
            FROM c
    """


def _hll_grouped_sql(hash_cte: str, exact_cte: str) -> str:
    # grouped twin of _hll_sql: hash_cte yields (grp, h), exact_cte
    # yields (grp, exact_ndv); registers/estimate fold per group
    m = sketch._HLL_M
    maxrho = sketch._HLL_WBITS + 1
    pow52 = 1 << maxrho
    return f"""
            WITH h AS ({hash_cte}),
            regs AS (
              SELECT grp, h & {m - 1} AS j,
                     max(CASE WHEN (h >> {sketch._HLL_P}) = 0 THEN {maxrho}
                         ELSE {maxrho} - length(bin(h >> {sketch._HLL_P})) END)::INT AS m_j
              FROM h GROUP BY 1, 2
            ),
            a AS (
              SELECT grp, count(*)::BIGINT AS n_regs,
                     sum((pow(2.0, {maxrho}.0 - m_j))::BIGINT)::BIGINT AS s_present
              FROM regs GROUP BY 1
            ),
            b AS (
              SELECT grp, n_regs,
                     (s_present + ({m} - n_regs) * {pow52})::BIGINT AS sum_inv,
                     ({m} - n_regs) AS zeros
              FROM a
            ),
            c AS (
              SELECT grp, n_regs, sum_inv,
                     round({_HLL_NUM} / sum_inv::DOUBLE, 2) AS est_raw,
                     round(CASE WHEN zeros > 0
                           THEN {m}.0 * ln({m}.0 / zeros::DOUBLE) END, 2) AS est_linear
              FROM b
            ),
            e AS ({exact_cte})
            SELECT c.grp, c.n_regs, c.sum_inv, c.est_raw, c.est_linear,
                   CASE WHEN c.est_raw <= {2.5 * m} AND c.est_linear IS NOT NULL
                        THEN c.est_linear ELSE c.est_raw END AS est_ndv,
                   e.exact_ndv
            FROM c JOIN e USING (grp)
    """


def _power_pc_ctes(src_cte: str, dim: int, iters: int) -> str:
    """Unrolled power-iteration CTE chain ending in ``v{iters}`` — the
    exact SQL twin of similarity.power_iteration_pc: per-dim Gram sums
    fold 6dp-rounded terms in DECIMAL(27,6) (summation-order-free, the
    r7 hardening), normalization in double.  ``src_cte`` must yield a
    column ``x`` (DOUBLE[])."""
    init = 1.0 / dim ** 0.5
    init_arr = "[" + ", ".join(repr(init) for _ in range(dim)) + "]::DOUBLE[]"
    parts = [f"pcemb AS ({src_cte})"]
    for it in range(1, iters + 1):
        if it == 1:
            parts.append(
                f"p{it} AS (SELECT x, list_dot_product(x, {init_arr}) AS d FROM pcemb)"
            )
        else:
            parts.append(
                f"p{it} AS (SELECT e.x AS x, list_dot_product(e.x, v{it-1}.v) AS d "
                f"FROM pcemb e, v{it-1})"
            )
        sums = ", ".join(
            f"CAST(sum(CAST(round(x[{j + 1}] * d, 6) AS DECIMAL(27,6))) AS DOUBLE)"
            for j in range(dim)
        )
        parts.append(f"s{it} AS (SELECT [{sums}] AS s FROM p{it})")
        parts.append(
            f"v{it} AS (SELECT list_transform(s, "
            f"e -> e / sqrt(list_dot_product(s, s))) AS v FROM s{it})"
        )
    return ",\n            ".join(parts)



def _oracle_sql_literal() -> dict[str, str]:
    return {
        "where_eq": """
            SELECT c_custkey, c_name, c_acctbal FROM customer
            WHERE c_mktsegment = 'BUILDING'
        """,
        "where_startswith": """
            SELECT p_partkey, p_name, p_brand FROM part
            WHERE p_name LIKE 'small%'
        """,
        "where_in": """
            SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        """,
        "where_and": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount > 0.05
        """,
        "point_lookup": "SELECT * FROM customer WHERE c_custkey = 42",
        "projection_prune": """
            SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000.0
        """,
        "has_one_join": """
            SELECT o_orderkey, c_name, c_mktsegment
            FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        """,
        "has_many_agg": """
            SELECT c_custkey,
                   count(o_orderkey) AS n_orders,
                   round(sum(coalesce(o_totalprice, 0.0)), 2) AS total_spent
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        """,
        "has_many_collect": """
            SELECT c_custkey,
                   array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys
            FROM customer JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        """,
        "belongs_to_join": """
            SELECT l_orderkey, l_linenumber, p_name, p_brand
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_orderkey < 100
        """,
        "through_count": """
            SELECT r_name, count(*) AS n_customers
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "through_rows": """
            SELECT s_suppkey, s_name, n_name, r_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
        """,
        "order_page1": """
            SELECT c_custkey, c_name, c_acctbal FROM customer
            ORDER BY c_name, c_custkey LIMIT 20
        """,
        "cursor_after": """
            SELECT c_custkey, c_name, c_acctbal FROM customer
            WHERE c_name > 'Customer#000000100'
               OR (c_name = 'Customer#000000100' AND c_custkey > 100)
            ORDER BY c_name, c_custkey LIMIT 20
        """,
        "cursor_before": """
            SELECT c_custkey, c_name, c_acctbal FROM (
              SELECT c_custkey, c_name, c_acctbal FROM customer
              WHERE c_name < 'Customer#000000100'
                 OR (c_name = 'Customer#000000100' AND c_custkey < 100)
              ORDER BY c_name DESC, c_custkey DESC LIMIT 20
            ) ORDER BY c_name, c_custkey
        """,
        "set_intersect": """
            SELECT o_custkey AS ckey FROM orders
            INTERSECT
            SELECT c_custkey AS ckey FROM customer WHERE c_acctbal > 5000.0
        """,
        "forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate <  TIMESTAMP '1996-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "latest_per_user": """
            SELECT user_id, event_id, ts, event_type FROM (
              SELECT user_id, event_id, ts, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "returned_item_revenue": """
            SELECT c_custkey, c_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1995-10-01'
              AND o_orderdate <  TIMESTAMP '1996-01-01'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "promo_revenue": """
            SELECT round(
                     100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1995-09-01'
              AND l_shipdate <  TIMESTAMP '1995-10-01'
        """,
        "top_supplier": """
            WITH rev AS (
              SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <  TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "brand_supplier_count": """
            SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_size IN (1, 5, 9, 13)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_size
        """,
        "large_volume_customer": """
            WITH big AS (
              SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING round(sum(l_quantity), 2) > 150
            )
            SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "order_value_percentiles": """
            SELECT o_orderpriority,
                   round(quantile_cont(o_totalprice, 0.5), 2) AS p50_value,
                   round(quantile_cont(o_totalprice, 0.95), 2) AS p95_value,
                   count(*) AS n_orders
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "order_priority_check": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-07-01'
              AND o_orderdate <  TIMESTAMP '1995-10-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "nation_volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l_shipdate) AS l_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """,
        "market_share": """
            SELECT o_year,
                   round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                                  ELSE 0.0 END) / sum(volume), 4) AS mkt_share
            FROM (
              SELECT year(o_orderdate) AS o_year,
                     l_extendedprice * (1 - l_discount) AS volume,
                     n2.n_name AS supp_nation
              FROM lineitem
              JOIN part     ON l_partkey = p_partkey
              JOIN orders   ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON c_nationkey = n1.n_nationkey
              JOIN region   ON n1.n_regionkey = r_regionkey
              JOIN nation n2 ON s_nationkey = n2.n_nationkey
              WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
                AND o_orderdate >= TIMESTAMP '1995-01-01'
                AND o_orderdate <  TIMESTAMP '1997-01-01'
            )
            GROUP BY o_year
            ORDER BY o_year
        """,
        "nation_profit": """
            SELECT n_name AS nation, year(o_orderdate) AS o_year,
                   round(sum(l_extendedprice * (1 - l_discount)
                             - p_retailprice * 0.1 * l_quantity), 2) AS sum_profit
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
            GROUP BY n_name, year(o_orderdate)
            ORDER BY nation ASC, o_year DESC
        """,
        "late_shipment_priority": """
            SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
                        THEN 'late' ELSE 'ontime' END AS delay_bucket,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
            GROUP BY delay_bucket
            ORDER BY delay_bucket
        """,
        "customer_order_distribution": """
            SELECT c_count, count(*) AS custdist FROM (
              SELECT c_custkey, coalesce(cnt, 0) AS c_count
              FROM customer
              LEFT JOIN (
                SELECT o_custkey, count(*) AS cnt FROM orders
                WHERE o_orderpriority <> '5-LOW' GROUP BY o_custkey
              ) ON c_custkey = o_custkey
            )
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "small_qty_avg_yearly": """
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#23'
              AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                                WHERE l2.l_partkey = part.p_partkey)
        """,
        "disjunctive_filter_revenue": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "waiting_supplier": """
            WITH late AS (
              SELECT l_orderkey, l_suppkey
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'
                AND date_diff('day', o_orderdate, l_shipdate) > 60
            )
            SELECT s_name, count(*) AS numwait
            FROM late l1
            JOIN supplier ON l1.l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_1'
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM late l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name ASC
            LIMIT 20
        """,
        "cheapest_supplier": """
            WITH per AS (
              SELECT l_partkey, l_suppkey,
                     round(avg(l_extendedprice), 2) AS avg_price
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              WHERE p_size < 10
              GROUP BY l_partkey, l_suppkey
            )
            SELECT l_partkey AS p_partkey, s_suppkey, s_name, avg_price
            FROM per
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE avg_price = (SELECT min(avg_price) FROM per p2
                               WHERE p2.l_partkey = per.l_partkey)
        """,
        "important_part_value": """
            WITH val AS (
              SELECT p_partkey, p_name,
                     round(sum(l_quantity * p_retailprice), 2) AS value
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY p_partkey, p_name
            )
            SELECT p_partkey, p_name, value FROM val
            WHERE value > (SELECT avg(value) * 1.5 FROM val)
            ORDER BY value DESC, p_partkey ASC
        """,
        "dominant_supplier": """
            WITH red_li AS (
              SELECT l_partkey, l_suppkey, l_quantity
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_name LIKE 'red%'
                AND l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <  TIMESTAMP '1997-01-01'
            ),
            per_supp AS (
              SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
              FROM red_li GROUP BY l_partkey, l_suppkey
            ),
            per_part AS (
              SELECT l_partkey, sum(l_quantity) * 0.3 AS part_qty_threshold
              FROM red_li GROUP BY l_partkey
            )
            SELECT s_suppkey, s_name
            FROM supplier
            WHERE s_suppkey IN (
              SELECT ps.l_suppkey FROM per_supp ps
              JOIN per_part pp ON ps.l_partkey = pp.l_partkey
              WHERE ps.supp_qty > pp.part_qty_threshold
            )
            ORDER BY s_suppkey
        """,
        "idle_customer_balance": """
            SELECT n_name, count(*) AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                               WHERE c_acctbal > 0.0)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY n_name
            ORDER BY n_name
        """,
        "ship_priority": """
            SELECT l_orderkey, o_orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15'
              AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
            LIMIT 10
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "topk_per_group": """
            SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
              SELECT o_orderpriority, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders
            ) WHERE rn <= 3
        """,
        "region_revenue": """
            SELECT r_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_lineitems
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "agg_distinct": """
            SELECT o_orderstatus,
                   count(*) AS n_orders,
                   count(DISTINCT o_custkey) AS n_customers,
                   round(min(o_totalprice), 2) AS min_price,
                   round(max(o_totalprice), 2) AS max_price
            FROM orders GROUP BY o_orderstatus
        """,
        "set_except": """
            SELECT DISTINCT c_custkey FROM customer
            EXCEPT
            SELECT DISTINCT o_custkey AS c_custkey FROM orders
        """,
        "window_running": """
            SELECT o_custkey, o_orderkey,
                   round(sum(o_totalprice) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS running_spend
            FROM orders WHERE o_custkey < 50
        """,
        "events_markov": """
            WITH seq AS (
              SELECT user_id, event_type,
                     lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS prev
              FROM events
            ),
            trans AS (
              SELECT prev, event_type AS next, count(*)::BIGINT AS n
              FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
            ),
            tot AS (SELECT prev, sum(n)::BIGINT AS tot FROM trans GROUP BY prev)
            SELECT t.prev, t.next, t.n, round(t.n::DOUBLE / tot.tot, 6) AS p
            FROM trans t JOIN tot USING (prev)
        """,
        "customer_rfm": """
            WITH per AS (
              SELECT o_custkey, count(*)::BIGINT AS frequency,
                     round(sum(o_totalprice), 2) AS monetary,
                     max(o_orderdate) AS last_order
              FROM orders GROUP BY o_custkey
            ),
            ref AS (SELECT max(o_orderdate) AS ref_date FROM orders),
            base AS (
              SELECT p.*, date_diff('day', last_order, ref_date)::INT AS recency_days
              FROM per p, ref
            ),
            thr AS (
              SELECT
                list_transform(quantile_cont(recency_days, [0.25, 0.5, 0.75]), x -> round(x, 6)) AS rt,
                list_transform(quantile_cont(frequency, [0.25, 0.5, 0.75]), x -> round(x, 6)) AS ft,
                list_transform(quantile_cont(monetary, [0.25, 0.5, 0.75]), x -> round(x, 6)) AS mt
              FROM base
            )
            SELECT o_custkey, recency_days, frequency, monetary,
                   (1 + len(list_filter(rt, t -> t <= recency_days)))::INT AS r_q,
                   (1 + len(list_filter(ft, t -> t <= frequency)))::INT AS f_q,
                   (1 + len(list_filter(mt, t -> t <= monetary)))::INT AS m_q
            FROM base, thr
        """,
        "events_anomaly": """
            WITH hourly AS (
              SELECT date_trunc('hour', ts) AS hour, event_type,
                     count(*)::BIGINT AS n
              FROM events GROUP BY 1, 2
            ),
            stats AS (
              SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sigma
              FROM hourly GROUP BY event_type
            )
            SELECT h.event_type, h.hour, h.n,
                   round(CASE WHEN s.sigma > 0 THEN (h.n - s.mu) / s.sigma
                              ELSE 0.0 END, 4) AS z
            FROM hourly h JOIN stats s USING (event_type)
            WHERE abs(round(CASE WHEN s.sigma > 0 THEN (h.n - s.mu) / s.sigma
                                 ELSE 0.0 END, 4)) >= 2.0
        """,
        "events_windowed": """
            SELECT date_trunc('hour', ts) AS window_start,
                   date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY 1, 2, 3
        """,
        "events_sessionize": """
            WITH marked AS (
              SELECT user_id, ts, value,
                     CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            > INTERVAL 30 MINUTE
                          OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                     THEN 1 ELSE 0 END AS new_sess
              FROM events
            ),
            sess AS (
              SELECT user_id, ts, value,
                     sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
              FROM marked
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM sess GROUP BY user_id, sess_id
        """,
        "events_sliding": """
            -- hopping window 15min/5min: every event is in exactly the 3
            -- windows starting at floor5(ts) - k*5min, k in 0..2 (epoch-
            -- aligned, matching Spark's window() origin)
            SELECT ws AS window_start,
                   ws + INTERVAL 15 MINUTE AS window_end,
                   event_type,
                   count(*)::BIGINT AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM (
              SELECT e.event_type, e.value,
                     time_bucket(INTERVAL 5 MINUTE, e.ts) - k * INTERVAL 5 MINUTE AS ws
              FROM events e, unnest([0, 1, 2]) AS t(k)
            )
            GROUP BY ws, event_type
        """,
        "events_trending": """
            -- top-3 event types per 15min/5min hopping window (rank ties
            -- break on event_type so the cut is engine-portable)
            WITH c AS (
              SELECT ws AS window_start, event_type, count(*)::BIGINT AS n_events
              FROM (
                SELECT e.event_type,
                       time_bucket(INTERVAL 5 MINUTE, e.ts) - k * INTERVAL 5 MINUTE AS ws
                FROM events e, unnest([0, 1, 2]) AS t(k)
              )
              GROUP BY ws, event_type
            )
            SELECT window_start, event_type, n_events, rnk FROM (
              SELECT *, rank() OVER (PARTITION BY window_start
                                     ORDER BY n_events DESC, event_type ASC) AS rnk
              FROM c
            ) WHERE rnk <= 3
        """,
        "events_lag_gap": """
            WITH g AS (
              SELECT user_id,
                     epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
              FROM events
            )
            SELECT user_id,
                   count(gap)::BIGINT AS n_gaps,
                   sum(gap)::BIGINT AS sum_gap_us,
                   round(sum(gap)::DOUBLE / count(gap) / 1000000.0, 3) AS avg_gap_s
            FROM g GROUP BY user_id
            HAVING count(gap) > 0
        """,
        "unpivot_metrics": """
            SELECT metric, count(*)::BIGINT AS n, round(sum(val), 2) AS total
            FROM (
              UNPIVOT (SELECT l_orderkey, l_quantity::DOUBLE AS l_quantity,
                              l_extendedprice, l_discount FROM lineitem)
              ON l_quantity, l_extendedprice, l_discount
              INTO NAME metric VALUE val
            )
            GROUP BY metric
        """,
        "events_range_window": """
            SELECT event_id, user_id,
                   count(*) OVER w AS n_trailing_10m,
                   round(sum(value) OVER w, 4) AS sum_trailing_10m
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
        """,
        "asof_click_purchase": """
            WITH clicks AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            ),
            purch AS (
              SELECT user_id, ts,
                     max(value) AS purchase_value,
                     max(event_id) AS purchase_event
              FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            )
            SELECT c.event_id, c.user_id, p.purchase_event,
                   round(p.purchase_value, 4) AS purchase_value
            FROM clicks c ASOF LEFT JOIN purch p
              ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        # same oracle as asof_click_purchase: the bucketed variant must be
        # output-identical to the plain as-of path
        "asof_hotkey_bucketed": """
            WITH clicks AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            ),
            purch AS (
              SELECT user_id, ts,
                     max(value) AS purchase_value,
                     max(event_id) AS purchase_event
              FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            )
            SELECT c.event_id, c.user_id, p.purchase_event,
                   round(p.purchase_value, 4) AS purchase_value
            FROM clicks c ASOF LEFT JOIN purch p
              ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        "range_followups": """
            WITH clicks AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            )
            SELECT c.event_id, c.user_id,
                   count(e.event_id)::BIGINT AS n_followups,
                   coalesce(sum(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END), 0)::BIGINT
                     AS n_purchases
            FROM clicks c LEFT JOIN events e
              ON e.user_id = c.user_id
             AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL 5 MINUTE
            GROUP BY c.event_id, c.user_id
        """,
        "kmv_distinct": """
            WITH h AS (
              SELECT DISTINCT ('0x' || substr(md5('kmv1|' || o_custkey::VARCHAR), 1, 15))::BIGINT AS h
              FROM orders WHERE o_custkey IS NOT NULL
            ),
            sk AS (SELECT h FROM h ORDER BY h LIMIT 256),
            a AS (SELECT count(*)::BIGINT AS sketch_k, max(h) AS kth_hash FROM sk)
            SELECT sketch_k, kth_hash,
                   round(CASE WHEN sketch_k < 256 THEN sketch_k::DOUBLE
                         ELSE 255.0 / (kth_hash::DOUBLE / 1152921504606846976.0) END, 2) AS est_ndv,
                   (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT AS exact_ndv
            FROM a
        """,
        "cm_heavy_hitters": """
            WITH vals AS (
              SELECT user_id::VARCHAR AS v FROM events WHERE user_id IS NOT NULL
            ),
            sketch AS (
              SELECT d,
                     ('0x' || substr(md5('cm1|' || d::VARCHAR || '|' || v), 1, 15))::BIGINT % 256 AS bucket,
                     count(*)::BIGINT AS n
              FROM vals, unnest([0, 1, 2, 3]) AS t(d)
              GROUP BY 1, 2
            ),
            probes AS (SELECT unnest(['1', '2', '3', '999999']) AS user_id),
            pb AS (
              SELECT user_id, d,
                     ('0x' || substr(md5('cm1|' || d::VARCHAR || '|' || user_id), 1, 15))::BIGINT % 256 AS bucket
              FROM probes, unnest([0, 1, 2, 3]) AS t(d)
            ),
            est AS (
              SELECT p.user_id, min(coalesce(s.n, 0))::BIGINT AS est_count
              FROM pb p LEFT JOIN sketch s USING (d, bucket) GROUP BY 1
            ),
            exact AS (
              SELECT user_id::VARCHAR AS user_id, count(*)::BIGINT AS exact_count
              FROM events WHERE user_id::VARCHAR IN ('1', '2', '3', '999999')
              GROUP BY 1
            )
            SELECT e.user_id, e.est_count,
                   coalesce(x.exact_count, 0)::BIGINT AS exact_count
            FROM est e LEFT JOIN exact x USING (user_id)
        """,
        "full_outer_activity": """
            SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
                   c.neg_bal,
                   coalesce(o.n_urgent, 0)::BIGINT AS n_urgent
            FROM (SELECT c_custkey, round(c_acctbal, 2) AS neg_bal
                  FROM customer WHERE c_acctbal < 0) c
            FULL OUTER JOIN
                 (SELECT o_custkey, count(*)::BIGINT AS n_urgent
                  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1) o
              ON c.c_custkey = o.o_custkey
        """,
        "events_props_json": """
            SELECT (props->>'$.k')::INT % 10 AS k_bucket,
                   count(*)::BIGINT AS n,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1
        """,
        "rollup_agg": """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "exists_subquery": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
        """,
        "anti_join": """
            SELECT p_partkey, p_name FROM part
            WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        """,
        "conditional_pivot": """
            SELECT l_returnflag,
                   round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0.0 END), 2) AS qty_open,
                   round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0.0 END), 2) AS qty_filled,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """,
        "scalar_subquery": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.5
        """,
        "union_distinct": """
            SELECT DISTINCT c_custkey FROM (
              SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
              UNION ALL
              SELECT c_custkey FROM customer WHERE c_acctbal > 7500.0
            )
        """,
        "salted_hot_key_agg": """
            SELECT l_returnflag,
                   round(sum(l_quantity), 2) AS sum_qty,
                   count(*) AS n_rows,
                   round(avg(l_quantity), 4) AS avg_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "doc_tokens": f"""
            SELECT doc_id,
                   len({_TOKS_RAW}) AS ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS re_tokens,
                   length(text) AS n_chars_computed
            FROM documents
        """,
        "doc_quality": f"""
            WITH {_QUALITY_CTES}
            SELECT doc_id, n_tokens,
                   round(mean_tok_len, 4) AS mean_tok_len,
                   round(alpha_ratio, 4) AS alpha_ratio,
                   round(digit_ratio, 4) AS digit_ratio,
                   round(punct_ratio, 4) AS punct_ratio,
                   round(CASE WHEN n_tokens > 0 THEN stop_hits::DOUBLE / n_tokens ELSE 0.0 END, 4) AS stop_ratio,
                   quality
            FROM r
        """,
        "doc_gopher": f"""
            WITH base AS (
              SELECT doc_id, text, {_TOKS_RAW} AS toks,
                     string_split(text, chr(10)) AS lines
              FROM documents
            ),
            m AS (
              SELECT doc_id,
                     len(toks)::INT AS n_words,
                     round(CASE WHEN len(toks) > 0
                       THEN length(regexp_replace(text, '\\s', '', 'g'))::DOUBLE / len(toks)
                       ELSE 0.0 END, 4) AS mean_word_len,
                     round(CASE WHEN len(toks) > 0
                       THEN len(regexp_extract_all(text, '[#\u2026]'))::DOUBLE / len(toks)
                       ELSE 0.0 END, 4) AS symbol_ratio,
                     round(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*\u2022]')))::DOUBLE
                           / len(lines), 4) AS bullet_frac,
                     round(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|\u2026)\\s*$')))::DOUBLE
                           / len(lines), 4) AS ellipsis_frac,
                     round(CASE WHEN len(toks) > 0
                       THEN len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE / len(toks)
                       ELSE 0.0 END, 4) AS alpha_frac,
                     len(list_intersect(list_transform(toks, t -> lower(t)),
                         ['the','a','of','and','to','in','is','on','for','with']))::INT AS stop_hits
              FROM base
            )
            SELECT *,
                   (n_words >= 50 AND n_words <= 100000
                    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
                    AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
                    AND stop_hits >= 2) AS keep
            FROM m
        """,
        "doc_quality_filter": f"""
            WITH {_QUALITY_CTES},
            j AS (
              SELECT r.doc_id, d.lang, r.quality
              FROM r JOIN documents d USING (doc_id)
            ),
            med AS (
              SELECT lang, quantile_cont(quality, 0.5) AS med
              FROM j GROUP BY lang
            )
            SELECT j.doc_id, j.lang, j.quality, round(m.med, 4) AS lang_median
            FROM j JOIN med m USING (lang)
            WHERE j.quality >= m.med
        """,
        "doc_lang": _DOC_LANG_SQL,
        "doc_fingerprint": f"""
            SELECT doc_id,
                   md5({_NORM}) AS fp_md5,
                   md5(substr({_NORM}, 1, 64)) AS fp_head
            FROM documents
        """,
        # single-node twin of the two-phase prefix sum: one global cumsum
        # over the same deterministic (md5-bucket, id) order
        "doc_pack": f"""
            WITH t AS (
              SELECT doc_id, len({_TOKS_RAW}) AS n_tokens,
                     ('0x' || substr(md5('pack1|' || doc_id::VARCHAR), 1, 15))::BIGINT
                       % 1024 AS bkt
              FROM documents
            ),
            c AS (
              SELECT doc_id, n_tokens,
                     sum(n_tokens) OVER (ORDER BY bkt, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens AS start_tok
              FROM t
            )
            SELECT doc_id, n_tokens::BIGINT AS n_tokens, start_tok::BIGINT AS start_tok,
                   (start_tok // 512)::BIGINT AS chunk_first,
                   ((start_tok + greatest(n_tokens, 1) - 1) // 512)::BIGINT AS chunk_last
            FROM c
        """,
        # same double arithmetic as rebalance_sample: T = min(count/share),
        # keep_s = share*T/count, md5-bucket draw < keep*1e6
        "doc_rebalance": """
            WITH shares(lang, share) AS (
              VALUES ('de', 0.2::DOUBLE), ('en', 0.6::DOUBLE), ('ja', 0.2::DOUBLE)
            ),
            counts AS (
              SELECT lang, count(*)::DOUBLE AS c FROM documents GROUP BY lang
            ),
            t AS (SELECT min(c / share) AS total FROM counts JOIN shares USING (lang)),
            f AS (
              SELECT lang, share * (SELECT total FROM t) / c AS keep
              FROM counts JOIN shares USING (lang)
            )
            SELECT d.doc_id, d.lang, d.source
            FROM documents d JOIN f USING (lang)
            WHERE (('0x' || substr(md5('rebal1|' || d.doc_id::VARCHAR), 1, 15))::BIGINT
                   % 1000000) < keep * 1000000
        """,
        "stratified_sample": """
            SELECT doc_id, lang, source FROM documents
            WHERE (('0x' || substr(md5('sample1|' || doc_id::VARCHAR), 1, 15))::BIGINT
                   % 1000000)
                  < CASE lang WHEN 'en' THEN 500000
                              WHEN 'ja' THEN 250000
                              WHEN 'de' THEN 100000
                              ELSE 0 END
        """,
        "doc_split": """
            WITH b AS (
              SELECT CASE
                       WHEN (('0x' || substr(md5('split1|' || doc_id::VARCHAR), 1, 15))::BIGINT % 100) < 80 THEN 'train'
                       WHEN (('0x' || substr(md5('split1|' || doc_id::VARCHAR), 1, 15))::BIGINT % 100) < 90 THEN 'val'
                       ELSE 'test' END AS split,
                     n_chars
              FROM documents
            )
            SELECT split, count(*)::BIGINT AS n_docs,
                   sum(n_chars)::BIGINT AS n_chars_total
            FROM b GROUP BY split
        """,
        "doc_winnow": f"""
            WITH d AS (
              SELECT doc_id, {_NORM} AS n FROM documents WHERE doc_id < 200
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN length(n) >= 8 THEN
                       list_transform(range(1, length(n) - 8 + 2),
                         i -> (('0x' || substr(md5(substr(n, i, 8)), 1, 15))::BIGINT))
                     ELSE []::BIGINT[] END AS grams
              FROM d
            )
            SELECT DISTINCT doc_id, fp FROM (
              SELECT doc_id,
                     unnest(CASE WHEN len(grams) >= 4 THEN
                       list_transform(range(1, len(grams) - 4 + 2),
                         j -> list_min(grams[j:j+3]))
                     ELSE grams END) AS fp
              FROM g
            )
        """,
        "doc_pii": """
            WITH injected AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@mail.example.com or +1 555 '
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          || ' 9876 via 10.1.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.7' AS text
              FROM documents WHERE doc_id < 2000
            ),
            s1 AS (
              SELECT doc_id,
                     len(regexp_extract_all(text, '@EMAIL@')) AS n_emails,
                     regexp_replace(text, '@EMAIL@', '<EMAIL>', 'g') AS t1
              FROM injected
            ),
            s2 AS (
              SELECT doc_id, n_emails,
                     len(regexp_extract_all(t1, '@IP@')) AS n_ips,
                     regexp_replace(t1, '@IP@', '<IP>', 'g') AS t2
              FROM s1
            )
            SELECT doc_id, n_emails, n_ips,
                   len(regexp_extract_all(t2, '@PHONE@')) AS n_phones,
                   regexp_replace(t2, '@PHONE@', '<PHONE>', 'g') AS redacted
            FROM s2
        """.replace("@EMAIL@", text.PII_EMAIL_RE)
           .replace("@IP@", text.PII_IPV4_RE)
           .replace("@PHONE@", text.PII_PHONE_RE),
        "doc_repetition": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_TOKS_RAW}) AS tok FROM documents
            ),
            per AS (
              SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY doc_id, tok
            )
            SELECT doc_id,
                   CAST(sum(cnt) AS BIGINT) AS n_tokens,
                   round(1.0 - count(*) / CAST(sum(cnt) AS DOUBLE), 4) AS dup_token_frac,
                   round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 4) AS top_token_frac
            FROM per GROUP BY doc_id
        """,
        "cube_rollup": """
            SELECT o_orderpriority AS prio,
                   year(o_orderdate) AS o_year,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_spent,
                   GROUPING(o_orderpriority, year(o_orderdate)) AS gid
            FROM orders
            GROUP BY CUBE (o_orderpriority, year(o_orderdate))
        """,
        "pivot_priority": """
            SELECT year(o_orderdate) AS o_year,
                   count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1,
                   count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2,
                   count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3,
                   count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4,
                   count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5
            FROM orders
            GROUP BY year(o_orderdate)
        """,
        "doc_decontaminate": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_NORM} AS t FROM documents
            ),
            corpus AS (
              SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                              i -> md5(array_to_string(t[i:i+4], chr(31))))) AS gram
                FROM toks WHERE doc_id % 10 <> 0 AND len(t) >= 5
              )
            ),
            bench AS (
              SELECT DISTINCT gram FROM (
                SELECT unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                              i -> md5(array_to_string(t[i:i+4], chr(31))))) AS gram
                FROM toks WHERE doc_id % 10 = 0 AND len(t) >= 5
              )
            )
            SELECT c.doc_id, count(*) AS n_shared
            FROM corpus c JOIN bench b USING (gram)
            GROUP BY c.doc_id
            HAVING count(*) >= 1
        """,
        "doc_normalize": """
            WITH n AS (
              SELECT doc_id,
                     trim(regexp_replace(
                       regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                       '\\s+', ' ', 'g')) AS norm_text
              FROM documents
            )
            SELECT doc_id, norm_text, md5(norm_text) AS norm_hash,
                   CASE WHEN norm_text = '' THEN 0
                        ELSE len(string_split(norm_text, ' ')) END AS n_norm_tokens
            FROM n
        """,
        "doc_term_df": f"""
            WITH t AS (
              SELECT doc_id, unnest(list_distinct({_TOKS_NORM})) AS term
              FROM documents
            )
            SELECT term, count(*)::BIGINT AS df_docs
            FROM t WHERE term <> ''
            GROUP BY term
            ORDER BY df_docs DESC, term
            LIMIT 50
        """,
        "doc_selfdedup": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_NORM} AS t FROM documents
            ),
            grams AS (
              SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                              i -> md5(array_to_string(t[i:i+4], chr(31))))) AS gram
                FROM toks WHERE len(t) >= 5
              )
            ),
            owner AS (
              SELECT gram, min(doc_id) AS o FROM grams GROUP BY gram
            ),
            per_doc AS (
              SELECT g.doc_id,
                     count(*)::BIGINT AS n_grams,
                     sum(CASE WHEN o.o < g.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_dup
              FROM grams g JOIN owner o USING (gram)
              GROUP BY g.doc_id
            )
            SELECT doc_id, n_grams, n_dup,
                   round(n_dup / n_grams, 4) AS dup_frac,
                   round(n_dup / n_grams, 4) < 0.5 AS keep
            FROM per_doc
        """,
        "corpus_report": f"""
            WITH cells AS (
              SELECT lang, source,
                     count(*)::BIGINT AS n_docs,
                     sum(len({_TOKS_RAW}))::BIGINT AS n_tokens
              FROM documents GROUP BY lang, source
            )
            SELECT lang, source, n_docs, n_tokens,
                   round(n_tokens / (sum(n_tokens) OVER ()), 6) AS token_share
            FROM cells
        """,
        "doc_bm25": f"""
            WITH base AS (
              SELECT doc_id,
                     len({_TOKS_NORM})::DOUBLE AS dl,
                     len(list_filter({_TOKS_NORM}, x -> x = 'spark'))::DOUBLE AS tf0,
                     len(list_filter({_TOKS_NORM}, x -> x = 'hash'))::DOUBLE AS tf1,
                     len(list_filter({_TOKS_NORM}, x -> x = 'table'))::DOUBLE AS tf2
              FROM documents
            ),
            stats AS (
              SELECT count(*)::DOUBLE AS n, sum(dl) AS suml,
                     sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
                     sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
                     sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
              FROM base
            )
            SELECT doc_id,
                   round(
                       ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0)
                         * (tf0 * 2.2) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (suml / n)))
                     + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0)
                         * (tf1 * 2.2) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (suml / n)))
                     + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0)
                         * (tf2 * 2.2) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (suml / n)))
                   , 4) AS bm25
            FROM base, stats
            WHERE round(
                       ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0)
                         * (tf0 * 2.2) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (suml / n)))
                     + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0)
                         * (tf1 * 2.2) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (suml / n)))
                     + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0)
                         * (tf2 * 2.2) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (suml / n)))
                   , 4) > 0
            ORDER BY bm25 DESC, doc_id
            LIMIT 50
        """,
        "embedding_quantize": """
            WITH q AS (
              SELECT vec_id,
                     list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
              FROM embeddings
            ),
            codes AS (
              SELECT e.vec_id,
                     CASE WHEN q.maxabs > 0 THEN 127.0 / q.maxabs END AS scale,
                     list_transform(e.embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * (CASE WHEN q.maxabs > 0 THEN 127.0 / q.maxabs END)) AS INT)) AS c
              FROM embeddings e JOIN q USING (vec_id)
            )
            SELECT vec_id,
                   list_aggregate(list_transform(c, x -> abs(x)::BIGINT), 'sum')::BIGINT AS q_l1,
                   list_aggregate(list_transform(c, x -> CASE WHEN x <> 0 THEN 1 ELSE 0 END::BIGINT), 'sum')::BIGINT AS q_nnz,
                   list_max(list_transform(c, x -> abs(x))) AS q_max,
                   round(scale, 6) AS scale_r
            FROM codes
        """,
        # doc_dup_spans: same k-gram -> cross-doc flag -> gaps-and-islands
        # merge as dedup.duplicated_spans (k=20, anchor_mod=1). min/max
        # over the hash partition is the distinct-docs>=2 test; md5 over
        # UTF-8 matches Spark's md5(substring(...)) bit-for-bit.
        "doc_dup_spans": f"""
            WITH {_DUP_SPANS_CTES}
            SELECT doc_id, span_start, span_end,
                   (span_end - span_start + 1)::BIGINT AS span_len
            FROM spansq
        """,
        "doc_dup_spans_anchored": f"""
            WITH {_dup_spans_ctes(anchor_mod=4, merge_gap=8)}
            SELECT doc_id, span_start, span_end,
                   (span_end - span_start + 1)::BIGINT AS span_len
            FROM spansq
        """,
        # doc_dup_excise: the oracle rebuilds cleaned text per-position
        # (keep chars not covered by any span, string_agg in order) — the
        # Spark side cuts with one higher-order aggregate over the sorted
        # span array; results must agree byte-for-byte.
        "doc_dup_excise": f"""
            WITH {_DUP_SPANS_CTES},
            stats AS (
              SELECT doc_id, count(*)::BIGINT AS n_spans,
                     sum(span_end - span_start + 1)::BIGINT AS dup_chars
              FROM spansq GROUP BY doc_id
            ),
            pos AS (
              SELECT doc_id, unnest(range(1, length(text) + 1)) AS p
              FROM documents
            ),
            kept AS (
              SELECT po.doc_id, po.p FROM pos po
              WHERE NOT EXISTS (
                SELECT 1 FROM spansq sp
                WHERE sp.doc_id = po.doc_id
                  AND po.p BETWEEN sp.span_start AND sp.span_end
              )
            ),
            cl AS (
              SELECT k.doc_id,
                     string_agg(substr(d.text, k.p::INT, 1), '' ORDER BY k.p)
                       AS cleaned
              FROM kept k JOIN documents d USING (doc_id)
              GROUP BY k.doc_id
            )
            SELECT d.doc_id,
                   coalesce(st.n_spans, 0)::BIGINT AS n_spans,
                   coalesce(st.dup_chars, 0)::BIGINT AS dup_chars,
                   coalesce(cl.cleaned, '') AS cleaned,
                   length(coalesce(cl.cleaned, ''))::BIGINT AS cleaned_len
            FROM documents d
            LEFT JOIN stats st USING (doc_id)
            LEFT JOIN cl USING (doc_id)
        """,
        "dedup_exact": f"""
            SELECT min(doc_id) AS doc_id, count(*) AS group_size
            FROM documents
            GROUP BY md5({_NORM})
        """,
        "dedup_minhash_sig": f"""
            WITH {_SHINGLES_CTE}
            SELECT doc_id,
                   {_minhash_cols(8)}
            FROM shingles GROUP BY doc_id
        """,
        "dedup_minhash_lsh": f"""
            WITH {_LSH_PAIRS_CTES}
            SELECT id_a, id_b, jaccard FROM lsh_pairs
        """,
        # incremental = the full pipeline's pairs that touch a new doc
        # (doc_id % 5 = 0); bucket caps are evaluated on the combined
        # bucket in both engines, so the restriction commutes
        "dedup_incremental": f"""
            WITH {_LSH_PAIRS_CTES}
            SELECT id_a, id_b, jaccard FROM lsh_pairs
            WHERE id_a % 5 = 0 OR id_b % 5 = 0
        """,
        "dedup_jaccard_hist": f"""
            WITH {_LSH_PAIRS_CTES}
            SELECT least(floor(jaccard * 10), 9)::INT AS bin,
                   count(*)::BIGINT AS n_pairs,
                   round(min(jaccard), 6) AS min_j,
                   round(max(jaccard), 6) AS max_j
            FROM lsh_pairs GROUP BY 1
        """,
        "grouping_sets_agg": """
            SELECT o_orderstatus, year(o_orderdate) AS o_year,
                   count(*)::BIGINT AS n_orders,
                   round(sum(o_totalprice), 2) AS total,
                   GROUPING(o_orderstatus, year(o_orderdate)) AS gid
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (year(o_orderdate)), ())
        """,
        "dedup_components": f"""
            WITH RECURSIVE {_LSH_PAIRS_CTES},
            edges AS (
              SELECT id_a AS a, id_b AS b FROM lsh_pairs
              UNION
              SELECT id_b, id_a FROM lsh_pairs
            ),
            reach(node, other) AS (
              SELECT a, a FROM edges
              UNION
              SELECT a, b FROM edges
              UNION
              SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
            )
            SELECT node AS member_id, min(other) AS component_id
            FROM reach GROUP BY node
        """,
        "dedup_keep": f"""
            WITH RECURSIVE {_LSH_PAIRS_CTES},
            edges AS (
              SELECT id_a AS a, id_b AS b FROM lsh_pairs
              UNION
              SELECT id_b, id_a FROM lsh_pairs
            ),
            reach(node, other) AS (
              SELECT a, a FROM edges
              UNION
              SELECT a, b FROM edges
              UNION
              SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
            ),
            dropped AS (
              SELECT node FROM reach GROUP BY node HAVING min(other) <> node
            )
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id NOT IN (SELECT node FROM dropped)
        """,
        # rep = min reachable node over the near-dup graph (the recursive
        # CTE of dedup_keep); singletons represent themselves; the split
        # draw hashes the REP, not the doc
        "doc_split_leakfree": f"""
            WITH RECURSIVE {_LSH_PAIRS_CTES},
            edges AS (
              SELECT id_a AS a, id_b AS b FROM lsh_pairs
              UNION
              SELECT id_b, id_a FROM lsh_pairs
            ),
            reach(node, other) AS (
              SELECT a, a FROM edges
              UNION
              SELECT a, b FROM edges
              UNION
              SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
            ),
            comp AS (SELECT node, min(other) AS rep FROM reach GROUP BY node),
            assigned AS (
              SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS rep
              FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
            )
            SELECT doc_id, rep,
                   CASE
                     WHEN (('0x' || substr(md5('split1|' || rep::VARCHAR), 1, 15))::BIGINT % 100) < 80 THEN 'train'
                     WHEN (('0x' || substr(md5('split1|' || rep::VARCHAR), 1, 15))::BIGINT % 100) < 90 THEN 'val'
                     ELSE 'test' END AS split
            FROM assigned
        """,
        "doc_curriculum": f"""
            WITH {_QUALITY_CTES},
            thr AS (
              -- round(·, 6) twin of the Spark side: exact thresholds are
              -- multiples of 1e-5, rounding removes fp interpolation noise
              SELECT list_transform(quantile_cont(quality,
                       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                       x -> round(x, 6)) AS t
              FROM r
            )
            SELECT d.doc_id, d.lang, r.quality,
                   len(list_filter((SELECT t FROM thr),
                                   x -> r.quality >= x))::BIGINT AS decile
            FROM documents d JOIN r USING (doc_id)
        """,
        "events_funnel": """
            WITH clicks AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'click' GROUP BY user_id
            ),
            views AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN clicks c ON e.user_id = c.user_id
              WHERE e.event_type = 'view' AND e.ts > c.t1
              GROUP BY e.user_id
            ),
            purchases AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM events e JOIN views v ON e.user_id = v.user_id
              WHERE e.event_type = 'purchase' AND e.ts > v.t2
              GROUP BY e.user_id
            )
            SELECT count(c.t1)::BIGINT AS n_clicked,
                   count(v.t2)::BIGINT AS n_viewed_after,
                   count(p.t3)::BIGINT AS n_purchased_after
            FROM clicks c
            LEFT JOIN views v ON v.user_id = c.user_id
            LEFT JOIN purchases p ON p.user_id = c.user_id
        """,
        "doc_unigram_nll": f"""
            WITH toks AS (SELECT doc_id, {_TOKS_NORM} AS t FROM documents),
            tok AS (SELECT doc_id, unnest(t) AS term FROM toks WHERE len(t) >= 1),
            freq AS (SELECT term, count(*)::DOUBLE AS cnt FROM tok GROUP BY term),
            tot AS (SELECT sum(cnt) AS total FROM freq),
            vocab AS (SELECT term, cnt FROM freq ORDER BY cnt DESC, term LIMIT 50000)
            SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
                   round(avg(-log2(coalesce(v.cnt, 1.0) / (SELECT total FROM tot))), 4) AS nll
            FROM tok t LEFT JOIN vocab v USING (term)
            GROUP BY t.doc_id
        """,
        "bpe_pair_counts": f"""
            WITH toks AS (SELECT {_TOKS_NORM} AS t FROM documents),
            p AS (
              SELECT unnest(list_transform(range(1, len(t)),
                            i -> struct_pack(a := t[i], b := t[i+1]))) AS pr
              FROM toks WHERE len(t) >= 2
            )
            SELECT pr.a AS a, pr.b AS b, count(*)::BIGINT AS n_pairs
            FROM p GROUP BY pr.a, pr.b
            ORDER BY n_pairs DESC, a, b
            LIMIT 100
        """,
        "bpe_train": _bpe_train_sql(4),
        "bpe_encode": _bpe_encode_sql(4),
        "doc_logreg": _logreg_sql(4.0),
        "dedup_semantic": _semantic_dedup_sql(),
        "dedup_semantic_keep": _semantic_keep_sql(),
        "dedup_semantic_incr": _semantic_incr_sql(),
        # the composed pipeline: dedup keep-set (recursive components over
        # LSH pairs) -> decontamination vs the eval split -> quality cut.
        # Reuses the exact CTE fragments of dedup_keep / doc_decontaminate /
        # doc_quality so every stage twin stays in lockstep with its
        # standalone oracle.
        "pipeline_clean_corpus": f"""
            WITH RECURSIVE {_LSH_PAIRS_CTES},
            edges AS (
              SELECT id_a AS a, id_b AS b FROM lsh_pairs
              UNION
              SELECT id_b, id_a FROM lsh_pairs
            ),
            reach(node, other) AS (
              SELECT a, a FROM edges
              UNION
              SELECT a, b FROM edges
              UNION
              SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
            ),
            dropped AS (
              SELECT node FROM reach GROUP BY node HAVING min(other) <> node
            ),
            kept AS (
              SELECT doc_id FROM documents
              WHERE doc_id NOT IN (SELECT node FROM dropped)
            ),
            corpusg AS (
              SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                              i -> md5(array_to_string(t[i:i+4], chr(31))))) AS gram
                FROM toks
                WHERE doc_id % 10 <> 0 AND len(t) >= 5
                  AND doc_id IN (SELECT doc_id FROM kept)
              )
            ),
            benchg AS (
              SELECT DISTINCT gram FROM (
                SELECT unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                              i -> md5(array_to_string(t[i:i+4], chr(31))))) AS gram
                FROM toks WHERE doc_id % 10 = 0 AND len(t) >= 5
              )
            ),
            contaminated AS (
              SELECT DISTINCT c.doc_id FROM corpusg c JOIN benchg USING (gram)
            ),
            {_QUALITY_CTES}
            SELECT d.doc_id, d.lang, d.source, r.quality
            FROM documents d JOIN r USING (doc_id)
            WHERE d.doc_id IN (SELECT doc_id FROM kept)
              AND d.doc_id % 10 <> 0
              AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
              AND r.quality >= 0.5
        """,
        "dedup_ngram_jaccard": f"""
            WITH docs AS (SELECT * FROM documents WHERE doc_id < 500),
            toks AS (
              SELECT doc_id, {_TOKS_NORM} AS t FROM docs
            ),
            tokh AS (
              SELECT doc_id,
                     list_transform(t, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT
                                            % 1099511627776) AS th
              FROM toks
            ),
            shingles AS ({_SHINGLES_BODY}),
            bucket_ok AS (
              SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) <= 1000
            ),
            sh_ok AS (SELECT s.* FROM shingles s JOIN bucket_ok USING (shingle)),
            cands AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sh_ok a JOIN sh_ok b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
            inter AS (
              SELECT c.id_a, c.id_b, count(*) AS inter
              FROM cands c
              JOIN shingles a ON a.doc_id = c.id_a
              JOIN shingles b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY c.id_a, c.id_b
            )
            SELECT i.id_a, i.id_b,
                   round(i.inter::DOUBLE / (sa.sz + sb.sz - i.inter), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE i.inter::DOUBLE / (sa.sz + sb.sz - i.inter) >= 0.2
        """,
        # LSH recall eval: the full LSH CTE chain re-pointed at the
        # doc_id<500 sub-corpus (same shingles feed both pipelines), truth
        # = the exact shingle-blocked Jaccard chain of dedup_ngram_jaccard
        "dedup_lsh_recall": f"""
            WITH docs500 AS (SELECT * FROM documents WHERE doc_id < 500),
            {_LSH_PAIRS_CTES.replace("FROM documents", "FROM docs500")},
            t_bucket_ok AS (
              SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) <= 1000
            ),
            t_sh_ok AS (SELECT s.* FROM shingles s JOIN t_bucket_ok USING (shingle)),
            t_cands AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM t_sh_ok a JOIN t_sh_ok b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            ),
            t_inter AS (
              SELECT c.id_a, c.id_b, count(*) AS inter
              FROM t_cands c
              JOIN shingles a ON a.doc_id = c.id_a
              JOIN shingles b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY c.id_a, c.id_b
            ),
            truth AS (
              SELECT i.id_a, i.id_b
              FROM t_inter i
              JOIN sizes sa ON sa.doc_id = i.id_a
              JOIN sizes sb ON sb.doc_id = i.id_b
              WHERE i.inter::DOUBLE / (sa.sz + sb.sz - i.inter) >= 0.2
            ),
            hits AS (
              SELECT * FROM truth t
              WHERE EXISTS (SELECT 1 FROM lsh_pairs l
                            WHERE l.id_a = t.id_a AND l.id_b = t.id_b)
            )
            SELECT t.n AS n_true, h.n AS n_hit,
                   round(h.n::DOUBLE / t.n, 4) AS recall
            FROM (SELECT count(*)::BIGINT AS n FROM truth) t,
                 (SELECT count(*)::BIGINT AS n FROM hits) h
        """,
        "dedup_simhash": f"""
            WITH {_SIMHASH_CTE}
            SELECT doc_id, simhash FROM fp
        """,
        "simhash_pairs": f"""
            WITH {_SIMHASH_CTE},
            chunked_all AS (
              SELECT doc_id, simhash, ci, (simhash >> (ci * 15)) & 32767 AS cv
              FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS ci)
            ),
            -- max_bucket=1000 twin of simhash_pairs' chunk-bucket cap
            chunked AS (
              SELECT * FROM chunked_all
              QUALIFY count(*) OVER (PARTITION BY ci, cv) <= 1000
            ),
            cands AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                     l.simhash AS sh_a, r.simhash AS sh_b
              FROM chunked l JOIN chunked r
                ON l.ci = r.ci AND l.cv = r.cv AND l.doc_id < r.doc_id
            )
            SELECT id_a, id_b, bit_count(xor(sh_a, sh_b)) AS hamming
            FROM cands WHERE bit_count(xor(sh_a, sh_b)) <= 12
        """,
        "ann_cosine_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id % 50 = 0
            ),
            c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
            scored AS (
              SELECT query_id, neighbor_id,
                     round(list_dot_product(qv, cv)
                           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                           6) AS cosine
              FROM q CROSS JOIN c WHERE query_id <> neighbor_id
            )
            SELECT query_id, neighbor_id, cosine, rank FROM (
              SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "ann_quantized": """
            WITH codes AS (
              SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                       x -> CASE WHEN m > 0 THEN round(x * (127.0 / m)) ELSE NULL END::BIGINT) AS c
              FROM (SELECT vec_id, embedding,
                           list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS m
                    FROM embeddings)
            ),
            n AS (
              SELECT vec_id, c, sqrt(list_dot_product(c, c)::DOUBLE) AS nn FROM codes
            ),
            q AS (SELECT vec_id AS query_id, c AS qc, nn AS qn FROM n WHERE vec_id % 50 = 0),
            scored AS (
              SELECT query_id, vec_id AS neighbor_id,
                     round(list_dot_product(qc, c)::DOUBLE / (qn * nn), 6) AS qcosine
              FROM q CROSS JOIN n WHERE query_id <> vec_id
            )
            SELECT query_id, neighbor_id, qcosine, rank FROM (
              SELECT query_id, neighbor_id, qcosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY qcosine DESC, neighbor_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "embedding_neardup": """
            WITH v_all AS (
              SELECT vec_id, embedding::DOUBLE[] AS v,
                     array_to_string(list_transform(embedding[1:8]::DOUBLE[],
                       x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS blk
              FROM embeddings
            ),
            -- max_bucket=5000 twin of embedding_neardup_pairs' block cap
            v AS (
              SELECT * FROM v_all
              QUALIFY count(*) OVER (PARTITION BY blk) <= 5000
            ),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
              FROM v a JOIN v b ON a.blk = b.blk AND a.vec_id < b.vec_id
            )
            SELECT id_a, id_b,
                   round(list_dot_product(va, vb)
                         / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))),
                         6) AS cosine
            FROM pairs
            WHERE round(list_dot_product(va, vb)
                        / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))),
                        6) >= 0.35
        """,
        "ann_lsh": _ANN_LSH_SQL,
        # doc_training_manifest: the composed flagship — stitches the
        # leakfree-split recursive-CTE oracle, the curriculum threshold
        # oracle and the two-phase-pack oracle on doc_id
        "events_cohort_ltv": """
            WITH first_day AS (
              SELECT user_id, min(ts::DATE) AS cohort_day FROM events GROUP BY user_id
            ),
            per_off AS (
              SELECT f.cohort_day,
                     (e.ts::DATE - f.cohort_day)::BIGINT AS day_offset,
                     round(sum(e.value), 4) AS day_value
              FROM events e JOIN first_day f USING (user_id)
              WHERE e.event_type = 'purchase'
              GROUP BY f.cohort_day, day_offset
            ),
            sizes AS (
              SELECT cohort_day, count(*)::BIGINT AS cohort_users
              FROM first_day GROUP BY cohort_day
            ),
            cum AS (
              SELECT p.cohort_day, p.day_offset, p.day_value,
                     round(sum(p.day_value) OVER (PARTITION BY p.cohort_day
                                                  ORDER BY p.day_offset
                                                  ROWS UNBOUNDED PRECEDING), 4) AS cum_value,
                     s.cohort_users
              FROM per_off p JOIN sizes s USING (cohort_day)
            )
            SELECT cohort_day, day_offset, day_value, cum_value, cohort_users,
                   round(cum_value / cohort_users, 6) AS ltv_per_user
            FROM cum
        """,
        "events_retention": """
            WITH active AS (
              SELECT DISTINCT user_id, ts::DATE AS d FROM events
            ),
            cohort AS (
              SELECT user_id, min(d) AS cohort_day FROM active GROUP BY user_id
            )
            SELECT c.cohort_day, (a.d - c.cohort_day)::BIGINT AS day_offset,
                   count(DISTINCT a.user_id)::BIGINT AS n_users
            FROM active a JOIN cohort c USING (user_id)
            GROUP BY c.cohort_day, day_offset
        """,
        "dedup_cluster_stats": f"""
            WITH RECURSIVE {_LSH_PAIRS_CTES},
            edges AS (
              SELECT id_a AS a, id_b AS b FROM lsh_pairs
              UNION
              SELECT id_b, id_a FROM lsh_pairs
            ),
            reach(node, other) AS (
              SELECT a, a FROM edges
              UNION
              SELECT a, b FROM edges
              UNION
              SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
            ),
            comp AS (SELECT node, min(other) AS rep FROM reach GROUP BY node),
            csizes AS (SELECT rep, count(*)::BIGINT AS cluster_size FROM comp GROUP BY rep)
            SELECT cluster_size, count(*)::BIGINT AS n_clusters,
                   cluster_size * count(*) AS n_docs
            FROM csizes GROUP BY cluster_size
        """,
        "embedding_top_pc": f"""
            WITH {_power_pc_ctes("SELECT embedding::DOUBLE[] AS x FROM embeddings", 64, 2)}
            SELECT unnest(range(0, 64))::INT AS dim_idx,
                   round(v[unnest(range(0, 64)) + 1], 6) AS component
            FROM v2
        """,
        "corr_matrix": """
            SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
                   round((sum(l_quantity::DOUBLE * l_extendedprice::DOUBLE) - sum(l_quantity::DOUBLE) * sum(l_extendedprice::DOUBLE) / count(*))
                         / sqrt((sum(l_quantity::DOUBLE * l_quantity::DOUBLE) - sum(l_quantity::DOUBLE) * sum(l_quantity::DOUBLE) / count(*))
                                * (sum(l_extendedprice::DOUBLE * l_extendedprice::DOUBLE) - sum(l_extendedprice::DOUBLE) * sum(l_extendedprice::DOUBLE) / count(*))), 6) AS corr
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b,
                   round((sum(l_quantity::DOUBLE * l_discount::DOUBLE) - sum(l_quantity::DOUBLE) * sum(l_discount::DOUBLE) / count(*))
                         / sqrt((sum(l_quantity::DOUBLE * l_quantity::DOUBLE) - sum(l_quantity::DOUBLE) * sum(l_quantity::DOUBLE) / count(*))
                                * (sum(l_discount::DOUBLE * l_discount::DOUBLE) - sum(l_discount::DOUBLE) * sum(l_discount::DOUBLE) / count(*))), 6) AS corr
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity' AS col_a, 'l_tax' AS col_b,
                   round((sum(l_quantity::DOUBLE * l_tax::DOUBLE) - sum(l_quantity::DOUBLE) * sum(l_tax::DOUBLE) / count(*))
                         / sqrt((sum(l_quantity::DOUBLE * l_quantity::DOUBLE) - sum(l_quantity::DOUBLE) * sum(l_quantity::DOUBLE) / count(*))
                                * (sum(l_tax::DOUBLE * l_tax::DOUBLE) - sum(l_tax::DOUBLE) * sum(l_tax::DOUBLE) / count(*))), 6) AS corr
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice' AS col_a, 'l_discount' AS col_b,
                   round((sum(l_extendedprice::DOUBLE * l_discount::DOUBLE) - sum(l_extendedprice::DOUBLE) * sum(l_discount::DOUBLE) / count(*))
                         / sqrt((sum(l_extendedprice::DOUBLE * l_extendedprice::DOUBLE) - sum(l_extendedprice::DOUBLE) * sum(l_extendedprice::DOUBLE) / count(*))
                                * (sum(l_discount::DOUBLE * l_discount::DOUBLE) - sum(l_discount::DOUBLE) * sum(l_discount::DOUBLE) / count(*))), 6) AS corr
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice' AS col_a, 'l_tax' AS col_b,
                   round((sum(l_extendedprice::DOUBLE * l_tax::DOUBLE) - sum(l_extendedprice::DOUBLE) * sum(l_tax::DOUBLE) / count(*))
                         / sqrt((sum(l_extendedprice::DOUBLE * l_extendedprice::DOUBLE) - sum(l_extendedprice::DOUBLE) * sum(l_extendedprice::DOUBLE) / count(*))
                                * (sum(l_tax::DOUBLE * l_tax::DOUBLE) - sum(l_tax::DOUBLE) * sum(l_tax::DOUBLE) / count(*))), 6) AS corr
            FROM lineitem
            UNION ALL
            SELECT 'l_discount' AS col_a, 'l_tax' AS col_b,
                   round((sum(l_discount::DOUBLE * l_tax::DOUBLE) - sum(l_discount::DOUBLE) * sum(l_tax::DOUBLE) / count(*))
                         / sqrt((sum(l_discount::DOUBLE * l_discount::DOUBLE) - sum(l_discount::DOUBLE) * sum(l_discount::DOUBLE) / count(*))
                                * (sum(l_tax::DOUBLE * l_tax::DOUBLE) - sum(l_tax::DOUBLE) * sum(l_tax::DOUBLE) / count(*))), 6) AS corr
            FROM lineitem
        """,
        "langid_confusion": f"""
            WITH pred AS (SELECT doc_id, lang_pred FROM ({_DOC_LANG_SQL}))
            SELECT d.lang, p.lang_pred, count(*)::BIGINT AS n
            FROM documents d JOIN pred p USING (doc_id)
            GROUP BY d.lang, p.lang_pred
        """,
        "quality_quantile_norm": f"""
            WITH {_QUALITY_CTES}
            SELECT d.doc_id, d.source, r.quality,
                   round(percent_rank() OVER (PARTITION BY d.source
                                              ORDER BY r.quality), 6) AS q_norm
            FROM documents d JOIN r USING (doc_id)
        """,
        "scd2_history": """
            WITH old AS (SELECT doc_id, text, md5(text) AS fp FROM documents),
            new AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
              FROM documents WHERE doc_id % 17 <> 0
            ),
            newfp AS (SELECT doc_id, text, md5(text) AS fp FROM new)
            SELECT o.doc_id, 100::BIGINT AS valid_from,
                   CASE WHEN n.fp IS NULL OR n.fp <> o.fp THEN 200::BIGINT END AS valid_to,
                   o.fp
            FROM old o LEFT JOIN newfp n USING (doc_id)
            UNION ALL
            SELECT n.doc_id, 200::BIGINT, NULL::BIGINT, n.fp
            FROM newfp n LEFT JOIN old o USING (doc_id)
            WHERE o.fp IS NULL OR o.fp <> n.fp
        """,
        "events_decayed": """
            WITH ref AS (SELECT max(epoch_us(ts)) AS r FROM events)
            SELECT user_id,
                   round(sum(value * pow(0.5,
                     (((SELECT r FROM ref) - epoch_us(ts))::DOUBLE / 86400000000.0))), 6)
                     AS decayed_value,
                   count(*)::BIGINT AS n_events
            FROM events GROUP BY user_id
        """,
        "corpus_diff": """
            WITH old AS (SELECT doc_id, md5(text) AS fp_old FROM documents),
            new AS (
              SELECT doc_id,
                     md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS fp_new
              FROM documents WHERE doc_id % 17 <> 0
            )
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.fp_old IS NULL THEN 'added'
                        WHEN n.fp_new IS NULL THEN 'deleted'
                        WHEN o.fp_old <> n.fp_new THEN 'modified'
                        ELSE 'unchanged' END AS status
            FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        """,
        "ann_hybrid_rrf": f"""
            WITH ivf AS (SELECT query_id, neighbor_id, rank FROM ({_ANN_IVF_SQL})),
            lshr AS (SELECT query_id, neighbor_id, rank FROM ({_ANN_LSH_SQL})),
            u AS (SELECT * FROM ivf UNION ALL SELECT * FROM lshr),
            scored AS (
              SELECT query_id, neighbor_id,
                     round(sum(1.0 / (60.0 + rank)), 6) AS rrf
              FROM u GROUP BY query_id, neighbor_id
            )
            SELECT query_id, neighbor_id, rrf, rank FROM (
              SELECT query_id, neighbor_id, rrf,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY rrf DESC, neighbor_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "events_next_prediction": """
            WITH t AS (
              SELECT user_id, ts, event_id,
                     event_type || ':' || coalesce(json_extract_string(props, '$.k'), '_') AS tok
              FROM events
            ),
            w AS (
              SELECT user_id, tok,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
                     array_to_string(list(tok) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING), ' ') AS context
              FROM t
            )
            SELECT user_id, pos::INT AS pos, context, tok AS label
            FROM w WHERE pos >= 2
        """,
        "ann_recall": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id % 50 = 0
            ),
            c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
            brute AS (
              SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY
                         round(list_dot_product(qv, cv)
                               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                               6) DESC, neighbor_id ASC) AS rank
                FROM q CROSS JOIN c WHERE query_id <> neighbor_id
              ) WHERE rank <= 5
            ),
            cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS centroid
                     FROM embeddings WHERE vec_id % 100 = 0),
            cells AS (
              SELECT neighbor_id, cv, cell FROM (
                SELECT c.neighbor_id, c.cv, cent.cid AS cell,
                       row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
                         round(list_dot_product(cv, centroid)
                               / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(centroid, centroid))),
                               6) DESC, cent.cid ASC) AS rn
                FROM c CROSS JOIN cent
              ) WHERE rn = 1
            ),
            probes AS (
              SELECT query_id, qv, cell FROM (
                SELECT q.query_id, q.qv, cent.cid AS cell,
                       row_number() OVER (PARTITION BY q.query_id ORDER BY
                         round(list_dot_product(qv, centroid)
                               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(centroid, centroid))),
                               6) DESC, cent.cid ASC) AS rn
                FROM q CROSS JOIN cent
              ) WHERE rn <= 3
            ),
            ivfk AS (
              SELECT query_id, neighbor_id FROM (
                SELECT p.query_id, s.neighbor_id,
                       row_number() OVER (PARTITION BY p.query_id ORDER BY
                         round(list_dot_product(p.qv, s.cv)
                               / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(s.cv, s.cv))),
                               6) DESC, s.neighbor_id ASC) AS rank
                FROM probes p JOIN cells s USING (cell)
                WHERE p.query_id <> s.neighbor_id
              ) WHERE rank <= 5
            ),
            stats AS (
              SELECT (SELECT count(*) FROM brute)::BIGINT AS n_exact_pairs,
                     (SELECT count(*) FROM ivfk i JOIN brute b
                        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id)::BIGINT AS n_hits
            )
            SELECT n_exact_pairs, n_hits,
                   round(n_hits / n_exact_pairs, 4) AS recall_at_5
            FROM stats
        """,
        "doc_training_manifest": f"""
            WITH RECURSIVE {_LSH_PAIRS_CTES},
            edges AS (
              SELECT id_a AS a, id_b AS b FROM lsh_pairs
              UNION
              SELECT id_b, id_a FROM lsh_pairs
            ),
            reach(node, other) AS (
              SELECT a, a FROM edges
              UNION
              SELECT a, b FROM edges
              UNION
              SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
            ),
            comp AS (SELECT node, min(other) AS rep FROM reach GROUP BY node),
            assigned AS (
              SELECT d.doc_id,
                     CASE
                       WHEN (('0x' || substr(md5('split1|' || coalesce(c.rep, d.doc_id)::VARCHAR), 1, 15))::BIGINT % 100) < 80 THEN 'train'
                       WHEN (('0x' || substr(md5('split1|' || coalesce(c.rep, d.doc_id)::VARCHAR), 1, 15))::BIGINT % 100) < 90 THEN 'val'
                       ELSE 'test' END AS split
              FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
            ),
            {_QUALITY_CTES},
            thr AS (
              SELECT list_transform(quantile_cont(quality,
                       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                       x -> round(x, 6)) AS t
              FROM r
            ),
            pk AS (
              SELECT doc_id, len({_TOKS_RAW}) AS n_tokens,
                     ('0x' || substr(md5('pack1|' || doc_id::VARCHAR), 1, 15))::BIGINT
                       % 1024 AS bkt
              FROM documents
            ),
            pc AS (
              SELECT doc_id, n_tokens,
                     sum(n_tokens) OVER (ORDER BY bkt, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens AS start_tok
              FROM pk
            )
            SELECT a.doc_id, a.split, r.quality,
                   len(list_filter((SELECT t FROM thr),
                                   x -> r.quality >= x))::BIGINT AS decile,
                   pc.n_tokens::BIGINT AS n_tokens,
                   (pc.start_tok // 512)::BIGINT AS chunk_first,
                   ((pc.start_tok + greatest(pc.n_tokens, 1) - 1) // 512)::BIGINT AS chunk_last
            FROM assigned a
            JOIN r ON r.doc_id = a.doc_id
            JOIN pc ON pc.doc_id = a.doc_id
        """,
        "skew_report": """
            WITH counts AS (
              SELECT user_id::VARCHAR AS key_value, count(*)::BIGINT AS n
              FROM events GROUP BY user_id
            ),
            stats AS (SELECT sum(n)::DOUBLE AS rows_, avg(n) AS mean_ FROM counts)
            SELECT key_value, n,
                   round(n * 100.0 / (SELECT rows_ FROM stats), 4) AS pct_of_rows,
                   round(n / (SELECT mean_ FROM stats), 4) AS x_mean
            FROM counts ORDER BY n DESC, key_value ASC LIMIT 10
        """,
        "price_histogram": """
            WITH b AS (
              SELECT least(floor((l_extendedprice::DOUBLE - 0.0) / 100000.0 * 20.0)::BIGINT, 19) AS bin
              FROM lineitem
              WHERE l_extendedprice::DOUBLE >= 0.0 AND l_extendedprice::DOUBLE <= 100000.0
            )
            SELECT bin, round(0.0 + bin * 5000.0, 6) AS bin_lo,
                   round(0.0 + (bin + 1) * 5000.0, 6) AS bin_hi,
                   count(*)::BIGINT AS n
            FROM b GROUP BY bin
        """,
        "zorder_layout": """
            WITH rng AS (
              SELECT min(l_partkey) AS plo, max(l_partkey) AS phi,
                     min(l_suppkey) AS slo, max(l_suppkey) AS shi
              FROM lineitem
            ),
            b AS (
              SELECT l_orderkey, l_linenumber,
                least(greatest((l_partkey - plo) * 256 // (phi - plo + 1), 0), 255) AS pb,
                least(greatest((l_suppkey - slo) * 256 // (shi - slo + 1), 0), 255) AS sb
              FROM lineitem, rng
            )
            SELECT l_orderkey, l_linenumber,
                   (((pb >> 0) & 1) * 1 + ((sb >> 0) & 1) * 2 + ((pb >> 1) & 1) * 4 + ((sb >> 1) & 1) * 8 + ((pb >> 2) & 1) * 16 + ((sb >> 2) & 1) * 32 + ((pb >> 3) & 1) * 64 + ((sb >> 3) & 1) * 128 + ((pb >> 4) & 1) * 256 + ((sb >> 4) & 1) * 512 + ((pb >> 5) & 1) * 1024 + ((sb >> 5) & 1) * 2048 + ((pb >> 6) & 1) * 4096 + ((sb >> 6) & 1) * 8192 + ((pb >> 7) & 1) * 16384 + ((sb >> 7) & 1) * 32768)::BIGINT AS zkey
            FROM b
        """,
        "table_profile": """
            SELECT 'o_orderkey' AS col_name, count(*)::BIGINT AS n_rows,
                   count(*) FILTER (o_orderkey IS NULL)::BIGINT AS n_nulls,
                   count(DISTINCT o_orderkey)::BIGINT AS n_distinct,
                   min(o_orderkey)::VARCHAR AS min_str, max(o_orderkey)::VARCHAR AS max_str
            FROM orders
            UNION ALL
            SELECT 'o_custkey' AS col_name, count(*)::BIGINT AS n_rows,
                   count(*) FILTER (o_custkey IS NULL)::BIGINT AS n_nulls,
                   count(DISTINCT o_custkey)::BIGINT AS n_distinct,
                   min(o_custkey)::VARCHAR AS min_str, max(o_custkey)::VARCHAR AS max_str
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus' AS col_name, count(*)::BIGINT AS n_rows,
                   count(*) FILTER (o_orderstatus IS NULL)::BIGINT AS n_nulls,
                   count(DISTINCT o_orderstatus)::BIGINT AS n_distinct,
                   min(o_orderstatus)::VARCHAR AS min_str, max(o_orderstatus)::VARCHAR AS max_str
            FROM orders
            UNION ALL
            SELECT 'o_totalprice' AS col_name, count(*)::BIGINT AS n_rows,
                   count(*) FILTER (o_totalprice IS NULL)::BIGINT AS n_nulls,
                   count(DISTINCT o_totalprice)::BIGINT AS n_distinct,
                   min(o_totalprice)::VARCHAR AS min_str, max(o_totalprice)::VARCHAR AS max_str
            FROM orders
            UNION ALL
            SELECT 'o_orderdate' AS col_name, count(*)::BIGINT AS n_rows,
                   count(*) FILTER (o_orderdate IS NULL)::BIGINT AS n_nulls,
                   count(DISTINCT o_orderdate)::BIGINT AS n_distinct,
                   min(o_orderdate)::VARCHAR AS min_str, max(o_orderdate)::VARCHAR AS max_str
            FROM orders
        """,
        # fuzzy_match: the oracle mirrors the q-gram blocking exactly —
        # per-side distinct grams, combined-count bucket cap, then the
        # same standard Levenshtein verify (DuckDB levenshtein == Spark's)
        "fuzzy_match": """
            WITH probes AS (
              SELECT p_partkey AS probe_id,
                     substr(p_name, 1, 2) || substr(p_name, 4) AS probe_name
              FROM part WHERE p_partkey % 20 = 0
            ),
            lg AS (
              SELECT probe_id, probe_name, unnest(g) AS g FROM (
                SELECT probe_id, probe_name,
                       list_distinct(CASE WHEN length(probe_name) >= 3
                         THEN list_transform(range(1, length(probe_name) - 1),
                                             i -> substr(probe_name, i::INT, 3))
                         ELSE [probe_name] END) AS g
                FROM probes
              )
            ),
            rg AS (
              SELECT p_partkey, p_name, unnest(g) AS g FROM (
                SELECT p_partkey, p_name,
                       list_distinct(CASE WHEN length(p_name) >= 3
                         THEN list_transform(range(1, length(p_name) - 1),
                                             i -> substr(p_name, i::INT, 3))
                         ELSE [p_name] END) AS g
                FROM part
              )
            ),
            keep AS (
              SELECT g FROM (
                SELECT g, count(*) AS n FROM (
                  SELECT g FROM lg UNION ALL SELECT g FROM rg
                ) GROUP BY g
              ) WHERE n <= 1000
            ),
            cands AS (
              SELECT DISTINCT l.probe_id, l.probe_name, r.p_partkey, r.p_name
              FROM lg l JOIN keep USING (g) JOIN rg r USING (g)
            )
            SELECT probe_id, p_partkey, probe_name, p_name,
                   levenshtein(probe_name, p_name)::INT AS distance
            FROM cands WHERE levenshtein(probe_name, p_name) <= 1
        """,
        # events_pagerank: 2 power iterations unrolled as CTEs (the
        # kmeans-style fixed-iteration oracle strategy); the bidirected
        # graph has no dangling nodes, so the redistribution term is 0 and
        # the SQL omits it.  Final ranks rounded to 6 on both engines.
        "events_pagerank": """
            WITH base AS (
              SELECT DISTINCT 'u:' || user_id::VARCHAR AS src,
                     'k:' || json_extract_string(props, '$.k') AS dst
              FROM events WHERE event_type = 'click'
            ),
            edges AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
            nodes AS (SELECT DISTINCT src AS node FROM edges),
            nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
            deg AS (SELECT src, count(*)::DOUBLE AS d FROM edges GROUP BY src),
            r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
            s1 AS (
              SELECT e.dst AS node, sum(r.rank / deg.d) AS recv
              FROM edges e JOIN r0 r ON r.node = e.src JOIN deg ON deg.src = e.src
              GROUP BY e.dst
            ),
            r1 AS (
              SELECT nodes.node,
                     (1.0 - 0.85) / (SELECT n FROM nn)
                       + 0.85 * coalesce(s1.recv, 0) AS rank
              FROM nodes LEFT JOIN s1 USING (node)
            ),
            s2 AS (
              SELECT e.dst AS node, sum(r.rank / deg.d) AS recv
              FROM edges e JOIN r1 r ON r.node = e.src JOIN deg ON deg.src = e.src
              GROUP BY e.dst
            ),
            r2 AS (
              SELECT nodes.node,
                     (1.0 - 0.85) / (SELECT n FROM nn)
                       + 0.85 * coalesce(s2.recv, 0) AS rank
              FROM nodes LEFT JOIN s2 USING (node)
            )
            SELECT node, round(rank, 6) AS rank FROM r2
        """,
        "pipeline_release_manifest": f"""
            WITH {_QUALITY_CTES},
            keepers AS (
              SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM})
            ),
            kept AS (
              SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
              FROM documents d
              JOIN keepers USING (doc_id)
              JOIN r ON r.doc_id = d.doc_id
              WHERE r.quality >= 0.5
            )
            SELECT (('0x' || substr(md5('shard1|' || doc_id::VARCHAR), 1, 15))::BIGINT
                    % 16) AS shard_id,
                   count(*)::BIGINT AS n_rows,
                   bit_xor({_DOC_DIGEST}) AS xor_checksum
            FROM kept
            GROUP BY shard_id
        """,
        "doc_decontaminate_excise": f"""
            WITH {_CONTAM_SPANS_CTES},
            stats AS (
              SELECT doc_id, count(*)::BIGINT AS n_spans,
                     sum(span_end - span_start + 1)::BIGINT AS dup_chars
              FROM spansq GROUP BY doc_id
            ),
            pos AS (
              SELECT doc_id, unnest(range(1, length(text) + 1)) AS p
              FROM documents WHERE doc_id % 10 <> 0
            ),
            kept AS (
              SELECT po.doc_id, po.p FROM pos po
              WHERE NOT EXISTS (
                SELECT 1 FROM spansq sp
                WHERE sp.doc_id = po.doc_id
                  AND po.p BETWEEN sp.span_start AND sp.span_end
              )
            ),
            cl AS (
              SELECT kk.doc_id,
                     string_agg(substr(d.text, kk.p::INT, 1), '' ORDER BY kk.p)
                       AS cleaned
              FROM kept kk JOIN documents d USING (doc_id)
              GROUP BY kk.doc_id
            )
            SELECT d.doc_id,
                   coalesce(st.n_spans, 0)::BIGINT AS n_spans,
                   coalesce(st.dup_chars, 0)::BIGINT AS dup_chars,
                   coalesce(cl.cleaned, '') AS cleaned,
                   length(coalesce(cl.cleaned, ''))::BIGINT AS cleaned_len
            FROM (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0) d
            LEFT JOIN stats st USING (doc_id)
            LEFT JOIN cl USING (doc_id)
        """,
        "ann_rnn_pairs": """
            WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            scored AS (
              SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                     round(list_dot_product(a.v, b.v)
                           / (sqrt(list_dot_product(a.v, a.v))
                              * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
              FROM c a CROSS JOIN c b WHERE a.vec_id <> b.vec_id
            ),
            topk AS (
              SELECT query_id, neighbor_id, cosine, rank FROM (
                SELECT query_id, neighbor_id, cosine,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored
              ) WHERE rank <= 10
            )
            SELECT f.id_a, f.id_b, f.cosine, f.rank_ab, r.rank_ba FROM
              (SELECT query_id AS id_a, neighbor_id AS id_b, cosine,
                      rank AS rank_ab
               FROM topk WHERE query_id < neighbor_id) f
              JOIN
              (SELECT neighbor_id AS id_a, query_id AS id_b, rank AS rank_ba
               FROM topk WHERE query_id > neighbor_id) r
              USING (id_a, id_b)
        """,
        "events_forecast_baseline": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS d, round(sum(value), 4) AS v
              FROM events GROUP BY 1, 2
            ),
            lagged AS (
              SELECT event_type, d, v,
                     lag(v, 1) OVER (PARTITION BY event_type ORDER BY d) AS v1,
                     lag(v, 7) OVER (PARTITION BY event_type ORDER BY d) AS v7
              FROM daily
            )
            SELECT event_type, count(*)::BIGINT AS n_days,
                   round(avg(abs(v - v1)), 6) AS mae_naive1,
                   round(avg(abs(v - v7)), 6) AS mae_seasonal7
            FROM lagged WHERE v7 IS NOT NULL
            GROUP BY event_type
        """,
        "dedup_minhash_1bit": f"""
            WITH {_LSH_PAIRS_CTES}
            SELECT id_a, id_b, jaccard,
                   round(est, 6) AS est_1bit,
                   round(abs(est - jaccard), 6) AS abs_err
            FROM (
              SELECT p.id_a, p.id_b, p.jaccard,
                     greatest(
                       2.0 * (({" + ".join(f"(CASE WHEN sa.h{k} % 2 = sb.h{k} % 2 THEN 1 ELSE 0 END)" for k in range(16))})::DOUBLE / 16.0)
                         - 1.0,
                       0.0) AS est
              FROM lsh_pairs p
              JOIN sig sa ON sa.doc_id = p.id_a
              JOIN sig sb ON sb.doc_id = p.id_b
            )
        """,
        "orders_backlog": """
            WITH spans AS (
              SELECT o.o_orderkey, o.o_orderdate::DATE AS s,
                     max(l.l_shipdate)::DATE AS e
              FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
              GROUP BY o.o_orderkey, o.o_orderdate
            ),
            deltas AS (
              SELECT d, sum(delta)::BIGINT AS net FROM (
                SELECT s AS d, 1 AS delta FROM spans
                UNION ALL SELECT e + 1, -1 FROM spans
              ) GROUP BY d
            )
            SELECT d, net,
                   (sum(net) OVER (ORDER BY d
                       ROWS UNBOUNDED PRECEDING))::BIGINT AS open_count
            FROM deltas
        """,
        "events_lpa": f"""
            WITH {_lpa_ctes("")}
            SELECT node, community FROM final
        """,
        "events_lpa_incr": f"""
            WITH {_lpa_ctes("o", "AND ts::DATE < DATE '2024-01-21'")},
            nbase AS (
              SELECT DISTINCT 'u:' || user_id::VARCHAR AS src,
                     'k:' || json_extract_string(props, '$.k') AS dst
              FROM events
              WHERE event_type = 'click' AND ts::DATE >= DATE '2024-01-21'
            ),
            nedges AS (SELECT src, dst FROM nbase UNION SELECT dst, src FROM nbase),
            touched AS (SELECT DISTINCT src AS node FROM nedges),
            prior AS (
              SELECT t.node, coalesce(o.community, t.node) AS community
              FROM touched t LEFT JOIN ofinal o USING (node)
            ),
            im AS (
              -- self-vote only for ESTABLISHED nodes (real old prior);
              -- a brand-new node's self-label is initialization, not
              -- support (mirrors label_propagation_incr)
              SELECT node, community, count(*) AS c FROM (
                SELECT e.dst AS node, p.community
                FROM nedges e JOIN prior p ON p.node = e.src
                UNION ALL
                SELECT p.node, p.community FROM prior p
                WHERE EXISTS (SELECT 1 FROM ofinal o WHERE o.node = p.node)
              ) GROUP BY node, community
            ),
            iv AS (
              -- ties favor the node's prior label, then min (mirrors
              -- label_propagation_incr's (count, is_prior, label) vote)
              SELECT node, community FROM (
                SELECT im.node, im.community,
                       row_number() OVER (PARTITION BY im.node
                                          ORDER BY im.c DESC,
                                          CASE WHEN im.community = p.community
                                               THEN 0 ELSE 1 END ASC,
                                          im.community ASC) AS rn
                FROM im JOIN prior p ON p.node = im.node
              ) WHERE rn = 1
            ),
            inc AS (
              SELECT p.node, coalesce(iv.community, p.community) AS community
              FROM prior p LEFT JOIN iv ON p.node = iv.node
            )
            SELECT o.node, o.community FROM ofinal o
            WHERE o.node NOT IN (SELECT node FROM touched)
            UNION ALL
            SELECT node, community FROM inc
        """,
        "doc_weighted_sample": """
            SELECT doc_id, n_chars,
                   round(pow(
                     (('0x' || substr(md5('wsample1|' || doc_id::VARCHAR), 1, 15))::BIGINT + 1)
                       / 1152921504606846977.0,
                     1.0 / n_chars), 12) AS ws_key
            FROM documents WHERE n_chars > 0
            ORDER BY ws_key DESC, doc_id ASC LIMIT 100
        """,
        "doc_token_entropy": f"""
            WITH toks AS (SELECT doc_id, {_TOKS_NORM} AS t FROM documents),
            tok AS (SELECT doc_id, unnest(t) AS term FROM toks WHERE len(t) >= 1),
            cnt AS (SELECT doc_id, term, count(*)::DOUBLE AS n
                    FROM tok GROUP BY doc_id, term)
            SELECT doc_id, sum(n)::BIGINT AS n_tokens,
                   round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6) AS entropy
            FROM cnt GROUP BY doc_id
        """,
        "kmv_union": """
            WITH ha AS (
              SELECT h FROM (
                SELECT DISTINCT ('0x' || substr(md5('kmv1|' || l_partkey::VARCHAR), 1, 15))::BIGINT AS h
                FROM lineitem WHERE l_orderkey % 2 = 0 AND l_partkey IS NOT NULL
              ) ORDER BY h LIMIT 256
            ),
            hb AS (
              SELECT h FROM (
                SELECT DISTINCT ('0x' || substr(md5('kmv1|' || l_partkey::VARCHAR), 1, 15))::BIGINT AS h
                FROM lineitem WHERE l_orderkey % 2 = 1 AND l_partkey IS NOT NULL
              ) ORDER BY h LIMIT 256
            ),
            sk AS (
              SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)
              ORDER BY h LIMIT 256
            ),
            a AS (SELECT count(*)::BIGINT AS sketch_k, max(h) AS kth_hash FROM sk)
            SELECT sketch_k, kth_hash,
                   round(CASE WHEN sketch_k < 256 THEN sketch_k::DOUBLE
                         ELSE 255.0 / (kth_hash::DOUBLE / 1152921504606846976.0) END, 2) AS est_ndv,
                   (SELECT count(DISTINCT l_partkey) FROM lineitem)::BIGINT AS exact_ndv
            FROM a
        """,
        "events_sequences": """
            SELECT user_id, count(*)::BIGINT AS n_events,
                   string_agg(
                     event_type || ':' || coalesce(json_extract_string(props, '$.k'), '_'),
                     ' ' ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id
        """,
        "ann_ivf_trained": _ivf_trained_sql(),
        "ann_pq_adc": _pq_adc_sql(),
        "ann_ivf_pq": _ivf_pq_sql(),
        # the persisted-index probe is output-identical to the in-memory
        # IVFADC composition (same coarse/codebooks/rounding/tiebreak;
        # locked by test_ivfpq_query_partition_pruning), so the oracle
        # is shared verbatim
        "ann_ivfpq_persisted": _ivf_pq_sql(),
        "stream_pq_neardup": _stream_pq_sql(),
        "embedding_prototypes": _prototypes_sql(),
        "doc_chunk_dedup": f"""
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ),
            ch0 AS (
              SELECT doc_id, t,
                     unnest(range(CAST(greatest(ceil(len(t) / 8.0), 1) AS BIGINT))) AS pos
              FROM toks
            ),
            chunks AS (
              SELECT doc_id, pos,
                     array_to_string(t[(pos * 8 + 1):(pos * 8 + 8)], ' ') AS chunk
              FROM ch0
            ),
            cnts AS (
              SELECT chunk, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY chunk
            ),
            pc AS (
              SELECT c.doc_id, c.pos, c.chunk, (n.nd < 2) AS keep
              FROM chunks c JOIN cnts n USING (chunk)
            )
            SELECT doc_id,
                   count(*)::BIGINT AS n_chunks,
                   CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
                   coalesce(
                     string_agg(CASE WHEN keep THEN chunk END, ' ' ORDER BY pos),
                     ''
                   ) AS clean_text
            FROM pc GROUP BY doc_id
        """,
        "doc_shuffle_shards": """
            WITH keyed AS (
              SELECT doc_id,
                     ('0x' || substr(md5('shuf1|' || doc_id::VARCHAR), 1, 15))::BIGINT AS k
              FROM documents
            )
            SELECT doc_id,
                   CAST(k % 8 AS INT) AS shard,
                   CAST(row_number() OVER (PARTITION BY k % 8
                                           ORDER BY k ASC, doc_id ASC) AS BIGINT) AS pos
            FROM keyed
        """,
        "bpe_fertility": f"""
            WITH tok AS (
              SELECT doc_id,
                     len({_TOKS_RAW}) AS ws,
                     len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS re
              FROM documents
            )
            SELECT lang_pred,
                   count(*)::BIGINT AS n_docs,
                   CAST(sum(ws) AS BIGINT) AS ws_total,
                   CAST(sum(re) AS BIGINT) AS re_total,
                   round(CASE WHEN sum(ws) > 0
                              THEN sum(re)::DOUBLE / sum(ws)
                              ELSE 0.0 END, 6) AS fertility
            FROM ({_DOC_LANG_SQL}) lang JOIN tok USING (doc_id)
            GROUP BY lang_pred
        """,
        "ann_ivf": _ANN_IVF_SQL,
        "stream_first_seen": """
            SELECT event_type AS fp, min(ts) AS first_ts,
                   count(*) - 1 AS n_dups
            FROM events GROUP BY event_type
        """,
        # multimodal_features: DuckDB independently re-parses the SAME
        # committed parquet blobs (netpbm header via hex-regex, RIFF/WAV
        # fields at fixed little-endian offsets); payload_md5 is
        # md5(hex(payload)) on both sides because DuckDB's md5 is
        # VARCHAR-only.  The float feature vectors (not SQL-reproducible)
        # live in the pytest twin instead (tests/test_multimodal.py).
        "multimodal_features": f"""
            WITH m AS (
              SELECT media_id, kind, hex(payload) AS hx,
                     octet_length(payload)::BIGINT AS n_bytes
              FROM read_parquet('{_MEDIA_FIXTURE}')
            )
            SELECT media_id, kind, n_bytes, md5(hx) AS payload_md5,
              CASE WHEN kind='image' THEN decode(unhex(regexp_extract(hx,
                '^50(?:35|36)0A((?:..)*?)20', 1)))::INT END AS width,
              CASE WHEN kind='image' THEN decode(unhex(regexp_extract(hx,
                '^50(?:35|36)0A(?:..)*?20((?:..)*?)0A', 1)))::INT END AS height,
              CASE WHEN kind='image' THEN decode(unhex(regexp_extract(hx,
                '^50(?:35|36)0A(?:..)*?0A((?:..)*?)0A', 1)))::INT END AS maxval,
              CASE WHEN kind='audio' THEN ('0x' || substr(hx,55,2) || substr(hx,53,2)
                || substr(hx,51,2) || substr(hx,49,2))::BIGINT::INT END AS sample_rate,
              CASE WHEN kind='audio' THEN ('0x' || substr(hx,87,2) || substr(hx,85,2)
                || substr(hx,83,2) || substr(hx,81,2))::BIGINT // 2 END AS n_samples
            FROM m
        """,
        "doc_source_cap": """
            SELECT doc_id, source, strat_rank FROM (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5('cap1|' || doc_id::VARCHAR) ASC, doc_id ASC
                     ) AS strat_rank
              FROM documents
            ) WHERE strat_rank <= 15
        """,
        "doc_dsir": f"""
            WITH tb AS (
              SELECT doc_id,
                     ('0x' || substr(md5('dsir1|' || term), 1, 15))::BIGINT % 4096 AS b
              FROM (SELECT doc_id, unnest({_TOKS_NORM}) AS term FROM documents)
            ),
            rc AS (SELECT b, count(*)::DOUBLE AS c FROM tb GROUP BY b),
            tc AS (
              SELECT b, count(*)::DOUBLE AS c
              FROM tb JOIN documents USING (doc_id)
              WHERE lang = 'en' GROUP BY b
            ),
            rt AS (SELECT coalesce(sum(c), 0) AS t FROM rc),
            tt AS (SELECT coalesce(sum(c), 0) AS t FROM tc),
            lm AS (
              SELECT coalesce(rc.b, tc.b) AS b,
                     ln((coalesce(tc.c, 0) + 1) / (tt.t + 4096.0))
                       - ln((coalesce(rc.c, 0) + 1) / (rt.t + 4096.0)) AS lr
              FROM rc FULL OUTER JOIN tc ON rc.b = tc.b, rt, tt
            )
            SELECT doc_id, count(*) AS n_tokens, round(sum(lr), 4) AS dsir_w
            FROM tb JOIN lm USING (b)
            GROUP BY doc_id
        """,
        "ann_label_noise": """
            WITH q AS (
              SELECT vec_id AS query_id, label AS true_label,
                     embedding::DOUBLE[] AS qv
              FROM embeddings
            ),
            c AS (
              SELECT vec_id AS neighbor_id, label AS nl,
                     embedding::DOUBLE[] AS cv
              FROM embeddings
            ),
            scored AS (
              SELECT query_id, neighbor_id, nl,
                     round(list_dot_product(qv, cv)
                           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                           6) AS cosine
              FROM q CROSS JOIN c WHERE query_id <> neighbor_id
            ),
            nbrs AS (
              SELECT query_id, nl FROM (
                SELECT query_id, nl,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored
              ) WHERE rank <= 5
            ),
            votes AS (
              SELECT query_id, nl, count(*) AS votes
              FROM nbrs GROUP BY query_id, nl
            ),
            pred AS (
              SELECT query_id, nl AS pred_label FROM (
                SELECT query_id, nl, votes,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY votes DESC, nl ASC) AS r
                FROM votes
              ) WHERE r = 1
            )
            SELECT q.true_label AS label,
                   count(*)::BIGINT AS n,
                   CAST(sum(CASE WHEN p.pred_label = q.true_label THEN 0 ELSE 1 END) AS BIGINT)
                     AS n_flagged,
                   round(sum(CASE WHEN p.pred_label = q.true_label THEN 0 ELSE 1 END)::DOUBLE
                         / count(*), 6) AS noise_rate
            FROM pred p JOIN q USING (query_id)
            GROUP BY q.true_label
        """,
        "multimodal_ahash": f"""
            WITH m AS (
              SELECT media_id, hex(payload) AS hx FROM read_parquet('{_MEDIA_FIXTURE}')
              WHERE kind = 'image'
            ),
            hdr AS (
              SELECT media_id, hx,
                     length(regexp_extract(hx, '^50360A(?:..)*?0A(?:..)*?0A', 0)) AS off,
                     decode(unhex(regexp_extract(hx, '^50360A((?:..)*?)20', 1)))::INT AS width,
                     decode(unhex(regexp_extract(hx, '^50360A(?:..)*?20((?:..)*?)0A', 1)))::INT AS height
              FROM m
            ),
            px AS (
              SELECT media_id, off, width, height, width * height AS npix,
                     unnest(range(width * height)) AS i
              FROM hdr
            ),
            luma AS (
              SELECT p.media_id, p.width, p.height, p.npix, p.i,
                     ('0x' || substr(h.hx, CAST(p.off + 6 * p.i + 1 AS INT), 2))::BIGINT
                   + ('0x' || substr(h.hx, CAST(p.off + 6 * p.i + 3 AS INT), 2))::BIGINT
                   + ('0x' || substr(h.hx, CAST(p.off + 6 * p.i + 5 AS INT), 2))::BIGINT AS l
              FROM px p JOIN hdr h USING (media_id)
            ),
            tot AS (SELECT media_id, sum(l) AS total FROM luma GROUP BY media_id),
            hashed AS (
              SELECT l.media_id, l.width, l.height,
                     CAST(sum(CASE WHEN l.l * l.npix > t.total
                              THEN CAST(1 AS BIGINT) << CAST(l.i AS INT) ELSE 0 END) AS BIGINT)
                       AS ahash
              FROM luma l JOIN tot t USING (media_id)
              GROUP BY l.media_id, l.width, l.height
            )
            SELECT media_id, width, height, ahash,
                   min(media_id) OVER (PARTITION BY ahash) AS canonical,
                   count(*) OVER (PARTITION BY ahash)::BIGINT AS n_dups
            FROM hashed
        """,
        "grouped_percentiles": """
            WITH v AS (
              SELECT l_returnflag AS g, l_extendedprice::DOUBLE AS x
              FROM lineitem WHERE l_extendedprice IS NOT NULL
            ),
            r AS (
              SELECT g, x,
                     row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
                     count(*) OVER (PARTITION BY g) AS n
              FROM v
            )
            SELECT g AS l_returnflag, q, x AS value,
                   CAST(greatest(ceil(q * r.n), 1) AS BIGINT) AS rank,
                   CAST(r.n AS BIGINT) AS n
            FROM (VALUES (0.5), (0.9), (0.99)) t(q)
            JOIN r ON r.rn = greatest(ceil(q * r.n), 1)
        """,
        "kmeans_inertia": f"""
            WITH {_kmeans_ctes(64)},
            a AS {_ivf_assign_sql("emb", "cent2", "v", "vec_id", 1)},
            d AS (
              SELECT a.cell,
                     CAST(round(round(list_dot_product(a.v, a.v), 6)
                                - 2 * round(list_dot_product(a.v, c.centroid), 6)
                                + round(list_dot_product(c.centroid, c.centroid), 6),
                                6) AS DECIMAL(20,6)) AS d2
              FROM a JOIN cent2 c ON a.cell = c.cid
            )
            SELECT cell, count(*)::BIGINT AS n_vectors,
                   round(CAST(sum(d2) AS DOUBLE), 4) AS inertia,
                   round(CAST(sum(d2) AS DOUBLE) / count(*), 6) AS mean_d2
            FROM d GROUP BY cell
        """,
        "doc_ngram_coverage": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_NORM} AS t FROM documents
            ),
            bench AS (
              SELECT DISTINCT gram FROM (
                SELECT unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                              i -> md5(array_to_string(t[i:i+4], chr(31))))) AS gram
                FROM toks WHERE doc_id % 10 = 0 AND len(t) >= 5
              )
            ),
            corpus AS (
              SELECT DISTINCT gram FROM (
                SELECT unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                              i -> md5(array_to_string(t[i:i+4], chr(31))))) AS gram
                FROM toks WHERE doc_id % 10 <> 0 AND len(t) >= 5
              )
            )
            SELECT (SELECT count(*) FROM bench)::BIGINT AS n_bench_grams,
                   (SELECT count(*) FROM bench b
                    WHERE EXISTS (SELECT 1 FROM corpus c WHERE c.gram = b.gram)
                   )::BIGINT AS n_covered,
                   round((SELECT count(*) FROM bench b
                          WHERE EXISTS (SELECT 1 FROM corpus c WHERE c.gram = b.gram))
                         ::DOUBLE
                         / (SELECT count(*) FROM bench), 6) AS coverage
        """,
        "shard_checksums": f"""
            SELECT (('0x' || substr(md5('shard1|' || doc_id::VARCHAR), 1, 15))::BIGINT
                    % 16) AS shard_id,
                   count(*)::BIGINT AS n_rows,
                   bit_xor({_DOC_DIGEST}) AS xor_checksum
            FROM documents
            GROUP BY shard_id
        """,
        "events_dau_wau": """
            WITH active AS (
              SELECT DISTINCT user_id, ts::DATE AS d FROM events
            ),
            dau AS (
              SELECT d, count(DISTINCT user_id)::BIGINT AS dau
              FROM active GROUP BY d
            ),
            contrib AS (
              SELECT user_id, (d + CAST(r.i AS INTEGER)) AS d
              FROM active, range(0, 7) r(i)
            ),
            wau AS (
              SELECT d, count(DISTINCT user_id)::BIGINT AS wau
              FROM contrib GROUP BY d
            )
            SELECT dau.d AS day, dau.dau, wau.wau,
                   round(dau.dau::DOUBLE / wau.wau, 6) AS stickiness
            FROM dau JOIN wau ON dau.d = wau.d
        """,
        "checksum_delta": f"""
            WITH v1 AS (
              SELECT doc_id, text, lang, source, n_chars FROM documents
            ),
            v2 AS (
              SELECT doc_id,
                     CASE WHEN doc_id = 7 THEN 'tampered' ELSE text END AS text,
                     lang, source, n_chars
              FROM documents WHERE doc_id <> 13
            ),
            a AS (
              SELECT (('0x' || substr(md5('shard1|' || doc_id::VARCHAR), 1, 15))::BIGINT
                      % 16) AS shard_id,
                     count(*)::BIGINT AS n_old,
                     bit_xor({_DOC_DIGEST}) AS checksum_old
              FROM v1 GROUP BY shard_id
            ),
            b AS (
              SELECT (('0x' || substr(md5('shard1|' || doc_id::VARCHAR), 1, 15))::BIGINT
                      % 16) AS shard_id,
                     count(*)::BIGINT AS n_new,
                     bit_xor({_DOC_DIGEST}) AS checksum_new
              FROM v2 GROUP BY shard_id
            )
            SELECT coalesce(a.shard_id, b.shard_id) AS shard_id,
                   coalesce(a.n_old, 0)::BIGINT AS n_old,
                   coalesce(b.n_new, 0)::BIGINT AS n_new,
                   coalesce(a.checksum_old, 0)::BIGINT AS checksum_old,
                   coalesce(b.checksum_new, 0)::BIGINT AS checksum_new,
                   (coalesce(a.n_old, 0) <> coalesce(b.n_new, 0)
                    OR coalesce(a.checksum_old, 0) <> coalesce(b.checksum_new, 0))
                     AS changed
            FROM a FULL OUTER JOIN b ON a.shard_id = b.shard_id
        """,
        "doc_dedup_funnel": f"""
            WITH keepers AS (
              SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM})
            ),
            held AS (SELECT doc_id FROM keepers WHERE doc_id % 10 <> 0),
            toksn AS (
              SELECT doc_id, {_TOKS_NORM} AS t FROM documents
            ),
            benchg AS (
              SELECT DISTINCT gram FROM (
                SELECT unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                              i -> md5(array_to_string(t[i:i+4], chr(31))))) AS gram
                FROM toksn WHERE doc_id % 10 = 0 AND len(t) >= 5
              )
            ),
            contam AS (
              SELECT DISTINCT g.doc_id FROM (
                SELECT tk.doc_id,
                       unnest(list_transform(range(1, greatest(len(tk.t) - 4, 0) + 1),
                              i -> md5(array_to_string(tk.t[i:i+4], chr(31))))) AS gram
                FROM toksn tk JOIN held h ON tk.doc_id = h.doc_id
                WHERE len(tk.t) >= 5
              ) g JOIN benchg b USING (gram)
            ),
            decon AS (
              SELECT doc_id FROM held
              WHERE doc_id NOT IN (SELECT doc_id FROM contam)
            ),
            {_QUALITY_CTES},
            qual AS (
              SELECT r.doc_id FROM r JOIN decon USING (doc_id)
              WHERE r.quality >= 0.5
            ),
            funnel AS (
              SELECT 1 AS stage_idx, 'raw' AS stage,
                     (SELECT count(*) FROM documents) AS n_docs
              UNION ALL SELECT 2, 'exact_dedup', (SELECT count(*) FROM keepers)
              UNION ALL SELECT 3, 'eval_holdout', (SELECT count(*) FROM held)
              UNION ALL SELECT 4, 'decontaminated', (SELECT count(*) FROM decon)
              UNION ALL SELECT 5, 'quality', (SELECT count(*) FROM qual)
            )
            SELECT stage_idx, stage, n_docs::BIGINT AS n_docs,
                   round(n_docs::DOUBLE
                         / (SELECT count(*) FROM documents), 6) AS retained_pct
            FROM funnel
        """,
        "events_time_to_convert": """
            WITH c AS (
              SELECT user_id, min(ts) AS c_ts FROM events
              WHERE event_type = 'click' GROUP BY user_id
            ),
            l AS (
              SELECT e.user_id,
                     epoch_us(min(e.ts)) - epoch_us(c.c_ts) AS latency_us
              FROM events e JOIN c USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
              GROUP BY e.user_id, c.c_ts
            ),
            v AS (SELECT latency_us::DOUBLE AS x FROM l),
            r AS (
              SELECT x, row_number() OVER (ORDER BY x) AS rn,
                     count(*) OVER () AS n
              FROM v
            )
            SELECT q, x AS value,
                   CAST(greatest(ceil(q * r.n), 1) AS BIGINT) AS rank,
                   CAST(r.n AS BIGINT) AS n
            FROM (VALUES (0.5), (0.9), (0.99)) t(q)
            JOIN r ON r.rn = greatest(ceil(q * r.n), 1)
        """,
        "robust_outliers": """
            WITH v AS (
              SELECT value::DOUBLE AS x FROM events WHERE value IS NOT NULL
            ),
            r AS (SELECT x, row_number() OVER (ORDER BY x) rn, count(*) OVER () n FROM v),
            med AS (SELECT x AS m, n FROM r WHERE rn = greatest(ceil(0.5 * n), 1)),
            d AS (SELECT abs(v.x - med.m) AS dev, v.x, med.m, med.n FROM v, med),
            dr AS (SELECT dev, row_number() OVER (ORDER BY dev) rn,
                          count(*) OVER () dn FROM d),
            mad AS (SELECT dev AS md FROM dr WHERE rn = greatest(ceil(0.5 * dn), 1)),
            scored AS (
              SELECT d.x, d.m, d.n, mad.md,
                     CASE WHEN mad.md > 0
                          THEN d.dev / (1.4826 * mad.md) END AS rz
              FROM d, mad
            )
            SELECT CAST(max(n) AS BIGINT) AS n,
                   round(max(m), 6) AS median,
                   round(max(md), 6) AS mad,
                   CAST(sum(CASE WHEN rz > 3.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                   round(coalesce(max(rz), 0.0), 6) AS max_robust_z
            FROM scored
        """,
        "exact_percentiles": """
            WITH v AS (
              SELECT l_extendedprice::DOUBLE AS x FROM lineitem
              WHERE l_extendedprice IS NOT NULL
            ),
            r AS (
              SELECT x, row_number() OVER (ORDER BY x) AS rn,
                     count(*) OVER () AS n
              FROM v
            )
            SELECT q, x AS value,
                   CAST(greatest(ceil(q * r.n), 1) AS BIGINT) AS rank,
                   CAST(r.n AS BIGINT) AS n
            FROM (VALUES (0.25), (0.5), (0.9), (0.99)) t(q)
            JOIN r ON r.rn = greatest(ceil(q * r.n), 1)
        """,
        "multimodal_audio_hash": f"""
            WITH m AS (
              SELECT media_id, hex(payload) AS hx FROM read_parquet('{_MEDIA_FIXTURE}')
              WHERE kind = 'audio'
            ),
            hdr AS (
              SELECT media_id, hx,
                     (('0x' || substr(hx, 81, 2))::BIGINT
                      + 256 * ('0x' || substr(hx, 83, 2))::BIGINT
                      + 65536 * ('0x' || substr(hx, 85, 2))::BIGINT
                      + 16777216 * ('0x' || substr(hx, 87, 2))::BIGINT) // 2 AS n_samples
              FROM m
            ),
            prep AS (
              SELECT media_id, hx, n_samples,
                     (n_samples // 8) AS blk,
                     (n_samples // 8) * 8 AS used
              FROM hdr
            ),
            idx AS (
              SELECT media_id, n_samples, blk,
                     unnest(range(used)) AS i
              FROM prep
            ),
            samp AS (
              SELECT x.media_id, x.n_samples, x.blk, x.i, x.i // x.blk AS b,
                     CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s
              FROM (
                SELECT d.media_id, d.n_samples, d.blk, d.i,
                       ('0x' || substr(p.hx, CAST(89 + 4 * d.i AS INT), 2))::BIGINT
                       + 256 * ('0x' || substr(p.hx, CAST(91 + 4 * d.i AS INT), 2))::BIGINT AS raw
                FROM idx d JOIN prep p USING (media_id)
              ) x
            ),
            blocks AS (
              SELECT media_id, n_samples, b, sum(abs(s)) AS e
              FROM samp GROUP BY media_id, n_samples, b
            ),
            tot AS (SELECT media_id, sum(e) AS total FROM blocks GROUP BY media_id),
            hashed AS (
              SELECT bl.media_id, bl.n_samples,
                     CAST(t.total AS BIGINT) AS total_energy,
                     CAST(sum(CASE WHEN bl.e * 8 > t.total
                              THEN CAST(1 AS BIGINT) << CAST(bl.b AS INT) ELSE 0 END) AS BIGINT)
                       AS ehash
              FROM blocks bl JOIN tot t USING (media_id)
              GROUP BY bl.media_id, bl.n_samples, t.total
            )
            SELECT media_id, n_samples, total_energy, ehash,
                   min(media_id) OVER (PARTITION BY ehash) AS canonical,
                   count(*) OVER (PARTITION BY ehash)::BIGINT AS n_dups
            FROM hashed
        """,
        "fd_discovery": """
            WITH pairs(determinant, dependent) AS (
              VALUES ('c_custkey','c_nationkey'), ('c_custkey','c_mktsegment'),
                     ('c_nationkey','c_custkey'), ('c_nationkey','c_mktsegment'),
                     ('c_mktsegment','c_custkey'), ('c_mktsegment','c_nationkey')
            ),
            stats AS (
              SELECT 'c_custkey' a, 'c_nationkey' b,
                     count(DISTINCT c_custkey)::BIGINT nd,
                     count(DISTINCT (c_custkey, c_nationkey))::BIGINT np FROM customer
              UNION ALL SELECT 'c_custkey', 'c_mktsegment',
                     count(DISTINCT c_custkey)::BIGINT,
                     count(DISTINCT (c_custkey, c_mktsegment))::BIGINT FROM customer
              UNION ALL SELECT 'c_nationkey', 'c_custkey',
                     count(DISTINCT c_nationkey)::BIGINT,
                     count(DISTINCT (c_nationkey, c_custkey))::BIGINT FROM customer
              UNION ALL SELECT 'c_nationkey', 'c_mktsegment',
                     count(DISTINCT c_nationkey)::BIGINT,
                     count(DISTINCT (c_nationkey, c_mktsegment))::BIGINT FROM customer
              UNION ALL SELECT 'c_mktsegment', 'c_custkey',
                     count(DISTINCT c_mktsegment)::BIGINT,
                     count(DISTINCT (c_mktsegment, c_custkey))::BIGINT FROM customer
              UNION ALL SELECT 'c_mktsegment', 'c_nationkey',
                     count(DISTINCT c_mktsegment)::BIGINT,
                     count(DISTINCT (c_mktsegment, c_nationkey))::BIGINT FROM customer
            )
            SELECT a AS determinant, b AS dependent, nd AS n_det, np AS n_pairs,
                   (np - nd) AS violations, (np = nd) AS holds
            FROM stats
        """,
        "ri_report": """
            SELECT 'lineitem.orderkey->orders' AS relationship,
                   count(*)::BIGINT AS n_child,
                   CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
                   round(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS orphan_rate
            FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_orderkey IS NOT NULL
            UNION ALL
            SELECT 'orders.custkey->customer', count(*)::BIGINT,
                   CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   round(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
            FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_custkey IS NOT NULL
            UNION ALL
            SELECT 'customer.nationkey->nation', count(*)::BIGINT,
                   CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   round(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
            FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE c.c_nationkey IS NOT NULL
            UNION ALL
            SELECT 'supplier.nationkey->nation', count(*)::BIGINT,
                   CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   round(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
            FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE s.s_nationkey IS NOT NULL
            UNION ALL
            SELECT 'lineitem.suppkey->supplier', count(*)::BIGINT,
                   CAST(sum(CASE WHEN sp.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   round(sum(CASE WHEN sp.s_suppkey IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
            FROM lineitem l LEFT JOIN supplier sp ON l.l_suppkey = sp.s_suppkey
            WHERE l.l_suppkey IS NOT NULL
        """,
        "dedup_chunk_incremental": """
            WITH old_docs AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
            new_docs AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
            otoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM old_docs),
            och0 AS (
              SELECT doc_id, t,
                     unnest(range(CAST(greatest(ceil(len(t) / 8.0), 1) AS BIGINT))) AS pos
              FROM otoks
            ),
            ochunks AS (
              SELECT doc_id, array_to_string(t[(pos * 8 + 1):(pos * 8 + 8)], ' ') AS chunk
              FROM och0
            ),
            idx AS (SELECT chunk, count(DISTINCT doc_id) AS nd_old FROM ochunks GROUP BY chunk),
            ntoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM new_docs),
            nch0 AS (
              SELECT doc_id, t,
                     unnest(range(CAST(greatest(ceil(len(t) / 8.0), 1) AS BIGINT))) AS pos
              FROM ntoks
            ),
            nchunks AS (
              SELECT doc_id, pos,
                     array_to_string(t[(pos * 8 + 1):(pos * 8 + 8)], ' ') AS chunk
              FROM nch0
            ),
            bc AS (SELECT chunk, count(DISTINCT doc_id) AS nd_new FROM nchunks GROUP BY chunk),
            merged AS (
              SELECT b.chunk, b.nd_new + coalesce(i.nd_old, 0) AS nd
              FROM bc b LEFT JOIN idx i USING (chunk)
            ),
            pc AS (
              SELECT n.doc_id, n.pos, n.chunk, (m.nd < 2) AS keep
              FROM nchunks n JOIN merged m USING (chunk)
            )
            SELECT doc_id,
                   count(*)::BIGINT AS n_chunks,
                   CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
                   coalesce(
                     string_agg(CASE WHEN keep THEN chunk END, ' ' ORDER BY pos), ''
                   ) AS clean_text
            FROM pc GROUP BY doc_id
        """,
        "kmv_join_estimate": """
            WITH ha AS (
              SELECT h FROM (
                SELECT DISTINCT ('0x' || substr(md5('kmv1|' || o_custkey::VARCHAR), 1, 15))::BIGINT AS h
                FROM orders WHERE o_custkey IS NOT NULL
              ) ORDER BY h LIMIT 256
            ),
            hb AS (
              SELECT h FROM (
                SELECT DISTINCT ('0x' || substr(md5('kmv1|' || c_custkey::VARCHAR), 1, 15))::BIGINT AS h
                FROM customer WHERE c_custkey IS NOT NULL
              ) ORDER BY h LIMIT 256
            ),
            mu AS (
              SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)
              ORDER BY h LIMIT 256
            ),
            ea AS (SELECT round(CASE WHEN count(*) < 256 THEN count(*)::DOUBLE
                        ELSE 255.0 / (max(h)::DOUBLE / 1152921504606846976.0) END, 2) AS est_a FROM ha),
            eb AS (SELECT round(CASE WHEN count(*) < 256 THEN count(*)::DOUBLE
                        ELSE 255.0 / (max(h)::DOUBLE / 1152921504606846976.0) END, 2) AS est_b FROM hb),
            eu AS (SELECT round(CASE WHEN count(*) < 256 THEN count(*)::DOUBLE
                        ELSE 255.0 / (max(h)::DOUBLE / 1152921504606846976.0) END, 2) AS est_union FROM mu),
            ex AS (
              SELECT (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT AS exact_a,
                     (SELECT count(DISTINCT c_custkey) FROM customer)::BIGINT AS exact_b,
                     (SELECT count(*) FROM (
                        SELECT DISTINCT o_custkey FROM orders
                        INTERSECT SELECT DISTINCT c_custkey FROM customer
                     ))::BIGINT AS exact_intersection
            )
            SELECT est_a, est_b, est_union,
                   round(greatest(est_a + est_b - est_union, 0.0), 2) AS est_intersection,
                   exact_intersection, exact_a, exact_b
            FROM ea, eb, eu, ex
        """,
        "events_bot_score": """
            WITH g AS (
              SELECT user_id,
                     epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
              FROM events
            ),
            a AS (
              SELECT user_id,
                     count(gap)::BIGINT AS n_gaps,
                     sum(gap::HUGEINT) AS s,
                     sum(gap::HUGEINT * gap::HUGEINT) AS s2
              FROM g WHERE gap IS NOT NULL GROUP BY user_id
            ),
            c AS (
              SELECT user_id, n_gaps, s, s2,
                     CASE WHEN s > 0 THEN
                       sqrt(greatest(n_gaps::DOUBLE * s2::DOUBLE - s::DOUBLE * s::DOUBLE, 0.0))
                         / s::DOUBLE
                     ELSE 0.0 END AS cv
              FROM a
            )
            SELECT user_id, n_gaps,
                   CAST(floor(s::DOUBLE / n_gaps) AS BIGINT) AS mean_gap_us,
                   round(cv, 6) AS gap_cv,
                   (n_gaps >= 20 AND cv < 0.5) AS bot_flag
            FROM c
        """,
        "doc_vocab_drift": f"""
            WITH old_t AS (
              SELECT unnest({_TOKS_RAW}) AS t FROM documents WHERE doc_id % 5 <> 0
            ),
            new_t AS (
              SELECT unnest({_TOKS_RAW}) AS t FROM documents WHERE doc_id % 5 = 0
            ),
            co AS (
              SELECT ('0x' || substr(md5('vdrift1|' || t), 1, 15))::BIGINT % 512 AS bucket,
                     count(*)::BIGINT AS n_old
              FROM old_t GROUP BY 1
            ),
            cn AS (
              SELECT ('0x' || substr(md5('vdrift1|' || t), 1, 15))::BIGINT % 512 AS bucket,
                     count(*)::BIGINT AS n_new
              FROM new_t GROUP BY 1
            ),
            cells AS (
              SELECT coalesce(co.bucket, cn.bucket) AS bucket,
                     coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
              FROM co FULL OUTER JOIN cn ON co.bucket = cn.bucket
            ),
            tot AS (SELECT sum(n_old)::DOUBLE t_o, sum(n_new)::DOUBLE t_n,
                           count(*)::DOUBLE nb FROM cells),
            p AS (
              SELECT bucket, n_old, n_new,
                     (n_old + 0.5) / (t_o + 0.5 * nb) AS po,
                     (n_new + 0.5) / (t_n + 0.5 * nb) AS pn
              FROM cells, tot
            )
            SELECT bucket, n_old, n_new,
                   round(po, 6) AS p_old, round(pn, 6) AS p_new,
                   round((po - pn) * ln(po / pn), 6) AS psi_term
            FROM p
        """,
        "events_ppr": """
            WITH base AS (
              SELECT DISTINCT 'u:' || user_id::VARCHAR AS src,
                     'k:' || json_extract_string(props, '$.k') AS dst
              FROM events WHERE event_type = 'click'
            ),
            edges AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
            nodes AS (SELECT DISTINCT src AS node FROM edges),
            sd AS (
              SELECT DISTINCT 'u:' || user_id::VARCHAR AS node
              FROM events WHERE event_type = 'click' AND user_id % 100 = 0
            ),
            sd2 AS (SELECT sd.node FROM sd JOIN nodes USING (node)),
            ns AS (SELECT count(*)::DOUBLE AS n FROM sd2),
            sflag AS (
              SELECT nodes.node,
                     CASE WHEN sd2.node IS NOT NULL THEN 1.0 ELSE 0.0 END AS sf
              FROM nodes LEFT JOIN sd2 USING (node)
            ),
            deg AS (SELECT src, count(*)::DOUBLE AS d FROM edges GROUP BY src),
            r0 AS (SELECT node, sf / (SELECT n FROM ns) AS rank FROM sflag),
            s1 AS (
              SELECT e.dst AS node, sum(r.rank / deg.d) AS recv
              FROM edges e JOIN r0 r ON r.node = e.src JOIN deg ON deg.src = e.src
              GROUP BY e.dst
            ),
            r1 AS (
              SELECT f.node,
                     (1.0 - 0.85) * f.sf / (SELECT n FROM ns)
                       + 0.85 * coalesce(s1.recv, 0) AS rank
              FROM sflag f LEFT JOIN s1 USING (node)
            ),
            s2 AS (
              SELECT e.dst AS node, sum(r.rank / deg.d) AS recv
              FROM edges e JOIN r1 r ON r.node = e.src JOIN deg ON deg.src = e.src
              GROUP BY e.dst
            ),
            r2 AS (
              SELECT f.node,
                     (1.0 - 0.85) * f.sf / (SELECT n FROM ns)
                       + 0.85 * coalesce(s2.recv, 0) AS rank
              FROM sflag f LEFT JOIN s2 USING (node)
            )
            SELECT r2.node, round(r2.rank, 6) AS rank,
                   (sd2.node IS NOT NULL) AS is_seed
            FROM r2 LEFT JOIN sd2 ON r2.node = sd2.node
        """,
        "supplier_pareto": """
            WITH rev AS (
              SELECT l_suppkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM lineitem GROUP BY l_suppkey
            ),
            tot AS (SELECT sum(revenue) AS t FROM rev),
            ranked AS (
              SELECT l_suppkey, revenue,
                     row_number() OVER (ORDER BY revenue DESC, l_suppkey ASC) AS rnk,
                     round(sum(revenue) OVER (ORDER BY revenue DESC, l_suppkey ASC
                                              ROWS UNBOUNDED PRECEDING)
                           / (SELECT t FROM tot), 6) AS cum_share
              FROM rev
            )
            SELECT l_suppkey, revenue, CAST(rnk AS BIGINT) AS rnk, cum_share,
                   CASE WHEN cum_share <= 0.80 THEN 'A'
                        WHEN cum_share <= 0.95 THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM ranked
        """,
        "ann_knn_classify": """
            WITH q AS (
              SELECT vec_id AS query_id, label AS true_label,
                     embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id % 20 = 0
            ),
            c AS (
              SELECT vec_id AS neighbor_id, label AS nl,
                     embedding::DOUBLE[] AS cv
              FROM embeddings WHERE vec_id % 20 <> 0
            ),
            scored AS (
              SELECT query_id, neighbor_id, nl,
                     round(list_dot_product(qv, cv)
                           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                           6) AS cosine
              FROM q CROSS JOIN c WHERE query_id <> neighbor_id
            ),
            nbrs AS (
              SELECT query_id, nl FROM (
                SELECT query_id, nl,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored
              ) WHERE rank <= 5
            ),
            votes AS (
              SELECT query_id, nl, count(*) AS votes
              FROM nbrs GROUP BY query_id, nl
            ),
            pred AS (
              SELECT query_id, nl AS pred_label, votes FROM (
                SELECT query_id, nl, votes,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY votes DESC, nl ASC) AS r
                FROM votes
              ) WHERE r = 1
            )
            SELECT p.query_id, p.pred_label, p.votes, q.true_label,
                   p.pred_label = q.true_label AS correct
            FROM pred p JOIN q USING (query_id)
        """,
        "pipeline_curate_mixture": f"""
            WITH {_QUALITY_CTES},
            kept AS (
              SELECT d.* FROM documents d
              JOIN r USING (doc_id) WHERE r.quality >= 0.5
            ),
            uniq_ids AS (
              SELECT min(doc_id) AS doc_id FROM kept
              GROUP BY md5({_NORM})
            ),
            uniq AS (SELECT k.* FROM kept k JOIN uniq_ids USING (doc_id)),
            capped AS (
              SELECT * FROM (
                SELECT u.*, row_number() OVER (
                  PARTITION BY source
                  ORDER BY md5('cap1|' || doc_id::VARCHAR) ASC, doc_id ASC
                ) AS rn FROM uniq u
              ) WHERE rn <= 20
            ),
            tb AS (
              SELECT doc_id,
                     ('0x' || substr(md5('dsir1|' || term), 1, 15))::BIGINT % 4096 AS b
              FROM (SELECT doc_id, unnest({_TOKS_NORM}) AS term FROM capped)
            ),
            rc AS (SELECT b, count(*)::DOUBLE AS c FROM tb GROUP BY b),
            tc AS (
              SELECT b, count(*)::DOUBLE AS c
              FROM tb JOIN capped USING (doc_id)
              WHERE lang = 'en' GROUP BY b
            ),
            rt AS (SELECT coalesce(sum(c), 0) AS t FROM rc),
            tt AS (SELECT coalesce(sum(c), 0) AS t FROM tc),
            lm AS (
              SELECT coalesce(rc.b, tc.b) AS b,
                     ln((coalesce(tc.c, 0) + 1) / (tt.t + 4096.0))
                       - ln((coalesce(rc.c, 0) + 1) / (rt.t + 4096.0)) AS lr
              FROM rc FULL OUTER JOIN tc ON rc.b = tc.b, rt, tt
            ),
            w AS (
              SELECT doc_id, count(*) AS n_tokens, round(sum(lr), 4) AS dsir_w
              FROM tb JOIN lm USING (b) GROUP BY doc_id
            )
            SELECT c.source, count(*) AS n_docs, sum(w.n_tokens)::BIGINT AS n_tokens,
                   round(avg(w.dsir_w), 4) AS mean_dsir
            FROM w JOIN capped c USING (doc_id)
            GROUP BY c.source
        """,
        "events_attribution": """
            WITH p AS (
              SELECT event_id AS p_id, user_id, ts, value
              FROM events WHERE event_type = 'purchase'
            ),
            c AS (
              SELECT event_id AS c_id, user_id, ts
              FROM events WHERE event_type = 'click'
            ),
            m AS (
              SELECT p.p_id, p.value, p.user_id, c.c_id
              FROM p JOIN c
                ON c.user_id = p.user_id
               AND c.ts >= p.ts - INTERVAL 1 HOUR
               AND c.ts < p.ts
            ),
            w AS (
              SELECT p_id, value, user_id, c_id,
                     count(*) OVER (PARTITION BY p_id) AS n
              FROM m
            )
            SELECT c_id AS event_id, user_id,
                   count(*) AS n_touches,
                   round(sum(value / n), 4) AS attr_value
            FROM w GROUP BY c_id, user_id
        """,
        "stream_kmv": """
            WITH h AS (
              SELECT DISTINCT event_type AS grp,
                     ('0x' || substr(md5('kmv1|' || user_id::VARCHAR), 1, 15))::BIGINT AS h
              FROM events WHERE user_id IS NOT NULL
            ),
            rk AS (
              SELECT grp, h,
                     row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
              FROM h
            )
            SELECT grp, count(*)::BIGINT AS sketch_k, max(h) AS kth_hash,
                   round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                         ELSE 63.0 / (max(h)::DOUBLE / 1152921504606846976.0)
                         END, 2) AS est_ndv
            FROM rk WHERE rn <= 64 GROUP BY grp
        """,
        "kmv_grouped": """
            WITH h AS (
              SELECT DISTINCT event_type AS grp,
                     ('0x' || substr(md5('kmv1|' || user_id::VARCHAR), 1, 15))::BIGINT AS h
              FROM events WHERE user_id IS NOT NULL
            ),
            rk AS (
              SELECT grp, h,
                     row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
              FROM h
            ),
            sk AS (
              SELECT grp, count(*)::BIGINT AS sketch_k, max(h) AS kth_hash
              FROM rk WHERE rn <= 64 GROUP BY grp
            ),
            ex AS (
              SELECT event_type AS grp,
                     count(DISTINCT user_id)::BIGINT AS exact_ndv
              FROM events GROUP BY 1
            )
            SELECT sk.grp, sketch_k, kth_hash,
                   round(CASE WHEN sketch_k < 64 THEN sketch_k::DOUBLE
                         ELSE 63.0 / (kth_hash::DOUBLE / 1152921504606846976.0)
                         END, 2) AS est_ndv,
                   exact_ndv
            FROM sk JOIN ex ON sk.grp = ex.grp
        """,
        "dedup_canonical_meta": f"""
            WITH RECURSIVE {_LSH_PAIRS_CTES},
            edges AS (
              SELECT id_a AS a, id_b AS b FROM lsh_pairs
              UNION
              SELECT id_b, id_a FROM lsh_pairs
            ),
            reach(node, other) AS (
              SELECT a, a FROM edges
              UNION
              SELECT a, b FROM edges
              UNION
              SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
            ),
            comp AS (SELECT node, min(other) AS component_id
                     FROM reach GROUP BY node),
            assigned AS (
              SELECT d.doc_id, d.lang, d.source, d.text,
                     coalesce(c.component_id, d.doc_id) AS rep
              FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
            )
            SELECT rep, min(doc_id) AS canonical_id,
                   count(*) AS n_docs,
                   string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
                   string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
                   sum(length(text))::BIGINT AS total_chars
            FROM assigned GROUP BY rep
        """,
        "dedup_containment": f"""
            WITH {_SHINGLES_CTE},
            sets AS (
              SELECT doc_id, list(shingle ORDER BY shingle) AS arr,
                     count(*) AS n_sh
              FROM shingles GROUP BY doc_id
            ),
            cool AS (
              SELECT shingle FROM shingles GROUP BY shingle
              HAVING count(*) <= 1000
            ),
            inv AS (
              SELECT s.doc_id AS other, s.shingle
              FROM shingles s JOIN cool USING (shingle)
            ),
            probes AS (
              SELECT doc_id AS contained_id, unnest(arr[1:8]) AS shingle
              FROM sets
            ),
            cands AS (
              SELECT DISTINCT contained_id, other AS container_id
              FROM probes JOIN inv USING (shingle)
              WHERE contained_id <> other
            )
            SELECT contained_id, container_id,
                   a.n_sh AS n_a, b.n_sh AS n_b,
                   round(len(list_intersect(a.arr, b.arr)) / a.n_sh, 6)
                     AS containment
            FROM cands
            JOIN sets a ON cands.contained_id = a.doc_id
            JOIN sets b ON cands.container_id = b.doc_id
            WHERE round(len(list_intersect(a.arr, b.arr)) / a.n_sh, 6) >= 0.5
        """,
        "doc_term_pmi": f"""
            WITH d AS (
              SELECT doc_id,
                     list_sort(list_distinct({_TOKS_RAW}))[1:50] AS ts
              FROM documents
            ),
            nd AS (SELECT count(*)::DOUBLE AS n FROM d),
            e AS (SELECT doc_id, unnest(ts) AS t FROM d),
            uni AS (SELECT t, count(*) AS n_t FROM e GROUP BY t),
            p AS (
              SELECT x.t AS term_a, y.t AS term_b, count(*) AS n_ab
              FROM e x JOIN e y ON x.doc_id = y.doc_id AND x.t < y.t
              GROUP BY 1, 2 HAVING count(*) >= 5
            )
            SELECT term_a, term_b, n_ab,
                   round(ln(n_ab * nd.n / (ua.n_t * ub.n_t)), 6) AS pmi
            FROM p
            JOIN uni ua ON p.term_a = ua.t
            JOIN uni ub ON p.term_b = ub.t, nd
            ORDER BY pmi DESC, term_a, term_b LIMIT 100
        """,
        "doc_bigram_nll": f"""
            WITH dk AS (SELECT doc_id, {_TOKS_RAW} AS tk FROM documents),
            pos AS (
              SELECT doc_id, tk[i] AS w FROM (
                SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM dk
              )
            ),
            bi AS (
              SELECT doc_id, tk[i - 1] AS w1, tk[i] AS w2 FROM (
                SELECT doc_id, tk, unnest(range(2, len(tk) + 1)) AS i FROM dk
              )
            ),
            counts AS (SELECT w1, w2, count(*) AS n12 FROM bi GROUP BY 1, 2),
            uni AS (SELECT w1, count(*) AS n1 FROM bi GROUP BY 1),
            v AS (SELECT count(DISTINCT w)::DOUBLE AS vv FROM pos),
            per AS (
              SELECT bi.doc_id, count(*) AS n_bigrams,
                     round(-avg(ln((n12 + 1.0) / (n1 + v.vv))), 4) AS bigram_nll
              FROM bi JOIN counts USING (w1, w2) JOIN uni USING (w1), v
              GROUP BY bi.doc_id
            )
            SELECT dd.doc_id,
                   coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
                   coalesce(bigram_nll, 0.0) AS bigram_nll
            FROM (SELECT doc_id FROM documents) dd LEFT JOIN per USING (doc_id)
        """,
        "events_cooccurrence": """
            WITH g AS (
              SELECT DISTINCT user_id, ts::DATE AS d, event_type FROM events
            ),
            gg AS (
              SELECT count(*)::DOUBLE AS n
              FROM (SELECT DISTINCT user_id, d FROM g)
            ),
            uni AS (SELECT event_type, count(*) AS n_t FROM g GROUP BY 1),
            p AS (
              SELECT x.event_type AS type_a, y.event_type AS type_b,
                     count(*) AS n_ab
              FROM g x JOIN g y
                ON x.user_id = y.user_id AND x.d = y.d
               AND x.event_type < y.event_type
              GROUP BY 1, 2
            )
            SELECT type_a, type_b, n_ab,
                   round(n_ab * gg.n / (ua.n_t * ub.n_t), 6) AS lift
            FROM p
            JOIN uni ua ON p.type_a = ua.event_type
            JOIN uni ub ON p.type_b = ub.event_type, gg
        """,
        "ann_hard_negatives": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS ql
              FROM embeddings WHERE vec_id % 50 = 0
            ),
            c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
                         label AS cl FROM embeddings),
            scored AS (
              SELECT query_id, neighbor_id,
                     CASE WHEN ql = cl THEN 'pos' ELSE 'neg' END AS role,
                     round(list_dot_product(qv, cv)
                           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                           6) AS cosine
              FROM q CROSS JOIN c WHERE query_id <> neighbor_id
            )
            SELECT query_id, role, rank, neighbor_id, cosine FROM (
              SELECT query_id, role, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id, role
                                        ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM scored
            ) WHERE (role = 'pos' AND rank <= 2) OR (role = 'neg' AND rank <= 3)
        """,
        "ann_cell_balance": """
            WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
            cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS centroid
                     FROM embeddings WHERE vec_id % 100 = 0),
            cells AS (
              SELECT vec_id, cell FROM (
                SELECT c.vec_id, cent.cid AS cell,
                       row_number() OVER (PARTITION BY c.vec_id ORDER BY
                         round(list_dot_product(cv, centroid)
                               / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(centroid, centroid))),
                               6) DESC, cent.cid ASC) AS rn
                FROM c CROSS JOIN cent
              ) WHERE rn = 1
            ),
            per_cell AS (SELECT cell, count(*)::BIGINT AS n_vectors
                         FROM cells GROUP BY cell),
            tot AS (SELECT sum(n_vectors)::DOUBLE AS t, count(*)::DOUBLE AS k
                    FROM per_cell)
            SELECT cell, n_vectors,
                   round(n_vectors / tot.t, 6) AS share,
                   round(n_vectors / (tot.t / tot.k), 6) AS x_mean
            FROM per_cell, tot
        """,
        "embedding_class_sep": """
            WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                       FROM embeddings),
            dims AS (
              SELECT label, i,
                     CAST(sum(CAST(round(v[i], 6) AS DECIMAL(27,6))) AS DOUBLE)
                       / count(*) AS a
              FROM v, range(1, 65) t(i) GROUP BY label, i
            ),
            cent AS (SELECT label, list(a ORDER BY i) AS c FROM dims GROUP BY label),
            cnt AS (SELECT label, count(*)::BIGINT AS n FROM v GROUP BY label),
            coh AS (
              SELECT label,
                     round(CAST(sum(CAST(cs AS DECIMAL(27,6))) AS DOUBLE)
                           / count(*), 6) AS cohesion FROM (
                SELECT v.label,
                       round(list_dot_product(v.v, cent.c)
                             / (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(cent.c, cent.c))),
                             6) AS cs
                FROM v JOIN cent USING (label)
              ) GROUP BY label
            ),
            conf AS (
              SELECT a.label, b.label AS other,
                     round(list_dot_product(a.c, b.c)
                           / (sqrt(list_dot_product(a.c, a.c)) * sqrt(list_dot_product(b.c, b.c))),
                           6) AS cc
              FROM cent a CROSS JOIN cent b WHERE a.label <> b.label
            ),
            nearest AS (
              SELECT label, cc AS nearest_other FROM (
                SELECT label, cc,
                       row_number() OVER (PARTITION BY label
                                          ORDER BY cc DESC, other ASC) AS rn
                FROM conf
              ) WHERE rn = 1
            )
            SELECT cnt.label, n, cohesion, nearest_other,
                   round(cohesion - nearest_other, 6) AS margin
            FROM cnt JOIN coh USING (label) JOIN nearest USING (label)
        """,
        "doc_length_budget": f"""
            WITH d AS (SELECT len({_TOKS_RAW}) AS nt FROM documents)
            SELECT (least(nt // 16, 16) * 16)::BIGINT AS bin_lo,
                   count(*) AS n_docs,
                   sum(nt)::BIGINT AS n_tokens,
                   sum(CASE WHEN nt = 0 THEN 64
                            ELSE ((nt + 63) // 64) * 64 - nt END)::BIGINT AS pad_waste,
                   sum(greatest(nt - 64, 0))::BIGINT AS trunc_loss
            FROM d GROUP BY 1
        """,
        "doc_vocab_coverage": f"""
            WITH t AS (SELECT unnest({_TOKS_RAW}) AS term FROM documents),
            counts AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
            tot AS (SELECT sum(cnt)::BIGINT AS total_tokens FROM counts),
            cov AS (
              SELECT 5 AS vocab_size, coalesce((
                SELECT sum(cnt) FROM (SELECT cnt FROM counts
                  ORDER BY cnt DESC, term ASC LIMIT 5)), 0)::BIGINT AS covered_tokens
              UNION ALL
              SELECT 10, coalesce((
                SELECT sum(cnt) FROM (SELECT cnt FROM counts
                  ORDER BY cnt DESC, term ASC LIMIT 10)), 0)::BIGINT
              UNION ALL
              SELECT 20, coalesce((
                SELECT sum(cnt) FROM (SELECT cnt FROM counts
                  ORDER BY cnt DESC, term ASC LIMIT 20)), 0)::BIGINT
            )
            SELECT vocab_size, covered_tokens, total_tokens,
                   round(covered_tokens / total_tokens, 6) AS coverage
            FROM cov, tot
        """,
        "embedding_drift": _embedding_drift_sql(),
        "events_kanon": """
            WITH cells AS (
              SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                     count(*)::BIGINT AS n_rows,
                     count(DISTINCT user_id)::BIGINT AS n_subjects
              FROM events GROUP BY 1, 2
            ),
            ok AS (
              SELECT event_type, day, n_rows, n_subjects, false AS suppressed
              FROM cells WHERE n_subjects >= 50
            ),
            residual AS (
              SELECT '__other__' AS event_type, '__other__' AS day,
                     CAST(sum(n_rows) AS BIGINT) AS n_rows,
                     CAST(sum(n_subjects) AS BIGINT) AS n_subjects,
                     true AS suppressed
              FROM cells WHERE n_subjects < 50
              HAVING sum(n_rows) IS NOT NULL
            )
            SELECT * FROM ok UNION ALL SELECT * FROM residual
        """,
        "doc_temperature_mix": f"""
            WITH c AS (
              SELECT source, sum(len({_TOKS_RAW}))::DOUBLE AS nt
              FROM documents GROUP BY source
            ),
            tot AS (SELECT sum(nt) AS t FROM c),
            shared AS (SELECT source, nt, nt / tot.t AS p FROM c, tot),
            z AS (SELECT sum(pow(p, 0.7)) AS z FROM shared)
            SELECT source,
                   nt::BIGINT AS n_tokens,
                   round(p, 6) AS p_share,
                   round(pow(p, 0.7) / z.z, 6) AS q_share,
                   round((pow(p, 0.7) / z.z) / p, 6) AS boost
            FROM shared, z
        """,
        "doc_training_order": f"""
            WITH c AS (
              SELECT source, sum(len({_TOKS_RAW}))::DOUBLE AS nt
              FROM documents GROUP BY source
            ),
            ns AS (SELECT count(*)::DOUBLE AS n FROM c),
            plan AS (
              SELECT source,
                     CASE WHEN nt > 0
                          THEN round(least(4.0, (40000.0 / ns.n) / nt), 4)
                          ELSE 0.0 END AS epochs
              FROM c, ns
            ),
            expanded AS (
              SELECT d.doc_id,
                     unnest(range(1, CAST(floor(p.epochs) AS BIGINT)
                       + CASE WHEN
                           ('0x' || substr(md5('order1|frac|' || d.doc_id::VARCHAR), 1, 15))::BIGINT
                             % 1000000
                           < CAST(round((p.epochs - floor(p.epochs)) * 1000000) AS BIGINT)
                         THEN 1 ELSE 0 END + 1)) AS rep
              FROM documents d JOIN plan p USING (source)
            ),
            keyed AS (
              SELECT doc_id, CAST(rep AS BIGINT) AS rep,
                     ('0x' || substr(md5('order1|' || doc_id::VARCHAR || ':' || rep::VARCHAR), 1, 15))::BIGINT AS k
              FROM expanded
            )
            SELECT doc_id, rep,
                   CAST(k % 8 AS INT) AS shard,
                   CAST(row_number() OVER (PARTITION BY k % 8
                                           ORDER BY k ASC, doc_id ASC, rep ASC) AS BIGINT) AS pos
            FROM keyed
        """,
        "doc_mixture_epochs": f"""
            WITH c AS (
              SELECT source, count(*) AS n_docs,
                     sum(len({_TOKS_RAW}))::DOUBLE AS nt
              FROM documents GROUP BY source
            ),
            ns AS (SELECT count(*)::DOUBLE AS n FROM c)
            SELECT source, n_docs, nt::BIGINT AS n_tokens,
                   round(200000.0 / ns.n, 4) AS target_tokens,
                   CASE WHEN nt > 0
                        THEN round(least(4.0, (200000.0 / ns.n) / nt), 4)
                        ELSE 0.0 END AS epochs,
                   round(CASE WHEN nt > 0
                              THEN round(least(4.0, (200000.0 / ns.n) / nt), 4)
                              ELSE 0.0 END * nt, 4)
                     AS effective_tokens
            FROM c, ns
        """,
        "hll_distinct": _hll_sql(
            """
              SELECT DISTINCT ('0x' || substr(md5('hll1|' || o_custkey::VARCHAR), 1, 15))::BIGINT AS h
              FROM orders WHERE o_custkey IS NOT NULL
            """,
            "SELECT count(DISTINCT o_custkey) FROM orders",
        ),
        # register-merge(A, B) == registers(hashes(A) UNION hashes(B)) —
        # max of maxima — and the parity halves partition lineitem, so the
        # oracle may hash the whole table in one CTE
        "hll_union": _hll_sql(
            """
              SELECT DISTINCT ('0x' || substr(md5('hll1|' || l_partkey::VARCHAR), 1, 15))::BIGINT AS h
              FROM lineitem WHERE l_partkey IS NOT NULL
            """,
            "SELECT count(DISTINCT l_partkey) FROM lineitem",
        ),
        "events_seasonality": """
            WITH daily AS (
              SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS n
              FROM events GROUP BY 1, 2
            ),
            dowd AS (
              SELECT event_type,
                     ((date_diff('day', DATE '1970-01-05', d) % 7) + 7) % 7 AS dow,
                     n
              FROM daily
            ),
            per AS (
              SELECT event_type, dow,
                     sum(n)::BIGINT AS n_events, count(*)::BIGINT AS n_days
              FROM dowd GROUP BY 1, 2
            ),
            o AS (
              SELECT event_type, sum(n)::BIGINT AS tn, count(*)::BIGINT AS td
              FROM dowd GROUP BY 1
            )
            SELECT p.event_type, p.dow::INT AS dow, p.n_days, p.n_events,
                   round(p.n_events::DOUBLE / p.n_days, 6) AS avg_daily,
                   round((p.n_events::DOUBLE / p.n_days) / (o.tn::DOUBLE / o.td), 6)
                     AS seasonal_index
            FROM per p JOIN o USING (event_type)
        """,
        "events_ldiversity": """
            SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                   count(*)::BIGINT AS n_rows,
                   count(DISTINCT user_id)::BIGINT AS n_subjects,
                   count(DISTINCT json_extract_string(props, '$.k'))::BIGINT AS l_div,
                   count(DISTINCT json_extract_string(props, '$.k')) >= 3 AS ok
            FROM events GROUP BY 1, 2
        """,
        "doc_vocab_growth": f"""
            WITH mx AS (SELECT max(doc_id) AS m FROM documents),
            tk AS (
              SELECT DISTINCT doc_id, unnest({_TOKS_RAW}) AS t FROM documents
            ),
            first AS (SELECT t, min(doc_id) AS f FROM tk GROUP BY t),
            pd AS (SELECT doc_id, len({_TOKS_RAW}) AS n FROM documents),
            cps AS (
              SELECT i, (m * i) // 10 AS cutoff
              FROM mx, unnest([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) AS u(i)
            )
            SELECT i::INT AS checkpoint, cutoff::BIGINT AS cutoff_id,
                   (SELECT coalesce(sum(n), 0) FROM pd
                    WHERE doc_id <= cutoff)::BIGINT AS cum_tokens,
                   (SELECT count(*) FROM first
                    WHERE f <= cutoff)::BIGINT AS cum_vocab
            FROM cps
        """,
        "source_ablation": f"""
            WITH {_QUALITY_CTES},
            q AS (
              SELECT r.doc_id, r.n_tokens, r.quality, d.source
              FROM r JOIN documents d USING (doc_id)
            ),
            per AS (
              SELECT source, count(*)::BIGINT AS n_docs,
                     sum(n_tokens)::BIGINT AS n_tokens,
                     sum(CASE WHEN quality >= 0.75 THEN 1 ELSE 0 END)::BIGINT AS n_keep
              FROM q GROUP BY 1
            ),
            tot AS (
              SELECT sum(n_docs)::BIGINT AS td, sum(n_tokens)::BIGINT AS tt,
                     sum(n_keep)::BIGINT AS tk
              FROM per
            )
            SELECT source, n_docs, n_tokens,
                   round(n_tokens::DOUBLE / tt::DOUBLE, 6) AS token_share,
                   round(tk::DOUBLE / td::DOUBLE, 6) AS keep_rate_full,
                   round(CASE WHEN td > n_docs
                         THEN (tk - n_keep)::DOUBLE / (td - n_docs)::DOUBLE END, 6)
                     AS keep_rate_excl,
                   round(CASE WHEN td > n_docs
                         THEN tk::DOUBLE / td::DOUBLE
                              - (tk - n_keep)::DOUBLE / (td - n_docs)::DOUBLE END, 6)
                     AS keep_delta
            FROM per, tot
        """,
        "events_retention_curve": """
            WITH active AS (
              SELECT DISTINCT user_id AS u, ts::DATE AS d FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ),
            cohort AS (SELECT u, min(d) AS cohort_day FROM active GROUP BY 1),
            aged AS (
              SELECT c.cohort_day,
                     date_diff('day', c.cohort_day, a.d)::INT AS age
              FROM active a JOIN cohort c USING (u)
              WHERE date_diff('day', c.cohort_day, a.d) <= 30
            ),
            counts AS (
              SELECT cohort_day, age, count(*)::BIGINT AS n_active
              FROM aged GROUP BY 1, 2
            )
            SELECT cohort_day, age, n_active,
                   (max(CASE WHEN age = 0 THEN n_active END)
                      OVER (PARTITION BY cohort_day))::BIGINT AS cohort_size,
                   round(n_active::DOUBLE
                         / max(CASE WHEN age = 0 THEN n_active END)
                             OVER (PARTITION BY cohort_day), 6) AS retention
            FROM counts
        """,
        "events_funnel_steps": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t FROM events
              WHERE event_type = 'signup' GROUP BY 1
            ),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t FROM events e
              JOIN s1 ON s1.user_id = e.user_id AND e.ts >= s1.t
              WHERE e.event_type = 'view' GROUP BY 1
            ),
            s3 AS (
              SELECT e.user_id, min(e.ts) AS t FROM events e
              JOIN s2 ON s2.user_id = e.user_id AND e.ts >= s2.t
              WHERE e.event_type = 'click' GROUP BY 1
            ),
            s4 AS (
              SELECT e.user_id, min(e.ts) AS t FROM events e
              JOIN s3 ON s3.user_id = e.user_id AND e.ts >= s3.t
              WHERE e.event_type = 'purchase' GROUP BY 1
            ),
            counts AS (
              SELECT 1::INT AS step_idx, 'signup' AS step,
                     (SELECT count(*) FROM s1)::BIGINT AS n_users
              UNION ALL SELECT 2::INT, 'view', (SELECT count(*) FROM s2)::BIGINT
              UNION ALL SELECT 3::INT, 'click', (SELECT count(*) FROM s3)::BIGINT
              UNION ALL SELECT 4::INT, 'purchase', (SELECT count(*) FROM s4)::BIGINT
            )
            SELECT step_idx, step, n_users,
                   CASE WHEN lag(n_users) OVER (ORDER BY step_idx) > 0
                        THEN round(n_users::DOUBLE
                                   / lag(n_users) OVER (ORDER BY step_idx), 6)
                   END AS conv_from_prev,
                   CASE WHEN first_value(n_users) OVER (ORDER BY step_idx) > 0
                        THEN round(n_users::DOUBLE
                                   / first_value(n_users) OVER (ORDER BY step_idx), 6)
                   END AS conv_from_first
            FROM counts
        """,
        "profile_psi": """
            WITH v AS (
              SELECT n_chars::DOUBLE AS x FROM documents WHERE n_chars IS NOT NULL
            ),
            r AS (
              SELECT x, row_number() OVER (ORDER BY x) AS rn,
                     count(*) OVER () AS n
              FROM v
            ),
            edges AS (
              SELECT DISTINCT r.x AS e
              FROM (VALUES (0.1), (0.2), (0.3), (0.4), (0.5),
                           (0.6), (0.7), (0.8), (0.9)) t(q)
              JOIN r ON r.rn = greatest(ceil(q * r.n), 1)
            ),
            nv AS (
              SELECT n_chars::DOUBLE AS x FROM documents
              WHERE doc_id % 10 <> 0 AND n_chars <= 400 AND n_chars IS NOT NULL
            ),
            ob AS (SELECT (1 + (SELECT count(*) FROM edges WHERE x > e))::BIGINT
                     AS bucket FROM v),
            nb AS (SELECT (1 + (SELECT count(*) FROM edges WHERE x > e))::BIGINT
                     AS bucket FROM nv),
            bks AS (
              SELECT unnest(range(1, (SELECT count(*) FROM edges)::BIGINT + 2))
                     ::BIGINT AS bucket
            ),
            co AS (SELECT bucket, count(*)::BIGINT AS n_old FROM ob GROUP BY 1),
            cn AS (SELECT bucket, count(*)::BIGINT AS n_new FROM nb GROUP BY 1),
            cells AS (
              SELECT b.bucket,
                     coalesce(co.n_old, 0)::BIGINT AS n_old,
                     coalesce(cn.n_new, 0)::BIGINT AS n_new
              FROM bks b LEFT JOIN co USING (bucket) LEFT JOIN cn USING (bucket)
            ),
            tot AS (
              SELECT sum(n_old)::DOUBLE AS t_o, sum(n_new)::DOUBLE AS t_n,
                     count(*)::DOUBLE AS nbk
              FROM cells
            ),
            p AS (
              SELECT bucket, n_old, n_new,
                     (n_old + 0.5) / (t_o + 0.5 * nbk) AS po,
                     (n_new + 0.5) / (t_n + 0.5 * nbk) AS pn
              FROM cells, tot
            )
            SELECT bucket, n_old, n_new,
                   round(po, 6) AS p_old, round(pn, 6) AS p_new,
                   round((po - pn) * ln(po / pn), 6) AS psi_term
            FROM p
        """,
        "ann_semantic_decon": """
            WITH v_all AS (
              SELECT vec_id, embedding::DOUBLE[] AS v,
                     array_to_string(list_transform(embedding[1:8]::DOUBLE[],
                       x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS blk
              FROM embeddings
            ),
            corpus_all AS (SELECT * FROM v_all WHERE vec_id % 10 <> 0),
            -- max_bucket=5000 corpus-side cap (cross_neardup_pairs twin)
            corpus AS (
              SELECT * FROM corpus_all
              QUALIFY count(*) OVER (PARTITION BY blk) <= 5000
            ),
            bench AS (SELECT * FROM v_all WHERE vec_id % 10 = 0),
            pairs AS (
              SELECT c.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_dot_product(c.v, b.v)
                           / (sqrt(list_dot_product(c.v, c.v))
                              * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
              FROM corpus c JOIN bench b ON c.blk = b.blk
            )
            SELECT id_a AS vec_id, count(*)::BIGINT AS n_bench_hits,
                   max(cosine) AS max_cosine
            FROM pairs WHERE cosine >= 0.3
            GROUP BY 1
        """,
        "events_attribution_lasttouch": """
            WITH purchases AS (
              SELECT user_id, ts, round(value * 100)::BIGINT AS cents
              FROM events WHERE event_type = 'purchase'
            ),
            touches AS (
              SELECT user_id, ts, event_type AS channel, event_id
              FROM events WHERE event_type <> 'purchase'
            ),
            -- deterministic "last" at equal (user, ts): keep the max
            -- event_id row first so ASOF matches asof_join's tiebreak
            t1 AS (
              SELECT user_id, ts, channel FROM (
                SELECT user_id, ts, channel,
                       row_number() OVER (PARTITION BY user_id, ts
                                          ORDER BY event_id DESC) AS rn
                FROM touches
              ) WHERE rn = 1
            ),
            j AS (
              SELECT p.cents, t.channel
              FROM purchases p
              ASOF LEFT JOIN t1 t
                ON p.user_id = t.user_id AND t.ts <= p.ts
            )
            SELECT coalesce(channel, '(none)') AS channel,
                   count(*)::BIGINT AS n_purchases,
                   round(sum(cents) / 100.0, 2) AS revenue
            FROM j GROUP BY 1
        """,
        "stream_transitions": """
            WITH seq AS (
              SELECT event_type AS src_type,
                     lead(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS dst_type
              FROM events
            )
            SELECT src_type, dst_type, count(*)::BIGINT AS n_pairs
            FROM seq WHERE dst_type IS NOT NULL GROUP BY 1, 2
        """,
        "embedding_debias": f"""
            WITH emb0 AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
            mu AS (SELECT [CAST(sum(CAST(round(x[1], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[2], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[3], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[4], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[5], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[6], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[7], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[8], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[9], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[10], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[11], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[12], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[13], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[14], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[15], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[16], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[17], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[18], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[19], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[20], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[21], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[22], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[23], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[24], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[25], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[26], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[27], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[28], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[29], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[30], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[31], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[32], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[33], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[34], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[35], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[36], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[37], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[38], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[39], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[40], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[41], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[42], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[43], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[44], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[45], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[46], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[47], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[48], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[49], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[50], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[51], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[52], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[53], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[54], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[55], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[56], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[57], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[58], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[59], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[60], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[61], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[62], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[63], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*), CAST(sum(CAST(round(x[64], 6) AS DECIMAL(27,6))) AS DOUBLE) / count(*)] AS m FROM emb0),
            cent AS (SELECT vec_id, [x[1] - m[1], x[2] - m[2], x[3] - m[3], x[4] - m[4], x[5] - m[5], x[6] - m[6], x[7] - m[7], x[8] - m[8], x[9] - m[9], x[10] - m[10], x[11] - m[11], x[12] - m[12], x[13] - m[13], x[14] - m[14], x[15] - m[15], x[16] - m[16], x[17] - m[17], x[18] - m[18], x[19] - m[19], x[20] - m[20], x[21] - m[21], x[22] - m[22], x[23] - m[23], x[24] - m[24], x[25] - m[25], x[26] - m[26], x[27] - m[27], x[28] - m[28], x[29] - m[29], x[30] - m[30], x[31] - m[31], x[32] - m[32], x[33] - m[33], x[34] - m[34], x[35] - m[35], x[36] - m[36], x[37] - m[37], x[38] - m[38], x[39] - m[39], x[40] - m[40], x[41] - m[41], x[42] - m[42], x[43] - m[43], x[44] - m[44], x[45] - m[45], x[46] - m[46], x[47] - m[47], x[48] - m[48], x[49] - m[49], x[50] - m[50], x[51] - m[51], x[52] - m[52], x[53] - m[53], x[54] - m[54], x[55] - m[55], x[56] - m[56], x[57] - m[57], x[58] - m[58], x[59] - m[59], x[60] - m[60], x[61] - m[61], x[62] - m[62], x[63] - m[63], x[64] - m[64]] AS x FROM emb0, mu),
            {_power_pc_ctes("SELECT x FROM cent", 64, 2)},
            pcr AS (SELECT list_transform(v, e -> round(e, 6)) AS v FROM v2),
            j AS (
              SELECT c.vec_id, c.x AS c, p.v,
                     round(list_dot_product(c.x, p.v), 6) AS proj
              FROM cent c, pcr p
            ),
            k AS (SELECT vec_id, proj, c, [c[1] - proj * v[1], c[2] - proj * v[2], c[3] - proj * v[3], c[4] - proj * v[4], c[5] - proj * v[5], c[6] - proj * v[6], c[7] - proj * v[7], c[8] - proj * v[8], c[9] - proj * v[9], c[10] - proj * v[10], c[11] - proj * v[11], c[12] - proj * v[12], c[13] - proj * v[13], c[14] - proj * v[14], c[15] - proj * v[15], c[16] - proj * v[16], c[17] - proj * v[17], c[18] - proj * v[18], c[19] - proj * v[19], c[20] - proj * v[20], c[21] - proj * v[21], c[22] - proj * v[22], c[23] - proj * v[23], c[24] - proj * v[24], c[25] - proj * v[25], c[26] - proj * v[26], c[27] - proj * v[27], c[28] - proj * v[28], c[29] - proj * v[29], c[30] - proj * v[30], c[31] - proj * v[31], c[32] - proj * v[32], c[33] - proj * v[33], c[34] - proj * v[34], c[35] - proj * v[35], c[36] - proj * v[36], c[37] - proj * v[37], c[38] - proj * v[38], c[39] - proj * v[39], c[40] - proj * v[40], c[41] - proj * v[41], c[42] - proj * v[42], c[43] - proj * v[43], c[44] - proj * v[44], c[45] - proj * v[45], c[46] - proj * v[46], c[47] - proj * v[47], c[48] - proj * v[48], c[49] - proj * v[49], c[50] - proj * v[50], c[51] - proj * v[51], c[52] - proj * v[52], c[53] - proj * v[53], c[54] - proj * v[54], c[55] - proj * v[55], c[56] - proj * v[56], c[57] - proj * v[57], c[58] - proj * v[58], c[59] - proj * v[59], c[60] - proj * v[60], c[61] - proj * v[61], c[62] - proj * v[62], c[63] - proj * v[63], c[64] - proj * v[64]] AS r FROM j)
            SELECT vec_id, proj,
                   round(sqrt(list_dot_product(c, c)), 6) AS norm_before,
                   round(sqrt(list_dot_product(r, r)), 6) AS norm_after
            FROM k
        """,
        "profile_psi_by_lang": """
            WITH v AS (
              SELECT n_chars::DOUBLE AS x, lang FROM documents
              WHERE n_chars IS NOT NULL
            ),
            r AS (
              SELECT x, row_number() OVER (ORDER BY x) AS rn,
                     count(*) OVER () AS n
              FROM v
            ),
            edges AS (
              SELECT DISTINCT r.x AS e
              FROM (VALUES (0.1), (0.2), (0.3), (0.4), (0.5),
                           (0.6), (0.7), (0.8), (0.9)) t(q)
              JOIN r ON r.rn = greatest(ceil(q * r.n), 1)
            ),
            nv AS (
              SELECT n_chars::DOUBLE AS x, lang FROM documents
              WHERE doc_id % 10 <> 0 AND n_chars <= 400 AND n_chars IS NOT NULL
            ),
            ob AS (SELECT lang AS stratum,
                          (1 + (SELECT count(*) FROM edges WHERE x > e))::BIGINT
                            AS bucket
                   FROM v WHERE lang IS NOT NULL),
            nb AS (SELECT lang AS stratum,
                          (1 + (SELECT count(*) FROM edges WHERE x > e))::BIGINT
                            AS bucket
                   FROM nv WHERE lang IS NOT NULL),
            bks AS (
              SELECT unnest(range(1, (SELECT count(*) FROM edges)::BIGINT + 2))
                     ::BIGINT AS bucket
            ),
            co AS (SELECT stratum, bucket, count(*)::BIGINT AS n_old
                   FROM ob GROUP BY 1, 2),
            cn AS (SELECT stratum, bucket, count(*)::BIGINT AS n_new
                   FROM nb GROUP BY 1, 2),
            strata AS (SELECT stratum FROM co UNION SELECT stratum FROM cn),
            grid AS (SELECT s.stratum, b.bucket FROM strata s, bks b),
            cells AS (
              SELECT g.stratum, g.bucket,
                     coalesce(co.n_old, 0)::BIGINT AS n_old,
                     coalesce(cn.n_new, 0)::BIGINT AS n_new
              FROM grid g
              LEFT JOIN co ON co.stratum = g.stratum AND co.bucket = g.bucket
              LEFT JOIN cn ON cn.stratum = g.stratum AND cn.bucket = g.bucket
            ),
            p AS (
              SELECT stratum, bucket, n_old, n_new,
                     (n_old + 0.5) / (sum(n_old) OVER (PARTITION BY stratum)::DOUBLE
                                      + 0.5 * count(*) OVER (PARTITION BY stratum))
                       AS po,
                     (n_new + 0.5) / (sum(n_new) OVER (PARTITION BY stratum)::DOUBLE
                                      + 0.5 * count(*) OVER (PARTITION BY stratum))
                       AS pn
              FROM cells
            )
            SELECT stratum, bucket, n_old, n_new,
                   round(po, 6) AS p_old, round(pn, 6) AS p_new,
                   round((po - pn) * ln(po / pn), 6) AS psi_term
            FROM p
        """,
        "stream_funnel": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t FROM events
              WHERE event_type = 'signup' GROUP BY 1
            ),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t FROM events e
              JOIN s1 ON s1.user_id = e.user_id AND e.ts >= s1.t
              WHERE e.event_type = 'view' GROUP BY 1
            ),
            s3 AS (
              SELECT e.user_id, min(e.ts) AS t FROM events e
              JOIN s2 ON s2.user_id = e.user_id AND e.ts >= s2.t
              WHERE e.event_type = 'click' GROUP BY 1
            ),
            s4 AS (
              SELECT e.user_id, min(e.ts) AS t FROM events e
              JOIN s3 ON s3.user_id = e.user_id AND e.ts >= s3.t
              WHERE e.event_type = 'purchase' GROUP BY 1
            )
            SELECT 1::INT AS step_idx, (SELECT count(*) FROM s1)::BIGINT AS n_advanced
            UNION ALL SELECT 2::INT, (SELECT count(*) FROM s2)::BIGINT
            UNION ALL SELECT 3::INT, (SELECT count(*) FROM s3)::BIGINT
            UNION ALL SELECT 4::INT, (SELECT count(*) FROM s4)::BIGINT
        """,
        "events_session_paths": """
            WITH seq AS (
              SELECT user_id, ts, event_id, event_type,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR date_diff('microsecond', lag(ts) OVER w, ts)
                             > 1800000000
                          THEN 1 ELSE 0 END AS ns
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sess AS (
              SELECT *, sum(ns) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM seq
            ),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY user_id, sid
                                           ORDER BY ts, event_id) AS rn
              FROM sess
            ),
            paths AS (
              SELECT user_id, sid,
                     string_agg(event_type, '>' ORDER BY ts, event_id) AS path
              FROM ranked WHERE rn <= 5 GROUP BY 1, 2
            )
            SELECT path, count(*)::BIGINT AS n_sessions
            FROM paths GROUP BY 1
            ORDER BY n_sessions DESC, path ASC
            LIMIT 20
        """,
        "doc_contamination_by_source": f"""
            WITH {_CONTAM_SPANS_CTES},
            per_doc AS (
              SELECT doc_id,
                     sum(span_end - span_start + 1)::BIGINT AS dup_chars
              FROM spansq GROUP BY doc_id
            ),
            j AS (
              SELECT d.source, d.n_chars, p.dup_chars
              FROM documents d LEFT JOIN per_doc p USING (doc_id)
              WHERE d.doc_id % 10 <> 0
            )
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(CASE WHEN dup_chars IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                     AS n_contaminated,
                   round(sum(CASE WHEN dup_chars IS NOT NULL THEN 1 ELSE 0 END)
                         ::DOUBLE / count(*), 6) AS contaminated_rate,
                   coalesce(sum(dup_chars), 0)::BIGINT AS dup_chars,
                   round(coalesce(sum(dup_chars), 0)::DOUBLE / sum(n_chars), 6)
                     AS dup_char_share
            FROM j GROUP BY 1
        """,
        "events_funnel_windowed": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t FROM events
              WHERE event_type = 'signup' GROUP BY 1
            ),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t FROM events e
              JOIN s1 ON s1.user_id = e.user_id AND e.ts >= s1.t
                     AND e.ts <= s1.t + INTERVAL 45 MINUTE
              WHERE e.event_type = 'view' GROUP BY 1
            ),
            s3 AS (
              SELECT e.user_id, min(e.ts) AS t FROM events e
              JOIN s2 ON s2.user_id = e.user_id AND e.ts >= s2.t
                     AND e.ts <= s2.t + INTERVAL 45 MINUTE
              WHERE e.event_type = 'click' GROUP BY 1
            ),
            s4 AS (
              SELECT e.user_id, min(e.ts) AS t FROM events e
              JOIN s3 ON s3.user_id = e.user_id AND e.ts >= s3.t
                     AND e.ts <= s3.t + INTERVAL 45 MINUTE
              WHERE e.event_type = 'purchase' GROUP BY 1
            ),
            counts AS (
              SELECT 1::INT AS step_idx, 'signup' AS step,
                     (SELECT count(*) FROM s1)::BIGINT AS n_users
              UNION ALL SELECT 2::INT, 'view', (SELECT count(*) FROM s2)::BIGINT
              UNION ALL SELECT 3::INT, 'click', (SELECT count(*) FROM s3)::BIGINT
              UNION ALL SELECT 4::INT, 'purchase', (SELECT count(*) FROM s4)::BIGINT
            )
            SELECT step_idx, step, n_users,
                   CASE WHEN lag(n_users) OVER (ORDER BY step_idx) > 0
                        THEN round(n_users::DOUBLE
                                   / lag(n_users) OVER (ORDER BY step_idx), 6)
                   END AS conv_from_prev,
                   CASE WHEN first_value(n_users) OVER (ORDER BY step_idx) > 0
                        THEN round(n_users::DOUBLE
                                   / first_value(n_users) OVER (ORDER BY step_idx), 6)
                   END AS conv_from_first
            FROM counts
        """,
        "hll_grouped_ndv": _hll_grouped_sql(
            """
              SELECT DISTINCT event_type AS grp,
                     ('0x' || substr(md5('hll1|' || user_id::VARCHAR), 1, 15))::BIGINT AS h
              FROM events WHERE user_id IS NOT NULL
            """,
            """
              SELECT event_type AS grp,
                     count(DISTINCT user_id)::BIGINT AS exact_ndv
              FROM events GROUP BY 1
            """,
        ),
        # new r9: Matryoshka truncation recall — brute top-5 on prefix
        # slices vs the full-dim brute, same 6dp/tiebreak conventions as
        # ann_recall
        "embedding_mrl_recall": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id % 50 = 0
            ),
            c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
            brute AS (
              SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY
                         round(list_dot_product(qv, cv)
                               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                               6) DESC, neighbor_id ASC) AS rank
                FROM q CROSS JOIN c WHERE query_id <> neighbor_id
              ) WHERE rank <= 5
            ),
            dims AS (SELECT unnest([8, 16, 32]) AS d),
            trunc AS (
              SELECT d, query_id, neighbor_id FROM (
                SELECT dims.d AS d, query_id, neighbor_id,
                       row_number() OVER (PARTITION BY dims.d, query_id ORDER BY
                         round(list_dot_product(list_slice(qv, 1, dims.d), list_slice(cv, 1, dims.d))
                               / (sqrt(list_dot_product(list_slice(qv, 1, dims.d), list_slice(qv, 1, dims.d)))
                                  * sqrt(list_dot_product(list_slice(cv, 1, dims.d), list_slice(cv, 1, dims.d)))),
                               6) DESC, neighbor_id ASC) AS rank
                FROM dims CROSS JOIN q CROSS JOIN c WHERE query_id <> neighbor_id
              ) WHERE rank <= 5
            ),
            hits AS (
              SELECT d, count(*)::BIGINT AS n_hits
              FROM trunc t JOIN brute b USING (query_id, neighbor_id)
              GROUP BY d
            )
            SELECT dims.d::INT AS dim,
                   (SELECT count(*) FROM brute)::BIGINT AS n_exact_pairs,
                   coalesce(h.n_hits, 0)::BIGINT AS n_hits,
                   round(coalesce(h.n_hits, 0)::DOUBLE
                         / (SELECT count(*) FROM brute), 4) AS recall_at_k
            FROM dims LEFT JOIN hits h ON h.d = dims.d
        """,
        # new r9: CUPED A/B readout — per-user pre/post spend folded in
        # DECIMAL(27,4), second moments in DECIMAL(38,6), every division
        # once in double (mirrors behavior.ab_cuped exactly)
        "events_ab_cuped": """
            WITH ev AS (
              SELECT user_id, epoch_us(ts) AS tus, event_type, value FROM events
            ),
            span AS (SELECT (min(tus) + max(tus)) // 2 AS mid FROM ev),
            pu AS (
              SELECT user_id,
                CAST(sum(CASE WHEN tus < mid THEN
                  CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value, 4) AS DECIMAL(27,4))
                       ELSE CAST(0 AS DECIMAL(27,4)) END
                  ELSE CAST(0 AS DECIMAL(27,4)) END) AS DOUBLE) AS pre,
                CAST(sum(CASE WHEN tus >= mid THEN
                  CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value, 4) AS DECIMAL(27,4))
                       ELSE CAST(0 AS DECIMAL(27,4)) END
                  ELSE CAST(0 AS DECIMAL(27,4)) END) AS DOUBLE) AS post
              FROM ev CROSS JOIN span GROUP BY user_id
            ),
            bv AS (
              SELECT (user_id % 2)::INT AS variant, count(*)::BIGINT AS n,
                sum(CAST(round(pre, 6) AS DECIMAL(38,6))) AS s_pre,
                sum(CAST(round(post, 6) AS DECIMAL(38,6))) AS s_post,
                sum(CAST(round(pre * post, 6) AS DECIMAL(38,6))) AS s_xy,
                sum(CAST(round(pre * pre, 6) AS DECIMAL(38,6))) AS s_xx,
                sum(CAST(round(post * post, 6) AS DECIMAL(38,6))) AS s_yy
              FROM pu GROUP BY 1
            ),
            p AS (
              SELECT
                sum(CASE WHEN variant = 0 THEN n END)::BIGINT AS n_a,
                sum(CASE WHEN variant = 1 THEN n END)::BIGINT AS n_b,
                CAST(sum(CASE WHEN variant = 0 THEN s_post END) AS DOUBLE)
                  / sum(CASE WHEN variant = 0 THEN n END) AS mpost_a,
                CAST(sum(CASE WHEN variant = 1 THEN s_post END) AS DOUBLE)
                  / sum(CASE WHEN variant = 1 THEN n END) AS mpost_b,
                CAST(sum(CASE WHEN variant = 0 THEN s_pre END) AS DOUBLE)
                  / sum(CASE WHEN variant = 0 THEN n END) AS mpre_a,
                CAST(sum(CASE WHEN variant = 1 THEN s_pre END) AS DOUBLE)
                  / sum(CASE WHEN variant = 1 THEN n END) AS mpre_b,
                sum(n)::BIGINT AS nn,
                CAST(sum(s_pre) AS DOUBLE) AS sx,
                CAST(sum(s_post) AS DOUBLE) AS sy,
                CAST(sum(s_xy) AS DOUBLE) AS sxy,
                CAST(sum(s_xx) AS DOUBLE) AS sxx,
                CAST(sum(s_yy) AS DOUBLE) AS syy
              FROM bv
            ),
            calc AS (
              SELECT n_a, n_b, mpost_a, mpost_b, mpre_a, mpre_b,
                     sx / nn AS mx,
                     sxy / nn - (sx / nn) * (sy / nn) AS cov,
                     sxx / nn - (sx / nn) * (sx / nn) AS var_pre,
                     syy / nn - (sy / nn) * (sy / nn) AS var_post
              FROM p
            ),
            calc2 AS (
              SELECT *,
                     CASE WHEN var_pre > 0 THEN cov / var_pre ELSE 0.0 END AS theta,
                     CASE WHEN var_pre > 0 AND var_post > 0
                          THEN cov * cov / (var_pre * var_post) ELSE 0.0 END AS var_red
              FROM calc
            )
            SELECT n_a, n_b,
                   round(mpost_a, 6) AS mean_post_a,
                   round(mpost_b, 6) AS mean_post_b,
                   round(theta, 6) AS theta,
                   round(mpost_b - mpost_a, 6) AS diff_raw,
                   round((mpost_b - theta * (mpre_b - mx))
                         - (mpost_a - theta * (mpre_a - mx)), 6) AS diff_cuped,
                   round(var_red, 6) AS var_reduction
            FROM calc2
        """,
        # new r9 preference family: comparisons derive via _PREF_CW
        # (integer-exact Bradley-Terry ground truth, see
        # _pref_comparisons); BT twin unrolled by _bt_sql.
        "events_bt_ratings": _bt_sql(5, 0.5),
        "events_bt_reliability": _bt_reliability_sql(5, 0.5, 5),
        # new r10: Rao-Kupper BT with ties, unrolled by _bt_ties_sql
        # over the _PREF_CWT three-outcome derivation
        "events_bt_ties": _bt_ties_sql(5, 0.5),
        "events_rater_bias": """
            WITH base AS (
              SELECT user_id AS item, event_id % 7 AS rater,
                     round(CAST(value AS DOUBLE), 6) AS v
              FROM events WHERE value IS NOT NULL
            ),
            per_item AS (
              SELECT item, sum(CAST(v AS DECIMAL(38,6))) AS isum,
                     count(*)::BIGINT AS n_i
              FROM base GROUP BY item
            ),
            -- leave-one-out peer mean; singleton items excluded (the
            -- fleiss_kappa / rater_consensus n_i >= 2 floor)
            j AS (
              SELECT rater, v,
                     v - (CAST(isum AS DOUBLE) - v)
                         / CAST(n_i - 1 AS DOUBLE) AS gap
              FROM base JOIN per_item USING (item)
              WHERE n_i >= 2
            )
            SELECT rater, count(*)::BIGINT AS n_scored,
                   round(CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE)
                         / count(*), 6) AS mean_score,
                   round(CAST(sum(CAST(round(gap, 9) AS DECIMAL(38,9)))
                         AS DOUBLE) / count(*), 6) AS mean_gap
            FROM j GROUP BY rater
        """,
        "events_rater_consensus": """
            WITH base AS (
              SELECT user_id AS item, event_id % 7 AS rater,
                     event_type AS cat
              FROM events
            ),
            cnt AS (
              SELECT item, cat, count(*)::BIGINT AS c
              FROM base GROUP BY 1, 2
            ),
            -- n_i >= 2 floor matches fleiss_kappa: singleton items would
            -- let the lone rater "agree" with themselves (r9 ADVICE)
            maj AS (
              SELECT item, cat AS maj_cat FROM (
                SELECT *, row_number() OVER (PARTITION BY item
                    ORDER BY c DESC, cat ASC) AS rn,
                       sum(c) OVER (PARTITION BY item) AS n_i
                FROM cnt
              ) WHERE rn = 1 AND n_i >= 2
            )
            SELECT rater, count(*)::BIGINT AS n_labels,
                   sum(CASE WHEN cat = maj_cat THEN 1 ELSE 0 END)::BIGINT
                     AS n_agree,
                   round(CAST(sum(CASE WHEN cat = maj_cat THEN 1 ELSE 0 END)
                         AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                     AS agree_rate
            FROM base JOIN maj USING (item)
            GROUP BY rater
        """,
        "events_win_matrix": f"""
            WITH {_PREF_CW},
            agg AS (
              SELECT least(w, l) AS item_a, greatest(w, l) AS item_b,
                     count(*)::BIGINT AS n,
                     sum(CASE WHEN w < l THEN 1 ELSE 0 END)::BIGINT AS wins_a
              FROM cw GROUP BY 1, 2
            ),
            calc AS (
              SELECT *, CAST(n AS DOUBLE) AS nn,
                     CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE) AS p
              FROM agg
            )
            SELECT item_a, item_b, n, wins_a, n - wins_a AS wins_b,
                   round(p, 6) AS win_rate_a,
                   round((p + (1.96 * 1.96) / (2.0 * nn)
                          - 1.96 * sqrt((p * (1.0 - p)
                                         + (1.96 * 1.96) / (4.0 * nn)) / nn))
                         / (1.0 + (1.96 * 1.96) / nn), 6) AS wilson_lb_a
            FROM calc
        """,
        # Sliding-window arena: ONE parameterized template shared with
        # the stream_arena twin (r11 ADVICE — the previous post-hoc
        # str.replace of the window constants silently breaks if another
        # literal ever contains those digit substrings).
        "events_arena_sliding": _arena_sliding_sql(_ARENA_W, _ARENA_S),
        "events_quantile_sketch": """
            WITH sk AS (
              SELECT ('0x' || substr(md5('qsk1|' || event_id::VARCHAR), 1, 15))::BIGINT AS h,
                     CAST(value AS DOUBLE) AS v
              FROM events WHERE value IS NOT NULL
              ORDER BY h LIMIT 512
            ),
            ranked AS (
              SELECT v, row_number() OVER (ORDER BY v, h) AS rn,
                     count(*) OVER () AS n
              FROM sk
            ),
            qs AS (SELECT unnest([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS q)
            SELECT q, v AS est_v, n::BIGINT AS sketch_n
            FROM qs JOIN ranked
              ON rn = greatest(1, CAST(ceil(q * n) AS INT))
        """,
        "stream_qsketch": """
            WITH keyed AS (
              SELECT event_type AS grp,
                     ('0x' || substr(md5('qsk1|' || event_id::VARCHAR), 1, 15))::BIGINT AS h,
                     CAST(value AS DOUBLE) AS v
              FROM events WHERE value IS NOT NULL
            ),
            -- min-v per (grp, h): the shared order-free tie policy of
            -- stream_qsketch_grouped (unique-key contract violations and
            -- 60-bit hash collisions resolve identically in all paths)
            dedup AS (SELECT grp, h, min(v) AS v FROM keyed GROUP BY grp, h),
            sk AS (
              SELECT grp, h, v FROM (
                SELECT *, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
                FROM dedup
              ) WHERE rn <= 64
            ),
            ranked AS (
              SELECT grp, h, v,
                     row_number() OVER (PARTITION BY grp ORDER BY v, h) AS rn2,
                     count(*) OVER (PARTITION BY grp) AS n
              FROM sk
            )
            SELECT grp, max(n)::BIGINT AS sketch_n, max(h) AS kth_hash,
                   max(CASE WHEN rn2 = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                       THEN v END) AS p50,
                   max(CASE WHEN rn2 = greatest(1, CAST(ceil(0.9 * n) AS BIGINT))
                       THEN v END) AS p90
            FROM ranked GROUP BY grp
        """,
        "events_tcloseness": """
            WITH base AS (
              SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                     CAST(least(floor(value / 50.0), 9) AS INT) AS v
              FROM events WHERE value IS NOT NULL
            ),
            gdist AS (SELECT v, count(*)::BIGINT AS gc FROM base GROUP BY v),
            tot AS (SELECT sum(gc)::BIGINT AS gt, count(*)::BIGINT AS m FROM gdist),
            gq AS (
              SELECT v, CAST(gc AS DOUBLE) / CAST(gt AS DOUBLE) AS q, m
              FROM gdist, tot
            ),
            cv AS (
              SELECT event_type, day, v, count(*)::BIGINT AS c
              FROM base GROUP BY 1, 2, 3
            ),
            n_cell AS (
              SELECT event_type, day, sum(c)::BIGINT AS n_rows
              FROM cv GROUP BY 1, 2
            ),
            grid AS (
              SELECT n.event_type, n.day, n.n_rows, gq.v, gq.q, gq.m,
                     coalesce(cv.c, 0) AS c
              FROM n_cell n CROSS JOIN gq
              LEFT JOIN cv ON cv.event_type = n.event_type
                          AND cv.day = n.day AND cv.v = gq.v
            ),
            -- each (p - q) term is 9dp-rounded and cast to DECIMAL(38,9)
            -- BEFORE the running window sum (exact integer arithmetic),
            -- so DuckDB's segment-tree window evaluation and Spark's
            -- sequential fold cannot diverge on a rounding boundary
            cum AS (
              SELECT event_type, day, n_rows, m,
                     sum(CAST(round(CAST(c AS DOUBLE) / CAST(n_rows AS DOUBLE) - q, 9)
                              AS DECIMAL(38,9)))
                       OVER (PARTITION BY event_type, day ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
              FROM grid
            ),
            rep AS (
              SELECT event_type, day, max(n_rows) AS n_rows,
                     CASE WHEN max(m) > 1 THEN
                       round(CAST(sum(abs(cum)) AS DOUBLE)
                             / CAST(max(m) - 1 AS DOUBLE), 6)
                     ELSE 0.0 END AS emd
              FROM cum GROUP BY 1, 2
            )
            SELECT event_type, day, n_rows, emd, emd <= 0.2 AS ok FROM rep
        """,
        # Fleiss' kappa, generalized to varying n_i (items with n_i < 2
        # excluded from BOTH the mean and the chance marginals); P_i and
        # p_j^2 are single divisions of exact integer counts, folded as
        # 9dp DECIMAL(38,9) — mirrors preference.fleiss_kappa exactly
        "events_rater_agreement": """
            WITH cnt AS (
              SELECT user_id AS item, event_type AS cat, count(*)::BIGINT AS c
              FROM events GROUP BY 1, 2
            ),
            per AS (
              SELECT item, sum(c)::BIGINT AS n_i, sum(c * c)::BIGINT AS s_i
              FROM cnt GROUP BY item
            ),
            kept AS (SELECT * FROM per WHERE n_i >= 2),
            pbar AS (
              SELECT count(*)::BIGINT AS n_items, sum(n_i)::BIGINT AS n_ratings,
                     CAST(sum(CAST(round(
                         CAST(s_i - n_i AS DOUBLE)
                         / CAST(n_i * (n_i - 1) AS DOUBLE), 9)
                       AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS p_bar
              FROM kept
            ),
            catp AS (
              SELECT cat, sum(c)::BIGINT AS cj
              FROM cnt JOIN kept USING (item) GROUP BY cat
            ),
            tot AS (SELECT sum(cj)::BIGINT AS tot FROM catp),
            pe AS (
              SELECT CAST(sum(CAST(round(
                         (CAST(cj AS DOUBLE) / CAST(tot AS DOUBLE))
                         * (CAST(cj AS DOUBLE) / CAST(tot AS DOUBLE)), 9)
                       AS DECIMAL(38,9))) AS DOUBLE) AS p_e
              FROM catp, tot
            )
            SELECT n_items, n_ratings,
                   round(p_bar, 6) AS p_bar, round(p_e, 6) AS p_e,
                   round(CASE WHEN p_e < 1.0
                              THEN (p_bar - p_e) / (1.0 - p_e)
                              ELSE 0.0 END, 6) AS kappa
            FROM pbar, pe
        """,
    }


# Deterministic comparison derivation shared by the preference oracles —
# mirrors __spark_entry__._pref_comparisons verbatim (integer-only).
# arena_sliding window geometry (7-day window, 2-day slide, in µs) —
# shared by q_events_arena_sliding and its oracle above.
_ARENA_W = 7 * 86400 * 1_000_000
_ARENA_S = 2 * 86400 * 1_000_000

# Shared IVF-vs-exact ranking derivation (q .. ivfk), the ann_recall
# recipe with rank KEPT: stride-50 queries, stride-100 centroids,
# nprobe 3, top-5 both paths, 6dp-rounded cosine with neighbor-id
# tiebreak.  ONE source for every ranking-eval oracle (the Spark side's
# is _ivf_vs_exact) so the derivation can never drift between legs.
_IVF_VS_EXACT_CTES = """q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id % 50 = 0
            ),
            c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
            brute AS (
              SELECT query_id, neighbor_id, rank FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY
                         round(list_dot_product(qv, cv)
                               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                               6) DESC, neighbor_id ASC) AS rank
                FROM q CROSS JOIN c WHERE query_id <> neighbor_id
              ) WHERE rank <= 5
            ),
            cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS centroid
                     FROM embeddings WHERE vec_id % 100 = 0),
            cells AS (
              SELECT neighbor_id, cv, cell FROM (
                SELECT c.neighbor_id, c.cv, cent.cid AS cell,
                       row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
                         round(list_dot_product(cv, centroid)
                               / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(centroid, centroid))),
                               6) DESC, cent.cid ASC) AS rn
                FROM c CROSS JOIN cent
              ) WHERE rn = 1
            ),
            probes AS (
              SELECT query_id, qv, cell FROM (
                SELECT q.query_id, q.qv, cent.cid AS cell,
                       row_number() OVER (PARTITION BY q.query_id ORDER BY
                         round(list_dot_product(qv, centroid)
                               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(centroid, centroid))),
                               6) DESC, cent.cid ASC) AS rn
                FROM q CROSS JOIN cent
              ) WHERE rn <= 3
            ),
            ivfk AS (
              SELECT query_id, neighbor_id, rank FROM (
                SELECT p.query_id, s.neighbor_id,
                       row_number() OVER (PARTITION BY p.query_id ORDER BY
                         round(list_dot_product(p.qv, s.cv)
                               / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(s.cv, s.cv))),
                               6) DESC, s.neighbor_id ASC) AS rank
                FROM probes p JOIN cells s USING (cell)
                WHERE p.query_id <> s.neighbor_id
              ) WHERE rank <= 5
            )"""


def _arena_sliding_sql(w_us: int, s_us: int) -> str:
    """The sliding-window arena oracle, parameterized on the window
    geometry: windows are [k*S, k*S+W); a comparison at tus lands in
    windows floor((tus-W)/S)+1 .. floor(tus/S), with floor division
    spelled via the pmod idiom (x - pmod(x, S)) / S so it is exact for
    any sign on any engine — the twin of preference.arena_sliding's
    _floordiv_long.  Wilson arithmetic mirrors events_win_matrix.  ONE
    template serves events_arena_sliding (7d/2d) and stream_arena
    (3d/1d) so the two geometries can never drift (r11 ADVICE)."""
    return f"""
            WITH comps AS (
              SELECT epoch_us(ts)::BIGINT AS tus,
                     event_id % 24 AS a, (event_id // 24) % 24 AS b,
                     event_id // 576 AS t
              FROM events
              WHERE event_id % 24 <> (event_id // 24) % 24
            ),
            cw AS (
              SELECT tus,
                     CASE WHEN t % (a + b + 2) <= a THEN a ELSE b END AS w,
                     CASE WHEN t % (a + b + 2) <= a THEN b ELSE a END AS l
              FROM comps
            ),
            ex AS (
              SELECT u.k AS k, least(w, l) AS item_a,
                     greatest(w, l) AS item_b,
                     CASE WHEN w < l THEN 1 ELSE 0 END AS a_won
              FROM cw, UNNEST(generate_series(
                ((tus - {w_us}) - ((((tus - {w_us}) % {s_us}) + {s_us}) % {s_us})) // {s_us} + 1,
                (tus - (((tus % {s_us}) + {s_us}) % {s_us})) // {s_us}
              )) AS u(k)
            ),
            agg AS (
              SELECT k, item_a, item_b, count(*)::BIGINT AS n,
                     sum(a_won)::BIGINT AS wins_a
              FROM ex GROUP BY 1, 2, 3
            ),
            calc AS (
              SELECT *, CAST(n AS DOUBLE) AS nn,
                     CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE) AS p
              FROM agg
            )
            SELECT k * {s_us} AS win_start_us, item_a, item_b, n,
                   wins_a, n - wins_a AS wins_b,
                   round(p, 6) AS win_rate_a,
                   round((p + (1.96 * 1.96) / (2.0 * nn)
                          - 1.96 * sqrt((p * (1.0 - p)
                                         + (1.96 * 1.96) / (4.0 * nn)) / nn))
                         / (1.0 + (1.96 * 1.96) / nn), 6) AS wilson_lb_a
            FROM calc
        """

_PREF_CW = """comps AS (
              SELECT event_id % 24 AS a, (event_id // 24) % 24 AS b,
                     event_id // 576 AS t
              FROM events
              WHERE event_id % 24 <> (event_id // 24) % 24
            ),
            cw AS (
              SELECT CASE WHEN t % (a + b + 2) <= a THEN a ELSE b END AS w,
                     CASE WHEN t % (a + b + 2) <= a THEN b ELSE a END AS l
              FROM comps
            )"""


def _bt_ctes(iters: int = 5, alpha: float = 0.5) -> str:
    """The comps..pi{iters} CTE chain of the Bradley-Terry twin, shared
    by the events_bt_ratings and events_bt_reliability oracles.  Every
    multiply-referenced CTE is AS MATERIALIZED: DuckDB otherwise
    re-inlines dir/wins/pi{k} into every consumer and the unrolled
    iteration chain goes exponential (measured 160 s -> 0.07 s at
    sf0.01)."""
    ctes = [
        _PREF_CW,
        f"""und AS MATERIALIZED (
              SELECT least(w, l) AS lo, greatest(w, l) AS hi,
                     sum(CASE WHEN w < l THEN 1 ELSE 0 END)::DOUBLE + {alpha} AS wlo,
                     sum(CASE WHEN w > l THEN 1 ELSE 0 END)::DOUBLE + {alpha} AS whi
              FROM cw GROUP BY 1, 2
            )""",
        """dir AS MATERIALIZED (
              SELECT lo AS i, hi AS j, wlo AS wij, wlo + whi AS n FROM und
              UNION ALL
              SELECT hi AS i, lo AS j, whi AS wij, wlo + whi AS n FROM und
            )""",
        f"""wins AS MATERIALIZED (
              SELECT i, sum(wij) AS w,
                     CAST(sum(wij - {alpha}) AS BIGINT) AS wins_raw,
                     CAST(sum(n - {2 * alpha}) AS BIGINT) AS n_comps
              FROM dir GROUP BY i
            )""",
        "pi0 AS MATERIALIZED (SELECT i, 1.0 AS pi FROM wins)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""den{k} AS MATERIALIZED (
              SELECT d.i AS i,
                     CAST(sum(CAST(round(d.n / (pa.pi + pb.pi), 9)
                       AS DECIMAL(38,9))) AS DOUBLE) AS den
              FROM dir d
              JOIN pi{k - 1} pa ON d.i = pa.i
              JOIN pi{k - 1} pb ON d.j = pb.i
              GROUP BY d.i
            )"""
        )
        ctes.append(
            f"raw{k} AS MATERIALIZED (SELECT wins.i, wins.w / den{k}.den AS praw "
            f"FROM wins JOIN den{k} ON wins.i = den{k}.i)"
        )
        ctes.append(
            f"""s{k} AS MATERIALIZED (
              SELECT CAST(sum(CAST(round(praw, 9) AS DECIMAL(38,9))) AS DOUBLE) AS s,
                     count(*)::BIGINT AS n_items
              FROM raw{k}
            )"""
        )
        ctes.append(
            f"pi{k} AS MATERIALIZED (SELECT i, round(praw * n_items / s, 9) AS pi "
            f"FROM raw{k}, s{k})"
        )
    return ",\n            ".join(ctes)


def _bt_sql(iters: int = 5, alpha: float = 0.5) -> str:
    """SQL twin of q_events_bt_ratings: preference.bt_ratings' MM
    iterations unrolled (Hunter 2004).  Same pair-count smoothing, same
    9dp DECIMAL(38,9) denominator/normalization folds, same mean-1
    rescale and per-iteration round(·, 9) barrier, so both engines walk
    the identical rating trajectory."""
    return f"""
            WITH {_bt_ctes(iters, alpha)}
            SELECT pi{iters}.i::BIGINT AS item, wins.n_comps,
                   wins.wins_raw AS wins, round(pi{iters}.pi, 6) AS rating
            FROM pi{iters} JOIN wins ON pi{iters}.i = wins.i
        """


_PREF_CWT = """compst AS (
              SELECT event_id % 24 AS a, (event_id // 24) % 24 AS b,
                     event_id // 576 AS t
              FROM events
              WHERE event_id % 24 <> (event_id // 24) % 24
            ),
            cwt AS (
              SELECT least(a, b) AS lo, greatest(a, b) AS hi,
                     CASE WHEN t % (a + b + 4) > a AND t % (a + b + 4) <= a + 2
                          THEN 1 ELSE 0 END AS tied,
                     CASE WHEN t % (a + b + 4) <= a
                            THEN (CASE WHEN a < b THEN 1 ELSE 0 END)
                          WHEN t % (a + b + 4) > a + 2
                            THEN (CASE WHEN a < b THEN 0 ELSE 1 END)
                          ELSE 0 END AS lo_won
              FROM compst
            )"""


def _bt_ties_sql(iters: int = 5, alpha: float = 0.5) -> str:
    """SQL twin of q_events_bt_ties: preference.bt_ties' Rao-Kupper MM
    unrolled (Hunter 2004 §4).  Same alpha smoothing on wins AND ties,
    same 9dp DECIMAL(38,9) folds, mean-1 rescale and per-iteration
    round(·, 9) barriers on pi and theta; sqrt is IEEE-exact, so both
    engines walk the identical (pi, theta) trajectory.  Every
    multiply-referenced CTE is AS MATERIALIZED (the _bt_ctes lesson:
    DuckDB otherwise re-inlines the iteration chain exponentially)."""
    ctes = [
        _PREF_CWT,
        f"""undt AS MATERIALIZED (
              SELECT lo, hi,
                     sum(lo_won)::DOUBLE + {alpha} AS wlo,
                     sum(1 - lo_won - tied)::DOUBLE + {alpha} AS whi,
                     sum(tied)::DOUBLE + {alpha} AS t,
                     count(*)::BIGINT AS n_raw,
                     sum(lo_won)::BIGINT AS wlo_raw,
                     sum(tied)::BIGINT AS t_raw
              FROM cwt GROUP BY 1, 2
            )""",
        """dirt AS MATERIALIZED (
              SELECT lo AS i, hi AS j, wlo + t AS a FROM undt
              UNION ALL
              SELECT hi AS i, lo AS j, whi + t AS a FROM undt
            )""",
        """countst AS MATERIALIZED (
              SELECT i, sum(n)::BIGINT AS n_comps, sum(w)::BIGINT AS wins,
                     sum(tt)::BIGINT AS ties
              FROM (
                SELECT lo AS i, n_raw AS n, wlo_raw AS w, t_raw AS tt FROM undt
                UNION ALL
                SELECT hi AS i, n_raw AS n, n_raw - wlo_raw - t_raw AS w,
                       t_raw AS tt FROM undt
              ) GROUP BY i
            )""",
        "numt AS MATERIALIZED (SELECT i, sum(a) AS numer FROM dirt GROUP BY i)",
        "tott AS MATERIALIZED (SELECT sum(t) AS bigt FROM undt)",
        "tpi0 AS MATERIALIZED (SELECT i, 1.0 AS pi FROM numt)",
        "th0 AS MATERIALIZED (SELECT 2.0 AS theta)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""tx{k} AS MATERIALIZED (
              SELECT d.i, d.j,
                     d.a / (pa.pi + th.theta * pb.pi) AS x,
                     th.theta * (d.a / (pa.pi + th.theta * pb.pi)) AS tx
              FROM dirt d
              JOIN tpi{k - 1} pa ON d.i = pa.i
              JOIN tpi{k - 1} pb ON d.j = pb.i
              CROSS JOIN th{k - 1} th
            )"""
        )
        ctes.append(
            f"""tden{k} AS MATERIALIZED (
              SELECT k_, CAST(sum(CAST(round(c, 9) AS DECIMAL(38,9)))
                         AS DOUBLE) AS den
              FROM (
                SELECT i AS k_, x AS c FROM tx{k}
                UNION ALL
                SELECT j AS k_, tx AS c FROM tx{k}
              ) GROUP BY k_
            )"""
        )
        ctes.append(
            f"traw{k} AS MATERIALIZED (SELECT numt.i, numt.numer / tden{k}.den "
            f"AS praw FROM numt JOIN tden{k} ON numt.i = tden{k}.k_)"
        )
        ctes.append(
            f"""ts{k} AS MATERIALIZED (
              SELECT CAST(sum(CAST(round(praw, 9) AS DECIMAL(38,9))) AS DOUBLE) AS s,
                     count(*)::BIGINT AS n_items
              FROM traw{k}
            )"""
        )
        ctes.append(
            f"tpi{k} AS MATERIALIZED (SELECT i, round(praw * n_items / s, 9) AS pi "
            f"FROM traw{k}, ts{k})"
        )
        # theta update at the NEW pi, OLD theta (the operator's cyclic order)
        ctes.append(
            f"""tbigs{k} AS MATERIALIZED (
              SELECT CAST(sum(CAST(round(
                       d.a * pb.pi / (pa.pi + th.theta * pb.pi), 9)
                       AS DECIMAL(38,9))) AS DOUBLE) AS s
              FROM dirt d
              JOIN tpi{k} pa ON d.i = pa.i
              JOIN tpi{k} pb ON d.j = pb.i
              CROSS JOIN th{k - 1} th
            )"""
        )
        ctes.append(
            f"""th{k} AS MATERIALIZED (
              SELECT round(bigt / s + sqrt((bigt / s) * (bigt / s) + 1.0), 9)
                     AS theta
              FROM tott, tbigs{k}
            )"""
        )
    chain = ",\n            ".join(ctes)
    return f"""
            WITH {chain}
            SELECT tpi{iters}.i::BIGINT AS item, countst.n_comps,
                   countst.wins, countst.ties,
                   round(tpi{iters}.pi, 6) AS rating,
                   round(th{iters}.theta, 6) AS theta
            FROM tpi{iters}
            JOIN countst ON tpi{iters}.i = countst.i
            CROSS JOIN th{iters}
        """


def _bt_reliability_sql(iters: int = 5, alpha: float = 0.5, buckets: int = 5) -> str:
    """SQL twin of q_events_bt_reliability: the published 6dp ratings
    (same CTE chain as the bt oracle) joined back onto the per-pair win
    counts, bucketed by predicted probability; expected-win folds in
    DECIMAL(38,9) exactly like preference.bt_reliability."""
    d9 = "CAST(round(pred * n, 9) AS DECIMAL(38,9))"
    return f"""
            WITH {_bt_ctes(iters, alpha)},
            rat AS MATERIALIZED (
              SELECT i, round(pi, 6) AS rating FROM pi{iters}
            ),
            agg AS (
              SELECT least(w, l) AS item_a, greatest(w, l) AS item_b,
                     count(*)::BIGINT AS n,
                     sum(CASE WHEN w < l THEN 1 ELSE 0 END)::BIGINT AS wins_a
              FROM cw GROUP BY 1, 2
            ),
            j AS (
              SELECT agg.n, agg.wins_a,
                     ra.rating / (ra.rating + rb.rating) AS pred
              FROM agg
              JOIN rat ra ON agg.item_a = ra.i
              JOIN rat rb ON agg.item_b = rb.i
              WHERE ra.rating + rb.rating > 0
            ),
            b AS (
              SELECT least(CAST(floor(pred * {float(buckets)}) AS INT),
                           {buckets - 1}) AS bucket,
                     n, wins_a, pred
              FROM j
            )
            SELECT bucket, count(*)::BIGINT AS n_pairs,
                   sum(n)::BIGINT AS n_comps,
                   round(CAST(sum({d9}) AS DOUBLE) / sum(n), 6) AS exp_rate,
                   round(CAST(sum(wins_a) AS DOUBLE)
                         / CAST(sum(n) AS DOUBLE), 6) AS obs_rate,
                   round(CAST(sum(wins_a) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
                         - CAST(sum({d9}) AS DOUBLE) / sum(n), 6) AS gap
            FROM b GROUP BY bucket
        """


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_literal()
    # the bloom prefilter is semantics-transparent (exact verify removes
    # false positives), so its oracle IS the exact decontaminate twin
    d["doc_decontaminate_bloom"] = d["doc_decontaminate"]
    # the streaming shard-checksum aggregate computes the batch operator's
    # exact columns (XOR folds micro-batches associatively), so its batch-
    # fallback oracle IS the shard_checksums twin
    d["stream_shard_ck"] = d["shard_checksums"]
    # the streaming PSI twin's batch path emits exactly the numeric_psi
    # report on the same frozen grid, so its oracle IS the profile_psi twin
    d["stream_psi"] = d["profile_psi"]
    # calibration joins the quality-score CTEs to the doc_gopher per-doc
    # keep flag — both composed verbatim so each expression lives once
    d["doc_calibration"] = f"""
            WITH {_QUALITY_CTES},
            g AS ({d["doc_gopher"]}),
            sc AS (
              SELECT r.quality AS p,
                     CASE WHEN g.keep THEN 1 ELSE 0 END AS y
              FROM r JOIN g USING (doc_id)
            ),
            -- mirror calibration_report's input hygiene: drop NULL p/y
            -- and p < 0 before bucketing (no-op on this corpus, kept so
            -- oracle and operator share one contract)
            bins AS (SELECT least(floor(p * 10), 9)::BIGINT AS bin, y, p
                     FROM sc
                     WHERE p IS NOT NULL AND y IS NOT NULL AND p >= 0)
            SELECT bin, count(*)::BIGINT AS n,
                   round(CAST(sum(CAST(round(p, 6) AS DECIMAL(27,6))) AS DOUBLE)
                         / count(*), 6) AS mean_p,
                   round(sum(y::BIGINT)::DOUBLE / count(*), 6) AS frac_pos,
                   round(sum(y::BIGINT)::DOUBLE / count(*)
                         - CAST(sum(CAST(round(p, 6) AS DECIMAL(27,6))) AS DOUBLE)
                           / count(*), 6) AS gap
            FROM bins GROUP BY 1
        """
    # the gate report aggregates the doc_gopher oracle's per-doc rows —
    # composed verbatim so the rule expressions live once
    d["quality_gate_report"] = f"""
            WITH g AS ({d["doc_gopher"]}),
            j AS (SELECT g.*, doc.source FROM g JOIN documents doc USING (doc_id))
            SELECT source, count(*)::BIGINT AS n_docs,
                   round(avg(CASE WHEN n_words < 50 OR n_words > 100000
                             THEN 1 ELSE 0 END), 6) AS fail_words,
                   round(avg(CASE WHEN mean_word_len < 3.0 OR mean_word_len > 10.0
                             THEN 1 ELSE 0 END), 6) AS fail_word_len,
                   round(avg(CASE WHEN symbol_ratio > 0.1 THEN 1 ELSE 0 END), 6)
                     AS fail_symbol,
                   round(avg(CASE WHEN bullet_frac > 0.9 THEN 1 ELSE 0 END), 6)
                     AS fail_bullet,
                   round(avg(CASE WHEN ellipsis_frac > 0.3 THEN 1 ELSE 0 END), 6)
                     AS fail_ellipsis,
                   round(avg(CASE WHEN alpha_frac < 0.8 THEN 1 ELSE 0 END), 6)
                     AS fail_alpha,
                   round(avg(CASE WHEN stop_hits < 2 THEN 1 ELSE 0 END), 6)
                     AS fail_stops,
                   round(avg(CASE WHEN keep THEN 1 ELSE 0 END), 6) AS keep_rate
            FROM j GROUP BY source
        """
    # the media manifest is the canonical-only projection of the two hash
    # oracles — composed verbatim so the fingerprint math lives once
    # IVF-PQ recall: same exact-L2 ground truth, the IVFADC oracle on top
    d["ann_ivfpq_recall"] = f"""
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id % 50 = 0),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     round(round(list_dot_product(qv, qv), 6)
                           - 2 * round(list_dot_product(qv, e.v), 6)
                           + round(list_dot_product(e.v, e.v), 6), 6) AS dd
              FROM q CROSS JOIN emb e WHERE e.vec_id <> q.query_id
            ),
            exact AS (
              SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY dd ASC, neighbor_id ASC) AS rk
                FROM scored
              ) WHERE rk <= 5
            ),
            approx AS (
              SELECT query_id, neighbor_id FROM ({d["ann_ivf_pq"]})
            ),
            hits AS (
              SELECT a.query_id, a.neighbor_id
              FROM approx a JOIN exact x USING (query_id, neighbor_id)
            )
            SELECT (SELECT count(*) FROM exact)::BIGINT AS n_exact_pairs,
                   (SELECT count(*) FROM hits)::BIGINT AS n_hits,
                   round((SELECT count(*) FROM hits)::DOUBLE
                         / (SELECT count(*) FROM exact), 4) AS recall_at_5
        """
    # CCNet terciles: the unigram-NLL oracle composed with exact ranks
    d["doc_ccnet_buckets"] = f"""
            WITH nllq AS ({d["doc_unigram_nll"]}),
            scored AS (
              SELECT n.doc_id, n.n_tokens, n.nll, d.lang
              FROM nllq n JOIN documents d USING (doc_id)
            ),
            ranked AS (
              SELECT doc_id, lang, n_tokens, nll,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY nll ASC, doc_id ASC) AS lang_rank,
                     count(*) OVER (PARTITION BY lang) AS lang_n
              FROM scored
            )
            SELECT doc_id, lang, n_tokens, nll,
                   CAST(lang_rank AS BIGINT) AS lang_rank,
                   CAST(lang_n AS BIGINT) AS lang_n,
                   CASE WHEN 3 * lang_rank <= lang_n THEN 'head'
                        WHEN 3 * lang_rank <= 2 * lang_n THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM ranked
        """
    # PQ quantization error: the shared train CTEs + a final kept-distance
    # assignment against cb2, folded with the exact decimal mean
    d["ann_pq_quant_error"] = f"""
            WITH {_pq_ctes(4, 64)},
            af AS (
              SELECT vec_id, subspace, code, d FROM (
                SELECT s.vec_id, s.subspace, c.code,
                       {_pq_d2("s.sv", "c.centroid")} AS d,
                       row_number() OVER (PARTITION BY s.vec_id, s.subspace
                         ORDER BY {_pq_d2("s.sv", "c.centroid")} ASC,
                                  c.code ASC) AS rn
                FROM sub s JOIN cb2 c USING (subspace)
              ) WHERE rn = 1
            )
            SELECT subspace::INT AS subspace, count(*)::BIGINT AS n,
                   round({_dmean("d")}, 6) AS mse,
                   round(max(d), 6) AS max_d2
            FROM af GROUP BY 1
        """
    # PQ recall: the ADC oracle composed against an exact-L2 ground truth
    d["ann_pq_recall"] = f"""
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id % 50 = 0),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     round(round(list_dot_product(qv, qv), 6)
                           - 2 * round(list_dot_product(qv, e.v), 6)
                           + round(list_dot_product(e.v, e.v), 6), 6) AS dd
              FROM q CROSS JOIN emb e WHERE e.vec_id <> q.query_id
            ),
            exact AS (
              SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY dd ASC, neighbor_id ASC) AS rk
                FROM scored
              ) WHERE rk <= 5
            ),
            approx AS (
              SELECT query_id, neighbor_id FROM ({d["ann_pq_adc"]})
            ),
            hits AS (
              SELECT a.query_id, a.neighbor_id
              FROM approx a JOIN exact x USING (query_id, neighbor_id)
            )
            SELECT (SELECT count(*) FROM exact)::BIGINT AS n_exact_pairs,
                   (SELECT count(*) FROM hits)::BIGINT AS n_hits,
                   round((SELECT count(*) FROM hits)::DOUBLE
                         / (SELECT count(*) FROM exact), 4) AS recall_at_5
        """
    # triangles over the LSH pair graph: compose the pair SQL verbatim
    d["dedup_triangles"] = f"""
            WITH edges AS (
              SELECT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
              FROM ({d["dedup_minhash_lsh"]})
              WHERE id_a <> id_b
            ),
            e AS (SELECT DISTINCT a, b FROM edges),
            tri AS (
              SELECT t1.a AS x, t1.b AS y, t2.b AS z
              FROM e t1
              JOIN e t2 ON t2.a = t1.a AND t1.b < t2.b
              JOIN e t3 ON t3.a = t1.b AND t3.b = t2.b
            )
            SELECT node, count(*)::BIGINT AS n_triangles FROM (
              SELECT unnest([x, y, z]) AS node FROM tri
            ) GROUP BY node
        """
    d["pipeline_media_manifest"] = f"""
            SELECT media_id, 'image' AS kind, ahash::VARCHAR AS fingerprint,
                   n_dups AS family_size
            FROM ({d["multimodal_ahash"]}) WHERE media_id = canonical
            UNION ALL
            SELECT media_id, 'audio', ehash::VARCHAR, n_dups
            FROM ({d["multimodal_audio_hash"]}) WHERE media_id = canonical
        """
    # -- new in r11 ---------------------------------------------------
    # Krippendorff's alpha (nominal): same (item, cat) pool as
    # events_rater_agreement; coincidence-normalized observed mass,
    # pooled-marginal expected, the operator's exact double/decimal
    # barriers mirrored (9dp-round-then-DECIMAL(38,9) per-item fold).
    d["events_krippendorff"] = """
            WITH cnt AS (
              SELECT user_id AS item, event_type AS cat, count(*)::BIGINT AS c
              FROM events GROUP BY 1, 2
            ),
            per AS (
              SELECT item, sum(c)::BIGINT AS n_i, sum(c * c)::BIGINT AS s_i
              FROM cnt GROUP BY item
            ),
            kept AS (SELECT * FROM per WHERE n_i >= 2),
            obs AS (
              SELECT count(*)::BIGINT AS n_items, sum(n_i)::BIGINT AS n_ratings,
                     CAST(sum(CAST(round(
                         CAST(n_i * n_i - s_i AS DOUBLE)
                         / CAST(n_i - 1 AS DOUBLE), 9)
                       AS DECIMAL(38,9))) AS DOUBLE) AS o_mass
              FROM kept
            ),
            catp AS (
              SELECT cat, sum(c)::BIGINT AS cj
              FROM cnt JOIN kept USING (item) GROUP BY cat
            ),
            sc AS (SELECT sum(cj * cj)::BIGINT AS s_c FROM catp),
            calc AS (
              SELECT n_items, n_ratings, o_mass,
                     CAST(n_ratings AS DOUBLE) AS nd,
                     CAST(s_c AS DOUBLE) AS scd
              FROM obs, sc
            )
            SELECT n_items, n_ratings,
                   round(o_mass / nd, 6) AS d_o,
                   round((nd * nd - scd) / (nd * (nd - 1.0)), 6) AS d_e,
                   round(CASE WHEN nd * nd - scd = 0.0 THEN 1.0
                         ELSE 1.0 - (nd - 1.0) * o_mass / (nd * nd - scd)
                         END, 6) AS alpha
            FROM calc
        """
    # ROC-AUC of quality_score vs lang='en' (Mann-Whitney, tie
    # half-credit): the oracle quantizes to the same 6dp micro-units and
    # folds the SAME doubled-integer U — one global cumulative window
    # here (DuckDB side only; the operator two-phases it).
    d["doc_auc"] = f"""
            WITH {_QUALITY_CTES},
            lab AS (
              SELECT CASE WHEN doc.lang = 'en' THEN 1 ELSE 0 END AS y,
                     r.quality AS score
              FROM r JOIN documents doc USING (doc_id)
            ),
            lvl AS (
              SELECT CAST(round(round(score, 6) * 1000000) AS BIGINT) AS su,
                     sum(y)::BIGINT AS p_s, sum(1 - y)::BIGINT AS g_s
              FROM lab WHERE score IS NOT NULL GROUP BY 1
            ),
            cum AS (
              SELECT p_s, g_s,
                     coalesce(sum(g_s) OVER (ORDER BY su
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS neg_below
              FROM lvl
            ),
            agg AS (
              SELECT sum(p_s)::BIGINT AS n_pos, sum(g_s)::BIGINT AS n_neg,
                     sum(2 * p_s * neg_below + p_s * g_s)::BIGINT AS u2
              FROM cum
            )
            SELECT n_pos, n_neg,
                   CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                     round(CAST(u2 AS DOUBLE)
                           / (2.0 * CAST(n_pos AS DOUBLE)
                              * CAST(n_neg AS DOUBLE)), 6)
                   END AS auc
            FROM agg
        """
    # RBO@5 (p=0.9) of the IVF ranking vs the exact ranking: the
    # brute/cells/probes/ivfk derivation is the ann_recall recipe with
    # rank KEPT; per-item weights are the rbo_weights(0.9, 5) literals
    # (repr-inlined so both engines fold identical doubles).
    from staticql_spark.operators.similarity import rbo_weights as _rbow

    _w = _rbow(0.9, 5)
    _wcase = " ".join(
        f"WHEN {m + 1} THEN {x!r}" for m, x in enumerate(_w)
    )
    d["ann_rbo"] = f"""
            WITH {_IVF_VS_EXACT_CTES},
            hits AS (
              SELECT i.query_id,
                     greatest(i.rank, b.rank) AS m
              FROM ivfk i JOIN brute b
                ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
            ),
            qs AS (
              SELECT DISTINCT query_id FROM ivfk
              UNION
              SELECT DISTINCT query_id FROM brute
            ),
            per_q AS (
              SELECT query_id,
                     sum(CAST(round(CASE m {_wcase} END, 9)
                         AS DECIMAL(38,9))) AS s
              FROM hits GROUP BY query_id
            )
            SELECT qs.query_id,
                   round({(1.0 - 0.9)!r} * coalesce(CAST(s AS DOUBLE), 0.0), 6) AS rbo
            FROM qs LEFT JOIN per_q USING (query_id)
        """
    # MRR of the IVF ranking vs the exact reference set (new r12): the
    # same shared IVF-vs-exact derivation; min ivfk rank among exact
    # hits, 0 sentinel for zero-overlap queries (both engines emit
    # BIGINT — no nullable-int pandas float64 hash hazard)
    d["ann_mrr"] = f"""
            WITH {_IVF_VS_EXACT_CTES},
            fh AS (
              SELECT i.query_id, min(i.rank)::BIGINT AS first_hit_rank
              FROM ivfk i JOIN brute b
                ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
              GROUP BY i.query_id
            ),
            qs AS (
              SELECT DISTINCT query_id FROM ivfk
              UNION
              SELECT DISTINCT query_id FROM brute
            )
            SELECT qs.query_id,
                   coalesce(first_hit_rank, 0)::BIGINT AS first_hit_rank,
                   round(coalesce(1.0 / CAST(first_hit_rank AS DOUBLE), 0.0), 6) AS rr
            FROM qs LEFT JOIN fh USING (query_id)
        """
    # the streaming arena twin's batch fallback IS arena_sliding at the
    # 3-day/1-day geometry — same parameterized template, different
    # window constants (one expression source, r11 ADVICE)
    d["stream_arena"] = _arena_sliding_sql(3 * 86400 * 1_000_000, 86400 * 1_000_000)
    # Mann-Kendall per event type over daily counts (new r12): exact
    # integer S over the daily AGGREGATE's ordered pairs, tie-corrected
    # variance, continuity-corrected z off the UNROUNDED var_s (the
    # operator's expression order); trend thresholds the ROUNDED z so
    # boundary rows cannot flip between engines.
    d["events_mann_kendall"] = """
            WITH daily AS (
              SELECT event_type AS grp,
                     epoch_us(ts)::BIGINT // 86400000000 AS t,
                     count(*)::BIGINT AS v
              FROM events GROUP BY 1, 2
            ),
            pairs AS (
              SELECT a.grp,
                     sum(CASE WHEN b.v > a.v THEN 1
                              WHEN b.v < a.v THEN -1 ELSE 0 END)::BIGINT AS s_stat
              FROM daily a JOIN daily b ON a.grp = b.grp AND a.t < b.t
              GROUP BY a.grp
            ),
            ties AS (
              SELECT grp,
                     sum(tc * (tc - 1) * (2 * tc + 5))::BIGINT AS tie_term,
                     sum(tc)::BIGINT AS n_periods
              FROM (SELECT grp, v, count(*)::BIGINT AS tc
                    FROM daily GROUP BY 1, 2)
              GROUP BY grp
            ),
            calc AS (
              -- LEFT join: n=1 groups emit no pair row but still get a
              -- (S=0, z=0, no_trend) output row (r12 ADVICE, operator
              -- behavior.mann_kendall fixed identically)
              SELECT t.grp, n_periods,
                     coalesce(s_stat, 0)::BIGINT AS s_stat,
                     CAST(n_periods * (n_periods - 1) * (2 * n_periods + 5)
                          - tie_term AS DOUBLE) / 18.0 AS vs
              FROM ties t LEFT JOIN pairs p ON t.grp = p.grp
            ),
            zc AS (
              SELECT grp, n_periods, s_stat, vs,
                     round(CASE WHEN s_stat > 0 AND vs > 0
                                THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(vs)
                                WHEN s_stat < 0 AND vs > 0
                                THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(vs)
                                ELSE 0.0 END, 6) AS z
              FROM calc
            )
            SELECT grp, n_periods, s_stat, round(vs, 6) AS var_s, z,
                   CASE WHEN z > 1.96 THEN 'increasing'
                        WHEN z < -1.96 THEN 'decreasing'
                        ELSE 'no_trend' END AS trend
            FROM zc
        """
    # Zipf rank-frequency fit per language (new r12): top-200 token
    # frequencies (count DESC, token ASC tiebreak — DuckDB can afford
    # the plain per-group window the operator two-phases), 9dp-decimal
    # folds of the ln terms, slope/intercept/r2 derived from the
    # UNROUNDED slope and rounded once, mirroring the operator.
    d["doc_zipf"] = f"""
            WITH tf AS (
              SELECT grp, tok, count(*)::BIGINT AS c
              FROM (SELECT lang AS grp, unnest({_TOKS_NORM}) AS tok
                    FROM documents)
              WHERE tok <> '' GROUP BY 1, 2
            ),
            ranked AS (
              SELECT grp, c,
                     row_number() OVER (PARTITION BY grp
                       ORDER BY c DESC, tok ASC) AS rank
              FROM tf
              QUALIFY rank <= 200
            ),
            agg AS (
              SELECT grp, count(*)::BIGINT AS n_ranks,
                     CAST(sum(CAST(round(ln(rank), 9) AS DECIMAL(38,9))) AS DOUBLE) AS sx,
                     CAST(sum(CAST(round(ln(c), 9) AS DECIMAL(38,9))) AS DOUBLE) AS sy,
                     CAST(sum(CAST(round(ln(rank) * ln(c), 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
                     CAST(sum(CAST(round(ln(rank) * ln(rank), 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
                     CAST(sum(CAST(round(ln(c) * ln(c), 9) AS DECIMAL(38,9))) AS DOUBLE) AS syy
              FROM ranked GROUP BY grp
            ),
            mo AS (
              SELECT grp, n_ranks, sx, sy,
                     CAST(n_ranks AS DOUBLE) AS n,
                     CAST(n_ranks AS DOUBLE) * sxy - sx * sy AS cov_n,
                     CAST(n_ranks AS DOUBLE) * sxx - sx * sx AS varx_n,
                     CAST(n_ranks AS DOUBLE) * syy - sy * sy AS vary_n
              FROM agg
            ),
            sl AS (
              SELECT *, CASE WHEN varx_n > 0 THEN cov_n / varx_n
                             ELSE 0.0 END AS slope_raw
              FROM mo
            )
            SELECT grp, n_ranks,
                   round(slope_raw, 6) AS slope,
                   round((sy - slope_raw * sx) / n, 6) AS intercept,
                   round(CASE WHEN varx_n > 0 AND vary_n > 0
                              THEN cov_n * cov_n / (varx_n * vary_n)
                              ELSE 0.0 END, 6) AS r2
            FROM sl
        """
    # NDCG@5 of IVF vs exact (new r12): shared IVF-vs-exact derivation;
    # relevance 6-rank_b, discount log2(1+rank_a), 9dp-decimal term
    # fold, ideal-DCG literal identical to the operator's driver-side
    # constant (both engines fold the same repr-inlined double)
    import math as _math

    _idcg5 = sum((5 + 1 - d) / _math.log2(1 + d) for d in range(1, 6))
    d["ann_ndcg"] = f"""
            WITH {_IVF_VS_EXACT_CTES},
            hits AS (
              SELECT i.query_id,
                     CAST(round(CAST(6 - b.rank AS DOUBLE)
                                / log2(1.0 + CAST(i.rank AS DOUBLE)), 9)
                          AS DECIMAL(38,9)) AS term
              -- rank <= 5 twins the operator's new clamp (r12 ADVICE):
              -- a no-op here since both CTEs are top-5 lists already
              FROM ivfk i JOIN brute b
                ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
               AND i.rank <= 5 AND b.rank <= 5
            ),
            qs AS (
              SELECT DISTINCT query_id FROM ivfk
              UNION
              SELECT DISTINCT query_id FROM brute
            ),
            per_q AS (
              SELECT query_id, sum(term) AS s FROM hits GROUP BY query_id
            )
            SELECT qs.query_id,
                   round(coalesce(CAST(s AS DOUBLE), 0.0) / {_idcg5!r}, 6) AS ndcg
            FROM qs LEFT JOIN per_q USING (query_id)
        """
    # live rater severity's batch fallback (new r13): per-rater mean
    # gap vs the FROZEN per-item decimal-fold mean reference — the
    # streamable fixed-reference variant of events_rater_bias.  6dp
    # score round, 9dp gap fold in DECIMAL(38,9), one division per
    # aggregate, mirroring preference.rater_severity exactly.
    d["stream_rater_severity"] = """
            WITH scores AS (
              SELECT user_id AS item,
                     event_id % 7 AS rater,
                     round(CAST(value AS DOUBLE), 6) AS v
              FROM events
              WHERE value IS NOT NULL
            ),
            ref AS (
              SELECT item,
                     round(CAST(sum(CAST(round(v, 6) AS DECIMAL(38,6)))
                                AS DOUBLE) / count(*), 6) AS ref
              FROM scores GROUP BY item
            ),
            j AS (
              SELECT rater, v, v - ref AS gap
              FROM scores JOIN ref USING (item)
            )
            SELECT rater, count(*)::BIGINT AS n_scored,
                   round(CAST(sum(CAST(round(v, 6) AS DECIMAL(38,6)))
                              AS DOUBLE) / count(*), 6) AS mean_score,
                   round(CAST(sum(CAST(round(gap, 9) AS DECIMAL(38,9)))
                              AS DOUBLE) / count(*), 6) AS mean_gap
            FROM j GROUP BY rater
        """
    # Gini over token frequencies per language (new r13): DuckDB can
    # afford the plain ascending row_number over the (grp, token)
    # counts — sum(rn * c) is tie-order invariant, so it equals the
    # operator's closed-form tie-class rank sums exactly (both exact
    # integers until the one double division)
    d["doc_gini"] = f"""
            WITH tf AS (
              SELECT grp, tok, count(*)::BIGINT AS c
              FROM (SELECT lang AS grp, unnest({_TOKS_NORM}) AS tok
                    FROM documents)
              WHERE tok <> '' GROUP BY 1, 2
            ),
            r AS (
              SELECT grp, c,
                     row_number() OVER (PARTITION BY grp
                       ORDER BY c ASC, tok ASC) AS rn
              FROM tf
            )
            SELECT grp, count(*)::BIGINT AS vocab, sum(c)::BIGINT AS n_tokens,
                   round(2.0 * CAST(sum(rn * c) AS DOUBLE)
                           / (CAST(count(*) AS DOUBLE) * CAST(sum(c) AS DOUBLE))
                         - (CAST(count(*) AS DOUBLE) + 1.0)
                           / CAST(count(*) AS DOUBLE), 6) AS gini
            FROM r GROUP BY grp
        """
    # Kendall's tau over the IVF-vs-exact overlap (new r13): shared
    # derivation; exact integer concordant/discordant pair counts over
    # the overlap rows (ranks are distinct within a list — tau-a), one
    # division rounded once, zero-overlap queries emit an explicit row
    d["ann_kendall_tau"] = f"""
            WITH {_IVF_VS_EXACT_CTES},
            hits AS (
              SELECT i.query_id, i.rank AS rank_a, b.rank AS rank_b
              FROM ivfk i JOIN brute b
                ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
            ),
            per AS (
              SELECT x.query_id,
                     sum(CASE WHEN y.rank_b > x.rank_b THEN 1 ELSE 0 END)::BIGINT
                       AS concordant,
                     sum(CASE WHEN y.rank_b < x.rank_b THEN 1 ELSE 0 END)::BIGINT
                       AS discordant
              FROM hits x JOIN hits y
                ON x.query_id = y.query_id AND x.rank_a < y.rank_a
              GROUP BY x.query_id
            ),
            m AS (
              SELECT query_id, count(*)::BIGINT AS n_overlap
              FROM hits GROUP BY query_id
            ),
            qs AS (
              SELECT DISTINCT query_id FROM ivfk
              UNION
              SELECT DISTINCT query_id FROM brute
            )
            SELECT qs.query_id,
                   coalesce(n_overlap, 0)::BIGINT AS n_overlap,
                   coalesce(concordant, 0)::BIGINT AS concordant,
                   coalesce(discordant, 0)::BIGINT AS discordant,
                   round(CASE WHEN coalesce(n_overlap, 0) >= 2
                         THEN CAST(concordant - discordant AS DOUBLE)
                              / (CAST(n_overlap * (n_overlap - 1) AS DOUBLE)
                                 / 2.0)
                         ELSE 0.0 END, 6) AS tau
            FROM qs LEFT JOIN m USING (query_id) LEFT JOIN per USING (query_id)
        """
    # Theil-Sen per event type over daily counts (new r13): lower
    # median (single order statistic at rank (m+1)//2 — tie-order
    # invariant in VALUE) of 9dp-rounded pairwise slopes over the daily
    # aggregate; n=1 groups emit (0 pairs, 0.0) via the LEFT join
    d["events_theil_sen"] = """
            WITH daily AS (
              SELECT event_type AS grp,
                     epoch_us(ts)::BIGINT // 86400000000 AS t,
                     count(*)::BIGINT AS v
              FROM events GROUP BY 1, 2
            ),
            periods AS (
              SELECT grp, count(*)::BIGINT AS n_periods FROM daily GROUP BY grp
            ),
            slopes AS (
              SELECT a.grp,
                     round(CAST(b.v - a.v AS DOUBLE)
                           / CAST(b.t - a.t AS DOUBLE), 9) AS slope
              FROM daily a JOIN daily b ON a.grp = b.grp AND a.t < b.t
            ),
            ranked AS (
              SELECT grp, slope,
                     row_number() OVER (PARTITION BY grp ORDER BY slope ASC)
                       AS rn,
                     count(*) OVER (PARTITION BY grp)::BIGINT AS n_pairs
              FROM slopes
            ),
            med AS (
              SELECT grp, n_pairs, slope
              FROM ranked WHERE rn = (n_pairs + 1) // 2
            )
            SELECT p.grp, n_periods,
                   coalesce(n_pairs, 0)::BIGINT AS n_pairs,
                   round(coalesce(slope, 0.0), 6) AS slope
            FROM periods p LEFT JOIN med USING (grp)
        """
    # per-rater confusion vs the item consensus (new r13): the modal
    # pick replays the stream_consensus oracle's (c DESC, cat ASC)
    # tiebreak; exact integer counts only
    d["events_rater_confusion"] = """
            WITH cnt AS (
              SELECT user_id AS item, event_type AS cat, count(*)::BIGINT AS c
              FROM events GROUP BY 1, 2
            ),
            m AS (
              SELECT item, cat, c,
                     row_number() OVER (PARTITION BY item
                       ORDER BY c DESC, cat ASC) AS rn
              FROM cnt
            ),
            cons AS (SELECT item, cat AS consensus_cat FROM m WHERE rn = 1)
            SELECT event_id % 7 AS rater, consensus_cat,
                   event_type AS label_cat, count(*)::BIGINT AS n
            FROM events JOIN cons ON events.user_id = cons.item
            GROUP BY 1, 2, 3
        """
    # one-sided CUSUM per event type over daily counts (new r12): the
    # prefix-sum-minus-prefix-min identity in exact scaled-integer
    # arithmetic (n*v - tot stays BIGINT), one /n division and the
    # 6dp-rounded 4-sigma comparison per row — engine-equal boundaries
    d["events_cusum"] = """
            WITH daily AS (
              SELECT event_type AS grp,
                     epoch_us(ts)::BIGINT // 86400000000 AS t,
                     count(*)::BIGINT AS v
              FROM events GROUP BY 1, 2
            ),
            stats AS (
              SELECT grp, count(*)::BIGINT AS n, sum(v)::BIGINT AS tot,
                     sum(v * v)::BIGINT AS tot2
              FROM daily GROUP BY grp
            ),
            run AS (
              SELECT d.grp, t, v, n, tot, tot2,
                     sum(n * v - tot) OVER (PARTITION BY d.grp ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
              FROM daily d JOIN stats s ON d.grp = s.grp
            ),
            run2 AS (
              -- least(0, .) clamps the running min to the P_0 = 0
              -- baseline (S_0 = 0): without it a series starting above
              -- its mean undercounts to zero (r12 ADVICE high, operator
              -- behavior.cusum_counts fixed identically)
              SELECT *, least(0, min(p) OVER (PARTITION BY grp ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS pmin
              FROM run
            )
            SELECT grp, t, v,
                   round(CAST(p - pmin AS DOUBLE) / CAST(n AS DOUBLE), 6) AS cusum,
                   round(CAST(p - pmin AS DOUBLE) / CAST(n AS DOUBLE), 6)
                     > round(4.0 * sqrt(CAST(n * tot2 - tot * tot AS DOUBLE))
                             / CAST(n AS DOUBLE), 6) AS alarm
            FROM run2
        """
    # Benford audit (new r12): integer-cents fixed point, first digit
    # by integer division (floor() in DuckDB — its double->INT cast
    # ROUNDS where Spark's truncates), repr-inlined log10 expectations
    _benford_case = "CASE digit " + " ".join(
        f"WHEN {dd} THEN {__import__('math').log10(1 + 1 / dd)!r}"
        for dd in range(1, 10)
    ) + " END"
    d["events_benford"] = f"""
            WITH pos AS (
              SELECT event_type AS grp,
                     CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) AS n
              FROM events
              WHERE value IS NOT NULL
                AND floor(CAST(value AS DOUBLE) * 100) > 0
            ),
            cnt AS (
              SELECT grp,
                     CAST(floor(n / power(10, length(n::VARCHAR) - 1)) AS INT)
                       AS digit,
                     count(*)::BIGINT AS n_obs
              FROM pos GROUP BY 1, 2
            ),
            tot AS (SELECT grp, sum(n_obs)::BIGINT AS n_tot FROM cnt GROUP BY grp),
            j AS (
              SELECT c.grp, digit, n_obs, n_tot, {_benford_case} AS e
              FROM cnt c JOIN tot t ON c.grp = t.grp
            )
            SELECT grp, digit, n_obs,
                   round(CAST(n_obs AS DOUBLE) / CAST(n_tot AS DOUBLE), 6)
                     AS obs_share,
                   round(e, 6) AS expected_share,
                   round((CAST(n_obs AS DOUBLE) - e * CAST(n_tot AS DOUBLE))
                         * (CAST(n_obs AS DOUBLE) - e * CAST(n_tot AS DOUBLE))
                         / (e * CAST(n_tot AS DOUBLE)), 6) AS chi2_term
            FROM j
        """
    # Simpson token diversity per language (new r12): exact BIGINT
    # c(c-1) fold; one division per group
    d["doc_simpson"] = f"""
            WITH tf AS (
              SELECT grp, tok, count(*)::BIGINT AS c
              FROM (SELECT lang AS grp, unnest({_TOKS_NORM}) AS tok
                    FROM documents)
              WHERE tok <> '' GROUP BY 1, 2
            ),
            agg AS (
              SELECT grp, sum(c)::BIGINT AS n_tokens,
                     count(*)::BIGINT AS vocab,
                     sum(c * (c - 1))::BIGINT AS same
              FROM tf GROUP BY grp
            )
            SELECT grp, n_tokens, vocab,
                   round(CASE WHEN n_tokens > 1
                         THEN CAST(same AS DOUBLE)
                              / (CAST(n_tokens AS DOUBLE)
                                 * CAST(n_tokens - 1 AS DOUBLE))
                         ELSE 0.0 END, 6) AS simpson_d,
                   round(1.0 - CASE WHEN n_tokens > 1
                         THEN CAST(same AS DOUBLE)
                              / (CAST(n_tokens AS DOUBLE)
                                 * CAST(n_tokens - 1 AS DOUBLE))
                         ELSE 0.0 END, 6) AS diversity
            FROM agg
        """
    # the streaming consensus twin's batch fallback IS consensus_labels
    # over (user_id, event_type): modal category per item, ties toward
    # the smallest category, singleton items included
    d["stream_consensus"] = """
            WITH cnt AS (
              SELECT user_id AS item, event_type AS cat, count(*)::BIGINT AS c
              FROM events GROUP BY 1, 2
            ),
            m AS (
              SELECT item, cat, c,
                     row_number() OVER (PARTITION BY item
                       ORDER BY c DESC, cat ASC) AS rn,
                     sum(c) OVER (PARTITION BY item)::BIGINT AS n_labels
              FROM cnt
            )
            SELECT item, n_labels, cat AS consensus_cat, c AS n_consensus,
                   round(CAST(c AS DOUBLE) / CAST(n_labels AS DOUBLE), 6)
                     AS consensus_share
            FROM m WHERE rn = 1
        """
    return d
