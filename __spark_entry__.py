"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md
§2 through the csp_spark library; ``oracle_sql()`` gives the DuckDB
equivalent. Floating-point determinism policy: large aggregates route
through DECIMAL casts on BOTH sides (exact, association-independent);
bounded statistics are rounded identically (6 dp) on both sides;
pure per-row arithmetic (diff/sample/delay) is emitted raw — IEEE ops
on identical inputs are bit-identical across engines.

Timestamps: events.parquet carries TIMESTAMP(NANOS); both engines
truncate to µs (DuckDB's TIMESTAMP is µs; our sources.read_table
converts), so ts values and window membership agree exactly.
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import csp_spark as csp
from csp_spark import TickStream
from csp_spark.core.ticks import KEY, SEQ, TS
from csp_spark.operators import baselib as bl
from csp_spark.operators.basketlib import sample_basket as basket_sample_op
from csp_spark.operators.basketlib import sync as basket_sync_op
from csp_spark.plans import dynamic_apply, feedback_iterate
from csp_spark.sources import read_table
from csp_spark.sources.random_gen import brownian_motion, poisson_timer
from csp_spark.stats import (
    Rolling, RollingPair, cov_corr_matrix, ema, ema_std, ema_var,
)
from csp_spark import dedup as DD
from csp_spark import text as TX
from csp_spark.similarity import cosine, cosine_topk, lsh_topk


# ----------------------------------------------------------------------
# helpers
# ----------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, f"{sf_dir}/{name}.parquet")


def _events_stream(
    spark: SparkSession, sf_dir: str, event_type: str | None = None
) -> TickStream:
    df = _t(spark, sf_dir, "events")
    if event_type is not None:
        df = df.filter(F.col("event_type") == event_type)
    return TickStream.from_table(
        df, ts_col="ts", value_col="value", key_col="user_id", seq_col="event_id"
    )


def _out(x: TickStream, value_name: str = "value") -> DataFrame:
    """(key, ts, seq, value) → (event_id, user_id, <value_name>)."""
    return x.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.col(x.value_col).alias(value_name),
    )


_DEC = "decimal(28,10)"


def _dsum(col):  # exact, association-independent sum → double
    return F.sum(col.cast(_DEC)).cast("double")


# ----------------------------------------------------------------------
# relational queries (TPC-H-ish; exercise join/agg/broadcast paths)
# ----------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(dt.datetime(2000, 9, 2))
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    out = (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(_dsum(F.col("l_quantity")), 4).alias("sum_qty"),
            F.round(_dsum(F.col("l_extendedprice")), 4).alias("sum_base_price"),
            F.round(_dsum(disc_price), 4).alias("sum_disc_price"),
            F.round(_dsum(charge), 4).alias("sum_charge"),
            F.round(_dsum(F.col("l_quantity")) / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.round(_dsum(F.col("l_extendedprice")) / F.count(F.lit(1)), 6).alias("avg_price"),
            F.round(_dsum(F.col("l_discount")) / F.count(F.lit(1)), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return out


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(dt.datetime(1998, 3, 15))
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(dt.datetime(1998, 3, 15))
    )
    # No forced broadcast: orders⋈customer is NOT a dimension table and
    # at 100× scale a broadcast hint (which Catalyst obeys regardless of
    # size) OOMs the build side. AQE picks broadcast at small SF anyway.
    j = l.join(
        o.join(c, o.o_custkey == c.c_custkey),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        j.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.col("o_orderkey"))
        .limit(10)
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    # Force broadcast ONLY for true dimension tables (nation 25 rows,
    # region 5 rows — constant at every SF). supplier/customer/orders
    # grow with SF: let AQE choose broadcast vs shuffle at runtime.
    j = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        j.groupBy("r_name", "n_name")
        .agg(
            F.round(
                _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit(dt.datetime(1996, 1, 1)))
            & (F.col("l_shipdate") < F.lit(dt.datetime(1997, 1, 1)))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(_dsum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    # customer grows with SF — no forced broadcast (AQE decides);
    # nation is a constant-size dimension, keep the hint.
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(20)
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join (orders with a late-shipping
    lineitem). left_semi keeps the probe side un-duplicated — no
    post-join distinct, one shuffle on the join key."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(dt.datetime(1995, 1, 1)))
        & (F.col("o_orderdate") < F.lit(dt.datetime(1995, 4, 1)))
    )
    l = _t(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate >= o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join with an ON-clause filter (so
    customers with zero qualifying orders stay, with count 0), then a
    distribution re-aggregation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: semi-join against a grouped-HAVING subquery
    (orders whose total quantity exceeds a threshold), then a
    customer join + top-N. Quantity sums go through DECIMAL on both
    engines — association-independent, so the HAVING threshold can't
    flip on float summation order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("sq"))
        .filter(F.col("sq") > 250)
        .select("l_orderkey")
    )
    j = (
        l.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
    )
    return (
        j.groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(_dsum(F.col("l_quantity")), 4).alias("sum_qty"))
        # order by the ROUNDED price (what both engines output) with a
        # key tiebreak, so the top-50 cut can't differ on sub-4dp noise
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.round("o_totalprice", 4).alias("o_totalprice"), "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .limit(50)
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-group min via aggregate + join-back (the
    correlated-MIN subquery pattern), over a dimension snowflake.
    The testdata schema has no partsupp, so lineitem is the
    part↔supplier bridge: unit cost = decimal-summed price/qty ratio
    per (part, supplier) — association-independent, so the MIN
    equality join-back cannot flip on float order."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") < 10)
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    l = _t(spark, sf_dir, "lineitem")
    cost = (
        l.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.round(
                _dsum(F.col("l_extendedprice") / F.col("l_quantity"))
                / F.count(F.lit(1)),
                4,
            ).alias("supply_cost")
        )
    )
    # restrict to EUROPE suppliers BEFORE the min (mirrors Q2's
    # correlated subquery scoping); nation/region are true dimensions.
    eu_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu_cost = cost.join(eu_supp, cost.l_suppkey == eu_supp.s_suppkey)
    # correlated-MIN via a window over the SAME rows instead of a
    # groupBy + equality join-back: the join-back form planned the
    # whole eu_cost subtree TWICE (two full lineitem scans+aggregates)
    # and sort-merge-joined the two copies on (partkey, cost); the
    # full-frame window min computes eu_cost once behind ONE
    # l_partkey exchange and keeps the same rows — supply_cost is a
    # DECIMAL, so the equality is exact in both forms (guide §2.4/§3;
    # r12: 18 scans → 10, 12 Exchanges → 6, SortMergeJoin → none,
    # row-identical at sf0.001/0.01/0.1).
    min_w = Window.partitionBy("l_partkey")
    flt = eu_cost.withColumn(
        "min_cost", F.min("supply_cost").over(min_w)
    ).filter(F.col("supply_cost") == F.col("min_cost"))
    return (
        flt.join(p, flt.l_partkey == p.p_partkey)
        .select(
            F.round("s_acctbal", 4).alias("s_acctbal"),
            "s_name", "n_name", "p_partkey", "supply_cost",
        )
        .orderBy(F.desc("s_acctbal"), F.col("s_name"), F.col("p_partkey"))
        .limit(20)
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: directional nation-pair join (supplier nation x
    customer nation, both directions kept) + year bucketing."""
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
    )
    pair = (("NATION_1", "NATION_2"), ("NATION_2", "NATION_1"))
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(dt.datetime(1996, 1, 1)))
        & (F.col("l_shipdate") < F.lit(dt.datetime(1998, 1, 1)))
    )
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .filter(
            ((F.col("supp_nation") == pair[0][0]) & (F.col("cust_nation") == pair[0][1]))
            | ((F.col("supp_nation") == pair[1][0]) & (F.col("cust_nation") == pair[1][1]))
        )
    )
    return (
        j.groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: conditional-aggregate ratio (market share of one
    supplier nation inside a region's order volume, per year)."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = _t(spark, sf_dir, "nation")  # customer nation, scopes region
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(dt.datetime(1995, 1, 1)))
        & (F.col("o_orderdate") < F.lit(dt.datetime(1997, 1, 1)))
    )
    c = _t(spark, sf_dir, "customer")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(r), n1.n_regionkey == r.r_regionkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sk"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                _dsum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
                / _dsum(vol),
                6,
            ).alias("mkt_share")
        )
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: LIKE-filtered part scan through a 5-way join,
    profit per (supplier nation, year). No partsupp in the testdata
    schema, so supply cost is proxied by 0.5 * p_retailprice."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    )
    j = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(_dsum(amount), 4).alias("sum_profit"))
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: grouped HAVING against a global-scalar
    subquery (parts whose shipped value exceeds a fraction of total).
    The scalar total is a 1-row aggregate cross-joined in — Catalyst
    broadcasts it; no driver-side collect."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 0)
    val = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    scoped = l.join(s, l.l_suppkey == s.s_suppkey)
    per_part = scoped.groupBy("l_partkey").agg(_dsum(val).alias("part_value"))
    total = scoped.agg((_dsum(val) * F.lit(0.0007)).alias("threshold"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", F.round("part_value", 4).alias("part_value"))
    )


def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional CASE aggregation after a join —
    late-shipping lines (shipdate > orderdate + 30 days) bucketed by
    line status, counting urgent vs non-urgent order priorities."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(dt.datetime(1996, 1, 1)))
        & (F.col("l_shipdate") < F.lit(dt.datetime(1997, 1, 1)))
    )
    o = _t(spark, sf_dir, "orders")
    j = l.join(o, l.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: single-row conditional-aggregate ratio
    (promo revenue share over one shipping month)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(dt.datetime(1996, 3, 1)))
        & (F.col("l_shipdate") < F.lit(dt.datetime(1996, 4, 1)))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * _dsum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / _dsum(rev),
                6,
            ).alias("promo_revenue")
        )
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate view + MAX-scalar equality join
    (supplier(s) with the quarter's highest revenue). Revenue goes
    through DECIMAL so the MAX-equality cannot flip on float order."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(dt.datetime(1996, 1, 1)))
        & (F.col("l_shipdate") < F.lit(dt.datetime(1996, 4, 1)))
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("total_revenue")
        )
        # the revenue view feeds BOTH the MAX scalar and the equality
        # filter; as two plan subtrees the quarter's lineitem scan +
        # aggregate ran twice (column pruning makes the copies differ,
        # so ReuseExchange never fires). A lazy localCheckpoint
        # materializes the supplier-sized view once and both readers
        # share it (guide §3.3/§5 — the run_node device; an
        # unpartitioned window-MAX would instead single-partition the
        # view, the known 100 TB hazard). Row-identical at all SFs.
        .localCheckpoint(eager=False)
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT-IN anti-join + COUNT(DISTINCT) per
    attribute group. Suppliers with negative balance stand in for the
    'complaints' NOT IN subquery; lineitem bridges part↔supplier."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size") <= 8)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    l = _t(spark, sf_dir, "lineitem")
    link = (
        l.select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, F.col("l_partkey") == p.p_partkey)
    )
    return (
        link.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part AVG subquery (lines whose
    quantity is below 40% of their part's average). The correlated
    aggregate is a grouped aggregate joined back — one shuffle on
    l_partkey, no per-row subquery execution."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    # correlated AVG as a window over the SAME (already part-filtered)
    # rows instead of a grouped aggregate joined back to a SECOND,
    # UNFILTERED lineitem scan: one scan instead of two, the exchange
    # carries only the Brand#2 lines, and the avg table no longer has
    # to fit a broadcast (guide §2.4/§3.2; r12: 2 lineitem scans → 1,
    # row-identical at sf0.001/0.01/0.1 — the window sum is the same
    # exact DECIMAL sum the groupBy form computed). The part-key join
    # is deliberately un-hinted: the planner broadcasts it at these
    # sizes, and at a scale where Brand#2's key set outgrows the
    # broadcast cap it must keep its shuffle fallback.
    j = l.join(p.select("p_partkey"), l.l_partkey == F.col("p_partkey"))
    avg_w = Window.partitionBy("l_partkey")
    qty_cut = F.lit(0.4) * (
        F.sum(F.col("l_quantity").cast(_DEC)).over(avg_w).cast("double")
        / F.count(F.lit(1)).over(avg_w)
    )
    return (
        j.withColumn("qty_cut", qty_cut)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(_dsum(F.col("l_extendedprice")) / F.lit(7.0), 4).alias(
                "avg_yearly"
            )
        )
    )


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    ranges — exercises OR-predicate pushdown through a join."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = l.join(p, l.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        F.round(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue")
    )


def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain — suppliers who shipped
    more than a threshold quantity of LIKE-matched parts in a year,
    restricted to one region. partsupp-less: the availability
    subquery aggregates lineitem per (supplier, part)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(dt.datetime(1996, 1, 1)))
        & (F.col("l_shipdate") < F.lit(dt.datetime(1997, 1, 1)))
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    shipped = (
        l.join(p.select("p_partkey"), l.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(_dsum(F.col("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(shipped, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), s.s_nationkey == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name")
    )


def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT-EXISTS over sibling lineitems —
    the sole late supplier in multi-supplier finished orders.
    Expressed as one order-level aggregate (supplier count + late
    supplier count) joined back: one shuffle on orderkey replaces the
    correlated double subquery, same semantics."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    ll = l.join(o.select("o_orderkey", "o_orderdate"),
                l.l_orderkey == F.col("o_orderkey"))
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    # ONE aggregation pipeline, two levels: per-(order, supplier)
    # late-flag first (plain hash agg with map-side partials — no
    # distinct-aggregate Expand), then per-order counts over the tiny
    # pair rows. A qualifying order has exactly one late supplier, so
    # min(late suppkey) IS that supplier — no second lineitem⋈orders
    # pass, no semi-join-back, no distinct.
    per_pair = ll.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(late.cast("int")).alias("is_late")
    )
    waiting = (
        per_pair.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("is_late").alias("n_late_supp"),
            F.min(F.when(F.col("is_late") == 1, F.col("l_suppkey")))
            .alias("l_suppkey"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .select("l_orderkey", "l_suppkey")
    )
    return (
        waiting.join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.col("s_name"))
        .limit(25)
    )


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: anti-join (customers with no orders) against a
    positive-balance AVG scalar subquery, grouped by segment."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY", "AUTOMOBILE")
    )
    # anti-join against URGENT orders (every synthetic customer has
    # *some* order, so the classic no-orders form returns zero rows —
    # "no urgent order" keeps the anti-join shape with real output)
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (_dsum(F.col("c_acctbal")) / F.count(F.lit(1))).alias("ab")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(_dsum(F.col("c_acctbal")), 4).alias("totacctbal"),
        )
    )


# ----------------------------------------------------------------------
# baselib operator queries over the events tick stream (SURVEY.md §2.3)
# ----------------------------------------------------------------------

def op_count(spark, sf_dir):
    return _out(bl.count(_events_stream(spark, sf_dir)), "n_ticks")


def op_struct_record(spark, sf_dir):
    # csp.Struct parity (csp/impl/struct.py:17-346): typed record with a
    # defaulted field (qty=1.0 until the view stream first ticks), an
    # unset field (side → NULL), and last-value packing via
    # Struct.fromts (csp.struct_fromts semantics).
    from csp_spark import Struct

    class OrderRec(Struct):
        price: float
        qty: float = 1.0
        side: str

    clicks = _events_stream(spark, sf_dir, "click")
    views = _events_stream(spark, sf_dir, "view")
    rec = OrderRec.fromts({"price": clicks, "qty": views})
    v = rec.value_col
    typed = rec.df.withColumn(
        v, OrderRec.apply_defaults(F.col(v), ["price", "qty"])
    )
    return typed.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.col(f"{v}.price").alias("price"),
        F.col(f"{v}.qty").alias("qty"),
        F.col(f"{v}.side").alias("side"),
    )


def op_exprtk_state(spark, sf_dir):
    # csp.exprtk with STATE VARIABLES (csp/baselib.py:640-673
    # state_vars): per-key recurrence s := 0.5*s + x evaluated in the
    # Arrow path; oracle replays the fold with DuckDB list_reduce.
    from csp_spark.operators.exprtk import exprtk_ts

    clicks = _events_stream(spark, sf_dir, "click")
    out = exprtk_ts({"x": clicks}, "s := 0.5*s + x; s", state_vars={"s": 0.0})
    # no rounding: both sides replay the identical IEEE fold, and the
    # dyadic results land on exact .5 ties at 6dp where the engines'
    # round() implementations disagree
    return out.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.col("value").alias("s_out"),
    )


def op_hot_key_running(spark, sf_dir):
    """Skew routing (core/unkeyed.py running_hot_keys): one user_id is
    declared hot and runs the two-pass prefix plan over 8 tasks while
    every other key keeps the plain keyed window — output is identical
    either way (the routing is a physical choice), so the oracle is
    the ordinary keyed running-sum SQL over ALL keys."""
    from csp_spark.core.unkeyed import running_hot_keys

    x = _events_stream(spark, sf_dir)
    out = running_hot_keys(x, "sum", hot_keys=["7"], num_partitions=8)
    return out.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        (F.round(F.col("value"), 4) + F.lit(0.0)).alias("running_sum"),
    )


def op_windowed_global_time(spark, sf_dir):
    """Time-interval twin of op_windowed_global: trailing-6-hour
    sum/count over the whole events table as ONE stream — tails
    replicate only the rows within 6h of each partition boundary."""
    from csp_spark.core.unkeyed import windowed_unkeyed

    ev = _t(spark, sf_dir, "events")
    x = TickStream.from_table(
        ev, ts_col="ts", value_col="value", seq_col="event_id"
    )
    out = windowed_unkeyed(
        x, window=dt.timedelta(hours=6), aggs=["sum", "count"]
    )
    return out.select(
        F.col(SEQ).alias("event_id"),
        (F.round(F.col("win_sum"), 4) + F.lit(0.0)).alias("w_sum"),
        F.col("win_count").alias("w_count"),
    )


def op_exprtk_vec(spark, sf_dir):
    # csp.exprtk output_ndarray=True (baselib.py:665): 'return [..]'
    # ticks a vector (array<double>); stateless form is one codegen
    # F.array. Unrolled via posexplode so the oracle compares plain
    # rows. Only correctly-rounded IEEE ops — bit-identical engines.
    from csp_spark.operators.exprtk import exprtk_ts

    clicks = _events_stream(spark, sf_dir, "click")
    out = exprtk_ts(
        {"x": clicks}, "return [x * 2, sqrt(x), x + 1]", output_ndarray=True
    )
    return out.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.posexplode("value").alias("comp", "v"),
    )


def op_feedback_scan(spark, sf_dir):
    """True per-cycle feedback (plans/runtime.py feedback_scan —
    csp.feedback's one-edge-latency topology): each tick sees the
    previous cycle's output; here a clamped decaying accumulator
    out = least(0.5*prev + x, 200). Per-key Arrow fold; the oracle
    replays the identical IEEE recursion with list_reduce — exact,
    no rounding."""
    from csp_spark.plans.runtime import feedback_scan

    clicks = _events_stream(spark, sf_dir, "click")
    out = feedback_scan(
        clicks, lambda v, prev: min(0.5 * prev + v, 200.0), init=0.0
    )
    return out.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.col("value").alias("fb_out"),
    )


def op_value_at(spark, sf_dir):
    # Historical buffer API (csp.value_at/time_at/values_at —
    # csp/impl/builtin_functions.py:105-270): every lookup form on one
    # stream. All tick-index lookups ride ONE window partition via
    # with_lookups (no joins — was 14 exchanges as per-lookup streams
    # joined on tick identity, now 5); only the time-offset form needs
    # its own union-pass stream, joined once.
    from csp_spark.operators import history as H

    x = _events_stream(spark, sf_dir)
    base = H.with_lookups(x, {
        "v_lag3": ("value_at", -3),
        "t_lag2": ("time_at", -2),
        "win": ("values_at", -5, -1),
    }).withColumn("n_win", F.size("win")).drop("win")
    v60 = H.value_at(x, dt.timedelta(seconds=-60))
    keys = [KEY, TS, SEQ]
    j = base.join(
        v60.df.select(*keys, F.col("value").alias("v_60s")), keys
    )
    return j.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        "v_lag3", "v_60s", "t_lag2", "n_win",
    )


def op_node_cumsum(spark, sf_dir):
    # imperative @csp.node execution (core/noderun.run_node): a
    # stateful per-cycle cumsum over every user's events, exact under
    # DECIMAL state (Python Decimal addition inside the node — same
    # precision discipline as op_accum's plan-side decimal sum).
    from decimal import Decimal

    from csp_spark import run_node

    x = _events_stream(spark, sf_dir)
    dec = TickStream(x.df.withColumn("value", F.col("value").cast("decimal(18,4)")))

    def cum(cycle):
        cycle.state["s"] = cycle.state.get("s", Decimal(0)) + cycle["x"]
        return float(round(cycle.state["s"], 4))

    out = run_node(cum, dec)
    return _out(out, "running_sum")


def op_accum(spark, sf_dir):
    x = _events_stream(spark, sf_dir)
    dec = TickStream(x.df.withColumn("value", F.col("value").cast("decimal(18,4)")))
    acc = bl.accum(dec, start=0.0)
    out = _out(acc, "running_sum")
    return out.withColumn("running_sum", F.round(F.col("running_sum"), 4))


def op_accum_global(spark, sf_dir):
    """Scalable UNKEYED running sum (core/unkeyed.py running_unkeyed):
    the whole events table as ONE logical stream in engine order —
    two-pass prefix plan, no single-partition window over the data
    (the align engine's documented GLOBAL_KEY limitation, removed for
    associative aggregates)."""
    from csp_spark.core.unkeyed import running_unkeyed

    ev = _t(spark, sf_dir, "events")
    x = TickStream.from_table(
        ev, ts_col="ts", value_col="value", seq_col="event_id"
    )
    out = running_unkeyed(x, "sum")
    return out.df.select(
        F.col(SEQ).alias("event_id"),
        F.round(F.col("value"), 4).alias("running_sum"),
    )


def op_windowed_global(spark, sf_dir):
    """Scalable UNKEYED fixed tick-window stats (core/unkeyed.py
    windowed_unkeyed): trailing-100-tick sum/count/mean/min/max over
    the whole events table as ONE stream — tail-replication plan, every
    window is __pid-partitioned; cross-partition traffic is (w-1) rows
    per boundary (the windowed twin of op_accum_global)."""
    from csp_spark.core.unkeyed import windowed_unkeyed

    ev = _t(spark, sf_dir, "events")
    x = TickStream.from_table(
        ev, ts_col="ts", value_col="value", seq_col="event_id"
    )
    out = windowed_unkeyed(x, window=100)
    return out.select(
        F.col(SEQ).alias("event_id"),
        (F.round(F.col("win_sum"), 4) + F.lit(0.0)).alias("w_sum"),
        F.col("win_count").alias("w_count"),
        (F.round(F.col("win_mean"), 6) + F.lit(0.0)).alias("w_mean"),
        (F.round(F.col("win_min"), 6) + F.lit(0.0)).alias("w_min"),
        (F.round(F.col("win_max"), 6) + F.lit(0.0)).alias("w_max"),
    )


def op_diff(spark, sf_dir):
    return _out(bl.diff(_events_stream(spark, sf_dir), 1), "dv")


def op_delay(spark, sf_dir):
    return _out(bl.delay(_events_stream(spark, sf_dir), 2), "lagged")


def op_firstn(spark, sf_dir):
    return _out(bl.firstN(_events_stream(spark, sf_dir), 5), "value")


def op_dropdups(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    x = TickStream.from_table(
        df, ts_col="ts", value_col="event_type", key_col="user_id", seq_col="event_id"
    )
    return _out(bl.drop_dups(x), "event_type")


def op_merge(spark, sf_dir):
    a = _events_stream(spark, sf_dir, "click")
    b = _events_stream(spark, sf_dir, "view")
    return _out(bl.merge(a, b), "value")


def op_sample_asof(spark, sf_dir):
    views = _events_stream(spark, sf_dir, "view")
    clicks = _events_stream(spark, sf_dir, "click")
    return _out(bl.sample(clicks, views), "last_view_value")


def op_filter(spark, sf_dir):
    purch = _events_stream(spark, sf_dir, "purchase")
    flag = TickStream(
        purch.df.withColumn("value", F.col("value") > 50), "value"
    )
    clicks = _events_stream(spark, sf_dir, "click")
    return _out(bl.filter_(flag, clicks), "value")


def op_unroll(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    x = TickStream(
        docs.select(
            F.col("doc_id").cast("string").alias(KEY),
            F.lit(dt.datetime(2024, 1, 1)).alias(TS),
            F.lit(0).cast("long").alias(SEQ),
            F.split(F.col("text"), " ").alias("value"),
        )
    )
    u = bl.unroll(x)
    return u.df.select(
        F.col(KEY).cast("long").alias("doc_id"),
        F.col(SEQ).alias("pos"),
        F.col("value").alias("word"),
    )


def op_split_false(spark, sf_dir):
    purch = _events_stream(spark, sf_dir, "purchase")
    flag = TickStream(purch.df.withColumn("value", F.col("value") > 50), "value")
    clicks = _events_stream(spark, sf_dir, "click")
    _t_side, f_side = bl.split(flag, clicks)
    return _out(f_side, "value")


def op_default(spark, sf_dir):
    clicks = _events_stream(spark, sf_dir, "click")
    d = bl.default(clicks, value=-1.0, start=dt.datetime(2023, 12, 31))
    return d.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.col(TS).alias("ts"),
        F.col("value"),
    )


def op_multiplex(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    basket = TickStream.from_table(
        ev, ts_col="ts", value_col="value", key_col="event_type", seq_col="event_id"
    )
    sel_rows = ev.filter(F.col("user_id") == 7)
    selector = TickStream.from_table(
        sel_rows, ts_col="ts", value_col="event_type", seq_col="event_id"
    )
    out = bl.multiplex(basket, selector)
    return out.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).alias("event_type"),
        F.col("value"),
    )


def op_gate(spark, sf_dir):
    purch = _events_stream(spark, sf_dir, "purchase")
    release = TickStream(purch.df.withColumn("value", F.col("value") > 50), "value")
    clicks = _events_stream(spark, sf_dir, "click")
    g = bl.gate(clicks, release)
    return g.df.select(
        F.col(KEY).cast("long").alias("user_id"),
        F.col(TS).alias("flush_ts"),
        F.col(SEQ).alias("flush_id"),
        F.size("value").alias("n_vals"),
        F.round(
            F.aggregate(
                "value",
                F.lit(0).cast(_DEC),
                lambda acc, v: (acc + v.cast(_DEC)).cast(_DEC),
            ).cast("double"),
            4,
        ).alias("sum_vals"),
    )


def op_struct_fromts(spark, sf_dir):
    clicks = _events_stream(spark, sf_dir, "click")
    views = _events_stream(spark, sf_dir, "view")
    s = bl.struct_fromts({"c": clicks, "v": views})
    return s.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.col("value.c").alias("last_click"),
        F.col("value.v").alias("last_view"),
    )


def basket_sync(spark, sf_dir):
    clicks = _events_stream(spark, sf_dir, "click")
    views = _events_stream(spark, sf_dir, "view")
    out = basket_sync_op(
        {"click": clicks, "view": views},
        threshold=dt.timedelta(hours=6),
        output_incomplete=False,
    )
    return out.df.select(
        F.col(KEY).cast("long").alias("user_id"),
        F.col(TS).alias("sync_ts"),
        F.col("value")["click"].alias("click_v"),
        F.col("value")["view"].alias("view_v"),
    )


def basket_sync_trigger(spark, sf_dir):
    # trigger-opened sync windows (reference basketlib.py:14-38
    # sync_list_internal: the threshold alarm arms on a trigger tick and
    # re-arms only after it fires): purchases open 6h windows per user;
    # clicks/views collected first-per-member inside each window.
    # Accepted triggers are the greedy >=threshold-apart subsequence —
    # the oracle reproduces that with a recursive CTE.
    clicks = _events_stream(spark, sf_dir, "click")
    views = _events_stream(spark, sf_dir, "view")
    purchases = _events_stream(spark, sf_dir, "purchase")
    out = basket_sync_op(
        {"click": clicks, "view": views},
        threshold=dt.timedelta(hours=6),
        output_incomplete=False,
        trigger=purchases,
    )
    return out.df.select(
        F.col(KEY).cast("long").alias("user_id"),
        F.col(TS).alias("sync_ts"),
        F.col("value")["click"].alias("click_v"),
        F.col("value")["view"].alias("view_v"),
    )


def dyn_snap_attach(spark, sf_dir):
    # csp.snap/snapkey/attach analogues (csp/impl/types/tstype.py:
    # 142-199): per-user subgraph triggered by clicks reads the view
    # stream's value snapped at its first click (csp.snap), its own key
    # (csp.snapkey), and the attached view slice (csp.attach).
    from csp_spark.plans.runtime import DYN_SRC, attached, dynamic_apply, snap

    clicks = _events_stream(spark, sf_dir, "click")
    views = _events_stream(spark, sf_dir, "view")

    def fn(pdf):
        base = snap(pdf, "ref")
        n_att = len(attached(pdf, "ref"))
        trig = pdf[pdf[DYN_SRC] == ""]
        out = trig[[KEY, TS, SEQ]].copy()
        out["value"] = trig["value"] + (base if base is not None else 0.0) + n_att
        return out

    out = dynamic_apply(
        clicks, fn,
        f"{KEY} string, {TS} timestamp, {SEQ} long, value double",
        attach={"ref": views}, snap_streams={"ref": views},
    )
    return _out(out, "v_out")


def dyn_cummax(spark, sf_dir):
    x = _events_stream(spark, sf_dir)

    def cummax(pdf):
        pdf = pdf.copy()
        pdf["value"] = pdf["value"].cummax()
        return pdf

    out = dynamic_apply(x, cummax, f"{KEY} string, {TS} timestamp, {SEQ} long, value double")
    return _out(out, "run_max")


def feedback_clamp(spark, sf_dir):
    """Driver-side fixed point (plans/runtime.py feedback_iterate, the
    csp.feedback analog): value' = min(2v, 1000) iterated to
    convergence (30-iteration cap). The oracle is the CLOSED FORM:
    min(2·u, 1000) iterated k times from v is min(v·2^k, 1000) by
    induction, the only fixed points are 0/1000/negative-divergence,
    and power-of-two scaling is IEEE-exact — so the k=30 form equals
    the iterated result bit-for-bit regardless of which iteration the
    checksum loop actually stopped at."""
    x = _events_stream(spark, sf_dir)
    init = TickStream(x.df.filter(F.col(KEY).cast("long") < 10))

    def step(cur):
        return cur.with_df(
            cur.df.withColumn("value", F.least(F.col("value") * 2, F.lit(1000.0)))
        )

    out = feedback_iterate(step, init, max_iters=30)
    return _out(out, "clamped")


def _feedback_clamp_oracle_sql() -> str:
    return """
SELECT event_id, user_id,
  least(CAST(value AS DOUBLE) * 1073741824.0, 1000.0) AS clamped
FROM events WHERE user_id < 10
"""


def random_poisson(spark, sf_dir):
    # hash-based RNG (md5 of seed|row-tag): partitioning-independent
    # AND engine-reproducible — the DuckDB oracle replays the exact
    # same draws, so even the stochastic source is hash-checked
    x = poisson_timer(
        spark, rate=0.5, start=dt.datetime(2024, 1, 1), end=dt.datetime(2024, 1, 2),
        seed=42,
    )
    return x.df.select(TS, F.round("value", 6).alias("elapsed_s"))


def _quality_oracle_sql() -> str:
    """Replays quality_classifier_scores: md5-uniform token weights,
    DECIMAL-exact per-doc mean, sigmoid, rounded (+0.0 signed-zero
    canon)."""
    u = f"(({_hex13_sql(_QMODEL_MD5)}) + 0.5) / 4503599627370496.0"
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
), t2 AS (SELECT * FROM toks WHERE length(token) > 0),
agg AS (
  SELECT doc_id,
    CAST(sum(CAST(2.0 * ({u}) - 1.0 AS DECIMAL(28,10))) / count(*) AS DOUBLE)
      AS m
  FROM t2 GROUP BY 1
)
SELECT d.doc_id,
  round(1.0 / (1.0 + exp(-coalesce(a.m, 0.0))), 6) + CAST(0.0 AS DOUBLE)
    AS q_score
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


_QMODEL_MD5 = "md5(concat('13|', token))"


def _hex13_sql(hexpr: str) -> str:
    """DuckDB integer from the first 13 hex chars of an md5 expression
    (no conv() in DuckDB) — mirrors hash_uniform's 52-bit draw."""
    terms = [
        f"(strpos('0123456789abcdef', substring({hexpr}, {i + 1}, 1)) - 1) "
        f"* {16 ** (12 - i)}"
        for i in range(13)
    ]
    return "(" + " + ".join(terms) + ")"


def _poisson_oracle_sql() -> str:
    import math as _m

    rate, horizon, seed = 0.5, 86400.0, 42
    n = max(int(rate * horizon + 4 * _m.sqrt(rate * horizon)) + 1, 8)
    md5e = f"md5(concat('{seed}|', CAST(id AS VARCHAR)))"
    u = f"(({_hex13_sql(md5e)}) + 0.5) / 4503599627370496.0"
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS id),
g AS (SELECT id, round(-ln({u}) / {rate}, 6) AS gap FROM ids),
t AS (SELECT id, sum(gap) OVER (ORDER BY id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t FROM g)
SELECT TIMESTAMP '2024-01-01 00:00:00'
         + to_microseconds(CAST(round(t * 1e6, 0) AS BIGINT)) AS ts,
  round(t, 6) AS elapsed_s
FROM t WHERE t <= {horizon}
"""


def random_brownian(spark, sf_dir):
    trig = _events_stream(spark, sf_dir)
    x = brownian_motion(trig, drift=0.01, vol=0.5, seed=42)
    return x.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.round("value", 6).alias("path"),
    )


def _brownian_oracle_sql() -> str:
    seed, drift, vol = 42, 0.01, 0.5
    tag = "concat(CAST(user_id AS VARCHAR), '|', CAST(epoch_us(ts) AS VARCHAR), '|', CAST(event_id AS VARCHAR))"
    def u(s: int) -> str:
        md5e = f"md5(concat('{s}|', {tag}))"
        return f"(({_hex13_sql(md5e)}) + 0.5) / 4503599627370496.0"
    z = f"sqrt(-2.0 * ln({u(seed)})) * cos(2.0 * pi() * {u(seed + 1)})"
    return f"""
WITH d AS (
  SELECT event_id, user_id, ts,
    coalesce((epoch_us(ts) - lag(epoch_us(ts)) OVER ({_W_USER})) / 1e6, 0.0) AS dt
  FROM events
), i AS (
  SELECT event_id, user_id, ts,
    round({drift} * dt + {vol} * sqrt(dt) * ({z}), 6) AS incr
  FROM d
)
SELECT event_id, user_id,
  round(sum(incr) OVER ({_W_USER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS path
FROM i
"""


def mm_features(spark, sf_dir):
    # multimodal plumbing: binary payload column -> deterministic fake
    # feature extraction via mapInPandas (real decode is stubbed — no
    # image/audio libs in this container). The stub's gray level is
    # sha256(payload)[0], which DuckDB can reproduce, so even the stub
    # path is hash-checked end-to-end (plumbing + batch iteration +
    # feature math). doc_id < 200 (not limit) keeps the subset
    # deterministic.
    from csp_spark.multimodal import image_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    payload = docs.select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return image_features(payload, payload_col="payload", id_col="doc_id")


# ----------------------------------------------------------------------
# csp.stats queries (SURVEY.md §2.5)
# ----------------------------------------------------------------------

def stats_rolling_tick(spark, sf_dir):
    x = _events_stream(spark, sf_dir)
    r = Rolling(x, interval=5, min_window=5)
    out = r.agg(
        roll_sum=F.round(r.sum_col(), 6),
        roll_mean=F.round(r.mean_col(), 6),
        roll_min=r.min_col(),
        roll_max=r.max_col(),
    )
    return out.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        "roll_sum", "roll_mean", "roll_min", "roll_max",
    )


def stats_unique(spark, sf_dir):
    """csp.stats.unique(precision) (stats.py:1504; Unique kernel
    statsimpl.h:242): distinct values (rounded to `precision` dp) in
    the trailing tick window — the one stats row that was pytest-only
    until now."""
    x = _events_stream(spark, sf_dir)
    r = Rolling(x, interval=25, min_window=5)
    out = r.agg(uniq=r.unique_col(precision=1))
    return out.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.col("uniq").cast("long").alias("uniq"),
    )


def stats_rolling_time(spark, sf_dir):
    x = _events_stream(spark, sf_dir)
    r = Rolling(x, interval=dt.timedelta(hours=6), min_window=dt.timedelta(0))
    out = r.agg(
        roll_sum=F.round(r.sum_col(), 6),
        roll_n=r.count_col().cast("long"),
    )
    return out.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        "roll_sum", "roll_n",
    )


def stats_expanding(spark, sf_dir):
    x = _events_stream(spark, sf_dir)
    r = Rolling(x, interval=None, min_window=2)
    # Deterministic var/std for the oracle compare: exact DECIMAL sums of v
    # and v² feed the textbook formula in DOUBLE; both engines then perform
    # identical IEEE ops on identical inputs, so results are bit-identical
    # and need no rounding (round() tie-breaking differs between engines).
    vd = F.col("__vv").cast("decimal(18,4)")
    n = F.count("__vv").over(r._w).cast("double")
    s1 = F.sum(vd).over(r._w).cast("double")
    s2 = F.sum(vd * vd).over(r._w).cast("double")
    # when-guards: rows with n<2 are filtered by min_window downstream,
    # but the window expressions still evaluate on them — under an
    # ANSI-enabled session (e.g. the correctness harness) a bare /(n-1)
    # raises DIVIDE_BY_ZERO before the filter runs.
    var_det = F.when(n > 1, (s2 - s1 * s1 / n) / (n - 1))
    out = r.agg(
        exp_mean=F.when(n > 0, s1 / n),
        exp_var=var_det,
        exp_std=F.sqrt(var_det),
    )
    return out.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        "exp_mean", "exp_var", "exp_std",
    )


def stats_quantile(spark, sf_dir):
    x = _events_stream(spark, sf_dir)
    r = Rolling(x, interval=20, min_window=20)
    out = r.agg(
        roll_median=F.round(r.quantile_col(0.5), 6),
        roll_p25=F.round(r.quantile_col(0.25), 6),
    )
    return out.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        "roll_median", "roll_p25",
    )


def stats_skew_kurt(spark, sf_dir):
    x = _events_stream(spark, sf_dir)
    r = Rolling(x, interval=None, min_window=4)
    out = r.agg(
        exp_skew=F.round(r.skew_col(bias=False), 6),
        exp_kurt=F.round(r.kurt_col(excess=True, bias=False), 6),
    )
    return out.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        "exp_skew", "exp_kurt",
    )


def stats_corr(spark, sf_dir):
    x = _events_stream(spark, sf_dir)
    # second series: centered event time in seconds — exercises the
    # bivariate aligned-pair path (csp.stats.corr)
    t0 = 1704067200.0
    y = TickStream(
        x.df.withColumn(
            "value", (F.unix_micros(F.col(TS)) / 1e6 - F.lit(t0))
        )
    )
    rp = RollingPair(x, y, interval=None, min_window=3)
    out = rp.corr()
    return out.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.round(F.col("value"), 6).alias("exp_corr"),
    )


def stats_ema(spark, sf_dir):
    x = _events_stream(spark, sf_dir)
    e = ema(x, alpha=0.1, adjust=False, ignore_na=True)
    w = Window.partitionBy(KEY).orderBy(F.desc(TS), F.desc(SEQ))
    out = (
        e.df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(KEY).cast("long").alias("user_id"),
            F.round(F.col("value"), 6).alias("ema_last"),
        )
    )
    return out


def stats_ema_adjust(spark, sf_dir):
    """Per-tick ADJUST-form EMA (stats/ema.py, pandas ewm adjust=True
    semantics): the weighted-mean recursion m = (ow·d·m + x)/(ow·d + 1)
    the pandas kernel runs — the oracle replays exactly that fold via
    list_reduce (same struct-fold trick as the ema_var oracle)."""
    from csp_spark.stats import ema

    x = _events_stream(spark, sf_dir, "click")
    e = ema(x, alpha=0.2, adjust=True, ignore_na=True)
    return e.df.select(
        F.col(KEY).cast("long").alias("user_id"),
        F.col(SEQ).alias("event_id"),
        F.round(F.col(e.value_col), 6).alias("ema"),
    )


def _ema_adjust_oracle_sql(alpha: float = 0.2) -> str:
    d = f"CAST({1.0 - alpha} AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    # field order load-bearing (see _ema_var_oracle_sql): m reads a.ow
    # so ow updates last
    return f"""
WITH c AS (
  SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS v
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id, user_id,
    list(v) {_WF_USER} AS l
  FROM c
)
SELECT user_id, event_id,
  round((list_reduce(
    list_transform(l, x -> struct_pack(m := x, ow := {one})),
    (a, b) -> struct_pack(
      m := (a.ow * {d} * a.m + b.m) / (a.ow * {d} + {one}),
      ow := a.ow * {d} + {one})
  )).m, 6) AS ema
FROM p
"""


def stats_ema_halflife(spark, sf_dir):
    # event-time halflife decay; oracle = closed-form weighted mean with
    # 2^(t/halflife) weights (the adjust=True definition)
    x = _events_stream(spark, sf_dir)
    e = ema(x, halflife=dt.timedelta(hours=12), ignore_na=True)
    return e.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.round(F.col("value"), 6).alias("ema_hl"),
    )


def stats_argminmax(spark, sf_dir):
    x = _events_stream(spark, sf_dir)
    r = Rolling(x, interval=None, min_window=1)
    out = r.agg(t_max=r.argmax_col(), t_min=r.argmin_col())
    return out.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        "t_max", "t_min",
    )


def stats_order(spark, sf_dir):
    # positive values only: prod/gmean are log-domain operators (both
    # engines error/NaN on ln(0) — sf0.1 has a handful of 0.0 events)
    x = _events_stream(spark, sf_dir)
    x = type(x)(x.df.where(F.col(x.value_col) > 0), x.value_col)
    r = Rolling(x, interval=10, min_window=10)
    out = r.agg(
        w_first=r.first_col(),
        w_last=r.last_col(),
        w_lnprod=F.round(F.ln(r.prod_col()), 6),
        w_gmean=F.round(r.gmean_col(), 6),
        w_unique=r.unique_col(precision=0).cast("long"),
    )
    return out.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        "w_first", "w_last", "w_lnprod", "w_gmean", "w_unique",
    )


def stats_rank(spark, sf_dir):
    x = _events_stream(spark, sf_dir)
    r = Rolling(x, interval=20, min_window=20)
    out = r.agg(
        rank_min=r.rank_col("min"),
        rank_max=r.rank_col("max"),
        rank_avg=r.rank_col("avg"),
    )
    return out.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        "rank_min", "rank_max", "rank_avg",
    )


def stats_weighted(spark, sf_dir):
    clicks = _events_stream(spark, sf_dir, "click")
    views = _events_stream(spark, sf_dir, "view")
    r = Rolling(clicks, interval=None, min_window=3, weights=views)
    out = r.agg(
        wmean=F.round(r.wmean_col(), 6),
        wvar=F.round(r.wvar_col(1), 6),
    )
    return out.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        "wmean", "wvar",
    )


def stats_cov_matrix(spark, sf_dir):
    # multi-series matrix stats: series = hourly DECIMAL-exact mean value
    # per event_type (coincident hourly ticks across series)
    ev = _t(spark, sf_dir, "events")
    series = ev.groupBy(
        F.col("event_type").alias(KEY), F.date_trunc("hour", "ts").alias(TS)
    ).agg(
        (F.sum(F.col("value").cast(_DEC)) / F.count(F.lit(1)))
        .cast("double")
        .alias("value")
    ).withColumn(SEQ, F.lit(0).cast("long"))
    x = TickStream(series)
    # fused cov+corr over ONE coincident-pair frame (stats/matrix.py
    # cov_corr_matrix): composing cov_matrix ⋈ corr_matrix planned the
    # pair self-join twice (4 source scans) and sort-merge-joined the
    # two aggregates; the fused aggregate computes the identical
    # per-group expressions once (r12: 2 SMJ → 0, scans halved)
    out = cov_corr_matrix(x, ddof=1).select(
        "key_a", "key_b",
        F.round("cov", 6).alias("cov_v"),
        F.round("corr", 6).alias("corr_v"),
    )
    return out


def dedup_embedding(spark, sf_dir):
    # exact cosine near-dup pairs (brute force; the LSH-probed variant is
    # embedding_near_dups — approximate, tested in tests/). r12: the
    # former inline all-pairs join scored every |V|^2 pair with the
    # interpreted zip_with/aggregate cosine inside a BNLJ (64 s at
    # sf0.1); cosine_pairs_above keeps the identical rows/values via
    # BLAS margin-selection + exact JVM re-score (the knn_join/
    # hard_negatives/semdedup discipline).
    from csp_spark.similarity import cosine_pairs_above
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_pairs_above(emb, threshold=0.35)


def doc_semdedup(spark, sf_dir):
    # SemDeDup (arXiv:2303.09540) in its n_clusters=1 degenerate form:
    # every pair is compared, so the keep="min_id" result is
    # centroid-free and must equal the plain SQL EXISTS formulation —
    # the hash oracle for the removal logic itself (pairing, eps cut,
    # keep-order pick). The clustered paper policy (keep="edge",
    # n_clusters>1) is agreement-tested vs numpy in
    # tests/test_pipeline_ops.py.
    from csp_spark.dedup import semdedup
    emb = _t(spark, sf_dir, "embeddings")
    out = semdedup(emb, eps=0.40, n_clusters=1, keep="min_id")
    return out.select("vec_id", "kept")


def doc_dsir(spark, sf_dir):
    # DSIR importance weights + top-k selection (arXiv:2302.03169,
    # pipeline/dsir.py) in the exact-gram form (n_buckets=None) — the
    # hash-oracle case: unigram+bigram models over raw grams replay in
    # SQL verbatim. Target = the src0-2 slice standing in for a
    # curated corpus. The hashed-feature scale path (n_buckets=m,
    # broadcastable model) is mechanism-tested in
    # tests/test_pipeline_ops.py.
    from csp_spark.pipeline.dsir import dsir_select
    docs = _t(spark, sf_dir, "documents")
    tgt = docs.filter(F.col("source").isin("src0", "src1", "src2"))
    return dsir_select(docs, tgt, k=100)


# ----------------------------------------------------------------------
# text / dedup / similarity queries (training-pipeline ops)
# ----------------------------------------------------------------------

def doc_gopher(spark, sf_dir):
    # the Gopher quality-rule bundle (Rae et al. 2021 Appendix A,
    # text/analysis.py gopher_rules): 7 per-doc flags + the keep
    # conjunction, all codegen column arithmetic, replayed rule by
    # rule in the oracle.
    docs = _t(spark, sf_dir, "documents")
    return TX.gopher_rules(docs)


def doc_c4(spark, sf_dir):
    # the C4 cleaning recipe (Raffel et al. 2020 §2.2, text/analysis.py
    # c4_filters): line filters + doc gates over one scan. The
    # testdata is single-line prose with no terminal punctuation (raw
    # C4 would remove everything), so the query first assembles a
    # deterministic 4-line document per row — a punctuated prefix, a
    # doc_id-length-varying fragment (trips the word-count rule
    # per-doc), the raw text (trips the punctuation rule), and a
    # javascript line (trips the blocklist despite punctuation) — with
    # a brace appended on every 7th doc to trip the document gate. The
    # hash covers the CLEANED TEXT via md5 (the one string hash both
    # engines share), so line reassembly is byte-checked.
    docs = _t(spark, sf_dir, "documents")
    lined = F.concat_ws(
        "\n",
        F.concat(F.substring("text", 1, 40), F.lit(".")),
        # punctuated so the WORD-COUNT rule (not the punct rule) decides
        # this line, with a per-doc-varying length
        F.concat(
            F.expr("substring(text, 1, CAST(doc_id % 30 AS INT))"), F.lit("?")
        ),
        F.col("text"),
        F.lit("see javascript docs."),
    )
    lined = F.when(
        F.col("doc_id") % 7 == 0, F.concat(lined, F.lit(" {"))
    ).otherwise(lined)
    out = TX.c4_filters(
        docs.select("doc_id", lined.alias("text")),
        min_words_per_line=3, min_lines=1,
    )
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_lines_kept", "n_lines_removed", "keep",
    )


def text_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        F.round(TX.avg_word_len(t), 6).alias("avg_word_len"),
        F.round(TX.stopword_ratio(t, "en"), 6).alias("stopword_ratio_en"),
    )


def text_langid(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(TX.lang_guess(F.col("text")).alias("lang_guess"))
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def dedup_exact(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    groups = DD.exact_duplicates(ev, text_col="props", id_col="event_id")
    return groups.select(
        "text_hash", "canonical_id", "n_dups"
    )


def dedup_ngram(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(docs, shingle_k=8, threshold=0.5)


def dedup_minhash(spark, sf_dir):
    # Oracle = exact word-5-shingle Jaccard pairs at the threshold: the
    # LSH stage only GENERATES candidates (verified with exact Jaccard
    # before emission, so precision is exact by construction), and on
    # this corpus recall is 100% (checked pair-for-pair at sf0.01 and
    # sf0.1) — the hash check therefore asserts both the candidate
    # recall and the verification math.
    docs = _t(spark, sf_dir, "documents")
    # word 5-shingles (Broder-style): ~6x fewer shingle rows than char-8
    # at equal output on this corpus, and 4x fewer LSH candidates.
    # 48 perms / 12 bands (same r=4 recall curve shape) returns the
    # identical verified pair set at sf0.01 and sf0.1 for 25% less
    # signature work; exact-Jaccard verification keeps precision at 1.
    return DD.minhash_lsh_pairs(
        docs, shingle_k=5, use_words=True, threshold=0.5,
        num_hashes=48, bands=12,
    )


def dedup_simhash(spark, sf_dir):
    # md5_48 hash family → bit-exactly replayable in DuckDB; chunked
    # bucketing is exhaustive by pigeonhole (max_hamming+1 chunks), so
    # the LSH output EQUALS the exact all-pairs hamming filter the
    # oracle computes — deterministic equality, not probabilistic.
    docs = _t(spark, sf_dir, "documents")
    return DD.simhash_pairs(docs, max_hamming=6, hash_fn="md5_48")


def _simhash_oracle_sql(max_hamming: int = 6, bits: int = 48) -> str:
    # replay simhash_pairs(hash_fn="md5_48") exactly: same tokenizer
    # (split lower(trim) on \s+), same 48-bit md5 token hash, same
    # per-bit majority votes, then EXACT all-pairs hamming (the chunked
    # candidate generation is recall-exhaustive, so outputs coincide).
    sig_terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << i}::BIGINT ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
WITH tok AS (
  SELECT doc_id AS id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents
), h AS (
  SELECT id, CAST(concat('0x', substr(md5(w), 1, 12)) AS BIGINT) AS h FROM tok
), sig AS (
  SELECT id, ({sig_terms}) AS sh FROM h GROUP BY id
)
SELECT a.id AS id_a, b.id AS id_b,
  bit_count(xor(a.sh, b.sh)) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
"""


def ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return cosine_topk(emb, list(q), k=10)


def ann_lsh_topk(spark, sf_dir):
    # oracle embeds the SAME seeded hyperplanes as SQL literals and
    # reproduces bucket assignment + hamming<=1 probing in DuckDB
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return lsh_topk(emb, list(q), k=10, bits=6, probe_hamming=1)


def _lsh_oracle_sql(bits: int = 6, dim: int = 64, seed: int = 42) -> str:
    from csp_spark.similarity.ann import _planes

    planes = _planes(dim, bits, seed)
    def bucket_expr(col: str) -> str:
        terms = []
        for i, p in enumerate(planes):
            lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(CAST({col} AS DOUBLE[]), {lit}) >= 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms)
    cos = (
        "list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))))"
    )
    return f"""
WITH q AS (SELECT embedding, {bucket_expr('embedding')} AS qb
           FROM embeddings WHERE vec_id = 0),
b AS (SELECT e.vec_id, round({cos}, 6) AS cos_sim,
             {bucket_expr('e.embedding')} AS bucket
      FROM embeddings e, q)
SELECT vec_id, cos_sim FROM b, q
WHERE bit_count(xor(CAST(b.bucket AS BIGINT), CAST(q.qb AS BIGINT))) <= 1
ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


# ----------------------------------------------------------------------
# coverage queries round 2: collect/flatten/drop_nans/apply/demux/
# struct ops/times/sample_basket/min-max-sem/cross-sectional/ema_var/
# timer source (SURVEY.md §2.1, §2.3, §2.5)
# ----------------------------------------------------------------------

def op_collect(spark, sf_dir):
    clicks = _events_stream(spark, sf_dir, "click")
    doubled = TickStream(clicks.df.withColumn("value", F.col("value") * 2), "value")
    out = bl.collect({"a": clicks, "b": doubled})
    return out.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.size("value").alias("n"),
        F.round(F.element_at("value", 1) + F.element_at("value", 2), 6).alias("tot"),
    )


def op_flatten(spark, sf_dir):
    streams = [_events_stream(spark, sf_dir, t) for t in ("click", "view", "purchase")]
    out = bl.flatten(streams)
    return out.df.select(
        F.col(KEY).cast("long").alias("user_id"), F.col(TS).alias("ts"), "value"
    )


def op_dropnans(spark, sf_dir):
    clicks = _events_stream(spark, sf_dir, "click")
    noisy = TickStream(
        clicks.df.withColumn(
            "value",
            F.when(F.col("value") < 50, F.lit(float("nan"))).otherwise(F.col("value")),
        ),
        "value",
    )
    return _out(bl.drop_nans(noisy), "value")


def op_apply(spark, sf_dir):
    # row-at-a-time Python UDF path (csp.apply parity; slow by design)
    clicks = _events_stream(spark, sf_dir, "click")
    out = bl.apply_(clicks, lambda v: v * 2.0 + 1.0, "double")
    return _out(out, "value")


def op_demultiplex(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    basket = TickStream.from_table(
        ev, ts_col="ts", value_col="value", key_col="event_type", seq_col="event_id"
    )
    members = bl.demultiplex(basket, ["purchase", "signup"])
    out = members["purchase"].df.unionByName(members["signup"].df)
    return out.select(
        F.col(SEQ).alias("event_id"), F.col(KEY).alias("event_type"), "value"
    )


def op_struct_collectts(spark, sf_dir):
    clicks = _events_stream(spark, sf_dir, "click")
    views = _events_stream(spark, sf_dir, "view")
    s = bl.struct_collectts({"c": clicks, "v": views})
    return s.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.col("value.c").alias("c"),
        F.col("value.v").alias("v"),
    )


def op_struct_field(spark, sf_dir):
    clicks = _events_stream(spark, sf_dir, "click")
    st = TickStream(
        clicks.df.withColumn(
            "value",
            F.struct(
                F.col("value").alias("raw"),
                F.when(F.col("value") > 50, F.col("value")).alias("big"),
            ),
        ),
        "value",
    )
    return _out(bl.struct_field(st, "big"), "big")


def op_times(spark, sf_dir):
    clicks = _events_stream(spark, sf_dir, "click")
    tt = bl.times(clicks)
    tn = bl.times_ns(clicks)
    j = tt.df.select(KEY, SEQ, F.col("value").alias("tick_ts")).join(
        tn.df.select(KEY, SEQ, F.col("value").alias("t_ns")), on=[KEY, SEQ]
    )
    return j.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        "tick_ts", "t_ns",
    )


def basket_sample(spark, sf_dir):
    purch = _events_stream(spark, sf_dir, "purchase")
    clicks = _events_stream(spark, sf_dir, "click")
    views = _events_stream(spark, sf_dir, "view")
    out = basket_sample_op(purch, {"c": clicks, "v": views})
    return out.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.col("value.c").alias("c"),
        F.col("value.v").alias("v"),
    )


def stats_minmax_sem(spark, sf_dir):
    x = _events_stream(spark, sf_dir)
    r = Rolling(x, interval=15, min_window=15)
    out = r.agg(
        w_min=r.min_col(),
        w_max=r.max_col(),
        w_sem=F.round(r.sem_col(1), 6),
        w_count=r.count_col().cast("long"),
    )
    return out.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        "w_min", "w_max", "w_sem", "w_count",
    )


def stats_xsec(spark, sf_dir):
    x = _events_stream(spark, sf_dir, "signup")
    r = Rolling(x, interval=8, min_window=1)
    out = r.agg(xs=r.cross_sectional_col())
    return out.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.size("xs").alias("n_xs"),
        F.round(
            F.aggregate(
                "xs",
                F.lit(0).cast(_DEC),
                lambda a, v: (a + v.cast(_DEC)).cast(_DEC),
            ).cast("double"),
            6,
        ).alias("sum_xs"),
    )


def _ema_var_oracle_sql(alpha: float = 0.1) -> str:
    # The pandas ewm-var recursion (adjust=True, bias=False) as a DuckDB
    # list_reduce over each row's prefix list: state (m, c, sw, sw2, ow)
    # folds exactly the operations pandas' kernel performs, so both
    # engines agree to ~1e-14 and 6-dp rounding compares clean. O(n^2)
    # per key is fine at oracle scale (~13 clicks/user at sf0.01).
    d = f"CAST({1.0 - alpha} AS DOUBLE)"
    d2 = f"CAST({(1.0 - alpha) ** 2} AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    M = f"((a.ow * {d} * a.m + b.m) / (a.ow * {d} + {one}))"
    C = (
        f"(a.ow * {d} * (a.c + (a.m - {M}) * (a.m - {M}))"
        f" + (b.m - {M}) * (b.m - {M})) / (a.ow * {d} + {one})"
    )
    var = "st.c * st.sw * st.sw / (st.sw * st.sw - st.sw2)"
    guard = "len(l) >= 2 AND (st.sw * st.sw - st.sw2) > 0"
    # NOTE field order (c, m, sw, sw2, ow) is load-bearing: DuckDB 1.0's
    # list_reduce evaluates struct_pack fields SEQUENTIALLY into the
    # accumulator, so a field expression sees already-updated values of
    # earlier fields. c reads (a.c, a.m, a.ow) and must come first; ow
    # is read by c and m and must come last.
    return f"""
WITH c AS (
  SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS v
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id, user_id,
    list(v) OVER ({_W_USER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
  FROM c
), s AS (
  SELECT event_id, user_id, l,
    list_reduce(
      list_transform(l, x -> struct_pack(
        c := CAST(0.0 AS DOUBLE), m := x, sw := {one}, sw2 := {one}, ow := {one})),
      (a, b) -> struct_pack(
        c := {C},
        m := {M},
        sw := a.sw * {d} + {one},
        sw2 := a.sw2 * {d2} + {one},
        ow := a.ow * {d} + {one})
    ) AS st
  FROM p
)
SELECT event_id, user_id,
  round(CASE WHEN {guard} THEN {var} ELSE 'NaN'::DOUBLE END, 6) AS ew_var,
  round(CASE WHEN {guard} THEN sqrt({var}) ELSE 'NaN'::DOUBLE END, 6) AS ew_std
FROM s
"""


def stats_ema_var(spark, sf_dir):
    # pandas-ewm recursion on the Spark side; the DuckDB oracle replays
    # the identical recursion via list_reduce over prefix lists
    x = _events_stream(spark, sf_dir, "click")
    ev = ema_var(x, alpha=0.1, bias=False)
    es = ema_std(x, alpha=0.1, bias=False)
    j = ev.df.select(KEY, SEQ, F.col("value").alias("ew_var")).join(
        es.df.select(KEY, SEQ, F.col("value").alias("ew_std")), on=[KEY, SEQ]
    )
    return j.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.round("ew_var", 6).alias("ew_var"),
        F.round("ew_std", 6).alias("ew_std"),
    )


def op_dynamic_collect(spark, sf_dir):
    # dynamic basket keyed by event_type; hourly DECIMAL-exact mean per
    # member -> per-hour map of ticked members
    ev = _t(spark, sf_dir, "events")
    series = (
        ev.groupBy(F.col("event_type").alias(KEY), F.date_trunc("hour", "ts").alias(TS))
        .agg(
            (F.sum(F.col("value").cast(_DEC)).cast("double") / F.count(F.lit(1)))
            .alias("value")
        )
        .withColumn(SEQ, F.lit(0).cast("long"))
    )
    dc = bl.dynamic_collect(TickStream(series))
    return dc.df.select(
        F.col(TS).alias("ts"),
        F.size("value").alias("n_members"),
        F.round(F.element_at("value", "click"), 6).alias("click_v"),
    )


def op_edge_math(spark, sf_dir):
    # fluent Edge API: (click + view)/2 - 1 with csp valid semantics
    clicks = _events_stream(spark, sf_dir, "click")
    views = _events_stream(spark, sf_dir, "view")
    spread = (clicks + views) / 2.0 - 1.0
    return _out(spread, "value").withColumn("value", F.round("value", 6))


def src_timer(spark, sf_dir):
    t = bl.timer(
        spark,
        start=dt.datetime(2024, 1, 1),
        end=dt.datetime(2024, 2, 1),
        interval=dt.timedelta(hours=1),
        value=1.0,
        value_type="double",
    )
    a = bl.accum(t)
    return a.df.select(F.col(TS).alias("ts"), F.col("value").alias("running"))


def src_curve(spark, sf_dir):
    # csp.const + csp.curve + csp.merge on literal data (baselib.py:73,
    # curve.py:16-65): replayed (time, value) points, const injected at
    # 00:30, merged into one ordered stream.
    c = bl.curve(
        spark,
        [
            (dt.datetime(2024, 1, 1, 0, 0), 1.0),
            (dt.datetime(2024, 1, 1, 1, 0), 2.0),
            (dt.datetime(2024, 1, 1, 2, 0), 3.0),
        ],
    )
    k = bl.const(spark, 5.0, start=dt.datetime(2024, 1, 1), delay=dt.timedelta(minutes=30))
    m = bl.merge(c, k)
    return m.df.select(F.col(TS).alias("ts"), F.col("value").alias("value"))


def _minute_stream(spark, sf_dir):
    # Conflation demo stream: events bucketed to the minute so that
    # several ticks share one engine timestamp (PushMode semantics,
    # Execution-Modes.md:41-52 — backlog arriving "at the same time").
    x = _events_stream(spark, sf_dir)
    return TickStream(x.df.withColumn(TS, F.date_trunc("minute", F.col(TS))))


def op_burst(spark, sf_dir):
    b = bl.burst(_minute_stream(spark, sf_dir))
    v = F.col("value")
    return b.df.select(
        F.col(KEY).cast("long").alias("user_id"),
        F.col(TS).alias("bts"),
        F.size(v).alias("n"),
        F.element_at(v, 1).alias("vfirst"),
        F.element_at(v, -1).alias("vlast"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, e: a + e), 6).alias("vsum"),
    )


def op_last_value(spark, sf_dir):
    lv = bl.last_value(_minute_stream(spark, sf_dir))
    return lv.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.col(TS).alias("bts"),
        F.col("value").alias("value"),
    )


def op_exprtk(spark, sf_dir):
    # csp.exprtk (baselib.py:625-673): math-expression node — Spark SQL
    # expressions (Catalyst codegen) are the native JIT equivalent.
    # Only correctly-rounded IEEE ops (* / + - sqrt) so both engines
    # produce bit-identical doubles with no rounding needed.
    x = _events_stream(spark, sf_dir)
    out = bl.exprtk(x.df, "value * value / 2 + sqrt(value) - 1", result="y")
    return out.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        "y",
    )


def op_dropdups_eps(spark, sf_dir):
    # float drop_dups with epsilon tolerance (baselib.py:424-454)
    x = _events_stream(spark, sf_dir)
    return _out(bl.drop_dups(x, eps=50.0))


def stats_trigger_reset(spark, sf_dir):
    # Full control-stream machinery (stats.py:218-282): data = ALL
    # events, trigger = click ticks (emission clock decoupled from data
    # ticks), reset = purchase ticks (window epoch clear, ordered
    # before same-cycle data). Expanding count/sum within each epoch,
    # emitted only at clicks.
    x = _events_stream(spark, sf_dir)
    trig = _events_stream(spark, sf_dir, "click")
    rst = _events_stream(spark, sf_dir, "purchase")
    r = Rolling(x, interval=None, min_window=1, trigger=trig, reset=rst)
    vd = F.col("__vv").cast(_DEC)
    out = r.agg(
        epoch_n=F.count("__vv").over(r._w),
        epoch_sum=F.sum(vd).over(r._w).cast("double"),
    )
    return out.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        "epoch_n", "epoch_sum",
    )


def stats_sampler(spark, sf_dir):
    # sampler control (stats.py:218-282): ALL events define the data
    # clock; the click stream only contributes where it coincides with
    # a sampler tick, every other sampler tick is a missed observation
    # (NaN). 10-sampler-tick rolling mean of the clicks, NaNs ignored.
    clicks = _events_stream(spark, sf_dir, "click")
    samp = _events_stream(spark, sf_dir)
    r = Rolling(clicks, interval=10, min_window=10, sampler=samp, ignore_na=True)
    out = r.agg(samp_mean=F.round(r.mean_col(), 6))
    return out.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        "samp_mean",
    )


#: the persisted IVF cell assignment ann_ivf_topk's oracle replays
#: from. pid-scoped: the harness (driver or check tool) imports this
#: module once and runs query-then-oracle in the same process, so the
#: oracle string embeds the same per-process path — a concurrent
#: harness at another sf writes its OWN artifact and cannot race this
#: one's plan re-execution or oracle read
_IVF_CELLS_PATH = f"/tmp/csp_spark_ivf_cells_{os.getpid()}.parquet"

#: same contract for the hard-negatives cell-assignment artifact
_HN_CELLS_PATH = f"/tmp/csp_spark_hn_cells_{os.getpid()}.parquet"


def _reap_dead_artifacts(pattern: str, keep: str) -> None:
    """Remove sibling per-pid artifacts whose owning pid is DEAD.
    Liveness, not mtime: an mtime heuristic could delete a concurrent
    long-running harness's artifact between its query and oracle
    steps."""
    import glob
    import re as _re
    import shutil

    for p in glob.glob(pattern):
        if p == keep:
            continue
        m = _re.search(r"_(\d+)\.parquet$", p)
        if not m:
            continue
        try:
            os.kill(int(m.group(1)), 0)  # signal 0 = liveness probe
        except ProcessLookupError:
            shutil.rmtree(p, ignore_errors=True)
        except (OSError, ValueError):
            pass  # alive-but-not-ours (EPERM) or unparsable: leave it


def ann_ivf_topk(spark, sf_dir):
    # IVF-flat ANN (KMeans coarse quantizer, n_probe cells scanned).
    # KMeans centroids aren't SQL-replayable, but the check doesn't
    # need them to be (r7 verdict item 5): persist the cell assignment
    # plus the deterministically-chosen probe set as a parquet
    # artifact, recompute the top-k FROM the persisted artifact (so
    # both engines see the identical assignment, immune to KMeans
    # recomputation), and let DuckDB replay the probe filter + cosine
    # + 6dp-rounded rank with id tiebreak from the same files. The
    # recall-vs-brute-force metric stays a separate unit test
    # (tests/test_pipeline_ops.py).
    import numpy as np

    from csp_spark.similarity import ivf_index
    from csp_spark.similarity.ann import cosine

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    indexed, centers = ivf_index(emb, n_cells=16)
    qv = np.asarray(list(q), dtype=np.float64)
    order = np.argsort(((centers - qv) ** 2).sum(axis=1), kind="stable")
    probes = [int(c) for c in order[:4]]
    _reap_dead_artifacts(
        "/tmp/csp_spark_ivf_cells_*.parquet", _IVF_CELLS_PATH
    )
    indexed.select(
        "vec_id", "cell", F.col("cell").isin(probes).alias("probed")
    ).write.mode("overwrite").parquet(_IVF_CELLS_PATH)
    cells = spark.read.parquet(_IVF_CELLS_PATH)
    qlit = F.array(*[F.lit(float(v)) for v in qv])
    # r12: the constant query norm is folded driver-side — the inline
    # cosine() re-ran the interpreted norm(qlit) fold on every probed
    # row (a third of the per-row work). math.sqrt over the 0.0-seeded
    # left-to-right sum replays the JVM fold's accumulation order, so
    # every double is bit-identical (oracle re-proven).
    import math as _math

    qn = _math.sqrt(sum(float(v) * float(v) for v in qv))
    from csp_spark.similarity.ann import dot as _dot, norm as _norm

    top = (
        cells.filter(F.col("probed"))
        .select("vec_id")
        .join(emb, "vec_id")
        .select(
            "vec_id",
            F.round(
                _dot(F.col("embedding"), qlit)
                / (_norm(F.col("embedding")) * F.lit(qn)),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col("vec_id"))
        .limit(10)
    )
    # materialize the 10-row result NOW so the returned plan no longer
    # reads the artifact: a second ann_ivf_topk build in this process
    # (e.g. at another sf) overwrites the pid file, and a lazy plan
    # evaluated after that would read the wrong assignment. The oracle
    # contract stays query-then-oracle per sf (both the driver and the
    # check tool run them adjacently).
    return spark.createDataFrame(top.collect(), top.schema)


def ann_hard_negatives(spark, sf_dir):
    """Per-anchor hard-negative mining, PRODUCTION form (similarity/
    ann.py hard_negatives — Robinson et al. 2021): candidates bounded
    by a frozen 16-cell IVF assignment (the cell_assignment path —
    mine against a saved index, no KMeans in the mining plan), top-3
    most-similar per anchor, near-dups above 0.99 excluded as false
    negatives. The assignment is persisted as a parquet artifact (the
    ann_ivf_topk pattern), so the oracle replays everything downstream
    of clustering from the same files: in-cell pairs, the cosine, the
    eps exclusion, and the rounded-rank window with id tiebreak. The
    n_clusters=1 exact all-pairs form and clustered containment stay
    unit-tested in tests/test_pipeline_ops.py."""
    from csp_spark.similarity import hard_negatives, ivf_index

    emb = _t(spark, sf_dir, "embeddings")
    indexed, _ = ivf_index(emb, n_cells=16)
    _reap_dead_artifacts(
        "/tmp/csp_spark_hn_cells_*.parquet", _HN_CELLS_PATH
    )
    indexed.select("vec_id", "cell").write.mode("overwrite").parquet(
        _HN_CELLS_PATH
    )
    assign = spark.read.parquet(_HN_CELLS_PATH)
    out = hard_negatives(emb, k=3, exclude_eps=0.99, cell_assignment=assign)
    # materialize now: a later build at another sf overwrites the pid
    # artifact, and a lazy plan would read the wrong assignment (the
    # ann_ivf_topk eager-collect contract)
    return spark.createDataFrame(out.collect(), out.schema)


_HARD_NEG_ORACLE = f"""
WITH cells AS (SELECT vec_id, cell FROM read_parquet('{_HN_CELLS_PATH}/*.parquet')),
e AS (
  SELECT c.cell, a.vec_id, CAST(a.embedding AS DOUBLE[]) AS v
  FROM embeddings a JOIN cells c USING (vec_id)
),
p AS (
  SELECT a.vec_id AS anchor, b.vec_id AS negative,
    round(list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v))
         * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
  FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id <> b.vec_id
)
SELECT anchor, negative, cos_sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY anchor
      ORDER BY cos_sim DESC, negative) AS INT) AS rank
  FROM p WHERE cos_sim < 0.99
) WHERE rank <= 3
"""


def ann_ivf_exact(spark, sf_dir):
    # IVF with n_probe = n_cells scans every cell, so the result must
    # equal exact brute-force cosine top-k regardless of where KMeans
    # puts the centroids — a hash-checkable oracle (ann_topk's SQL) for
    # the IVF plumbing itself (assignment, cell filter, scoring).
    from csp_spark.similarity import ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return ivf_topk(emb, list(q), k=10, n_cells=8, n_probe=8)


def sink_parquet_roundtrip(spark, sf_dir):
    """The parquet SINK as a hash-checked query (sinks/publish.py
    publish_parquet — ParquetWriter.publish parity, field_map +
    date partitioning): publish the events tick table to a temp
    directory, read it back through the source path, aggregate per
    key. The oracle aggregates the ORIGINAL table — equality proves
    the sink wrote losslessly (values, timestamps, partition layout
    re-assembly). The write is the query's own temp dir (unique per
    call, no cross-run state)."""
    import tempfile

    from csp_spark.sinks import publish_parquet
    from csp_spark.sources import read_table

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key"),
        F.col("ts"),
        F.col("event_id").alias("seq"),
        F.col("value").cast("double").alias("value"),
    )
    out = tempfile.mkdtemp(prefix="csp_sinkpq_")
    publish_parquet(ev, out, field_map={"value": "amount_out"})
    back = read_table(spark, out)
    return (
        back.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("amount_out").alias("sum_v"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.sum(F.col("seq")).cast("long").alias("sum_seq"),
        )
        .select(
            "key", "n", F.round("sum_v", 6).alias("sum_v"),
            "first_ts", "last_ts", "sum_seq",
        )
    )


def sink_csv_roundtrip(spark, sf_dir):
    """The CSV SINK as a hash-checked query (sinks/publish.py
    publish_csv — CSVWriter parity): write the integer/string slice
    of documents (text-lossless types) to a temp dir, read back with
    an explicit schema, aggregate per source; oracle aggregates the
    original table."""
    import tempfile

    from csp_spark.sinks import publish_csv

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = tempfile.mkdtemp(prefix="csp_sinkcsv_")
    publish_csv(d, out)
    back = spark.read.option("header", "true").schema(
        "doc_id long, source string, n_chars long"
    ).csv(out)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("sum_ids"),
    )


def sink_arrow_roundtrip(spark, sf_dir):
    """The Arrow sink as a hash-checked query (sinks/publish.py
    write_record_batches — arrow.py:104-155 parity): export documents
    to a pyarrow Table, serialize through the Arrow IPC stream format
    (the reference's wire form), deserialize, return to Spark, and
    aggregate; oracle aggregates the original table."""
    import io

    import pyarrow as pa

    from csp_spark.sinks import write_record_batches

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    tbl = write_record_batches(d)
    buf = io.BytesIO()
    with pa.ipc.new_stream(buf, tbl.schema) as w:
        w.write_table(tbl)
    buf.seek(0)
    back_tbl = pa.ipc.open_stream(buf).read_all()
    back = spark.createDataFrame(back_tbl.to_pandas())
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("sum_ids"),
    )


def doc_mixture(spark, sf_dir):
    """Domain-mixture sampling to a token budget (pipeline/sampling.py
    mix_to_budget — the Pile/DoReMi mixture step): weights src0:3,
    src1:1, src2:1 over a 10k-char budget; unweighted sources drop;
    keep fractions clamp at 1. The oracle replays the normalized
    fractions and the md5 identity draw in SQL."""
    from csp_spark.pipeline import mix_to_budget

    docs = _t(spark, sf_dir, "documents")
    out = mix_to_budget(
        docs, {"src0": 3.0, "src1": 1.0, "src2": 1.0}, 10_000,
        token_col="n_chars",
    )
    return out.select(
        "doc_id", "source", F.round("keep_frac", 6).alias("keep_frac")
    )


def _mixture_oracle_sql() -> str:
    u = f"(({_hex13_sql(_SPLIT_MD5_42)}) + 0.5) / 4503599627370496.0"
    return f"""
WITH totals AS (
  SELECT source, sum(n_chars) AS tok FROM documents GROUP BY 1
), fr AS (
  SELECT source,
    least(1.0, (10000.0 * (CASE source WHEN 'src0' THEN {3.0 / 5.0!r}
      WHEN 'src1' THEN {1.0 / 5.0!r} WHEN 'src2' THEN {1.0 / 5.0!r} END))
      / tok) AS keep_frac
  FROM totals WHERE source IN ('src0', 'src1', 'src2')
)
SELECT d.doc_id, d.source, round(fr.keep_frac, 6) AS keep_frac
FROM documents d JOIN fr USING (source)
WHERE ({u}) < fr.keep_frac
"""


def doc_repeat_epochs(spark, sf_dir):
    """Multi-epoch mixture (pipeline/sampling.py repeat_to_budget —
    the Pile/Llama oversampling step mix_to_budget deliberately
    refuses): weights src0:5, src1:1 over a 30k-char budget put src0's
    target fraction ≈3.1 at sf0.01, so every src0 doc emits 3 full
    epochs plus an md5-sampled partial fourth while src1 stays a
    single partial epoch. The oracle replays the normalized
    fractions, floor(), the epoch series, and the identity draw."""
    from csp_spark.pipeline import repeat_to_budget

    docs = _t(spark, sf_dir, "documents")
    out = repeat_to_budget(
        docs, {"src0": 5.0, "src1": 1.0}, 30_000, token_col="n_chars"
    )
    return out.select("doc_id", "source", "epoch", "target_frac")


def _repeat_epochs_oracle_sql() -> str:
    u = f"(({_hex13_sql(_SPLIT_MD5_42)}) + 0.5) / 4503599627370496.0"
    return f"""
WITH totals AS (
  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS tok
  FROM documents GROUP BY 1
), fr AS (
  SELECT source,
    (30000.0 * (CASE source WHEN 'src0' THEN {5.0 / 6.0!r}
      WHEN 'src1' THEN {1.0 / 6.0!r} END)) / tok AS f,
    CAST(floor((30000.0 * (CASE source WHEN 'src0' THEN {5.0 / 6.0!r}
      WHEN 'src1' THEN {1.0 / 6.0!r} END)) / tok) AS INT) AS n_full
  FROM totals WHERE source IN ('src0', 'src1')
)
SELECT d.doc_id, d.source, CAST(t.epoch AS INT) AS epoch,
  round(fr.f, 6) AS target_frac
FROM documents d
JOIN fr USING (source)
CROSS JOIN (SELECT unnest(range(0,
    (SELECT CAST(max(n_full) + 1 AS BIGINT) FROM fr))) AS epoch) t
WHERE t.epoch <= fr.n_full
  AND (t.epoch < fr.n_full
       OR ({u}) < (fr.f - CAST(fr.n_full AS DOUBLE)))
"""


def doc_bpe_tokens(spark, sf_dir):
    """★BPE train + tokenize (text/bpe.py): train 64 merges on the
    md5-sampled corpus, apply distributed; per-doc piece count +
    compression vs whitespace tokens. The oracle replays BOTH loops in
    DuckDB recursive CTEs: training iterates the working vocab table
    (per-step best pair = an aggregate over the recursive working
    table, merged into every word by a list_reduce fold — the same
    left-to-right non-overlapping rule as train_bpe), then inference
    re-runs the lowest-rank-first merge recursion per distinct word
    against the TRAINED merge table derived inside the same query —
    no frozen literals, sf-generic."""
    from csp_spark.text import train_bpe, apply_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=64, sample_cap=400, id_col="doc_id")
    out = apply_bpe(docs, merges)
    return out.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_pieces"),
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .cast("long")
        .alias("n_words"),
    )


# frozen BPE merge table for ★doc_bpe_apply: trained ONCE (train_bpe,
# n_merges=48, sample_cap=400 on sf0.01) and committed as a literal so
# the Spark query and the DuckDB oracle replay the SAME deterministic
# greedy inference (Sennrich ACL'16 lowest-rank-first rule)
_BPE_FROZEN_MERGES = [
    ('e', 'r'), ('e', '</w>'), ('n', '</w>'), ('er', '</w>'), ('o', 'w'),
    ('ow', '</w>'), ('s', 't'), ('o', 'r'), ('h', '</w>'), ('a', 't'),
    ('l', 'u'), ('i', 'n'), ('a', '</w>'), ('t', '</w>'), ('y', '</w>'),
    ('a', 'r'), ('p', 'ar'), ('g', '</w>'), ('a', 's'), ('as', 'h</w>'),
    ('h', 'ash</w>'), ('c', 'u'), ('cu', 'st'), ('cust', 'o'),
    ('custo', 'm'), ('custom', 'er</w>'), ('i', 'n</w>'), ('j', 'o'),
    ('jo', 'in</w>'), ('f', 'i'), ('fi', 'l'), ('fil', 't'),
    ('filt', 'er</w>'), ('r', 'ow</w>'), ('c', 'o'), ('co', 'lu'),
    ('colu', 'm'), ('colum', 'n</w>'), ('at', 'c'), ('atc', 'h</w>'),
    ('b', 'atch</w>'), ('a', 'n</w>'), ('c', 'an</w>'), ('s', 'can</w>'),
    ('er', 'g'), ('erg', 'e</w>'), ('m', 'erge</w>'), ('a', 'b'),
]


def doc_bpe_apply(spark, sf_dir):
    """★BPE inference over a FROZEN merge table (text/bpe.py
    apply_bpe): per-doc piece count, hash-checkable — the oracle
    replays the exact greedy lowest-rank-first merge recursion in a
    DuckDB recursive CTE over the same literal merge table. The text
    is JVM-normalized (trim/lower/`\\s+`-split re-joined on single
    spaces) so the UDF's Python ``str.split`` and the oracle's regex
    split tokenize identically."""
    from csp_spark.text import apply_bpe

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 2000)
    docs = docs.withColumn(
        "text",
        F.concat_ws(" ", F.split(F.trim(F.lower(F.col("text"))), r"\s+")),
    )
    out = apply_bpe(docs, _BPE_FROZEN_MERGES)
    return out.select(
        "doc_id", F.size("bpe_tokens").cast("long").alias("n_pieces")
    )


def _bpe_apply_oracle() -> str:
    vals = ",\n    ".join(
        f"({a!r}, {b!r}, {i})"
        for i, (a, b) in enumerate(_BPE_FROZEN_MERGES)
    )
    return f"""
WITH RECURSIVE merges(a, b, r) AS (
  VALUES {vals}
),
words AS (
  SELECT DISTINCT w FROM (
    SELECT unnest(list_filter(
      string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0
    )) AS w
    FROM documents WHERE doc_id < 2000
  )
),
enc(w, syms, step) AS (
  SELECT w,
    list_append(list_transform(range(1, len(w) + 1), i -> w[i:i]), '</w>'),
    0
  FROM words
  UNION ALL
  SELECT w,
    syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:],
    step + 1
  FROM (
    SELECT w, syms, step,
      (SELECT arg_min(i, m.r)
       FROM unnest(range(1, len(syms))) AS u(i)
       JOIN merges m ON m.a = syms[i] AND m.b = syms[i+1]) AS bi
    FROM enc
  ) WHERE bi IS NOT NULL
),
pieces AS (
  SELECT w, min(len(syms)) AS np FROM enc GROUP BY w
),
docw AS (
  SELECT doc_id, unnest(list_filter(
    string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0
  )) AS w
  FROM documents WHERE doc_id < 2000
)
SELECT d.doc_id,
  CAST(coalesce(sum(p.np), 0) AS BIGINT) AS n_pieces
FROM (SELECT doc_id FROM documents WHERE doc_id < 2000) d
LEFT JOIN docw USING (doc_id)
LEFT JOIN pieces p USING (w)
GROUP BY d.doc_id
"""


def _bpe_tokens_oracle(n_merges: int = 64, sample_cap: int = 400,
                       seed: int = 42) -> str:
    """Replays train_bpe + apply_bpe end-to-end in DuckDB — the full
    merge recursion, not a frozen table:

    - `train` is a recursive CTE whose working table IS the evolving
      vocab (one row per sampled word): each iteration picks the
      globally best pair (count DESC, pair lexicographic — python's
      min((-c, pair))) by aggregating over the recursive working
      table, and folds it into every word with list_reduce using the
      same left-to-right non-overlapping merge rule as train_bpe's
      rescan (the merged product a||b can never equal a, so the fold
      needs no overlap flag). Stops when the best count < 2 or at
      n_merges — exactly train_bpe's breaks.
    - `merges` re-derives the per-step winner from the accumulated
      vocab snapshots (same aggregate → same argmin).
    - `enc` replays _encode_word's lowest-rank-first (leftmost on
      rank tie) inference per distinct corpus word against that
      trained table — doc_bpe_apply's CTE with derived merges.

    The sample filter replicates train_bpe's md5 identity draw
    (split_uniform(doc_id, seed) < cap/n when n > cap)."""
    sep = "chr(30)"  # RS control char — never appears in tokens
    u = _hex13_sql(f"md5(concat('{seed}|', CAST(doc_id AS VARCHAR)))")
    udraw = f"(({u}) + 0.5) / 4503599627370496.0"
    return f"""
WITH RECURSIVE
doc_n AS (SELECT count(*) AS n FROM documents),
sdocs AS (
  SELECT text FROM documents
  WHERE (SELECT n FROM doc_n) <= {sample_cap}
     OR {udraw} < {float(sample_cap)} / (SELECT n FROM doc_n)
),
wc AS (
  SELECT w, count(*) AS c FROM (
    SELECT unnest(list_filter(
      string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0)) AS w
    FROM sdocs
  ) GROUP BY w
),
train(step, syms, cnt) AS (
  SELECT 0,
    list_append(list_transform(range(1, len(w) + 1), i -> w[i:i]), '</w>'),
    c
  FROM wc
  UNION ALL
  SELECT step + 1,
    string_split(list_reduce(syms, (acc, x) ->
      CASE WHEN x = bp.b AND (acc = bp.a OR ends_with(acc, {sep} || bp.a))
           THEN left(acc, len(acc) - len(bp.a)) || bp.a || bp.b
           ELSE acc || {sep} || x END), {sep}),
    cnt
  FROM train, (
    SELECT a, b FROM (
      SELECT t.syms[u.i] AS a, t.syms[u.i + 1] AS b, sum(t.cnt) AS c
      FROM train t, unnest(range(1, len(t.syms))) AS u(i)
      GROUP BY 1, 2
    ) WHERE c >= 2
    ORDER BY c DESC, a, b LIMIT 1
  ) bp
  WHERE step < {n_merges}
),
merges AS (
  SELECT step AS r, a, b FROM (
    SELECT step, a, b, c,
      row_number() OVER (PARTITION BY step ORDER BY c DESC, a, b) AS rn
    FROM (
      SELECT t.step, t.syms[u.i] AS a, t.syms[u.i + 1] AS b, sum(t.cnt) AS c
      FROM train t, unnest(range(1, len(t.syms))) AS u(i)
      GROUP BY 1, 2, 3
    )
  ) WHERE rn = 1 AND c >= 2 AND step < {n_merges}
),
words AS (
  SELECT DISTINCT w FROM (
    SELECT unnest(list_filter(
      string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS w
    FROM documents
  )
),
enc(w, syms, step) AS (
  SELECT w,
    list_append(list_transform(range(1, len(w) + 1), i -> w[i:i]), '</w>'),
    0
  FROM words
  UNION ALL
  SELECT w,
    syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:],
    step + 1
  FROM (
    SELECT w, syms, step,
      (SELECT arg_min(i, m.r * 100000 + i)
       FROM unnest(range(1, len(syms))) AS u(i)
       JOIN merges m ON m.a = syms[i] AND m.b = syms[i+1]) AS bi
    FROM enc
  ) WHERE bi IS NOT NULL
),
pieces AS (SELECT w, min(len(syms)) AS np FROM enc GROUP BY w),
docw AS (
  SELECT doc_id, unnest(list_filter(
    string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS w
  FROM documents
),
agg AS (
  SELECT d.doc_id, CAST(coalesce(sum(p.np), 0) AS BIGINT) AS n_pieces
  FROM documents d
  LEFT JOIN docw ON d.doc_id = docw.doc_id
  LEFT JOIN pieces p USING (w)
  GROUP BY d.doc_id
)
SELECT a.doc_id, a.n_pieces,
  CAST(len(string_split_regex(trim(lower(d.text)), '\\s+')) AS BIGINT)
    AS n_words
FROM agg a JOIN documents d USING (doc_id)
"""


_PQ_M, _PQ_CODES, _PQ_DSUB, _PQ_SEED = 4, 16, 16, 7


def _pq_fixture():
    """Shared deterministic PQ fixture: seeded codebooks + query vector
    (similarity/ann.py hash_codebooks) — both sides of the oracle
    regenerate the identical float64s from the same RNG stream."""
    import numpy as _np

    from csp_spark.similarity import hash_codebooks

    books = hash_codebooks(_PQ_M, _PQ_CODES, _PQ_DSUB, seed=_PQ_SEED)
    q = _np.random.RandomState(_PQ_SEED + 1000).standard_normal(
        _PQ_M * _PQ_DSUB
    )
    return books, q


def ann_pq_topk(spark, sf_dir):
    """PQ/ADC top-k (similarity/ann.py pq_encode_expr/pq_topk — Jégou
    TPAMI'11): 4 subspaces x 16 codes over the 64-dim embeddings with
    DETERMINISTIC seeded codebooks (hash_codebooks) and a seeded query
    vector, so the DuckDB oracle replays encode + ADC bit-for-bit: the
    encode is left-associative expression arithmetic on both engines
    and the ADC lookup tables are the same numpy-computed literals.
    The trained-KMeans path (pq_index) keeps its reconstruction/recall
    unit tests; this driver query pins the encode + ADC arithmetic."""
    from csp_spark.similarity import pq_encode_expr, pq_topk

    books, q = _pq_fixture()
    emb = _t(spark, sf_dir, "embeddings")
    enc = pq_encode_expr(emb, books)
    return pq_topk(enc, books, list(q), k=10)


def _pq_oracle_sql() -> str:
    """Replays pq_encode_expr + pq_topk: identical left-associative
    multiply-add chains (same IEEE rounding), identical LUT literals
    (same numpy calls as pq_topk's driver-side tables)."""
    import numpy as np

    books, q = _pq_fixture()
    m, n_codes, dsub = books.shape
    # encode: per subspace a literal-list of cn2 - 2*dot expressions
    lists = []
    for j in range(m):
        d2s = []
        for c in range(n_codes):
            center = books[j, c]
            cn2 = float((center ** 2).sum())
            dotp = " + ".join(
                f"(CAST(v[{j * dsub + i + 1}] AS DOUBLE)) * {float(center[i])!r}"
                for i in range(dsub)
            )
            d2s.append(f"{cn2!r} - 2.0 * ({dotp})")
        lists.append("[" + ", ".join(d2s) + "]")
    lcols = ", ".join(f"{l} AS l{j}" for j, l in enumerate(lists))
    kcols = ", ".join(
        f"(list_position(l{j}, list_min(l{j})) - 1) AS k{j}" for j in range(m)
    )
    # ADC tables: the same numpy expressions pq_topk embeds as literals
    ip_lut = np.stack([
        books[j] @ q[j * dsub:(j + 1) * dsub] for j in range(m)
    ])
    sq_lut = (books ** 2).sum(axis=2)
    qn = float(np.linalg.norm(q))

    def lut(row):
        return "[" + ", ".join(repr(float(x)) for x in row) + "]"

    ip = " + ".join(f"({lut(ip_lut[j])})[k{j} + 1]" for j in range(m))
    sq = " + ".join(f"({lut(sq_lut[j])})[k{j} + 1]" for j in range(m))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d AS (SELECT vec_id, {lcols} FROM e),
c AS (SELECT vec_id, {kcols} FROM d),
s AS (
  SELECT vec_id, round(({ip}) / ({qn!r} * sqrt({sq})), 6) AS pq_sim
  FROM c
)
SELECT vec_id, pq_sim FROM s
QUALIFY row_number() OVER (ORDER BY pq_sim DESC, vec_id) <= 10
"""


def op_node_ast(spark, sf_dir):
    """Reference-style @csp.node translated by core/nodeparse.py (the
    thin analog of csp/impl/wiring/node_parser.py): a ``with
    csp.state():`` spread-EMA node written in the reference's source
    grammar, AST-lowered onto run_node. Cycles = click/view ticks per
    user (csp.ticked any-of), gated on csp.valid all-of; the oracle
    replays last-value alignment with IGNORE NULLS windows and the
    EMA recursion with list_reduce — identical IEEE op order."""
    @csp.node
    def spread_ema(bid: csp.ts[float], ask: csp.ts[float]) -> csp.ts[float]:
        with csp.state():
            s_ema = 0.0
            s_n = 0

        if csp.ticked(bid, ask) and csp.valid(bid, ask):
            sp = ask - bid
            s_n += 1
            s_ema = sp if s_n == 1 else 0.9 * s_ema + 0.1 * sp
            return s_ema

    bid = _events_stream(spark, sf_dir, "click")
    ask = _events_stream(spark, sf_dir, "view")
    out = spread_ema(bid, ask)
    # NO 6dp rounding: the recursion is bit-exact across engines
    # (identical IEEE op order), while round() itself is NOT — Spark
    # rounds the double's exact decimal HALF_UP, DuckDB scales by 1e6
    # first, and the two disagree by 1 ulp on boundary values (one
    # sf0.1 row). Full precision is the STRICTER compare here.
    return out.df.select(
        F.col(KEY).cast("long").alias("user_id"),
        F.col(SEQ).alias("event_id"),
        F.col(out.value_col).alias("ema"),
    )


def _node_ast_oracle_sql() -> str:
    return f"""
WITH u AS (
  SELECT user_id, ts, event_id,
    CASE WHEN event_type = 'click' THEN CAST(value AS DOUBLE) END AS bv,
    CASE WHEN event_type = 'view'  THEN CAST(value AS DOUBLE) END AS av
  FROM events WHERE event_type IN ('click', 'view')
),
l AS (
  SELECT user_id, ts, event_id,
    last_value(bv IGNORE NULLS) {_WF_USER} AS bid,
    last_value(av IGNORE NULLS) {_WF_USER} AS ask
  FROM u
),
g AS (
  SELECT user_id, ts, event_id, ask - bid AS sp
  FROM l WHERE bid IS NOT NULL AND ask IS NOT NULL
),
p AS (
  SELECT user_id, event_id,
    list(sp) {_WF_USER} AS lst
  FROM g
)
SELECT user_id, event_id,
  list_reduce(lst, (acc, x) -> 0.9 * acc + 0.1 * x) AS ema
FROM p
"""


def frame_pandas_ts(spark, sf_dir):
    """TsFrame.to_spark_ts / to_pandas_ts (frame.py — reference
    csp/dataframe.py:167-202 to_pandas_ts + csp/impl/pandas.py
    make_pandas): a ts-of-frames over two event-derived columns that
    tick at DIFFERENT times (event_id%3 == 0 / == 1), trigger every
    97th event, count window 4 per column, wait_all_valid gating.
    Output = the long frame rows (union index, NULL where a column
    did not tick) — the reference's per-trigger DataFrame buffers,
    exploded to scalar rows for the oracle."""
    from csp_spark import TsFrame

    ev = _events_stream(spark, sf_dir)
    c0 = ev.with_df(ev.df.filter(F.col(SEQ) % 3 == 0))
    c1 = ev.with_df(
        ev.df.filter(F.col(SEQ) % 3 == 1).withColumn(
            ev.value_col, F.col(ev.value_col) * 2
        )
    )
    trig = ev.with_df(ev.df.filter(F.col(SEQ) % 97 == 0))
    frame = TsFrame({"c0": c0, "c1": c1})
    long = frame.to_spark_ts(trig, window=4, wait_all_valid=True)
    return long.select(
        F.col(KEY).cast("long").alias("user_id"),
        F.col("trig_seq").alias("trig_event"),
        F.col(SEQ).alias("event_id"),
        F.col(TS).alias("ts"),
        F.round("c0", 6).alias("c0"),
        F.round("c1", 6).alias("c1"),
    )


def _frame_pandas_ts_oracle_sql() -> str:
    return """
WITH c0 AS (
  SELECT user_id, ts, event_id, value AS v FROM events WHERE event_id % 3 = 0
),
c1 AS (
  SELECT user_id, ts, event_id, value * 2 AS v FROM events WHERE event_id % 3 = 1
),
thr AS (
  SELECT f0.user_id,
    CASE WHEN (f0.ts, f0.eid) >= (f1.ts, f1.eid)
         THEN f0.ts ELSE f1.ts END AS thr_ts,
    CASE WHEN (f0.ts, f0.eid) >= (f1.ts, f1.eid)
         THEN f0.eid ELSE f1.eid END AS thr_eid
  FROM (SELECT user_id, ts, event_id AS eid FROM c0
        QUALIFY row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) = 1) f0
  JOIN (SELECT user_id, ts, event_id AS eid FROM c1
        QUALIFY row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) = 1) f1
  USING (user_id)
),
trig AS (
  SELECT e.user_id, e.ts AS trig_ts, e.event_id AS trig_event
  FROM events e JOIN thr USING (user_id)
  WHERE e.event_id % 97 = 0 AND (e.ts, e.event_id) >= (thr_ts, thr_eid)
),
w0 AS (
  SELECT t.user_id, t.trig_event, c.event_id, c.ts, c.v,
    row_number() OVER (PARTITION BY t.user_id, t.trig_event
                       ORDER BY c.ts DESC, c.event_id DESC) AS rk
  FROM trig t
  JOIN c0 c ON c.user_id = t.user_id AND (c.ts, c.event_id) <= (t.trig_ts, t.trig_event)
  JOIN thr h ON h.user_id = t.user_id AND (c.ts, c.event_id) >= (h.thr_ts, h.thr_eid)
),
w1 AS (
  SELECT t.user_id, t.trig_event, c.event_id, c.ts, c.v,
    row_number() OVER (PARTITION BY t.user_id, t.trig_event
                       ORDER BY c.ts DESC, c.event_id DESC) AS rk
  FROM trig t
  JOIN c1 c ON c.user_id = t.user_id AND (c.ts, c.event_id) <= (t.trig_ts, t.trig_event)
  JOIN thr h ON h.user_id = t.user_id AND (c.ts, c.event_id) >= (h.thr_ts, h.thr_eid)
)
SELECT
  COALESCE(a.user_id, b.user_id) AS user_id,
  COALESCE(a.trig_event, b.trig_event) AS trig_event,
  COALESCE(a.event_id, b.event_id) AS event_id,
  COALESCE(a.ts, b.ts) AS ts,
  round(a.v, 6) AS c0, round(b.v, 6) AS c1
FROM (SELECT * FROM w0 WHERE rk <= 4) a
FULL OUTER JOIN (SELECT * FROM w1 WHERE rk <= 4) b
  ON a.user_id = b.user_id AND a.trig_event = b.trig_event
 AND a.event_id = b.event_id AND a.ts = b.ts
"""


def text_fingerprint(spark, sf_dir):
    # winnowing fingerprint sets, digested per doc so the compare stays
    # scalar: count + md5 of the sorted selected-hash list. md5 hashes +
    # distinct=False: the oracle needs reproducible hashes, and dedup
    # happens inside collect_set (no dedicated distinct exchange).
    docs = _t(spark, sf_dir, "documents")
    fp = TX.winnow_fingerprints(docs, k=8, w=4, hash_style="md5", distinct=False)
    sfp = F.sort_array(F.collect_set("fp"))
    return fp.groupBy(F.col("id").alias("doc_id")).agg(
        F.size(sfp).cast("long").alias("n_fp"),
        F.md5(F.concat_ws(",", sfp)).alias("fp_digest"),
    )


def text_boilerplate(spark, sf_dir):
    """Corpus-level boilerplate-line removal (CCNet §4.1 family,
    text/analysis.py boilerplate_lines/remove_boilerplate): the
    testdata docs are single-line, so the query deterministically
    line-structures them first (text + a doc_id%7 marker line — the
    marker repeats across ~1/7 of the corpus = guaranteed boilerplate;
    duplicate texts also collide). Output: per-doc removal audit."""
    from csp_spark.text import remove_boilerplate

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n", F.col("text"), F.concat(F.lit("marker-"), F.col("doc_id") % 7)
        ).alias("text"),
    )
    out = remove_boilerplate(docs, min_docs=3)
    return out.select(
        "doc_id",
        F.col("n_removed").cast("long").alias("n_removed"),
        F.length("text").cast("long").alias("n_chars_left"),
    )


def doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination (text/analysis.py decontaminate —
    GPT-3 appendix-C n-gram overlap): eval set = the deterministic
    doc_id % 47 == 0 slice; training docs sharing >= 1 distinct word
    8-gram with any eval doc are flagged. Eval grams broadcast; the
    corpus side never shuffles its grams."""
    from csp_spark.text import decontaminate

    docs = _t(spark, sf_dir, "documents")
    evals = docs.filter(F.col("doc_id") % 47 == 0)
    out = decontaminate(docs, evals, n=8, min_matches=1)
    return out.select(
        "doc_id", "n_matches", F.col("contaminated").cast("int").alias("contaminated")
    )


def text_term_stats(spark, sf_dir):
    """Corpus vocabulary census (text/analysis.py term_stats): per
    token document frequency + corpus term frequency, one explode +
    one hash-aggregate."""
    from csp_spark.text import term_stats

    docs = _t(spark, sf_dir, "documents")
    return term_stats(docs, min_df=3).select(
        "token",
        F.col("df").cast("long").alias("df"),
        F.col("tf").cast("long").alias("tf"),
    )


def doc_repeated_spans(spark, sf_dir):
    """Exact repeated-substring dedup (the Lee et al. ACL'22
    ExactSubstr family; text/analysis.py repeated_spans): merged cover
    intervals of duplicated word-10-grams, the globally-first
    occurrence of each gram exempt so one canonical copy of every
    duplicated passage survives. One row per merged span; the oracle
    censuses gram TEXT where Spark censuses xxhash64 of it — identical
    selection, engine-portable."""
    from csp_spark.text import repeated_spans

    docs = _t(spark, sf_dir, "documents")
    return repeated_spans(docs, k=10)


def text_lm_score(spark, sf_dir):
    """CCNet-style LM quality signal (text/analysis.py lm_scores):
    add-1-smoothed bigram model self-trained on the corpus, every doc
    scored by mean negative log-likelihood. avg_nll rounded to 6dp in
    both engines (the tfidf precedent) — double averaging orders
    differ across engines in the last ulps."""
    from csp_spark.text import lm_scores

    docs = _t(spark, sf_dir, "documents")
    return lm_scores(docs, n=2, add_k=1.0).select(
        "doc_id", "n_grams", F.round("avg_nll", 6).alias("avg_nll")
    )


def text_tfidf(spark, sf_dir):
    """Per-doc top-3 tokens by smoothed TF-IDF (text/analysis.py
    doc_tfidf): two keyed aggregates + vocabulary shuffle join + one
    keyed window; deterministic (score desc, token) tie-break."""
    from csp_spark.text import doc_tfidf

    docs = _t(spark, sf_dir, "documents")
    return doc_tfidf(docs, top_k=3).select(
        "doc_id", "rank", "token", (F.col("tfidf") + F.lit(0.0)).alias("tfidf")
    )


def text_quality_model(spark, sf_dir):
    """Hash-feature linear quality classifier (text/analysis.py
    quality_classifier_scores): md5-weighted tokens, DECIMAL-exact
    per-doc mean, sigmoid — the model-based-filter plumbing with
    deterministic stand-in weights."""
    from csp_spark.text import quality_classifier_scores

    docs = _t(spark, sf_dir, "documents")
    out = quality_classifier_scores(docs, seed=13)
    return out.select(
        "doc_id",
        (F.round(F.col("quality_score"), 6) + F.lit(0.0)).alias("q_score"),
    )


def text_repetition(spark, sf_dir):
    # Gopher-style repetition profile: dup-word/dup-line fractions +
    # top-bigram fraction (explode → two keyed hash-aggregates).
    docs = _t(spark, sf_dir, "documents")
    return TX.repetition_stats(docs, n=2)


def doc_chunk(spark, sf_dir):
    # overlapping token-bounded chunking (training/RAG pre-tokenize
    # step); digest chunk text to keep the compare scalar.
    docs = _t(spark, sf_dir, "documents")
    ch = TX.chunk_documents(docs, chunk_tokens=64, overlap=16)
    return ch.select(
        "doc_id", "chunk_id", "n_chunk_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_digest"),
    )


def _ema_cov_oracle_sql(alpha: float = 0.2) -> str:
    # bivariate twin of _ema_var_oracle_sql: align click/view streams
    # with last-value windows (the align kernel's semantics), keep
    # both-valid rows, then fold the pandas ewmcov recursion over each
    # prefix. Same DuckDB struct_pack sequential-evaluation constraint:
    # c first (reads a.c/a.mx/a.my/a.ow), ow last.
    d = f"CAST({1.0 - alpha} AS DOUBLE)"
    d2 = f"CAST({(1.0 - alpha) ** 2} AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    MX = f"((a.ow * {d} * a.mx + b.mx) / (a.ow * {d} + {one}))"
    MY = f"((a.ow * {d} * a.my + b.my) / (a.ow * {d} + {one}))"
    C = (
        f"(a.ow * {d} * (a.c + (a.mx - {MX}) * (a.my - {MY}))"
        f" + (b.mx - {MX}) * (b.my - {MY})) / (a.ow * {d} + {one})"
    )
    cov = "st.c * st.sw * st.sw / (st.sw * st.sw - st.sw2)"
    guard = "len(l) >= 2 AND (st.sw * st.sw - st.sw2) > 0"
    return f"""
WITH u AS (
  SELECT user_id, ts, event_id,
    CASE WHEN event_type = 'click' THEN CAST(value AS DOUBLE) END AS cx,
    CASE WHEN event_type = 'view' THEN CAST(value AS DOUBLE) END AS cy
  FROM events WHERE event_type IN ('click', 'view')
), f AS (
  SELECT user_id, ts, event_id,
    last_value(cx IGNORE NULLS) OVER ({_W_USER}
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x,
    last_value(cy IGNORE NULLS) OVER ({_W_USER}
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y
  FROM u
), v AS (
  SELECT * FROM f WHERE x IS NOT NULL AND y IS NOT NULL
), p AS (
  SELECT event_id, user_id,
    list(struct_pack(mx := x, my := y)) OVER ({_W_USER}
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
  FROM v
), s AS (
  SELECT event_id, user_id, l,
    list_reduce(
      list_transform(l, e -> struct_pack(
        c := CAST(0.0 AS DOUBLE), mx := e.mx, my := e.my,
        sw := {one}, sw2 := {one}, ow := {one})),
      (a, b) -> struct_pack(
        c := {C},
        mx := {MX},
        my := {MY},
        sw := a.sw * {d} + {one},
        sw2 := a.sw2 * {d2} + {one},
        ow := a.ow * {d} + {one})
    ) AS st
  FROM p
)
SELECT event_id, user_id,
  round(CASE WHEN {guard} THEN {cov} ELSE 'NaN'::DOUBLE END, 6)
    + CAST(0.0 AS DOUBLE) AS ew_cov
FROM s
"""


def stats_ema_cov(spark, sf_dir):
    # csp.stats.ema_cov (stats.py:3195) — pandas-ewm debiased pairwise
    # covariance over the aligned pair; oracle replays the recursion
    # via list_reduce (see _ema_cov_oracle_sql)
    clicks = _events_stream(spark, sf_dir, "click")
    views = _events_stream(spark, sf_dir, "view")
    from csp_spark.stats import ema_cov
    ec = ema_cov(clicks, views, alpha=0.2, bias=False)
    # + 0.0 normalizes IEEE signed zero on BOTH sides (the r2 hash fail
    # was 69 oracle -0.0 rows vs Spark +0.0; the driver hashes raw
    # values and distinguishes them).
    return ec.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        (F.round("value", 6) + F.lit(0.0)).alias("ew_cov"),
    )


def dedup_components(spark, sf_dir):
    """Transitive near-dup clusters over the SCALE pair generator
    (minhash LSH, word-5-shingles — the 100 TB path, not the
    O(bucket^2) exact-jaccard tool), closed under connectivity by the
    pointer-jumped contraction loop in dedup/components.py. Oracle =
    DuckDB recursive-CTE reachability over the exact word-5-shingle
    Jaccard pairs — valid because dedup_minhash already hash-asserts
    the LSH pair set equals the exact pair set on this corpus, and an
    independent closure algorithm, so the iterative Spark loop is
    checked end-to-end."""
    from csp_spark.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(
        docs, shingle_k=5, use_words=True, threshold=0.5,
        num_hashes=48, bands=12,
    )
    comp = connected_components(pairs)
    return comp.select(
        F.col("id").alias("doc_id"), F.col("component").alias("component_id")
    )


def doc_split(spark, sf_dir):
    """Deterministic train/val/test assignment + per-language stratified
    keep flag (pipeline/sampling.py): pure md5-keyed column expressions,
    reproducible across engines/partitionings — the DuckDB oracle
    replays the draws bit-exactly."""
    from csp_spark.pipeline import hash_split, split_uniform

    docs = _t(spark, sf_dir, "documents")
    out = hash_split(
        docs, "doc_id",
        weights=(("train", 0.9), ("val", 0.05), ("test", 0.05)), seed=7,
    )
    keep_frac = F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.25))
    return out.select(
        "doc_id",
        "split",
        (split_uniform(F.col("doc_id"), seed=11) < keep_frac)
        .cast("int")
        .alias("kept"),
    )


def doc_group_split(spark, sf_dir):
    """Leakage-safe train/val/test (pipeline/sampling.py
    leakage_safe_split): the split draw keys on the exact-dup
    FINGERPRINT (the dedup normalize+md5 discipline), so duplicate
    documents always land in the SAME split — no train/test leakage
    through surviving dups (Lee et al. ACL'22). Pure column
    expressions, no shuffle; the oracle replays fingerprint, draw, and
    thresholds bit-exactly."""
    from csp_spark.dedup import normalize
    from csp_spark.pipeline import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    g = docs.select("doc_id", F.md5(normalize(F.col("text"))).alias("grp"))
    out = leakage_safe_split(
        g, "grp",
        weights=(("train", 0.8), ("val", 0.1), ("test", 0.1)), seed=13,
    )
    return out.select("doc_id", "grp", "split")


def _group_split_oracle_sql() -> str:
    md5e = "md5(concat('13|', grp))"
    u = f"(({_hex13_sql(md5e)}) + 0.5) / 4503599627370496.0"
    return f"""
WITH g AS (
  SELECT doc_id,
    md5(array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' '))
      AS grp
  FROM documents
)
SELECT doc_id, grp,
  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
       ELSE 'test' END AS split
FROM (SELECT doc_id, grp, {u} AS u FROM g)
"""


def ann_knn_join(spark, sf_dir):
    """Batch kNN join (similarity/ann.py knn_join): every 25th vector
    queries the full corpus for its 5 nearest by cosine. Broadcast
    query side + map-side local top-k → no shuffle of corpus rows."""
    from csp_spark.similarity import knn_join

    emb = _t(spark, sf_dir, "embeddings")
    out = knn_join(
        emb.filter(F.col("vec_id") % 25 == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        ),
        emb.select(F.col("vec_id").alias("cid"), "embedding"),
        k=5, query_id="qid", corpus_id="cid",
    )
    return out.select(
        "qid", "cid", F.col("rank").cast("long").alias("rank"), "cos_sim"
    )


def ann_knn_join_blas(spark, sf_dir):
    """ann_knn_join under the method="blas" name: knn_join has one
    path (BLAS selection + exact JVM re-score, similarity/_kernel.py)
    and both method names reach it, so the output is bit-identical to
    ann_knn_join and the SAME DuckDB oracle replays it."""
    from csp_spark.similarity import knn_join

    emb = _t(spark, sf_dir, "embeddings")
    out = knn_join(
        emb.filter(F.col("vec_id") % 25 == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        ),
        emb.select(F.col("vec_id").alias("cid"), "embedding"),
        k=5, query_id="qid", corpus_id="cid", method="blas",
    )
    return out.select(
        "qid", "cid", F.col("rank").cast("long").alias("rank"), "cos_sim"
    )


def doc_pack(spark, sf_dir):
    """Concat-and-cut sequence packing (pipeline/packing.py
    pack_offsets): md5-sharded deterministic shuffle order, running
    token offsets cut every 128 tokens (docs may straddle sequence
    boundaries — the GPT-style training layout). One shuffle on the
    shard key; all arithmetic replays bit-exactly in the oracle."""
    from csp_spark.pipeline import pack_offsets
    from csp_spark.text import token_count

    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", token_count(F.col("text")).alias("tok"))
    return pack_offsets(
        t, "doc_id", "tok", budget=128, num_shards=4, order="shuffle", seed=11
    )


def doc_pack_fit(spark, sf_dir):
    """No-split greedy packing (pipeline/packing.py pack_next_fit):
    per-shard sequential next-fit fold via applyInPandas — the
    recurrence the offset form can't express. The DuckDB oracle
    replays it with a recursive CTE stepping one row per shard."""
    from csp_spark.pipeline import pack_next_fit
    from csp_spark.text import token_count

    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", token_count(F.col("text")).alias("tok"))
    return pack_next_fit(
        t, "doc_id", "tok", budget=128, num_shards=4, order="shuffle", seed=11
    )


def doc_weighted_sample(spark, sf_dir):
    """Temperature-weighted corpus sampling (pipeline/sampling.py
    weighted_sample): keep each doc with probability w^(1/T) against
    its identity-hash uniform; w here is a length-based quality proxy.
    Pure filter — pushes into the scan."""
    from csp_spark.pipeline import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    w = F.least(F.col("n_chars") / F.lit(400.0), F.lit(1.0))
    t = docs.select("doc_id", w.alias("w"))
    return weighted_sample(t, "doc_id", "w", temperature=0.5, seed=42).select(
        "doc_id", F.round("w", 6).alias("w")
    )


def doc_cap_per_source(spark, sf_dir):
    """Per-group corpus caps (pipeline/sampling.py cap_per_group):
    keep at most 15 docs per source — the hash-chosen unbiased cap,
    plus the 'n best by quality proxy' variant on a second column.
    One shuffle on the group key; window row_number."""
    from csp_spark.pipeline import cap_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    capped = cap_per_group(docs, "doc_id", "source", 15)
    best = cap_per_group(docs, "doc_id", "source", 15, by="n_chars")
    return (
        capped.select("doc_id", "source", F.lit("hash").alias("how"))
        .unionByName(
            best.select("doc_id", "source", F.lit("best").alias("how"))
        )
    )


def _cap_oracle_sql() -> str:
    u = f"(({_hex13_sql(_SPLIT_MD5_42)}) + 0.5) / 4503599627370496.0"
    return f"""
WITH h AS (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source ORDER BY {u} ASC, doc_id) AS rn
  FROM documents
), b AS (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
)
SELECT doc_id, source, 'hash' AS how FROM h WHERE rn <= 15
UNION ALL
SELECT doc_id, source, 'best' AS how FROM b WHERE rn <= 15
"""


def stats_ohlc_bars(spark, sf_dir):
    """Per-key tumbling OHLC bars (stats/resample.py): 1-hour epoch-
    aligned buckets, open/close in exact (ts, seq) engine order — ONE
    keyed hash-aggregate with map-side partials, no window function."""
    import datetime as dt_

    from csp_spark.stats import ohlc_bars

    x = _events_stream(spark, sf_dir)
    bars = ohlc_bars(x, dt_.timedelta(hours=1))
    return bars.select(
        F.col("key").cast("long").alias("user_id"),
        "bar_start", "open", "high", "low", "close", "n_ticks",
        F.round("mean", 6).alias("mean_v"),
    )


def op_sessionize(spark, sf_dir):
    """Gap-based sessionization (stats/resample.py sessionize — the
    stateful last-seen-time @csp.node pattern as one key shuffle +
    two window passes): 4-hour inactivity gap over the events stream
    (a tick at exactly last+gap joins — native session_window's
    closed-boundary rule, so the streaming twin session_bars_stream
    agrees at boundaries), rolled up per session. The oracle replays
    lag + running boundary sum + the session aggregate in SQL."""
    import datetime as dt_

    from csp_spark.stats import sessionize

    x = _events_stream(spark, sf_dir)
    s = sessionize(x, dt_.timedelta(hours=4))
    vd = F.col(s.value_col).cast(_DEC)
    # r12: group by the RAW string key and cast to user_id AFTER the
    # aggregate — grouping by cast(KEY) broke Catalyst's subset rule
    # (hashpartitioning(key) satisfies clustering on (key, session_idx)
    # but not on (cast(key), session_idx)), forcing a second Exchange
    # after the window pass's own. Keys are 1:1 with their long casts,
    # so the groups — and every aggregate value — are identical.
    return (
        s.df.groupBy(F.col(KEY), F.col("session_idx"))
        .agg(
            F.min(TS).alias("session_start"),
            F.max(TS).alias("session_end"),
            (F.unix_micros(F.max(TS)) - F.unix_micros(F.min(TS)))
            .alias("duration_us"),
            F.count(F.lit(1)).alias("n_ticks"),
            F.round(F.sum(vd).cast("double"), 6).alias("sum_v"),
        )
        .select(
            F.col(KEY).cast("long").alias("user_id"),
            "session_idx", "session_start", "session_end",
            "duration_us", "n_ticks", "sum_v",
        )
    )


_SESSIONIZE_ORACLE = """
WITH e AS (
  SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS v FROM events
), lagged AS (
  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
    AS prev_ts
  FROM e
), b AS (
  SELECT *, CASE WHEN prev_ts IS NULL
      OR epoch_us(ts) - epoch_us(prev_ts) > 14400000000
    THEN 1 ELSE 0 END AS brk
  FROM lagged
), s AS (
  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
      ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1
    AS session_idx
  FROM b
)
SELECT user_id, session_idx,
  min(ts) AS session_start, max(ts) AS session_end,
  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
  count(*) AS n_ticks,
  round(CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE), 6) AS sum_v
FROM s GROUP BY 1, 2
"""


def _ohlc_oracle_sql() -> str:
    return """
WITH t AS (
  SELECT user_id, ts, event_id, value,
    CAST(to_timestamp(CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) * 3600)
      AS TIMESTAMP) AS bar_start
  FROM events
),
w AS (
  SELECT user_id, bar_start, value,
    first_value(value) OVER (PARTITION BY user_id, bar_start
      ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS open,
    last_value(value) OVER (PARTITION BY user_id, bar_start
      ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close
  FROM t
)
SELECT user_id, bar_start,
  max(open) AS open, max(value) AS high, min(value) AS low,
  max(close) AS close, count(*) AS n_ticks,
  round(avg(value), 6) AS mean_v
FROM w
GROUP BY user_id, bar_start
"""


def op_asof_directions(spark, sf_dir):
    """General asof_join in all three merge_asof directions over the
    events table: every 10th event (per id) probes the others for its
    latest-at-or-before, earliest-at-or-after, and nearest value.
    Right side deduped to one row per (user, ts) so the match is
    well-defined cross-engine; one key shuffle per direction."""
    from csp_spark.core.align import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_id") % 10 == 0).select(
        "user_id", "ts", "event_id"
    )
    right = (
        ev.filter(F.col("event_id") % 10 != 0)
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("value"))
    )
    out = left
    for direction, name in (
        ("backward", "back_v"), ("forward", "fwd_v"), ("nearest", "near_v")
    ):
        j = asof_join(
            left, right, on=["user_id"], left_ts="ts", right_ts="ts",
            right_cols=["value"], direction=direction,
        ).select("user_id", "event_id", F.col("value").alias(name))
        out = out.join(j, ["user_id", "event_id"])
    return out.select("user_id", "event_id", "back_v", "fwd_v", "near_v")


def _asof_directions_oracle_sql() -> str:
    return """
WITH l AS (
  SELECT user_id, ts, event_id FROM events WHERE event_id % 10 = 0
),
r AS (
  SELECT user_id, ts, max_by(value, event_id) AS value
  FROM events WHERE event_id % 10 <> 0 GROUP BY user_id, ts
),
m AS (
  SELECT l.user_id, l.event_id, l.ts,
    (SELECT r.value FROM r WHERE r.user_id = l.user_id AND r.ts <= l.ts
     ORDER BY r.ts DESC LIMIT 1) AS back_v,
    (SELECT r.ts FROM r WHERE r.user_id = l.user_id AND r.ts <= l.ts
     ORDER BY r.ts DESC LIMIT 1) AS back_ts,
    (SELECT r.value FROM r WHERE r.user_id = l.user_id AND r.ts >= l.ts
     ORDER BY r.ts ASC LIMIT 1) AS fwd_v,
    (SELECT r.ts FROM r WHERE r.user_id = l.user_id AND r.ts >= l.ts
     ORDER BY r.ts ASC LIMIT 1) AS fwd_ts
  FROM l
)
SELECT user_id, event_id, back_v, fwd_v,
  CASE WHEN back_ts IS NULL THEN fwd_v
       WHEN fwd_ts IS NULL THEN back_v
       WHEN ts - back_ts <= fwd_ts - ts THEN back_v
       ELSE fwd_v END AS near_v
FROM m
"""


def doc_token_ids(spark, sf_dir):
    """Vocabulary build + token-id encoding (text/analysis.py
    build_vocab/encode_tokens): frequency-ranked 500-token vocab, ids
    by (count desc, token asc), OOV → 0 — the tokenize→ids step ahead
    of sequence packing. One corpus hash-aggregate + broadcast vocab
    join + one keyed collect. encode_tokens keeps its per-doc array
    API; the driver view explodes to (doc_id, pos, token_id) scalar
    rows because the driver's value hasher cannot hash ARRAY columns
    (r4 err: "unhashable type: 'list'")."""
    from csp_spark.text import build_vocab, encode_tokens

    docs = _t(spark, sf_dir, "documents")
    enc = encode_tokens(docs, build_vocab(docs, vocab_size=500))
    return enc.select(
        "doc_id", F.posexplode("token_ids").alias("pos", "token_id")
    ).select(
        "doc_id", (F.col("pos") + 1).cast("long").alias("pos"),
        F.col("token_id").cast("int").alias("token_id"),
    )


def _token_ids_oracle_sql() -> str:
    return r"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
  FROM documents
),
toks AS (
  SELECT doc_id, ts[i] AS token, i AS pos
  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM base)
),
counts AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
vocab AS (
  SELECT token, row_number() OVER (ORDER BY c DESC, token) AS tid
  FROM counts QUALIFY tid <= 500
)
SELECT t.doc_id, CAST(t.pos AS BIGINT) AS pos,
  CAST(COALESCE(v.tid, 0) AS INT) AS token_id
FROM toks t LEFT JOIN vocab v USING (token)
"""


def doc_incremental_dedup(spark, sf_dir):
    """Ingestion-time dedup (dedup/components.py incremental_dedup):
    even-id docs are the published corpus, odd-id docs the incoming
    batch; an incoming doc survives unless its near-dup component is
    anchored by an existing doc or it loses the min-id rule among
    incoming-only components. Pair generator = the same scale minhash
    path dedup_components ★-validates; oracle = recursive-CTE
    reachability over the exact word-5-shingle Jaccard pairs + the
    anchored-component rule."""
    from csp_spark.dedup import incremental_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    kept = incremental_dedup(
        existing, incoming,
        pair_fn=lambda d: DD.minhash_lsh_pairs(
            d, shingle_k=5, use_words=True, threshold=0.5,
            num_hashes=48, bands=12,
        ),
    )
    return kept.select("doc_id")


def _incremental_oracle_sql() -> str:
    # pair + reachability stages identical to _components_oracle_sql
    # (proven equal to the Spark LSH pair set on this corpus), then the
    # anchored-component keep rule over the even/odd corpus split
    return r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
    array_to_string(t[i : i + 4], ' ') AS s
  FROM (SELECT doc_id, t,
          unnest(generate_series(1, greatest(len(t) - 4, 1))) AS i
        FROM toks)
), sizes AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(count(*) AS DOUBLE) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT ia, ib FROM inter
  JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
  WHERE i / (sa.c + sb.c - i) >= 0.5
),
edges AS (SELECT ia AS u, ib AS v FROM pairs UNION SELECT ib, ia FROM pairs),
reach(u, v) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u AS id, min(v) AS component FROM reach GROUP BY u),
lab AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
         d.doc_id % 2 = 0 AS ex
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
),
g AS (
  SELECT component,
         max(CASE WHEN ex THEN 1 ELSE 0 END) AS anchored,
         min(CASE WHEN NOT ex THEN doc_id END) AS minin
  FROM lab GROUP BY component
)
SELECT l.doc_id FROM lab l JOIN g ON l.component = g.component
WHERE NOT l.ex AND g.anchored = 0 AND l.doc_id = g.minin
"""


def _pack_base_sql() -> str:
    """Shared CTE: per-doc token count + md5 shard/order draws
    (seed 11 → order, seed 12 → shard), mirroring pack_offsets'
    _sharded_ordered."""
    u_ord = f"(({_hex13_sql(_PACK_MD5_11)}) + 0.5) / 4503599627370496.0"
    u_shd = f"(({_hex13_sql(_PACK_MD5_12)}) + 0.5) / 4503599627370496.0"
    return f"""
  SELECT doc_id,
    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens,
    CAST(floor(({u_shd}) * 4) AS INT) AS shard,
    {u_ord} AS u
  FROM documents
"""


_PACK_MD5_11 = "md5(concat('11|', CAST(doc_id AS VARCHAR)))"
_PACK_MD5_12 = "md5(concat('12|', CAST(doc_id AS VARCHAR)))"
_SEQ_BASE = 1 << 40


def _pack_offsets_oracle_sql() -> str:
    return f"""
WITH t AS ({_pack_base_sql()}),
w AS (
  -- CAST: DuckDB window sum(BIGINT) returns HUGEINT (int128); the Spark
  -- side is LONG, and the driver's typed hash distinguishes them (r4 red).
  SELECT doc_id, shard, n_tokens,
    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY u, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
      AS BIGINT) AS start_offset
  FROM t
)
SELECT doc_id, shard, n_tokens, start_offset,
  shard * {_SEQ_BASE} + CAST(floor(start_offset / 128.0) AS BIGINT) AS begin_seq,
  shard * {_SEQ_BASE}
    + CAST(floor(greatest(start_offset + n_tokens - 1, start_offset) / 128.0) AS BIGINT) AS end_seq,
  start_offset % 128 AS begin_offset
FROM w
"""


def doc_pack_manifest(spark, sf_dir):
    """Dataloader manifest of the doc_pack layout (pipeline/packing.py
    sequence_manifest): one row per (sequence, doc segment) with the
    token slice to read — pure arithmetic + one explode over spanned
    sequence ids, no extra shuffle."""
    from csp_spark.pipeline import pack_offsets, sequence_manifest
    from csp_spark.text import token_count

    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", token_count(F.col("text")).alias("tok"))
    packed = pack_offsets(
        t, "doc_id", "tok", budget=128, num_shards=4, order="shuffle", seed=11
    )
    return sequence_manifest(packed, 128)


def _pack_manifest_oracle_sql() -> str:
    return f"""
WITH t AS ({_pack_base_sql()}),
w AS (
  -- CAST: same HUGEINT window-sum pitfall as _pack_offsets_oracle_sql —
  -- every derived column below (doc_from/doc_to/seq_offset) inherits the
  -- type, so it must be BIGINT at the source.
  SELECT doc_id, shard, n_tokens,
    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY u, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
      AS BIGINT) AS start_offset
  FROM t
),
d AS (
  SELECT doc_id, shard, n_tokens, start_offset,
    CAST(floor(start_offset / 128.0) AS BIGINT) AS b0,
    CAST(floor(greatest(start_offset + n_tokens - 1, start_offset) / 128.0)
      AS BIGINT) AS b1
  FROM w
),
e AS (SELECT *, unnest(generate_series(b0, b1)) AS k FROM d)
SELECT doc_id,
  shard * {_SEQ_BASE} + k AS seq,
  greatest(k * 128 - start_offset, 0) AS doc_from,
  least(n_tokens, (k + 1) * 128 - start_offset) AS doc_to,
  greatest(start_offset - k * 128, 0) AS seq_offset
FROM e
"""


def _pack_fit_oracle_sql() -> str:
    return f"""
WITH RECURSIVE t AS (
  SELECT doc_id, shard, n_tokens, u,
    row_number() OVER (PARTITION BY shard ORDER BY u, doc_id) AS rn
  FROM ({_pack_base_sql()})
),
r AS (
  SELECT shard, rn, doc_id, n_tokens,
    CAST(0 AS BIGINT) AS bin, n_tokens AS fill, CAST(0 AS BIGINT) AS off
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
    CASE WHEN r.fill + t.n_tokens > 128 THEN r.bin + 1 ELSE r.bin END,
    CASE WHEN r.fill + t.n_tokens > 128 THEN t.n_tokens
         ELSE r.fill + t.n_tokens END,
    CASE WHEN r.fill + t.n_tokens > 128 THEN CAST(0 AS BIGINT) ELSE r.fill END
  FROM r JOIN t ON t.shard = r.shard AND t.rn = r.rn + 1
)
SELECT doc_id, shard, n_tokens,
  shard * {_SEQ_BASE} + bin AS seq, off AS offset
FROM r
"""


def _weighted_sample_oracle_sql() -> str:
    u = f"(({_hex13_sql(_SPLIT_MD5_42)}) + 0.5) / 4503599627370496.0"
    return f"""
WITH t AS (SELECT doc_id, least(n_chars / 400.0, 1.0) AS w FROM documents)
SELECT doc_id, round(w, 6) AS w FROM t
WHERE ({u}) < pow(least(greatest(w, 0.0), 1.0), 2.0)
"""


_SPLIT_MD5_42 = "md5(concat('42|', CAST(doc_id AS VARCHAR)))"


def _components_oracle_sql() -> str:
    # pair stage identical to dedup_minhash's proven oracle (exact
    # word-5-shingle Jaccard = the LSH pair set on this corpus);
    # closure via recursive reachability + min label (independent of
    # the Spark contraction-loop algorithm)
    return r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
    array_to_string(t[i : i + 4], ' ') AS s
  FROM (SELECT doc_id, t,
          unnest(generate_series(1, greatest(len(t) - 4, 1))) AS i
        FROM toks)
), sizes AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(count(*) AS DOUBLE) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT ia, ib FROM inter
  JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
  WHERE i / (sa.c + sb.c - i) >= 0.5
),
edges AS (SELECT ia AS u, ib AS v FROM pairs UNION SELECT ib, ia FROM pairs),
reach(u, v) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id, min(v) AS component_id FROM reach GROUP BY u
"""


def _split_oracle_sql() -> str:
    u7 = f"(({_hex13_sql(_SPLIT_MD5_7)}) + 0.5) / 4503599627370496.0"
    u11 = f"(({_hex13_sql(_SPLIT_MD5_11)}) + 0.5) / 4503599627370496.0"
    return f"""
WITH u AS (
  SELECT doc_id, lang, {u7} AS us, {u11} AS uk FROM documents
)
SELECT doc_id,
  CASE WHEN us < 0.9 THEN 'train' WHEN us < 0.95 THEN 'val' ELSE 'test' END AS split,
  CAST(uk < (CASE WHEN lang = 'en' THEN 1.0 ELSE 0.25 END) AS INT) AS kept
FROM u
"""


_SPLIT_MD5_7 = "md5(concat('7|', CAST(doc_id AS VARCHAR)))"
_SPLIT_MD5_11 = "md5(concat('11|', CAST(doc_id AS VARCHAR)))"


def _knn_oracle_sql(k: int = 5) -> str:
    sim = (
        "round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6)"
    )
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 25 = 0),
s AS (
  SELECT q.qid, e.vec_id AS cid, {sim} AS cos_sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid
)
SELECT qid, cid, rank, cos_sim FROM (
  SELECT qid, cid, cos_sim,
    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank
  FROM s
) WHERE rank <= {k}
"""


# ----------------------------------------------------------------------
# driver contract
# ----------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1-style pricing summary at sf0.001."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


# r14 rotation: every query whose code path this round changed leads
# (the BLAS-select + exact-rescore similarity kernel behind knn_join,
# hard_negatives, cosine_pairs_above and semdedup; dynamic_apply's snap
# as-of pick), then the oldest (r10-stamped) driver evidence.
_R14_PREFIX = [
    # changed paths
    "ann_knn_join", "ann_knn_join_blas", "ann_hard_negatives",
    "doc_semdedup", "dedup_embedding", "dyn_snap_attach",
    # oldest-evidence (r10-stamped) fill slots
    "op_asof_directions", "stats_ohlc_bars", "doc_mixture",
    "sink_parquet_roundtrip", "sink_csv_roundtrip", "sink_arrow_roundtrip",
    "op_exprtk_vec", "text_boilerplate", "doc_decontaminate",
    "text_term_stats", "text_tfidf", "text_quality_model",
    "basket_sync_trigger",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = {
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q10_returned_items": q10_returned_items,
        "op_count": op_count,
        "op_value_at": op_value_at,
        "op_struct_record": op_struct_record,
        "op_exprtk_state": op_exprtk_state,
        "dyn_snap_attach": dyn_snap_attach,
        "op_accum": op_accum,
        "op_node_cumsum": op_node_cumsum,
        "op_diff": op_diff,
        "op_delay": op_delay,
        "op_firstn": op_firstn,
        "op_dropdups": op_dropdups,
        "op_merge": op_merge,
        "op_sample_asof": op_sample_asof,
        "op_filter": op_filter,
        "op_unroll": op_unroll,
        "op_split_false": op_split_false,
        "op_default": op_default,
        "op_multiplex": op_multiplex,
        "op_gate": op_gate,
        "op_struct_fromts": op_struct_fromts,
        "op_collect": op_collect,
        "op_flatten": op_flatten,
        "op_dropnans": op_dropnans,
        "op_apply": op_apply,
        "op_demultiplex": op_demultiplex,
        "op_struct_collectts": op_struct_collectts,
        "op_struct_field": op_struct_field,
        "op_times": op_times,
        "op_dynamic_collect": op_dynamic_collect,
        "op_edge_math": op_edge_math,
        "src_timer": src_timer,
        "basket_sync": basket_sync,
        "basket_sync_trigger": basket_sync_trigger,
        "basket_sample": basket_sample,
        "dyn_cummax": dyn_cummax,
        "feedback_clamp": feedback_clamp,
        "random_poisson": random_poisson,
        "random_brownian": random_brownian,
        "mm_features": mm_features,
        "stats_rolling_tick": stats_rolling_tick,
        "stats_unique": stats_unique,
        "stats_rolling_time": stats_rolling_time,
        "stats_expanding": stats_expanding,
        "stats_quantile": stats_quantile,
        "stats_skew_kurt": stats_skew_kurt,
        "stats_corr": stats_corr,
        "stats_ema": stats_ema,
        "stats_ema_adjust": stats_ema_adjust,
        "stats_ema_halflife": stats_ema_halflife,
        "stats_argminmax": stats_argminmax,
        "stats_order": stats_order,
        "stats_rank": stats_rank,
        "stats_weighted": stats_weighted,
        "stats_minmax_sem": stats_minmax_sem,
        "stats_xsec": stats_xsec,
        "stats_ema_var": stats_ema_var,
        "stats_cov_matrix": stats_cov_matrix,
        "dedup_embedding": dedup_embedding,
        "doc_semdedup": doc_semdedup,
        "doc_dsir": doc_dsir,
        "doc_gopher": doc_gopher,
        "doc_c4": doc_c4,
        "text_stats": text_stats,
        "text_langid": text_langid,
        "dedup_exact": dedup_exact,
        "dedup_ngram": dedup_ngram,
        "dedup_minhash": dedup_minhash,
        "dedup_simhash": dedup_simhash,
        "ann_topk": ann_topk,
        "ann_lsh_topk": ann_lsh_topk,
        "src_curve": src_curve,
        "op_burst": op_burst,
        "op_last_value": op_last_value,
        "op_exprtk": op_exprtk,
        "op_dropdups_eps": op_dropdups_eps,
        "stats_ema_cov": stats_ema_cov,
        "text_fingerprint": text_fingerprint,
        "ann_ivf_topk": ann_ivf_topk,
        "ann_pq_topk": ann_pq_topk,
        "frame_pandas_ts": frame_pandas_ts,
        "op_node_ast": op_node_ast,
        "doc_bpe_tokens": doc_bpe_tokens,
        "doc_bpe_apply": doc_bpe_apply,
        "doc_mixture": doc_mixture,
        "doc_repeat_epochs": doc_repeat_epochs,
        "sink_parquet_roundtrip": sink_parquet_roundtrip,
        "sink_csv_roundtrip": sink_csv_roundtrip,
        "sink_arrow_roundtrip": sink_arrow_roundtrip,
        "ann_ivf_exact": ann_ivf_exact,
        "stats_trigger_reset": stats_trigger_reset,
        "stats_sampler": stats_sampler,
        "dedup_components": dedup_components,
        "doc_split": doc_split,
        "doc_group_split": doc_group_split,
        "ann_knn_join": ann_knn_join,
        "ann_knn_join_blas": ann_knn_join_blas,
        "q4_order_priority": q4_order_priority,
        "q13_customer_distribution": q13_customer_distribution,
        "q18_large_volume_customer": q18_large_volume_customer,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q7_volume_shipping": q7_volume_shipping,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q11_important_stock": q11_important_stock,
        "q12_shipmode_priority": q12_shipmode_priority,
        "q14_promo_revenue": q14_promo_revenue,
        "q15_top_supplier": q15_top_supplier,
        "q16_supplier_part_count": q16_supplier_part_count,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q19_discounted_revenue": q19_discounted_revenue,
        "q20_part_promotion": q20_part_promotion,
        "q21_suppliers_kept_waiting": q21_suppliers_kept_waiting,
        "q22_global_sales_opportunity": q22_global_sales_opportunity,
        "text_repetition": text_repetition,
        "doc_chunk": doc_chunk,
        "op_accum_global": op_accum_global,
        "op_windowed_global": op_windowed_global,
        "op_windowed_global_time": op_windowed_global_time,
        "op_exprtk_vec": op_exprtk_vec,
        "text_boilerplate": text_boilerplate,
        "doc_decontaminate": doc_decontaminate,
        "text_term_stats": text_term_stats,
        "text_tfidf": text_tfidf,
        "text_quality_model": text_quality_model,
        "op_feedback_scan": op_feedback_scan,
        "op_hot_key_running": op_hot_key_running,
        "doc_pack": doc_pack,
        "doc_pack_fit": doc_pack_fit,
        "doc_weighted_sample": doc_weighted_sample,
        "doc_cap_per_source": doc_cap_per_source,
        "doc_incremental_dedup": doc_incremental_dedup,
        "op_asof_directions": op_asof_directions,
        "stats_ohlc_bars": stats_ohlc_bars,
        "op_sessionize": op_sessionize,
        "ann_hard_negatives": ann_hard_negatives,
        "doc_pack_manifest": doc_pack_manifest,
        "doc_token_ids": doc_token_ids,
        "doc_repeated_spans": doc_repeated_spans,
        "text_lm_score": text_lm_score,
    }
    # The correctness harness evaluates a bounded prefix (50) of this
    # dict — _R14_PREFIX (above) carries this round's evidence rotation;
    # behind it, oracle-checked queries come before any rows-only rest
    # (none since r9: ann_knn_join_blas gained the shared knn oracle).
    o = oracle_sql()
    front = {k: q[k] for k in _R14_PREFIX if k in q}
    return {
        **front,
        **{k: v for k, v in q.items() if k in o and k not in front},
        **{k: v for k, v in q.items() if k not in o and k not in front},
    }


_W_USER = "PARTITION BY user_id ORDER BY ts, event_id"
_WF_USER = f"OVER ({_W_USER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": f"""
SELECT l_returnflag, l_linestatus,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_base_price,
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_disc_price,
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_charge,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS avg_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS avg_price,
  round(CAST(sum(CAST(l_discount AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""",
        "q3_shipping_priority": """
SELECT o_orderkey, o_orderdate, o_orderpriority,
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey LIMIT 10
""",
        "q5_local_supplier_volume": """
SELECT r_name, n_name,
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue,
  count(*) AS n_items
FROM lineitem, supplier, orders, customer, nation, region
WHERE l_suppkey = s_suppkey AND l_orderkey = o_orderkey
  AND o_custkey = c_custkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
        "q6_forecast_revenue": """
SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue,
  count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.06 AND l_quantity < 24
""",
        "q10_returned_items": """
SELECT c_custkey, c_name, n_name,
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""",
        "op_count": f"""
SELECT event_id, user_id, count(*) {_WF_USER} AS n_ticks FROM events
""",
        "op_accum": f"""
SELECT event_id, user_id,
  round(CAST(sum(CAST(value AS DECIMAL(18,4))) {_WF_USER} AS DOUBLE) + 0.0, 4) AS running_sum
FROM events
""",
        # the imperative node runner computes the same exact-decimal
        # running sum per key, sequentially inside the node's state
        "op_node_cumsum": f"""
SELECT event_id, user_id,
  round(CAST(sum(CAST(value AS DECIMAL(18,4))) {_WF_USER} AS DOUBLE) + 0.0, 4) AS running_sum
FROM events
""",
        "op_diff": f"""
SELECT event_id, user_id, dv FROM (
  SELECT event_id, user_id, value - lag(value) OVER ({_W_USER}) AS dv FROM events
) WHERE dv IS NOT NULL
""",
        "op_delay": f"""
SELECT event_id, user_id, lagged FROM (
  SELECT event_id, user_id, lag(value, 2) OVER ({_W_USER}) AS lagged FROM events
) WHERE lagged IS NOT NULL
""",
        "op_firstn": f"""
SELECT event_id, user_id, value FROM (
  SELECT event_id, user_id, value, row_number() OVER ({_W_USER}) AS rn FROM events
) WHERE rn <= 5
""",
        "op_dropdups": f"""
SELECT event_id, user_id, event_type FROM (
  SELECT event_id, user_id, event_type,
         lag(event_type) OVER ({_W_USER}) AS prev FROM events
) WHERE prev IS NULL OR prev <> event_type
""",
        "op_merge": """
SELECT event_id, user_id, value FROM events WHERE event_type IN ('click', 'view')
""",
        "op_sample_asof": f"""
SELECT event_id, user_id, last_view_value FROM (
  SELECT event_id, user_id, event_type,
    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
      OVER ({_W_USER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_value
  FROM events WHERE event_type IN ('view', 'click')
) WHERE event_type = 'click' AND last_view_value IS NOT NULL
""",
        "op_filter": f"""
SELECT event_id, user_id, value FROM (
  SELECT event_id, user_id, event_type, value,
    last_value(CASE WHEN event_type = 'purchase' THEN (value > 50) END IGNORE NULLS)
      OVER ({_W_USER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS flag
  FROM events WHERE event_type IN ('purchase', 'click')
) WHERE event_type = 'click' AND flag
""",
        "op_unroll": """
SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, l[u.i] AS word
FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents WHERE doc_id < 50),
     LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) u
""",
        "op_split_false": f"""
SELECT event_id, user_id, value FROM (
  SELECT event_id, user_id, event_type, value,
    last_value(CASE WHEN event_type = 'purchase' THEN (value > 50) END IGNORE NULLS)
      OVER ({_W_USER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS flag
  FROM events WHERE event_type IN ('purchase', 'click')
) WHERE event_type = 'click' AND flag = false
""",
        "op_default": f"""
SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
UNION ALL
SELECT -1 AS event_id, user_id, TIMESTAMP '2023-12-31' AS ts, -1.0 AS value
FROM (SELECT user_id, min(ts) m FROM events WHERE event_type = 'click' GROUP BY 1)
WHERE m > TIMESTAMP '2023-12-31'
""",
        "op_multiplex": """
WITH sel AS (SELECT ts, event_id, event_type AS s FROM events WHERE user_id = 7),
ks AS (SELECT DISTINCT event_type AS k FROM events),
u AS (
  SELECT event_type AS k, ts, event_id, value, NULL AS s, 1 AS is_x FROM events
  UNION ALL
  SELECT ks.k, sel.ts, sel.event_id, NULL, sel.s, 0 FROM sel CROSS JOIN ks
),
w AS (
  SELECT k, ts, event_id, value, is_x,
    last_value(s IGNORE NULLS) OVER (
      PARTITION BY k ORDER BY ts, event_id, is_x
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur
  FROM u
)
SELECT event_id, k AS event_type, value FROM w WHERE is_x = 1 AND cur = k
""",
        "op_gate": f"""
WITH u AS (
  SELECT user_id, ts, event_id,
    CASE WHEN event_type = 'purchase' THEN (value > 50) END AS rel,
    CASE WHEN event_type = 'click' THEN value END AS x
  FROM events WHERE event_type IN ('purchase', 'click')
), w AS (
  SELECT *,
    last_value(rel IGNORE NULLS) OVER ({_W_USER}
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_now,
    last_value(CASE WHEN rel THEN ts END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_open_ts,
    last_value(CASE WHEN rel THEN event_id END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_open_id
  FROM u
), fl AS (
  SELECT user_id, x,
    CASE WHEN open_now THEN ts ELSE next_open_ts END AS flush_ts,
    CASE WHEN open_now THEN event_id ELSE next_open_id END AS flush_id
  FROM w WHERE x IS NOT NULL
)
SELECT user_id, flush_ts, flush_id, count(*) AS n_vals,
  round(CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_vals
FROM fl WHERE flush_ts IS NOT NULL
GROUP BY 1, 2, 3
""",
        "op_struct_fromts": f"""
SELECT event_id, user_id, last_click, last_view FROM (
  SELECT event_id, user_id,
    last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      OVER ({_W_USER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click,
    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
      OVER ({_W_USER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view
  FROM events WHERE event_type IN ('click', 'view')
)
""",
        "op_collect": """
SELECT event_id, user_id, 2 AS n, round(value * 3, 6) AS tot
FROM events WHERE event_type = 'click'
""",
        "op_flatten": """
SELECT user_id, ts, value FROM events
WHERE event_type IN ('click', 'view', 'purchase')
""",
        "op_dropnans": """
SELECT event_id, user_id, value FROM events
WHERE event_type = 'click' AND value >= 50
""",
        "op_apply": """
SELECT event_id, user_id, value * 2.0 + 1.0 AS value
FROM events WHERE event_type = 'click'
""",
        "op_demultiplex": """
SELECT event_id, event_type, value FROM events
WHERE event_type IN ('purchase', 'signup')
""",
        "op_struct_collectts": """
SELECT event_id, user_id,
  CASE WHEN event_type = 'click' THEN value END AS c,
  CASE WHEN event_type = 'view' THEN value END AS v
FROM events WHERE event_type IN ('click', 'view')
""",
        "op_struct_field": """
SELECT event_id, user_id, value AS big FROM events
WHERE event_type = 'click' AND value > 50
""",
        "op_times": """
SELECT event_id, user_id, ts AS tick_ts, epoch_us(ts) * 1000 AS t_ns
FROM events WHERE event_type = 'click'
""",
        "op_dynamic_collect": """
WITH s AS (
  SELECT event_type AS k, date_trunc('hour', ts) AS h,
    CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS v
  FROM events GROUP BY 1, 2
)
SELECT h AS ts, count(*) AS n_members,
  round(max(CASE WHEN k = 'click' THEN v END), 6) AS click_v
FROM s GROUP BY h
""",
        "op_edge_math": f"""
SELECT event_id, user_id, round((c + v) / 2 - 1, 6) AS value FROM (
  SELECT event_id, user_id,
    last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      OVER ({_W_USER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
      OVER ({_W_USER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
  FROM events WHERE event_type IN ('click', 'view')
) WHERE c IS NOT NULL AND v IS NOT NULL
""",
        "src_timer": """
SELECT ts, CAST(row_number() OVER (ORDER BY ts) AS DOUBLE) AS running
FROM (SELECT unnest(generate_series(
  TIMESTAMP '2024-01-01' + INTERVAL 1 HOUR,
  TIMESTAMP '2024-02-01', INTERVAL 1 HOUR)) AS ts)
""",
        "basket_sample": f"""
SELECT event_id, user_id, c, v FROM (
  SELECT event_id, user_id, event_type,
    last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      OVER ({_W_USER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
      OVER ({_W_USER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
  FROM events WHERE event_type IN ('click', 'view', 'purchase')
) WHERE event_type = 'purchase'
""",
        "stats_minmax_sem": f"""
SELECT event_id, user_id, w_min, w_max, round(w_sem, 6) AS w_sem, w_count FROM (
  SELECT event_id, user_id,
    min(value) OVER w15 AS w_min,
    max(value) OVER w15 AS w_max,
    stddev_samp(value) OVER w15 / sqrt(count(value) OVER w15) AS w_sem,
    count(value) OVER w15 AS w_count,
    row_number() OVER ({_W_USER}) AS rn
  FROM events
  WINDOW w15 AS ({_W_USER} ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
) WHERE rn >= 15
""",
        "stats_xsec": f"""
SELECT event_id, user_id,
  count(value) OVER w8 AS n_xs,
  round(CAST(sum(CAST(value AS DECIMAL(28,10))) OVER w8 AS DOUBLE), 6) AS sum_xs
FROM events WHERE event_type = 'signup'
WINDOW w8 AS ({_W_USER} ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
""",
        "basket_sync": """
WITH r AS (
  SELECT user_id, event_type, ts, value,
    CAST(floor(epoch_us(ts) / 21600000000) AS BIGINT) AS b,
    row_number() OVER (
      PARTITION BY user_id, event_type, CAST(floor(epoch_us(ts) / 21600000000) AS BIGINT)
      ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type IN ('click', 'view')
), f AS (SELECT * FROM r WHERE rn = 1)
SELECT user_id, max(ts) AS sync_ts,
  max(CASE WHEN event_type = 'click' THEN value END) AS click_v,
  max(CASE WHEN event_type = 'view' THEN value END) AS view_v
FROM f GROUP BY user_id, b HAVING count(*) = 2
""",
        # trigger-opened windows: accepted purchases are the greedy
        # >=6h-apart subsequence per user (recursive CTE: each step
        # takes the earliest remaining trigger past the last accepted
        # one); members attach to the window [t, t+6h) — disjoint by
        # construction, so a plain range join reproduces the engine's
        # last-trigger-carry assignment.
        "basket_sync_trigger": """
WITH RECURSIVE trg AS (
  SELECT user_id, epoch_us(ts) AS tus FROM events
  WHERE event_type = 'purchase'
), sel AS (
  SELECT user_id, min(tus) AS tus FROM trg GROUP BY user_id
  UNION ALL
  SELECT t.user_id, min(t.tus) AS tus
  FROM sel s JOIN trg t
    ON t.user_id = s.user_id AND t.tus >= s.tus + 21600000000
  GROUP BY t.user_id
), mem AS (
  SELECT e.user_id, s.tus AS wtus, e.event_type, e.ts, e.value,
    row_number() OVER (
      PARTITION BY e.user_id, s.tus, e.event_type
      ORDER BY e.ts, e.event_id) AS rn
  FROM events e JOIN sel s ON e.user_id = s.user_id
    AND epoch_us(e.ts) >= s.tus AND epoch_us(e.ts) < s.tus + 21600000000
  WHERE e.event_type IN ('click', 'view')
), f AS (SELECT * FROM mem WHERE rn = 1)
SELECT user_id, max(ts) AS sync_ts,
  max(CASE WHEN event_type = 'click' THEN value END) AS click_v,
  max(CASE WHEN event_type = 'view' THEN value END) AS view_v
FROM f GROUP BY user_id, wtus HAVING count(*) = 2
""",
        "dyn_cummax": f"""
SELECT event_id, user_id,
  max(value) {_WF_USER} AS run_max
FROM events
""",
        "stats_argminmax": f"""
SELECT event_id, user_id,
  arg_max(ts, value) {_WF_USER} AS t_max,
  arg_min(ts, value) {_WF_USER} AS t_min
FROM events
""",
        "stats_order": f"""
SELECT event_id, user_id, w_first, w_last, w_lnprod, w_gmean, w_unique FROM (
  SELECT event_id, user_id,
    first_value(value) OVER w20 AS w_first,
    last_value(value) OVER w20 AS w_last,
    round(sum(ln(value)) OVER w20, 6) AS w_lnprod,
    round(exp(avg(ln(value)) OVER w20), 6) AS w_gmean,
    len(list_distinct(list(round(value, 0)) OVER w20)) AS w_unique,
    row_number() OVER ({_W_USER}) AS rn
  FROM events WHERE value > 0
  WINDOW w20 AS ({_W_USER} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
) WHERE rn >= 10
""",
        "stats_rank": f"""
SELECT event_id, user_id,
  CAST(len(list_filter(l, v -> v < value)) AS DOUBLE) AS rank_min,
  CAST(len(list_filter(l, v -> v <= value)) - 1 AS DOUBLE) AS rank_max,
  (len(list_filter(l, v -> v < value)) + len(list_filter(l, v -> v <= value)) - 1) / 2.0 AS rank_avg
FROM (
  SELECT event_id, user_id, value,
    list(value) OVER ({_W_USER} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS l,
    row_number() OVER ({_W_USER}) AS rn
  FROM events
) WHERE rn >= 20
""",
        "stats_weighted": f"""
WITH u AS (
  SELECT user_id, ts, event_id,
    CASE WHEN event_type = 'click' THEN value END AS x,
    CASE WHEN event_type = 'view' THEN value END AS wr
  FROM events WHERE event_type IN ('click', 'view')
), a AS (
  SELECT user_id, ts, event_id, x,
    last_value(wr IGNORE NULLS) OVER ({_W_USER}
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w
  FROM u
), c AS (
  SELECT user_id, ts, event_id, x,
    CASE WHEN w > 0 THEN w END AS w,
    row_number() OVER ({_W_USER}) AS rn
  FROM a WHERE x IS NOT NULL
), s AS (
  SELECT user_id, ts, event_id, rn,
    sum(w) {_WF_USER} AS W,
    sum(x * w) {_WF_USER} AS S1,
    sum(x * x * w) {_WF_USER} AS S2,
    min(CASE WHEN w IS NOT NULL THEN x END) {_WF_USER} AS mn,
    max(CASE WHEN w IS NOT NULL THEN x END) {_WF_USER} AS mx
  FROM c
)
SELECT event_id, user_id,
  round(CASE WHEN W > 0 THEN S1 / W ELSE 'NaN'::DOUBLE END, 6) AS wmean,
  round(CASE WHEN W > 1 THEN
          CASE WHEN mn = mx THEN 0.0
               ELSE greatest((S2 - S1 * S1 / W) / (W - 1), 0.0) END
        ELSE 'NaN'::DOUBLE END, 6) AS wvar
FROM s WHERE rn >= 3
""",
        "stats_cov_matrix": """
WITH s AS (
  SELECT event_type AS k, date_trunc('hour', ts) AS h,
    CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS v
  FROM events GROUP BY 1, 2
)
SELECT a.k AS key_a, b.k AS key_b,
  round(covar_samp(a.v, b.v), 6) AS cov_v,
  round(corr(a.v, b.v), 6) AS corr_v
FROM s a JOIN s b ON a.h = b.h AND a.k <= b.k
GROUP BY 1, 2
""",
        "dedup_embedding": """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
           * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.35
""",
        # C4 recipe over the synthesized 4-line documents: the same
        # line assembly, line rules, and doc gates; md5 byte-checks
        # the reassembled clean text.
        "doc_c4": r"""
WITH lined0 AS (
  SELECT doc_id,
    substr(text, 1, 40) || '.' || chr(10)
    || substr(text, 1, CAST(doc_id % 30 AS INT)) || '?' || chr(10)
    || text || chr(10)
    || 'see javascript docs.' AS lined
  FROM documents
), lined AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN lined || ' {' ELSE lined END AS t
  FROM lined0
), split AS (
  SELECT doc_id, t, string_split(t, chr(10)) AS lines FROM lined
), kept AS (
  SELECT doc_id, t,
    list_filter(lines, l ->
      regexp_matches(rtrim(l), '[.!?"]$')
      AND len(string_split_regex(trim(l), '\s+')) >= 3
      AND NOT regexp_matches(lower(l), 'javascript')
    ) AS k,
    len(lines) AS n_lines
  FROM split
)
SELECT doc_id,
  md5(array_to_string(k, chr(10))) AS clean_md5,
  CAST(len(k) AS INT) AS n_lines_kept,
  CAST(n_lines - len(k) AS INT) AS n_lines_removed,
  CAST(len(k) >= 1
       AND NOT regexp_matches(lower(t), 'lorem ipsum')
       AND NOT contains(t, '{') AS INT) AS keep
FROM kept
""",
        # Gopher rule bundle: every rule replayed on DuckDB's list
        # lambdas over the same tokenization (lowercased \s+ split;
        # lines split on raw text). list_intersect is wrapped in
        # list_distinct to match Spark array_intersect's set semantics.
        "doc_gopher": r"""
WITH base AS (
  SELECT doc_id, text,
    string_split_regex(trim(lower(text)), '\s+') AS t,
    string_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id,
    len(t) AS n_words,
    len(lines) AS n_lines,
    len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS alpha,
    len(list_filter(lines, l -> regexp_matches(trim(l), '^[•\-\*‣▶]'))) AS bullet,
    len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS ell_lines,
    length(text) - length(replace(text, '#', '')) AS hashes,
    len(string_split_regex(text, '(\.\.\.|…)')) - 1 AS ellipses,
    len(list_distinct(list_intersect(t,
        ['the','be','to','of','and','that','have','with']))) AS sw,
    CAST(list_sum(list_transform(t, w -> length(w))) AS DOUBLE)
      / len(t) AS mwl
  FROM base
), r AS (
  SELECT doc_id,
    CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS r1_word_count,
    CAST(mwl >= 3.0 AND mwl <= 10.0 AS INT) AS r2_mean_word_len,
    CAST(hashes <= n_words * 0.1 AND ellipses <= n_words * 0.1 AS INT)
      AS r3_symbol_ratio,
    CAST(bullet <= n_lines * 0.9 AS INT) AS r4_bullet_lines,
    CAST(ell_lines <= n_lines * 0.3 AS INT) AS r5_ellipsis_lines,
    CAST(alpha >= n_words * 0.8 AS INT) AS r6_alpha_words,
    CAST(sw >= 2 AS INT) AS r7_stop_words
  FROM m
)
SELECT doc_id, r1_word_count, r2_mean_word_len, r3_symbol_ratio,
  r4_bullet_lines, r5_ellipsis_lines, r6_alpha_words, r7_stop_words,
  CAST(r1_word_count + r2_mean_word_len + r3_symbol_ratio
       + r4_bullet_lines + r5_ellipsis_lines + r6_alpha_words
       + r7_stop_words = 7 AS INT) AS keep
FROM r
""",
        # DSIR exact-gram form: unigram+bigram add-1-smoothed models
        # over the union vocabulary; weight = sum of per-gram count x
        # log-likelihood-ratio; selection ranks the 6dp-rounded weight
        # with doc_id tiebreak IN BOTH ENGINES, so 1-ulp aggregation
        # drift cannot flip the boundary.
        "doc_dsir": r"""
WITH norm AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
), uni AS (
  SELECT doc_id, g FROM (SELECT doc_id, unnest(t) AS g FROM norm) WHERE length(g) > 0
), pos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
  FROM norm WHERE len(t) >= 2
), bi AS (
  SELECT doc_id, g FROM (SELECT doc_id, t[i] || ' ' || t[i+1] AS g FROM pos)
  WHERE length(g) > 1
), grams AS (
  SELECT * FROM uni UNION ALL SELECT * FROM bi
), dc AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
), tgt_ids AS (
  SELECT doc_id FROM documents WHERE source IN ('src0', 'src1', 'src2')
), raw_model AS (
  SELECT g, sum(c) AS c_raw FROM dc GROUP BY 1
), tgt_model AS (
  SELECT g, sum(c) AS c_tgt FROM dc JOIN tgt_ids USING (doc_id) GROUP BY 1
), model AS (
  SELECT r.g, r.c_raw, coalesce(tm.c_tgt, 0) AS c_tgt
  FROM raw_model r LEFT JOIN tgt_model tm USING (g)
), tot AS (
  SELECT CAST(sum(c_raw) AS DOUBLE) AS n_raw,
         CAST(sum(c_tgt) AS DOUBLE) AS n_tgt,
         CAST(count(*) AS DOUBLE) AS v
  FROM model
), lr AS (
  SELECT g, ln((c_tgt + 1.0) / (n_tgt + v)) - ln((c_raw + 1.0) / (n_raw + v)) AS lr
  FROM model, tot
), wts AS (
  SELECT dc.doc_id, round(sum(dc.c * lr.lr), 6) AS log_w
  FROM dc JOIN lr USING (g) GROUP BY 1
), allw AS (
  SELECT d.doc_id, coalesce(w.log_w, 0.0) AS log_w
  FROM documents d LEFT JOIN wts w USING (doc_id)
), rk AS (
  SELECT doc_id, log_w,
         row_number() OVER (ORDER BY log_w DESC, doc_id) AS rn
  FROM allw
)
SELECT doc_id, log_w,
  CAST(CASE WHEN rn <= 100 THEN 1 ELSE 0 END AS INT) AS selected
FROM rk
""",
        # SemDeDup n_clusters=1 / keep="min_id": a row is removed iff
        # some LOWER id is eps-similar to it (the paper's triangular
        # max-sim test, centroid-free in the degenerate single-cluster
        # case). Cosine agrees bit-for-bit between engines (both fold
        # the dot product left-to-right in doubles), so the eps cut is
        # exact.
        "doc_semdedup": """
WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
rm AS (
  SELECT DISTINCT a.vec_id
  FROM n a JOIN n b ON b.vec_id < a.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.40
)
SELECT e.vec_id,
  CAST(CASE WHEN e.vec_id IN (SELECT vec_id FROM rm) THEN 0 ELSE 1 END AS INT) AS kept
FROM embeddings e
""",
        "stats_unique": f"""
SELECT event_id, user_id, uniq FROM (
  SELECT event_id, user_id,
    CAST(count(DISTINCT round(value, 1)) OVER ({_W_USER}
      ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) AS BIGINT) AS uniq,
    row_number() OVER ({_W_USER}) AS rn
  FROM events
) WHERE rn >= 5
""",
        "stats_rolling_tick": f"""
SELECT event_id, user_id,
  round(roll_sum, 6) AS roll_sum, round(roll_mean, 6) AS roll_mean,
  roll_min, roll_max
FROM (
  SELECT event_id, user_id,
    sum(value)  OVER ({_W_USER} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_sum,
    avg(value)  OVER ({_W_USER} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_mean,
    min(value)  OVER ({_W_USER} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_min,
    max(value)  OVER ({_W_USER} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_max,
    row_number() OVER ({_W_USER}) AS rn
  FROM events
) WHERE rn >= 5
""",
        "stats_rolling_time": """
SELECT event_id, user_id, round(roll_sum, 6) AS roll_sum, roll_n FROM (
  SELECT event_id, user_id,
    sum(value) OVER w AS roll_sum,
    count(value) OVER w AS roll_n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 21599999999 PRECEDING AND CURRENT ROW)
)
""",
        "stats_expanding": f"""
SELECT event_id, user_id,
  s1 / n AS exp_mean,
  (s2 - s1 * s1 / n) / (n - 1) AS exp_var,
  sqrt((s2 - s1 * s1 / n) / (n - 1)) AS exp_std
FROM (
  SELECT event_id, user_id,
    CAST(count(value) {_WF_USER} AS DOUBLE) AS n,
    CAST(sum(CAST(value AS DECIMAL(18,4))) {_WF_USER} AS DOUBLE) AS s1,
    CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) {_WF_USER} AS DOUBLE) AS s2,
    row_number() OVER ({_W_USER}) AS rn
  FROM events
) WHERE rn >= 2
""",
        "stats_quantile": f"""
SELECT event_id, user_id,
  round(roll_median, 6) AS roll_median, round(roll_p25, 6) AS roll_p25
FROM (
  SELECT event_id, user_id,
    quantile_cont(value, 0.5)  OVER ({_W_USER} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS roll_median,
    quantile_cont(value, 0.25) OVER ({_W_USER} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS roll_p25,
    row_number() OVER ({_W_USER}) AS rn
  FROM events
) WHERE rn >= 20
""",
        "stats_skew_kurt": f"""
SELECT event_id, user_id,
  round(exp_skew, 6) AS exp_skew, round(exp_kurt, 6) AS exp_kurt
FROM (
  SELECT event_id, user_id,
    skewness(value) {_WF_USER} AS exp_skew,
    kurtosis(value) {_WF_USER} AS exp_kurt,
    row_number() OVER ({_W_USER}) AS rn
  FROM events
) WHERE rn >= 4
""",
        "stats_corr": f"""
SELECT event_id, user_id, round(c, 6) AS exp_corr FROM (
  SELECT event_id, user_id,
    corr(value, epoch_us(ts) / 1e6 - 1704067200.0) {_WF_USER} AS c,
    row_number() OVER ({_W_USER}) AS rn
  FROM events
) WHERE rn >= 3
""",
        "stats_ema": """
SELECT user_id,
  round(list_reduce(list(value ORDER BY ts, event_id), (a, b) -> a * 0.9 + b * 0.1), 6) AS ema_last
FROM events GROUP BY user_id
""",
        "text_stats": r"""
SELECT doc_id,
  len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens,
  round(list_sum(list_transform(string_split_regex(trim(lower(text)), '\s+'), w -> length(w)))
        / len(string_split_regex(trim(lower(text)), '\s+')), 6) AS avg_word_len,
  round(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        w -> list_contains(['the','a','and','of','to','in','is','it','that','for'], w)))
        / len(string_split_regex(trim(lower(text)), '\s+')), 6) AS stopword_ratio_en
FROM documents
""",
        "text_langid": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
), hits AS (
  SELECT doc_id,
    len(list_filter(t, w -> list_contains(['the','a','and','of','to','in','is','it','that','for'], w))) AS h_en,
    len(list_filter(t, w -> list_contains(['der','die','das','und','ist','nicht','mit','ein','zu','auf'], w))) AS h_de,
    len(list_filter(t, w -> list_contains(['le','la','les','et','est','un','une','des','que','pour'], w))) AS h_fr,
    len(list_filter(t, w -> list_contains(['el','la','los','y','es','un','una','de','que','por'], w))) AS h_es
  FROM toks
)
SELECT CASE
    WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
    WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
    WHEN h_fr >= h_es THEN 'fr'
    ELSE 'es' END AS lang_guess,
  count(*) AS n_docs
FROM hits GROUP BY 1
""",
        "dedup_exact": r"""
SELECT md5(array_to_string(string_split_regex(trim(lower(props)), '\s+'), ' ')) AS text_hash,
  min(event_id) AS canonical_id, count(*) AS n_dups
FROM events
GROUP BY 1 HAVING count(*) > 1
""",
        "dedup_ngram": r"""
WITH norm AS (
  SELECT doc_id, array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' ') AS n FROM documents
), sh AS (
  SELECT DISTINCT doc_id, substring(n, unnest(generate_series(1, greatest(length(n)-7, 1))), 8) AS s
  FROM norm
), sizes AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(count(*) AS DOUBLE) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ia AS id_a, ib AS id_b,
  round(i / (sa.c + sb.c - i), 6) AS jaccard
FROM inter JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
WHERE i / (sa.c + sb.c - i) >= 0.5
""",
        "stats_ema_var": _ema_var_oracle_sql(),
        "stats_ema_cov": _ema_cov_oracle_sql(),
        "dedup_components": _components_oracle_sql(),
        "doc_split": _split_oracle_sql(),
        "doc_group_split": _group_split_oracle_sql(),
        "doc_pack": _pack_offsets_oracle_sql(),
        "doc_cap_per_source": _cap_oracle_sql(),
        "doc_incremental_dedup": _incremental_oracle_sql(),
        "op_asof_directions": _asof_directions_oracle_sql(),
        "stats_ohlc_bars": _ohlc_oracle_sql(),
        "op_sessionize": _SESSIONIZE_ORACLE,
        "ann_hard_negatives": _HARD_NEG_ORACLE,
        "doc_pack_manifest": _pack_manifest_oracle_sql(),
        "doc_token_ids": _token_ids_oracle_sql(),
        "ann_pq_topk": _pq_oracle_sql(),
        "frame_pandas_ts": _frame_pandas_ts_oracle_sql(),
        "op_node_ast": _node_ast_oracle_sql(),
        "stats_ema_adjust": _ema_adjust_oracle_sql(),
        "feedback_clamp": _feedback_clamp_oracle_sql(),
        "doc_pack_fit": _pack_fit_oracle_sql(),
        "doc_weighted_sample": _weighted_sample_oracle_sql(),
        "doc_mixture": _mixture_oracle_sql(),
        "doc_repeat_epochs": _repeat_epochs_oracle_sql(),
        "sink_parquet_roundtrip": """
SELECT CAST(user_id AS VARCHAR) AS key,
  CAST(count(*) AS BIGINT) AS n,
  round(sum(value), 6) AS sum_v,
  min(ts) AS first_ts, max(ts) AS last_ts,
  CAST(sum(event_id) AS BIGINT) AS sum_seq
FROM events GROUP BY 1
""",
        "sink_arrow_roundtrip": """
SELECT source,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM documents GROUP BY 1
""",
        "sink_csv_roundtrip": """
SELECT source,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM documents GROUP BY 1
""",
        "ann_knn_join": _knn_oracle_sql(),
        # blas = same result bit-for-bit (margin-guarded BLAS selection
        # + exact JVM re-score), so the same oracle replays it.
        "ann_knn_join_blas": _knn_oracle_sql(),
        "q4_order_priority": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
        "q13_customer_distribution": """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) GROUP BY c_count
""",
        "q18_large_volume_customer": """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
  round(o_totalprice, 4) AS o_totalprice,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                     HAVING sum(CAST(l_quantity AS DECIMAL(28,10))) > 250)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY round(o_totalprice, 4) DESC, o_orderkey LIMIT 50
""",
        "q2_min_cost_supplier": """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
    round(CAST(sum(CAST(l_extendedprice / l_quantity AS DECIMAL(28,10))) AS DOUBLE) / count(*), 4) AS supply_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
), eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier, nation, region
  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
), euc AS (
  SELECT cost.*, eu.s_name, eu.s_acctbal, eu.n_name
  FROM cost JOIN eu ON cost.l_suppkey = eu.s_suppkey
), mc AS (
  SELECT l_partkey, min(supply_cost) AS min_cost FROM euc GROUP BY l_partkey
)
SELECT round(e.s_acctbal, 4) AS s_acctbal, e.s_name, e.n_name,
       p.p_partkey, e.supply_cost
FROM euc e
JOIN mc ON e.l_partkey = mc.l_partkey AND e.supply_cost = mc.min_cost
JOIN part p ON e.l_partkey = p.p_partkey
WHERE p.p_type = 'LARGE' AND p.p_size < 10
ORDER BY round(e.s_acctbal, 4) DESC, e.s_name, p.p_partkey LIMIT 20
""",
        "q7_volume_shipping": """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  year(l_shipdate) AS l_year,
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue
FROM lineitem, supplier, orders, customer, nation n1, nation n2
WHERE l_suppkey = s_suppkey AND l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
""",
        "q8_market_share": """
SELECT year(o_orderdate) AS o_year,
  round(
    CAST(sum(CAST(CASE WHEN n2.n_name = 'NATION_3'
        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(28,10))) AS DOUBLE)
    / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE),
  6) AS mkt_share
FROM lineitem, part, supplier, orders, customer, nation n1, nation n2, region
WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey AND l_orderkey = o_orderkey
  AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
  AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
  AND s_nationkey = n2.n_nationkey AND p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY year(o_orderdate)
""",
        "q9_product_profit": """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
    - 0.5 * p_retailprice * l_quantity AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_profit
FROM lineitem, part, supplier, orders, nation
WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey AND l_orderkey = o_orderkey
  AND s_nationkey = n_nationkey AND p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
""",
        "q11_important_stock": """
WITH scoped AS (
  SELECT l_partkey, l_extendedprice * (1 - l_discount) AS val
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_acctbal > 0
)
SELECT l_partkey, round(part_value, 4) AS part_value FROM (
  SELECT l_partkey, CAST(sum(CAST(val AS DECIMAL(28,10))) AS DOUBLE) AS part_value
  FROM scoped GROUP BY l_partkey
)
WHERE part_value > (SELECT CAST(sum(CAST(val AS DECIMAL(28,10))) AS DOUBLE) * 0.0007 FROM scoped)
""",
        "q12_shipmode_priority": """
SELECT l_linestatus,
  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_linestatus
""",
        "q14_promo_revenue": """
SELECT round(
  100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(28,10))) AS DOUBLE)
  / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE),
6) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
""",
        "q15_top_supplier": """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
        "q16_supplier_part_count": """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size <= 8
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
        "q17_small_quantity_revenue": """
WITH cut AS (
  SELECT l_partkey AS ak,
    0.4 * (CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE) / count(*)) AS qty_cut
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#2')
  GROUP BY l_partkey
)
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) / 7.0, 4) AS avg_yearly
FROM lineitem JOIN cut ON l_partkey = ak
WHERE l_quantity < qty_cut
""",
        "q19_discounted_revenue": """
SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
""",
        "q20_part_promotion": """
SELECT s_suppkey, s_name
FROM supplier, nation, region
WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey AND r_name = 'AMERICA'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE) > 40
  )
""",
        "q21_suppliers_kept_waiting": """
WITH ll AS (
  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), po AS (
  SELECT l_orderkey FROM ll
  GROUP BY l_orderkey
  HAVING count(DISTINCT l_suppkey) > 1
     AND count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                             THEN l_suppkey END) = 1
), waiting AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM ll
  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    AND l_orderkey IN (SELECT l_orderkey FROM po)
)
SELECT s_name, count(*) AS numwait
FROM waiting JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name LIMIT 25
""",
        "q22_global_sales_opportunity": """
WITH c AS (
  SELECT * FROM customer
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
)
SELECT c_mktsegment AS segment, count(*) AS numcust,
  round(CAST(sum(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE), 4) AS totacctbal
FROM c
WHERE c_acctbal > (
    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE) / count(*)
    FROM c WHERE c_acctbal > 0.0
  )
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
""",
        "op_accum_global": """
SELECT event_id,
  round(CAST(sum(CAST(value AS DECIMAL(28,10))) OVER (
    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS DOUBLE), 4) AS running_sum
FROM events
""",
        "op_windowed_global": """
SELECT event_id,
  round(CAST(sum(CAST(value AS DECIMAL(28,10))) OVER w AS DOUBLE), 4)
    + CAST(0.0 AS DOUBLE) AS w_sum,
  count(value) OVER w AS w_count,
  round(CAST(sum(CAST(value AS DECIMAL(28,10))) OVER w
             / count(value) OVER w AS DOUBLE), 6)
    + CAST(0.0 AS DOUBLE) AS w_mean,
  round(min(value) OVER w, 6) + CAST(0.0 AS DOUBLE) AS w_min,
  round(max(value) OVER w, 6) + CAST(0.0 AS DOUBLE) AS w_max
FROM events
WINDOW w AS (ORDER BY ts, event_id ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
""",
        "op_hot_key_running": f"""
SELECT event_id, user_id,
  round(CAST(sum(CAST(value AS DECIMAL(28,10))) OVER ({_W_USER}
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4)
    + CAST(0.0 AS DOUBLE) AS running_sum
FROM events
""",
        "op_windowed_global_time": """
SELECT event_id,
  round(CAST(sum(CAST(value AS DECIMAL(28,10))) OVER w AS DOUBLE), 4)
    + CAST(0.0 AS DOUBLE) AS w_sum,
  count(value) OVER w AS w_count
FROM events
WINDOW w AS (ORDER BY epoch_us(ts)
             RANGE BETWEEN 21599999999 PRECEDING AND CURRENT ROW)
""",
        "text_boilerplate": r"""
WITH built AS (
  SELECT doc_id,
         text || chr(10) || 'marker-' || CAST(doc_id % 7 AS VARCHAR) AS text
  FROM documents
), l AS (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM built
), bp AS (
  SELECT line FROM (
    SELECT line, count(DISTINCT doc_id) AS n FROM l
    WHERE length(trim(line)) >= 1 GROUP BY 1
  ) WHERE n >= 3
), j AS (
  SELECT l.doc_id, l.line, (bp.line IS NOT NULL) AS is_bp
  FROM l LEFT JOIN bp ON l.line = bp.line
)
SELECT doc_id,
  CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
  CAST(CASE WHEN sum(CASE WHEN NOT is_bp THEN 1 ELSE 0 END) = 0 THEN 0
       ELSE sum(CASE WHEN NOT is_bp THEN length(line) ELSE 0 END)
            + sum(CASE WHEN NOT is_bp THEN 1 ELSE 0 END) - 1
       END AS BIGINT) AS n_chars_left
FROM j GROUP BY 1
""",
        "doc_decontaminate": r"""
WITH norm AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
), pos AS (
  SELECT doc_id, t,
         unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i
  FROM norm WHERE len(t) >= 8
), g AS (
  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS gram FROM pos
), eg AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 47 = 0
), m AS (
  SELECT g.doc_id, count(DISTINCT g.gram) AS n_matches
  FROM g JOIN eg ON g.gram = eg.gram GROUP BY 1
)
SELECT d.doc_id,
  CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
  CAST(CASE WHEN coalesce(m.n_matches, 0) >= 1 THEN 1 ELSE 0 END AS INT)
    AS contaminated
FROM documents d LEFT JOIN m USING (doc_id)
""",
        "doc_repeated_spans": r"""
WITH norm AS (
  SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
), occ AS (
  SELECT id, unnest(generate_series(1, len(t) - 9)) AS pos, t
  FROM norm WHERE len(t) >= 10
), g AS (
  SELECT id, pos, array_to_string(t[pos:pos+9], ' ') AS gram FROM occ
), census AS (
  SELECT gram, min(id * 1000000000 + pos) AS min_ok
  FROM g GROUP BY 1 HAVING count(*) > 1
), marked AS (
  SELECT g.id, g.pos FROM g JOIN census USING (gram)
  WHERE g.id * 1000000000 + g.pos <> census.min_ok
), brk AS (
  SELECT id, pos,
    CASE WHEN pos <= max(pos + 10) OVER (PARTITION BY id ORDER BY pos
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 0 ELSE 1 END AS b
  FROM marked
), isl AS (
  SELECT id, pos, sum(b) OVER (PARTITION BY id ORDER BY pos) AS grp FROM brk
)
SELECT id AS doc_id,
  CAST(min(pos) AS BIGINT) AS span_start,
  CAST(max(pos) + 10 AS BIGINT) AS span_end
FROM isl GROUP BY id, grp
""",
        "text_lm_score": r"""
WITH norm AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS w FROM norm
), ctx AS (
  SELECT w, count(*) AS c_ctx FROM tok GROUP BY 1
), vocab AS (
  SELECT count(DISTINCT w) AS V FROM tok WHERE length(w) > 0
), pos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
  FROM norm WHERE len(t) >= 2
), bi AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM pos
), bic AS (
  SELECT w1, w2, count(*) AS c_gram FROM bi GROUP BY 1, 2
), lp AS (
  SELECT b.doc_id,
    ln((bic.c_gram + 1.0)
       / (ctx.c_ctx + 1.0 * (SELECT V FROM vocab))) AS lp
  FROM bi b
  JOIN bic ON bic.w1 = b.w1 AND bic.w2 = b.w2
  JOIN ctx ON ctx.w = b.w1
), agg AS (
  SELECT doc_id, count(*) AS n_grams, -avg(lp) AS avg_nll
  FROM lp GROUP BY 1
)
SELECT d.doc_id,
  CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
  round(a.avg_nll, 6) AS avg_nll
FROM documents d LEFT JOIN agg a USING (doc_id)
""",
        "text_term_stats": r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
)
SELECT token,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
  CAST(count(*) AS BIGINT) AS tf
FROM toks WHERE length(token) > 0
GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3
""",
        "text_tfidf": r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
), t2 AS (SELECT * FROM toks WHERE length(token) > 0),
tfd AS (SELECT doc_id, token, count(*) AS tf_d FROM t2 GROUP BY 1, 2),
dft AS (SELECT token, count(DISTINCT doc_id) AS df FROM t2 GROUP BY 1),
nn AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
s AS (
  SELECT doc_id, token,
         tf_d * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS score
  FROM tfd JOIN dft USING (token) CROSS JOIN nn
), r AS (
  SELECT doc_id, token, round(score, 6) + CAST(0.0 AS DOUBLE) AS tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, token) AS rank
  FROM s
)
SELECT doc_id, rank, token, tfidf FROM r WHERE rank <= 3
""",
        "text_quality_model": _quality_oracle_sql(),
        "op_exprtk_vec": """
SELECT event_id, user_id, c.comp,
  CASE c.comp WHEN 0 THEN value * 2
              WHEN 1 THEN sqrt(value)
              ELSE value + 1 END AS v
FROM events, (VALUES (0), (1), (2)) AS c(comp)
WHERE event_type = 'click'
""",
        "text_repetition": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t,
         string_split(text, chr(10)) AS lines
  FROM documents
), base AS (
  SELECT doc_id,
    round(1.0 - CASE WHEN len(t) > 0
      THEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t) END, 6) AS dup_word_frac,
    round(1.0 - CASE WHEN len(lines) > 0
      THEN CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines) END, 6) AS dup_line_frac,
    t
  FROM toks
), grams AS (
  SELECT doc_id, array_to_string(t[i : i + 1], ' ') AS g
  FROM (SELECT doc_id, t,
          unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i
        FROM base)
), per_gram AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
), top AS (
  SELECT doc_id,
    round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_ngram_frac
  FROM per_gram GROUP BY 1
)
SELECT b.doc_id, b.dup_word_frac, b.dup_line_frac, t.top_ngram_frac
FROM base b JOIN top t ON b.doc_id = t.doc_id
""",
        "doc_chunk": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
), ex AS (
  SELECT doc_id, t, len(t) AS n, unnest(ss) AS s
  FROM (SELECT doc_id, t, len(t),
          list_filter(generate_series(0, greatest(len(t) - 1, 0), 48),
                      s -> s = 0 OR s < len(t) - 16) AS ss
        FROM toks)
)
SELECT doc_id,
  CAST(s / 48 AS BIGINT) AS chunk_id,
  CAST(least(64, n - s) AS INTEGER) AS n_chunk_tokens,
  md5(array_to_string(t[s + 1 : s + 64], ' ')) AS chunk_digest
FROM ex
""",
        "random_poisson": _poisson_oracle_sql(),
        "random_brownian": _brownian_oracle_sql(),
        "mm_features": """
WITH h AS (
  SELECT doc_id,
    (strpos('0123456789abcdef', substring(sha256(text), 1, 1)) - 1) * 16
    + (strpos('0123456789abcdef', substring(sha256(text), 2, 1)) - 1) AS level
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
  CAST(level AS DOUBLE) AS mean_r,
  CAST(level AS DOUBLE) AS mean_g,
  CAST(level AS DOUBLE) AS mean_b,
  CAST(0.0 AS DOUBLE) AS std_gray
FROM h
""",
        "ann_lsh_topk": _lsh_oracle_sql(),
        "dedup_minhash": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
    array_to_string(t[i : i + 4], ' ') AS s
  FROM (SELECT doc_id, t,
          unnest(generate_series(1, greatest(len(t) - 4, 1))) AS i
        FROM toks)
), sizes AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(count(*) AS DOUBLE) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ia AS id_a, ib AS id_b,
  round(i / (sa.c + sb.c - i), 6) AS jaccard
FROM inter JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
WHERE i / (sa.c + sb.c - i) >= 0.5
""",
        "ann_topk": """
SELECT e.vec_id,
  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
        / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
           * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6) AS cos_sim
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY cos_sim DESC, e.vec_id LIMIT 10
""",
        # replays the probe filter + cosine + rounded rank from the
        # cell-assignment artifact the Spark query persisted (the
        # driver runs the query before the oracle, same sf)
        "ann_ivf_topk": f"""
SELECT e.vec_id,
  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
        / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
           * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6) AS cos_sim
FROM embeddings e
JOIN (SELECT vec_id FROM read_parquet('{_IVF_CELLS_PATH}/*.parquet')
      WHERE probed) c USING (vec_id),
  (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY cos_sim DESC, e.vec_id LIMIT 10
""",
        # n_probe = n_cells ⇒ IVF degenerates to exact brute force
        "ann_ivf_exact": """
SELECT e.vec_id,
  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
        / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
           * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6) AS cos_sim
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY cos_sim DESC, e.vec_id LIMIT 10
""",
        "dedup_simhash": _simhash_oracle_sql(max_hamming=6, bits=48),
        "op_struct_record": f"""
WITH u AS (
  SELECT user_id, ts, event_id,
    CASE WHEN event_type = 'click' THEN CAST(value AS DOUBLE) END AS cx,
    CASE WHEN event_type = 'view' THEN CAST(value AS DOUBLE) END AS cy
  FROM events WHERE event_type IN ('click', 'view')
)
SELECT event_id, user_id,
  last_value(cx IGNORE NULLS) OVER ({_W_USER}
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price,
  coalesce(last_value(cy IGNORE NULLS) OVER ({_W_USER}
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0) AS qty,
  CAST(NULL AS VARCHAR) AS side
FROM u
""",
        "dyn_snap_attach": """
WITH c AS (
  SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS v
  FROM events WHERE event_type = 'click'
), v AS (
  SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS v
  FROM events WHERE event_type = 'view'
), t0 AS (
  SELECT user_id, min(ts) AS t0 FROM c GROUP BY 1
), snapv AS (
  SELECT user_id, v AS sv FROM (
    SELECT v.user_id, v.v,
      row_number() OVER (PARTITION BY v.user_id
                         ORDER BY v.ts DESC, v.event_id DESC) AS rn
    FROM v JOIN t0 USING (user_id) WHERE v.ts <= t0.t0
  ) WHERE rn = 1
), att AS (
  SELECT user_id, count(*) AS n FROM v GROUP BY 1
)
SELECT c.event_id, c.user_id,
  c.v + coalesce(s.sv, 0.0) + coalesce(a.n, 0) AS v_out
FROM c
LEFT JOIN snapv s USING (user_id)
LEFT JOIN att a USING (user_id)
""",
        "op_feedback_scan": f"""
WITH c AS (
  SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS v
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id, user_id,
    list(v) OVER ({_W_USER}
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
  FROM c
)
SELECT event_id, user_id,
  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), l),
              (a, b) -> least(0.5 * a + b, 200.0)) AS fb_out
FROM p
""",
        "op_exprtk_state": f"""
WITH c AS (
  SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS v
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id, user_id,
    list(v) OVER ({_W_USER}
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
  FROM c
)
SELECT event_id, user_id,
  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), l),
              (a, b) -> 0.5 * a + b) AS s_out
FROM p
""",
        "op_value_at": f"""
SELECT event_id, user_id,
  lag(value, 3) OVER w AS v_lag3,
  last_value(value) OVER (PARTITION BY user_id ORDER BY ts
    RANGE BETWEEN UNBOUNDED PRECEDING AND INTERVAL 60 SECONDS PRECEDING) AS v_60s,
  lag(ts, 2) OVER w AS t_lag2,
  count(*) OVER ({_W_USER} ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS n_win
FROM events
WINDOW w AS ({_W_USER})
""",
        "stats_sampler": f"""
SELECT event_id, user_id,
  coalesce(round(avg(CASE WHEN event_type = 'click' THEN value END)
    OVER ({_W_USER} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6),
    'NaN'::DOUBLE) AS samp_mean
FROM events
QUALIFY row_number() OVER ({_W_USER}) >= 10
""",
        "stats_trigger_reset": """
WITH e AS (
  SELECT event_id, user_id, ts, value, event_type,
    count(CASE WHEN event_type = 'purchase' THEN 1 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
  FROM events
), agg AS (
  SELECT event_id, user_id, event_type,
    count(*) OVER w AS epoch_n,
    CAST(sum(CAST(value AS DECIMAL(28,10))) OVER w AS DOUBLE) AS epoch_sum
  FROM e
  WINDOW w AS (PARTITION BY user_id, epoch ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, epoch_n, epoch_sum FROM agg WHERE event_type = 'click'
""",
        "text_fingerprint": r"""
WITH norm AS (
  SELECT doc_id, array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' ') AS n
  FROM documents
), hashed AS (
  SELECT doc_id, i, md5(substring(n, i, 8)) AS h FROM (
    SELECT doc_id, n, unnest(generate_series(1, greatest(length(n)-7, 1))) AS i
    FROM norm
  )
), sel AS (
  SELECT DISTINCT doc_id, h AS fp FROM (
    SELECT doc_id, h,
      min(h) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m
    FROM hashed
  ) WHERE h = m
)
SELECT doc_id, count(*) AS n_fp,
  md5(string_agg(fp, ',' ORDER BY fp)) AS fp_digest
FROM sel GROUP BY doc_id
""",
        "src_curve": """
SELECT ts, CAST(value AS DOUBLE) AS value FROM (VALUES
  (TIMESTAMP '2024-01-01 00:00:00', 1.0),
  (TIMESTAMP '2024-01-01 00:30:00', 5.0),
  (TIMESTAMP '2024-01-01 01:00:00', 2.0),
  (TIMESTAMP '2024-01-01 02:00:00', 3.0)) AS t(ts, value)
""",
        "op_burst": """
SELECT user_id, date_trunc('minute', ts) AS bts, count(*) AS n,
  arg_min(value, event_id) AS vfirst,
  arg_max(value, event_id) AS vlast,
  round(sum(value), 6) AS vsum
FROM events GROUP BY 1, 2
""",
        "op_last_value": """
SELECT max(event_id) AS event_id, user_id,
  date_trunc('minute', ts) AS bts,
  arg_max(value, event_id) AS value
FROM events GROUP BY user_id, date_trunc('minute', ts)
""",
        "op_exprtk": """
SELECT event_id, user_id, value * value / 2 + sqrt(value) - 1 AS y
FROM events
""",
        "op_dropdups_eps": f"""
SELECT event_id, user_id, value FROM (
  SELECT event_id, user_id, value,
    lag(value) OVER ({_W_USER}) AS prev
  FROM events
) WHERE NOT coalesce(abs(value - prev) < 50.0, false)
""",
        "stats_ema_halflife": f"""
-- event-time halflife EMA, adjust form: y_t = sum(x_i*w_i)/sum(w_i),
-- w_i = 2^((t_i - t_ref)/halflife); the per-row 2^(t_t) factor cancels
-- in the ratio, so a plain window sum of pre-scaled terms suffices.
-- t_ref = per-key first tick — the SAME reference the Spark kernel
-- uses, so both engines evaluate identical IEEE operations.
SELECT event_id, user_id,
  coalesce(round(num / den, 6), 'NaN'::DOUBLE) AS ema_hl
FROM (
  SELECT event_id, user_id,
    sum(CASE WHEN isnan(value) THEN NULL ELSE
      value * power(2.0, (epoch_us(ts) - ref) / 43200000000.0) END)
      OVER ({_W_USER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS num,
    sum(CASE WHEN isnan(value) THEN NULL ELSE
      power(2.0, (epoch_us(ts) - ref) / 43200000000.0) END)
      OVER ({_W_USER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS den
  FROM (SELECT *, min(epoch_us(ts)) OVER (PARTITION BY user_id) AS ref FROM events)
)
""",
        "doc_bpe_apply": _bpe_apply_oracle(),
        "doc_bpe_tokens": _bpe_tokens_oracle(),
    }
