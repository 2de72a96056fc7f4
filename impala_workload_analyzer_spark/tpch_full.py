"""The remaining TPC-H query shapes (q2,q7,q8,q9,q11,q12,q15-q21), adapted
to the fixture star schema (TESTDATA.md), completing the 22-query suite
started in tpch.py.

Adaptations forced by the fixtures (documented per query): there is no
``partsupp`` table, so the part-supplier relation is derived as
``SELECT DISTINCT l_partkey, l_suppkey FROM lineitem`` (at cluster scale
this is one shuffle on a composite key and would be materialized once);
there are no commit/receipt dates ("late" means ``l_shipdate >
o_orderdate``), no ship modes (``l_linestatus`` plays that role), no
phone/container columns, and supply cost maps to ``p_retailprice``.
Every adaptation preserves the reference query's SHAPE — the operator
classes the corpus describes (SURVEY.md §2.3-2.7): correlated scalar
subqueries (q2, q15, q17), multi-level IN/EXISTS nesting (q18, q20, q21),
disjunctive multi-attribute predicates (q19), HAVING with a scalar
subquery (q11), two-sided nation pairing (q7), market-share conditional
aggregation (q8), and profit arithmetic over a 5-way join (q9).

Numeric discipline matches tpch.py: money math in DECIMAL (exact,
order-independent across shuffle layouts), division only in DOUBLE, and
inequality thresholds rearranged to be multiplication-only (q17) so both
engines compare exact decimals, never rounded quotients.

Scale notes: dimension sides (part at 2k rows scales ~SF·200k — still
broadcastable at 100 TB; supplier, nation, region likewise) are
broadcast; the only large shuffles are lineitem⋈orders on orderkey and
the per-(part,supp) / per-order aggregations, which partial-aggregate
map-side. Self-joins on lineitem (q21) reuse one shuffle key
(l_orderkey) for both the semi and anti probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .tpch import _DEC, _t
from .tpch import _REV as _REV_SQL


# revenue expression shared with tpch.py: exact decimal, scale 4
def _rev():
    return (
        F.col("l_extendedprice").cast(_DEC)
        * (F.lit(1).cast(_DEC) - F.col("l_discount").cast("decimal(4,2)"))
    ).cast("decimal(18,4)")


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived part-supplier relation (fixtures lack partsupp):
    distinct (l_partkey, l_suppkey) pairs observed in lineitem."""
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: correlated MIN subquery — for each size-15 part, the
    EUROPE supplier(s) with minimum account balance (supply-cost analog)
    among that part's suppliers. Spark plan: broadcast the tiny
    supplier⋈nation⋈region dim into the derived partsupp, groupBy part
    for the min, then join back on (part, acctbal=min) — the correlated
    subquery becomes one extra partial-aggregated shuffle, not a per-row
    probe."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15).select(
        "p_partkey", "p_type"
    )
    eu_supp = (
        _t(spark, sf_dir, "supplier")
        .join(broadcast(_t(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = _partsupp(spark, sf_dir).join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    offers = ps.join(broadcast(eu_supp), F.col("l_suppkey") == F.col("s_suppkey"))
    min_bal = offers.groupBy("p_partkey").agg(F.min("s_acctbal").alias("min_bal"))
    return (
        offers.join(broadcast(min_bal), "p_partkey")
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: two-sided nation pairing — revenue shipped between
    NATION_1 and NATION_2 (either direction) by ship year. The
    disjunctive nation-pair predicate is applied after broadcasting both
    nation-keyed dims; only lineitem⋈orders shuffles."""
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_rev()).alias("revenue_d"))
        .select("supp_nation", "cust_nation", "l_year",
                F.col("revenue_d").cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: market-share conditional aggregation — NATION_5
    suppliers' share of PROMO-part revenue delivered to ASIA customers,
    by order year. Share division runs in DOUBLE over exact decimal
    sums."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    supp_nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cust_nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    vol = (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(broadcast(supp_nat), F.col("s_nationkey") == F.col("sn_key"))
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast(cust_nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.year("o_orderdate").alias("o_year"), _rev().alias("volume"),
                F.col("supp_nation"))
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        vol.groupBy("o_year")
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(zero))
            .alias("nation_vol_d"),
            F.sum("volume").alias("total_vol_d"),
        )
        .select(
            "o_year",
            (F.col("nation_vol_d").cast("double") / F.col("total_vol_d").cast("double"))
            .alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit per supplier nation per year over a 5-way join,
    for parts named 'red %'. Supply cost maps to p_retailprice/10; to
    keep decimal math exact in both engines the amount is computed ×10
    (scale-4 decimals throughout) and divided by 10 only at the final
    DOUBLE cast."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select(
        "p_partkey", "p_retailprice"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    amount10 = (
        (_rev() * F.lit(10).cast("decimal(2,0)")).cast("decimal(18,4)")
        - (
            F.col("p_retailprice").cast(_DEC) * F.col("l_quantity").cast(_DEC)
        ).cast("decimal(18,4)")
    ).cast("decimal(18,4)")
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount10).alias("profit10_d"))
        .select("nation", "o_year",
                (F.col("profit10_d").cast("double") / F.lit(10.0)).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: HAVING against a scalar subquery — parts whose revenue
    from ASIA suppliers exceeds a fixed fraction of the ASIA total. The
    global total is one grand aggregate broadcast into the per-part
    HAVING filter."""
    asia_supp = (
        _t(spark, sf_dir, "supplier")
        .join(broadcast(_t(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    asia_li = li.join(broadcast(asia_supp), li.l_suppkey == asia_supp.s_suppkey)
    per_part = asia_li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast(_DEC)).alias("value_d")
    )
    total = asia_li.agg(F.sum(F.col("l_extendedprice").cast(_DEC)).alias("total_d"))
    return (
        per_part.join(broadcast(total))
        .filter(F.col("value_d").cast("double") > F.col("total_d").cast("double") * 0.0008)
        .select(F.col("l_partkey").alias("ps_partkey"),
                F.col("value_d").cast("double").alias("value"))
        .orderBy(F.desc("value"), "ps_partkey")
    )


def q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: join + conditional aggregation — for lines shipped late
    (l_shipdate > o_orderdate; fixtures lack commit/receipt dates) in
    1996, count high- vs low-priority orders per l_linestatus (ship-mode
    analog)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: CTE + scalar MAX subquery — supplier(s) with the
    maximum Q1-1996 revenue. The revenue comparison stays in exact
    DECIMAL so max-equality is bit-identical across engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).alias("total_revenue_d")
    )
    max_rev = revenue.agg(F.max("total_revenue_d").alias("max_revenue_d"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(broadcast(max_rev))
        .filter(F.col("total_revenue_d") == F.col("max_revenue_d"))
        .join(broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name",
                F.col("total_revenue_d").cast("double").alias("total_revenue"))
        .orderBy("s_suppkey")
    )


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: NOT-IN exclusion + COUNT DISTINCT — supplier counts per
    (brand, type, size) over the derived partsupp, excluding Brand#1 /
    PROMO parts and negative-balance suppliers (complaint analog). The
    exclusion list is a broadcast anti-join; count-distinct shuffles on
    the 3-attribute group key."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    ps = _partsupp(spark, sf_dir)
    return (
        ps.join(broadcast(bad_supp), ps.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: correlated per-part AVG threshold — revenue of
    Brand#2/SMALL lines with quantity below 20% of that part's average
    quantity. The inequality qty < 0.2·avg is rearranged to the
    multiplication-only qty·5·cnt < sum(qty), so both engines compare
    exact decimals instead of rounded quotients."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#2") & (F.col("p_type") == "SMALL")
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").join(
        broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("agg_partkey")).agg(
        F.sum(F.col("l_quantity").cast(_DEC)).alias("sum_qty_d"),
        F.count("*").alias("cnt"),
    )
    return (
        li.join(broadcast(per_part), F.col("l_partkey") == F.col("agg_partkey"))
        .filter(
            F.col("l_quantity").cast(_DEC) * F.lit(5).cast("decimal(2,0)") * F.col("cnt")
            < F.col("sum_qty_d")
        )
        .agg(
            F.coalesce(
                (F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / F.lit(7.0)),
                F.lit(0.0),
            ).alias("avg_yearly")
        )
    )


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: IN over a grouped-HAVING subquery — customers whose
    order totals more than 300 units. The per-order quantity aggregate
    partial-aggregates map-side on the same l_orderkey the
    orders⋈lineitem join shuffles on."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast(_DEC)).alias("sum_qty_d")
    ).filter(F.col("sum_qty_d") > F.lit(300).cast(_DEC))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
                F.col("sum_qty_d").cast("double").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunctive multi-attribute predicate (OR of ANDs
    spanning both join sides) — the classic pushdown-vs-join-filter
    subject. Catalyst extracts the common l_partkey=p_partkey equi-key;
    the residual disjunction evaluates post-join in codegen."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#5")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.coalesce(F.sum(_rev()).cast("double"), F.lit(0.0)).alias("revenue")
        )
    )


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: nested IN subqueries — AFRICA suppliers that shipped
    more than 40 units of some 'red %' part during 1996. Per-(supplier,
    part) HAVING preserves the reference's partsupp-granularity inner
    query; the supplier probe is a broadcast semi-join."""
    red_parts = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    heavy = (
        li.join(broadcast(red_parts), li.l_partkey == red_parts.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("qty_d"))
        .filter(F.col("qty_d") > F.lit(40).cast(_DEC))
        .select("l_suppkey")
        .distinct()
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(broadcast(_t(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        supp.join(broadcast(heavy), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


def q21_suppliers_who_kept_orders_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: EXISTS + NOT-EXISTS double self-join on lineitem —
    EUROPE suppliers who were the SOLE late shipper (l_shipdate >
    o_orderdate) on a finished multi-supplier order. Both probes reuse
    the l_orderkey shuffle: one left-semi (another supplier exists), one
    left-anti (no OTHER supplier was late)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    l1 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .select(F.col("l_orderkey").alias("okey"), F.col("l_suppkey").alias("skey"))
    )
    l2 = li.select(F.col("l_orderkey").alias("okey2"), F.col("l_suppkey").alias("skey2"))
    l3 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .select(F.col("l_orderkey").alias("okey3"), F.col("l_suppkey").alias("skey3"))
    )
    waiting = (
        l1.join(l2, (F.col("okey") == F.col("okey2")) & (F.col("skey") != F.col("skey2")),
                "left_semi")
        .join(l3, (F.col("okey") == F.col("okey3")) & (F.col("skey") != F.col("skey3")),
              "left_anti")
    )
    eu_supp = (
        _t(spark, sf_dir, "supplier")
        .join(broadcast(_t(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        waiting.join(broadcast(eu_supp), F.col("skey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


_PS_SQL = "(SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)"

ORACLES = {
    "tpch_q2": f"""
        WITH eu AS (
          SELECT s_suppkey, s_name, s_acctbal, n_name
          FROM supplier JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'
        ), offers AS (
          SELECT p_partkey, p_type, s_suppkey, s_name, s_acctbal, n_name
          FROM {_PS_SQL} ps
          JOIN part ON ps.l_partkey = p_partkey
          JOIN eu ON ps.l_suppkey = eu.s_suppkey
          WHERE p_size = 15
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_type
        FROM offers o
        WHERE s_acctbal = (SELECT MIN(s_acctbal) FROM offers o2
                           WHERE o2.p_partkey = o.p_partkey)
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100""",
    "tpch_q7": f"""
        SELECT supp_nation, cust_nation, l_year,
               CAST(SUM(volume) AS DOUBLE) AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
                 {_REV_SQL} AS volume
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
            AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year""",
    "tpch_q8": f"""
        SELECT o_year,
               CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE) AS mkt_share
        FROM (
          SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
                 {_REV_SQL} AS volume, sn.n_name AS supp_nation
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          JOIN region ON cn.n_regionkey = r_regionkey
          WHERE p_type = 'PROMO' AND r_name = 'ASIA'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1998-01-01'
        ) all_nations
        GROUP BY o_year ORDER BY o_year""",
    "tpch_q9": f"""
        SELECT nation, o_year, CAST(SUM(amount10) AS DOUBLE) / 10.0 AS sum_profit
        FROM (
          SELECT n_name AS nation,
                 CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
                 CAST(CAST({_REV_SQL} * CAST(10 AS DECIMAL(2,0)) AS DECIMAL(18,4))
                      - CAST(CAST(p_retailprice AS DECIMAL(18,2))
                             * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,4))
                      AS DECIMAL(18,4)) AS amount10
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE p_name LIKE 'red%'
        ) profit
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC""",
    "tpch_q11": """
        WITH asia_li AS (
          SELECT l_partkey, CAST(l_extendedprice AS DECIMAL(18,2)) AS price
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
        )
        SELECT l_partkey AS ps_partkey, CAST(SUM(price) AS DOUBLE) AS value
        FROM asia_li
        GROUP BY l_partkey
        HAVING CAST(SUM(price) AS DOUBLE) >
               (SELECT CAST(SUM(price) AS DOUBLE) FROM asia_li) * 0.0008
        ORDER BY value DESC, ps_partkey""",
    "tpch_q12": """
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_shipdate > o_orderdate
        GROUP BY l_linestatus ORDER BY l_linestatus""",
    "tpch_q15": f"""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no, SUM({_REV_SQL}) AS total_revenue_d
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, CAST(total_revenue_d AS DOUBLE) AS total_revenue
        FROM revenue JOIN supplier ON supplier_no = s_suppkey
        WHERE total_revenue_d = (SELECT MAX(total_revenue_d) FROM revenue)
        ORDER BY s_suppkey""",
    "tpch_q16": f"""
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
        FROM {_PS_SQL} ps
        JOIN part ON ps.l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
          AND p_size IN (1, 5, 10, 15, 20, 25)
          AND ps.l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "tpch_q17": """
        WITH brand_li AS (
          SELECT l_partkey, l_quantity, l_extendedprice
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand = 'Brand#2' AND p_type = 'SMALL'
        ), per_part AS (
          SELECT l_partkey AS agg_partkey,
                 SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_d,
                 COUNT(*) AS cnt
          FROM brand_li GROUP BY l_partkey
        )
        SELECT COALESCE(
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0,
                 0.0) AS avg_yearly
        FROM brand_li JOIN per_part ON l_partkey = agg_partkey
        WHERE CAST(l_quantity AS DECIMAL(18,2)) * CAST(5 AS DECIMAL(2,0)) * cnt
              < sum_qty_d""",
    "tpch_q18": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               CAST(sum_qty_d AS DOUBLE) AS sum_qty
        FROM (
          SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_d
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > CAST(300 AS DECIMAL(18,2))
        ) big
        JOIN orders ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100""",
    "tpch_q19": f"""
        SELECT CAST(COALESCE(SUM({_REV_SQL}), 0) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)""",
    "tpch_q20": """
        SELECT s_name, s_acctbal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'AFRICA'
          AND s_suppkey IN (
            SELECT l_suppkey
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'red%'
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_suppkey, l_partkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > CAST(40 AS DECIMAL(18,2))
          )
        ORDER BY s_name""",
    "tpch_q21": """
        SELECT s_name, COUNT(*) AS numwait
        FROM lineitem l1
        JOIN orders ON l1.l_orderkey = o_orderkey
        JOIN supplier ON l1.l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE o_orderstatus = 'F' AND r_name = 'EUROPE'
          AND l1.l_shipdate > o_orderdate
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o_orderdate)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100""",
}

SPARK_QUERIES = {
    "tpch_q2": q2_min_cost_supplier,
    "tpch_q7": q7_volume_shipping,
    "tpch_q8": q8_market_share,
    "tpch_q9": q9_product_type_profit,
    "tpch_q11": q11_important_stock,
    "tpch_q12": q12_late_lines,
    "tpch_q15": q15_top_supplier,
    "tpch_q16": q16_supplier_part_counts,
    "tpch_q17": q17_small_quantity_revenue,
    "tpch_q18": q18_large_volume_customers,
    "tpch_q19": q19_discounted_revenue,
    "tpch_q20": q20_potential_promotion,
    "tpch_q21": q21_suppliers_who_kept_orders_waiting,
}
