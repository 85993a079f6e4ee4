"""Classic TPC-H query shapes over the fixture star (beyond-reference, r6).

The testdata is TPC-H-derived, so the engine carries the decision-support
benchmark as named, oracle-pinned queries — the lingua franca for judging
an OLAP engine's plan quality. Since the r16 suite completion the module
holds ALL 22 spec queries (dialect adaptations documented per entry where
the fixture lacks partsupp or a spec column). The founding five:

- **Q1 pricing summary**: the wide-aggregate scan (8 aggregates over a
  date-filtered fact, 4-row result) — tests map-side combine + pushdown;
- **Q3 shipping priority**: fact-fact join + top-k by aggregated
  revenue — tests join order and TakeOrdered;
- **Q5 local supplier volume**: the 6-table star/snowflake join with a
  cross-dimension equality (customer nation == supplier nation) — tests
  broadcast planning across a deep join tree;
- **Q4 late orders**: EXISTS -> left-semi join with a cross-table date
  residual on the hash join — tests semi-join planning;
- **Q16 supplier counts**: NOT IN -> anti join feeding a grouped
  COUNT(DISTINCT) — tests the two-phase distinct expansion.

Exactness: all money math runs in exact DECIMAL (prices 2dp, discount/
tax 2dp; products widen to 4/6dp with explicit casts keeping every
intermediate inside both engines' headroom) and goes double only at the
output boundary; averages are single divisions, round-6. Top-k orders by
the exact DECIMAL revenue, so the selected set is engine-independent.

Dialect deviations from spec text (documented, same on both sides): the
fixture has o_orderpriority instead of o_shippriority (Q3) and the date
constants are shifted into the fixture's 1995-2001 span.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _t, query

# Column factories, not module constants: F.lit needs an active
# SparkContext, and this module imports at registry-build time.
def _ext():
    return F.col("l_extendedprice").cast("decimal(12,2)")


def _disc_price():
    return (
        _ext()
        * (
            F.lit(1).cast("decimal(3,2)")
            - F.col("l_discount").cast("decimal(4,2)")
        )
    ).cast("decimal(20,4)")


def _one_plus_tax():
    return F.lit(1).cast("decimal(3,2)") + F.col("l_tax").cast(
        "decimal(4,2)"
    )

SQL_DISC_PRICE = (
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))"
    " AS DECIMAL(20,4))"
)


@query(
    "tpch_q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_base_price,
           CAST(sum({SQL_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST({SQL_DISC_PRICE}
                 * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))
                 AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                 / count(*), 6) AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 / count(*), 6) AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
                 / count(*), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: the pricing summary report. One date-pushed scan, eight
    exact-decimal aggregates, (returnflag, linestatus)-grouped — the
    benchmark's canonical test that partial aggregation happens map-side
    (a 4-row result from a fact-sized scan should move ~nothing through
    the shuffle) and that the ship-date filter reaches the parquet
    row groups (pinned in tests/test_plan_quality.py)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("date")
    )
    qty = F.col("l_quantity").cast("decimal(12,2)")
    disc_price = _disc_price()
    charge = (disc_price * _one_plus_tax()).cast("decimal(30,6)")
    n = F.count("*")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(_ext()).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / n, 6).alias("avg_qty"),
            F.round(F.sum(_ext()).cast("double") / n, 6).alias("avg_price"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(4,2)"))
                .cast("double")
                / n,
                6,
            ).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "tpch_q3_shipping_priority",
    f"""
    WITH rev AS (
      SELECT l_orderkey,
             CAST(sum({SQL_DISC_PRICE}) AS DECIMAL(38,4)) AS revenue,
             o_orderdate, o_orderpriority
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < DATE '1998-01-01'
        AND l_shipdate > DATE '1998-01-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority)
    SELECT l_orderkey, CAST(revenue AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM rev
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: top-10 highest-revenue unshipped BUILDING orders. The
    join tree is dim(customer) -> fact(orders) -> fact(lineitem): the
    customer side must broadcast, orders-lineitem shuffles on the order
    key, and the final top-k must plan as TakeOrderedAndProject over the
    grouped revenue, never a global sort. The k selection orders by the
    EXACT decimal revenue (tie-broken by date and key), so the chosen
    set is identical on both engines before the double cast.

    Fixture deviation: o_orderpriority stands in for o_shippriority
    (column absent), date constants shifted into the data span."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("date")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("date")
    )
    disc_price = _disc_price()
    rev = (
        li.join(
            orders, li.l_orderkey == orders.o_orderkey
        )
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc_price).cast("decimal(38,4)").alias("revenue"))
    )
    return (
        rev.orderBy(
            F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey")
        )
        .limit(10)
        .select(
            "l_orderkey",
            F.col("revenue").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


@query(
    "tpch_q5_local_supplier_volume",
    f"""
    SELECT n_name,
           CAST(sum({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
)
def tpch_q5_local_supplier_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q5: revenue from orders where the supplier and customer
    share a nation, per ASIA nation. The snowflake join region -> nation
    -> {customer, supplier} with the cross-dimension c_nationkey ==
    s_nationkey constraint — the classic test that a planner broadcasts
    the whole dimension chain and leaves only the orders-lineitem
    shuffle (pinned in tests/test_plan_quality.py). Revenue is the same
    exact-decimal sum as Q1/Q3."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    disc_price = _disc_price()
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(
            F.broadcast(asia_nations),
            supp.s_nationkey == asia_nations.n_nationkey,
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# ---------------------------------------------------------------------------
# Q4: order priority checking — EXISTS semi-join with a row-level
# date predicate across the join
# ---------------------------------------------------------------------------

Q4_LATE_DAYS = 90


@query(
    "tpch_q4_late_orders",
    f"""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY 1 ORDER BY 1
    """,
)
def tpch_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one LATE lineitem
    (shipped more than 90 days after the order date —
    dialect adaptation: the fixture has l_shipdate but not
    commit/receipt dates), counted per priority. The operator under
    test is the EXISTS -> LEFT SEMI join whose condition mixes the
    equi key with a row-level date comparison ACROSS the two tables:
    Spark must plan the equi part as the hash-join key and evaluate
    the date predicate as a join residual — never a nested loop — and
    the semi form must not duplicate orders with several late lines.
    (Q4 also runs the spec's date-window filter on orders in the full
    benchmark; elided here to keep every fixture priority populated.)"""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL 90 DAY")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q16: parts/supplier relationship — NOT IN exclusion + grouped
# COUNT(DISTINCT)
# ---------------------------------------------------------------------------


@query(
    "tpch_q16_supplier_cnt",
    """
    SELECT p_name, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1'
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_nationkey = 0)
    GROUP BY 1, 2
    ORDER BY supplier_cnt DESC, p_name, p_size
    """,
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can deliver each
    part variant, excluding a blacklisted supplier set (dialect: the
    fixture's lineitem plays partsupp, nation-0 suppliers play the
    complaint filter, and (p_name, p_size) plays (brand, type, size)).
    Exercises the NOT IN -> broadcast ANTI join (s_suppkey is
    non-nullable, so anti-join == NOT IN with no three-valued-logic
    trap — the j5 family note) feeding a grouped COUNT(DISTINCT) whose
    two-phase expansion Spark plans as partial-distinct before the
    exchange, and a multi-key ORDER BY on the aggregate."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_brand") != "Brand#1"
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_name", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_name", "p_size")
    )


# ---------------------------------------------------------------------------
# Q7: volume shipping — the two-geography bidirectional join with a
# disjunctive cross-dimension predicate (r15 widening, VERDICT r14
# ask #6 option c alongside the chosen pipeline tier)
# ---------------------------------------------------------------------------


@query(
    "tpch_q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             {SQL_DISC_PRICE} AS volume
      FROM supplier, lineitem, orders, customer,
           nation n1, nation n2, region r1, region r2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND n1.n_regionkey = r1.r_regionkey
        AND n2.n_regionkey = r2.r_regionkey
        AND ((r1.r_name = 'AFRICA' AND r2.r_name = 'AMERICA')
             OR (r1.r_name = 'AMERICA' AND r2.r_name = 'AFRICA'))
        AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between two geographies, by nation
    pair and year — the benchmark's disjunctive cross-dimension
    predicate ((supp in A AND cust in B) OR (supp in B AND cust in A)),
    which a planner must NOT turn into a cross product: both nation
    chains broadcast, the disjunction evaluates as a residual on the
    single fact-fact shuffle. Dialect deviation (documented, both
    sides): the fixture's 25 synthetic nations make a single nation
    pair empty at sf0.001, so the pair is lifted one level to REGIONS
    (AFRICA <-> AMERICA) with the group-by kept at Q7's nation-pair
    grain. Exact-decimal revenue, year cast to INTEGER on both sides."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    ndim = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name", "r_name")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(ndim),
        F.col("s_nationkey") == ndim.n_nationkey,
    ).select(
        "s_suppkey",
        F.col("n_name").alias("supp_nation"),
        F.col("r_name").alias("supp_region"),
    )
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(ndim),
        F.col("c_nationkey") == ndim.n_nationkey,
    ).select(
        "c_custkey",
        F.col("n_name").alias("cust_nation"),
        F.col("r_name").alias("cust_region"),
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31").cast("date"))
    )
    orders = _t(spark, sf_dir, "orders")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(
            (
                (F.col("supp_region") == "AFRICA")
                & (F.col("cust_region") == "AMERICA")
            )
            | (
                (F.col("supp_region") == "AMERICA")
                & (F.col("cust_region") == "AFRICA")
            )
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
            _disc_price().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("volume").cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Q8: national market share — conditional aggregation as share-of-total
# ---------------------------------------------------------------------------


@query(
    "tpch_q8_market_share",
    f"""
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_1'
                               THEN volume ELSE CAST(0 AS DECIMAL(20,4))
                          END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             {SQL_DISC_PRICE} AS volume,
             n2.n_name AS supp_nation
      FROM part, lineitem, supplier, orders, customer,
           nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey
        AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        AND s_nationkey = n2.n_nationkey
        AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
        AND p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year ORDER BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_1's share of AMERICA's PROMO-part order volume
    per year — the benchmark's share-of-total via CONDITIONAL
    aggregation (sum(CASE)/sum over one grouped pass; no self-join, no
    second scan). Customer-side region restricts the denominator;
    supplier-side nation labels the numerator. Dialect deviations
    (documented, both sides): fixture part types / 1996-97 span;
    supplier nation replaces the spec's ps/supplier chain 1:1 (no
    partsupp table in the fixture). Exact-decimal volumes; the share
    divides two exact sums as doubles, round-6 at the boundary."""
    region = _t(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA"
    )
    nation = _t(spark, sf_dir, "nation")
    cnat = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    snat = nation.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(snat), F.col("s_nationkey") == F.col("sn_key")
    ).select("s_suppkey", "supp_nation")
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(cnat), F.col("c_nationkey") == F.col("cn_key")
    ).select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    zero = F.lit(0).cast("decimal(20,4)")
    vol = _disc_price()
    return (
        joined.select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_1",
                        F.col("volume"),
                    ).otherwise(zero)
                ).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q9: product-type profit — every-dimension join grouped by
# (nation, year), descending-year output
# ---------------------------------------------------------------------------


@query(
    "tpch_q9_product_profit",
    f"""
    SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS INTEGER) AS o_year,
             {SQL_DISC_PRICE} AS amount
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_type = 'STANDARD'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit on a product line by supplier nation and year,
    every year unfiltered — the benchmark's widest unselective
    multi-level aggregation (part/supplier/nation broadcast, one
    fact-fact shuffle, then a (nation, year) re-aggregation) with the
    descending-year presentation order. Dialect deviation (documented,
    both sides): the fixture has no partsupp, so profit is the
    discounted extended price (the spec's revenue term) and the
    product line is p_type = 'STANDARD' instead of the p_name LIKE
    scan. Exact-decimal amounts, year cast to INTEGER on both sides."""
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "nation")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_type") == "STANDARD"
    ).select("p_partkey")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
    )
    return (
        joined.select(
            "nation",
            F.year("o_orderdate").cast("int").alias("o_year"),
            _disc_price().alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Q17: small-quantity-order revenue — the correlated SCALAR subquery
# ---------------------------------------------------------------------------


@query(
    "tpch_q17_small_qty_revenue",
    """
    WITH bl AS (
      SELECT l_partkey,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS price
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#13'
    ),
    pa AS (SELECT l_partkey,
                  sum(qty) AS sum_qty, count(*) AS cnt
           FROM bl GROUP BY l_partkey)
    SELECT round(CAST(sum(bl.price) AS DOUBLE) / 7.0, 6) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_small
    FROM bl JOIN pa USING (l_partkey)
    WHERE 5 * pa.cnt * bl.qty < pa.sum_qty
    ORDER BY avg_yearly
    """,
)
def tpch_q17_small_qty_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q17: yearly revenue lost if small-quantity orders were not
    taken — the benchmark's canonical CORRELATED SCALAR SUBQUERY
    (``l_quantity < 0.2 * (SELECT avg(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey)``), the one classic decorrelation
    shape the registry lacked next to EXISTS (Q4) and NOT IN (Q16):
    the subquery decorrelates to an aggregate-then-rejoin — per-part
    averages computed ONCE over the brand-restricted fact, broadcast
    back onto the same fact (the magic-set reduction: the brand filter
    reaches the per-part aggregate too, because a filtered part's
    lineitems are exactly the rows its average needs).

    Exactness: the fixture's l_quantity is integral (1..50), so the
    predicate ``qty < 0.2 * avg`` is evaluated in pure integer algebra
    as ``5 * cnt * qty < sum_qty`` (avg = sum/cnt; multiply through by
    5*cnt > 0) — no float division anywhere near the knife edge.
    Revenue stays DECIMAL(12,2)-exact to the output boundary; the /7.0
    and round(6) are the only double ops. Dialect deviations
    (documented, both sides): the fixture part table has no
    p_container, so the restriction is p_brand = 'Brand#13' alone
    (~5% of parts — Q17's point is selectivity feeding a correlated
    aggregate, which the brand filter preserves); n_small (the count
    of qualifying small-quantity line items) is emitted beside
    avg_yearly so the driver hash pins more than one scalar.

    Scale: the brand filter broadcasts (~10 parts at sf0.001), the
    fact is scanned once, the per-part aggregate combines map-side
    onto ~|parts(brand)| groups, and the rejoin is a broadcast of the
    tiny aggregate frame — no corpus-sized shuffle anywhere. At 100 TB
    the same plan holds: the subquery cost is one partial-agg pass
    over the SEMI-JOINED fact, never a per-row re-scan.

    Reference analogue: none (beyond-reference TPC-H widening;
    VERDICT r15 ask #4)."""
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#13"
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
    )
    bl = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_partkey", "qty", "price"
    )
    pa = bl.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"), F.count("*").alias("cnt")
    )
    small = bl.join(F.broadcast(pa), "l_partkey").filter(
        F.lit(5) * F.col("cnt") * F.col("qty") < F.col("sum_qty")
    )
    return small.agg(
        F.round(
            F.sum("price").cast("double") / F.lit(7.0), 6
        ).alias("avg_yearly"),
        F.count("*").cast("bigint").alias("n_small"),
    ).orderBy("avg_yearly")


# ---------------------------------------------------------------------------
# Q18: large-volume customers — aggregate-IN (HAVING) semi-join
# ---------------------------------------------------------------------------


@query(
    "tpch_q18_large_volume_customer",
    """
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS BIGINT)) > 250
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
    LIMIT 100
    """,
)
def tpch_q18_large_volume_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q18: customers who placed large-volume orders — the
    AGGREGATE-IN shape (``o_orderkey IN (SELECT l_orderkey ... GROUP
    BY ... HAVING sum(l_quantity) > K)``) that completes the
    registry's subquery matrix: EXISTS (Q4), NOT IN (Q16), correlated
    scalar (Q17), and now the uncorrelated aggregate membership test.
    The planner shape: the HAVING filter runs ONCE over one grouped
    pass of the fact (map-side combinable), and the surviving ~2% key
    set semi-joins back — never a per-row re-aggregation.

    Exactness: quantities are integral in the fixture, so the HAVING
    threshold and sum_qty are pure BIGINT; the top-100 ordering key is
    (o_totalprice DESC, o_orderdate ASC, o_orderkey ASC) — the
    orderkey tie-break makes the selected page engine-independent.
    Dialect deviation (documented, both sides): threshold 250 instead
    of the spec's 300 — the fixture's per-order quantity sums top out
    near 380, and 250 keeps the qualifying set non-empty (~2% of
    orders) at every scale.

    Scale: one grouped pass over lineitem, broadcast semi-join of the
    ~2% key set against orders (at 100 TB the same frame is a hash
    semi-join one hint away — the key set scales with orders, not
    lineitem), broadcast customer dimension, then the re-aggregation
    runs only on qualifying orders' line items. TakeOrdered caps the
    result at 100 rows.

    Reference analogue: none (beyond-reference TPC-H widening)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("bigint").alias("qty")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("sq"))
        .filter(F.col("sq") > 250)
        .select("l_orderkey")
    )
    orders = _t(spark, sf_dir, "orders").join(
        F.broadcast(big),
        F.col("o_orderkey") == big.l_orderkey,
        "left_semi",
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        joined.groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice",
        )
        .agg(F.sum("qty").cast("bigint").alias("sum_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(
            F.desc("o_totalprice"), F.asc("o_orderdate"),
            F.asc("o_orderkey"),
        )
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q22: dormant above-average-balance customers — scalar threshold + NOT EXISTS
# ---------------------------------------------------------------------------


@query(
    "tpch_q22_dormant_rich_customers",
    """
    WITH s AS (
      SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS sb,
             count(*) AS cnt
      FROM customer WHERE c_acctbal > 0
    ),
    recent AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '2001-01-01'
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
             AS totacctbal
    FROM customer, s
    WHERE CAST(c_acctbal AS DECIMAL(12,2)) * cnt > sb
      AND c_custkey NOT IN (SELECT o_custkey FROM recent)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def tpch_q22_dormant_rich_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q22: above-average-balance customers with no recent
    orders — the benchmark's last subquery-bearing form and the one
    COMPOSITE the matrix still lacked: an UNCORRELATED SCALAR subquery
    used as a filter threshold (the positive-balance average) COMPOSED
    with NOT EXISTS (the anti-join), in one query. The scalar
    decorrelates to a single global aggregate broadcast as a 1-row
    frame; the NOT EXISTS becomes a broadcast anti-join against the
    distinct recent-orderer key set.

    Exactness: the threshold ``c_acctbal > avg(positive balances)`` is
    the Q17 integer-algebra trick in decimal — multiply through by the
    count: ``acctbal * cnt > sum_bal`` with both sides exact
    DECIMAL — so no float division sits near the knife edge;
    totacctbal is an exact decimal sum cast to double at the output
    boundary only. Dialect deviations (documented, both sides): the
    fixture has no c_phone, so the spec's country-code grouping maps
    to c_mktsegment; and nearly every fixture customer has SOME order,
    so 'has no orders' (vacuous here) becomes 'has no orders since
    2001-01-01' — the same anti-join shape with non-trivial membership
    at every scale (29/285/2845 qualifying customers).

    Scale: one aggregate pass over customer produces the broadcast
    1-row threshold; one distinct pass over date-filtered orders
    produces the anti-join key set (broadcast at fixture scale; the
    recent-orderer set scales with one year of order keys — at 100 TB
    it is a shuffle anti-join one hint away); the main pass is a
    single customer scan with both small frames broadcast onto it.
    Reference analogue: none (beyond-reference TPC-H widening)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
    )
    s = cust.filter(F.col("bal") > 0).agg(
        F.sum("bal").alias("sb"), F.count("*").alias("cnt")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate")
            >= F.lit("2001-01-01").cast("timestamp")
        )
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(s))
        .filter(F.col("bal") * F.col("cnt") > F.col("sb"))
        .join(F.broadcast(recent), "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.sum("bal").cast("double").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Suite completion (r16): the remaining eleven spec queries, authored as
# dialect adaptations where the fixture lacks a spec column/table (each
# deviation documented in the entry docstring, identical on both sides).
# With these the registry carries ALL 22 TPC-H query shapes.
# ---------------------------------------------------------------------------


@query(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(l_discount AS DECIMAL(4,2))
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q6: revenue increase from eliminating small discounts —
    the benchmark's pure SCAN query: no join, four pushable predicates,
    one global aggregate. Its whole point is pushdown + map-side
    combine: the date range, the discount band, and the quantity cap
    all reach the parquet scan as PushedFilters, and the sum combines
    partially on every partition into a 1-row exchange. At 100 TB this
    is the shape partition pruning exists for (a date-partitioned fact
    prunes to one year before any IO).

    Exactness: revenue = sum(extendedprice * discount) runs entirely in
    DECIMAL (12,2 x 4,2 -> 18,4), double only at the output boundary;
    the discount band compares the raw double column against the
    literals' doubles (identical bit patterns on both engines, and the
    fixture's discount grid is those same literals' doubles - exact,
    while keeping the band pushable to the parquet scan). n_lines pins the selected-row set
    beside the one revenue scalar. Fixture dates shift the spec's 1994
    window into the 1996 span; quantity/discount constants are spec.

    Reference analogue: none (beyond-reference TPC-H widening, r16
    suite completion)."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            # band compared on the RAW double column (both engines parse
            # 0.05/0.07 to the identical nearest-double, and the stored
            # 11-step grid is the same literals' doubles, so the edges
            # are exact) - a DECIMAL cast here would block parquet
            # pushdown of the band (verified on PushedFilters, r16)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((_ext() * disc).cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )


@query(
    "tpch_q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           CAST(sum({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY sum({SQL_DISC_PRICE}) DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q10: top customers by revenue lost to returned items in a
    quarter — the classic CUSTOMER-GRAIN top-k over a three-way
    fact/dim join: the order-date window prunes orders BEFORE the
    lineitem join, the returnflag filter prunes the fact at the scan,
    and the per-customer aggregate feeds TakeOrdered(20). At 100 TB the
    date window is partition pruning on orders; customer and nation
    broadcast; the only corpus shuffle is the grouped aggregate on
    ~|qualifying customers| keys.

    Exactness: revenue is the exact DECIMAL(20,4) disc_price sum; the
    top-20 page is selected ORDERING ON THE EXACT DECIMAL with
    c_custkey as tie-break, so the page is engine-independent; revenue
    and c_acctbal go double at the output boundary only. Dialect: the
    fixture has no c_address/c_phone/c_comment, so the output list is
    the key/name/balance/nation columns (same grouping grain as spec).

    Reference analogue: none (beyond-reference TPC-H widening, r16
    suite completion)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", _disc_price().alias("dp"))
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum("dp").alias("rev_exact"))
        .orderBy(F.desc("rev_exact"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("rev_exact").cast("double").alias("revenue"),
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
        )
    )


@query(
    "tpch_q12_shipmode_priority",
    """
    SELECT l_returnflag AS ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def tpch_q12_shipmode_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q12: late shipments by ship class, split by order
    priority — the CONDITIONAL-COUNT pivot (two CASE sums in one
    grouped pass) over a join with a CROSS-TABLE date residual
    (l_shipdate > o_orderdate + 90 days cannot be pushed to either
    scan; it evaluates on the join output, exactly like Q4's residual).
    One fact scan, one grouped pass, 3-row result.

    Dialect (documented, both sides): the fixture has no l_shipmode /
    l_commitdate / l_receiptdate, so l_returnflag plays the ship-class
    axis and 'late' means shipped more than 90 days after the order
    date (~48% of lines — selective enough to exercise the residual,
    dense enough to survive sf0.001). Priority classes are spec
    (URGENT/HIGH vs the rest). Counts are exact BIGINT.

    Scale: the residual is evaluated post-join but the two-year
    shipdate window still pushes to the lineitem scan; the grouped
    pivot combines map-side into 3 groups. At 100 TB the join is the
    only shuffle and AQE would pick its side ordering.

    Reference analogue: none (beyond-reference TPC-H widening, r16
    suite completion)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate", "l_returnflag")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1))
            .cast("bigint")
            .alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@query(
    "tpch_q13_customer_distribution",
    """
    WITH co AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM co
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_customer_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13: the distribution of order counts per customer — the
    DOUBLE AGGREGATION over a PREDICATED OUTER JOIN. Two shapes no
    other registry entry pins together: (1) a filter that lives IN the
    left-join's ON clause, not the WHERE (a customer whose every order
    is urgent must still appear with c_count = 0 — moving the
    predicate to WHERE would silently turn the join inner and drop
    them); (2) a histogram-of-a-histogram (count per customer, then
    count per count). count(o_orderkey) counts non-null keys, so the
    unmatched left rows land in the 0 bucket on both engines.

    Scale: the first aggregate shuffles on c_custkey (the join's own
    key — one exchange serves both); the second groups ~50 distinct
    counts, map-side combinable to nothing. At 100 TB customer
    broadcasts into the orders scan and the distribution costs one
    pass.

    Reference analogue: none (beyond-reference TPC-H widening, r16
    suite completion)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    co = (
        cust.join(
            orders, cust.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        co.groupBy(F.col("c_count").cast("bigint").alias("c_count"))
        .agg(F.count("*").cast("bigint").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "tpch_q14_promo_revenue",
    f"""
    SELECT round(CAST(sum(CASE WHEN p_type = 'PROMO'
                              THEN {SQL_DISC_PRICE}
                              ELSE CAST(0 AS DECIMAL(20,4)) END)
                      AS DOUBLE) * 100.0
                 / CAST(sum({SQL_DISC_PRICE}) AS DOUBLE), 6)
             AS promo_revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def tpch_q14_promo_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q14: the share of one month's revenue that came from
    promotional parts — the CONDITIONAL-SHARE scalar (a CASE sum over
    the same rows as the unconditional sum, one division at the end).
    The month window prunes the fact before the part join; part
    broadcasts; both sums run in the SAME grouped pass (one scan, one
    1-row result) — the naive two-query formulation would scan twice.

    Exactness: both sums are exact DECIMAL(20,4) over identical rows;
    the percentage is computed as (promo_double * 100.0) /
    total_double in that exact operation order on both engines, then
    round(6) — the only float math in the query. Dialect: the
    fixture's p_type is a single word and 'PROMO' is one of its six
    values, so the spec's LIKE 'PROMO%%' is an equality here; n_lines
    pins the joined row set beside the one ratio.

    Reference analogue: none (beyond-reference TPC-H widening, r16
    suite completion)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    ).select("l_partkey", _disc_price().alias("dp"))
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    )
    zero = F.lit(0).cast("decimal(20,4)")
    return joined.agg(
        F.round(
            F.sum(
                F.when(F.col("p_type") == "PROMO", F.col("dp")).otherwise(
                    zero
                )
            ).cast("double")
            * F.lit(100.0)
            / F.sum("dp").cast("double"),
            6,
        ).alias("promo_revenue"),
        F.count("*").cast("bigint").alias("n_lines"),
    )


@query(
    "tpch_q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum({SQL_DISC_PRICE}) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name,
           CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT max(total_rev) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def tpch_q15_top_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q15: the supplier(s) with the quarter's maximum revenue —
    the VIEW-REUSED-TWICE shape: one derived aggregate (per-supplier
    quarterly revenue) consumed both as the join input and as the
    scalar max it is filtered against. The spec writes it as a view +
    uncorrelated scalar subquery; here the derived frame is built once
    and its 1-row max is broadcast back onto it — the plan a
    decorrelator produces, with no second fact scan.

    Exactness: revenue is the exact DECIMAL(20,4) disc_price sum, and
    the max-equality filter compares DECIMAL to DECIMAL — bit-exact on
    both engines, so ties (if any) select identically; double only at
    the output boundary; ORDER BY s_suppkey pins row order.

    Scale: one date-pruned fact pass grouped on ~|suppliers| keys; the
    max is a 1-row broadcast; supplier broadcasts. At 100 TB nothing
    beyond the one grouped exchange touches the fact.

    Reference analogue: none (beyond-reference TPC-H widening, r16
    suite completion)."""
    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
            # explicit, though vacuous: the supplier join later infers
            # isnotnull(l_suppkey) on ONE consumer of this frame; stating
            # it here keeps both consumers' subtrees canonically identical
            # so the grouped exchange is computed once and REUSED (without
            # it the max branch re-scans the fact - verified on the
            # executed AQE plan, r16)
            & F.col("l_suppkey").isNotNull()
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_disc_price()).alias("total_rev"))
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q19_bracket_revenue",
    f"""
    SELECT CAST(sum({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_bracket_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q19: revenue from three disjoint part/quantity brackets —
    the DISJUNCTION-OF-CONJUNCTIONS residual: three AND-brackets OR'd
    together, spanning both sides of the join, evaluated in ONE
    scan+join (the naive formulation unions three scans). The
    authoring adds the derived pushdown a decorrelator would: the
    brand disjunction collapses to p_brand IN (...) and the size
    bound to p_size <= 15 on the part scan (every bracket implies
    them), so the broadcast side is pre-shrunk while the full
    three-way OR remains as the join residual.

    Dialect (documented, both sides): the fixture has no p_container /
    l_shipmode / l_shipinstruct, so each bracket is brand + size-band
    + quantity-band (Brand#34 does not exist in the fixture's 25
    brands; Brand#24 takes its slot). Revenue is the exact
    DECIMAL(20,4) sum, double at the boundary; n_lines pins the
    selected set.

    Scale: part pre-filtered and broadcast; one fact scan; the OR
    residual is codegen'd row-local — no shuffle beyond the final
    1-row agg.

    Reference analogue: none (beyond-reference TPC-H widening, r16
    suite completion)."""
    b1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#24")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#24")
        & (F.col("p_size") <= 15)
        & (F.col("p_size") >= 1)
    ).select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", _disc_price().alias("dp")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(b1 | b2 | b3)
        .agg(
            F.sum("dp").cast("double").alias("revenue"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )


@query(
    "tpch_q2_min_cost_supplier",
    """
    WITH offers AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'LARGE'
      GROUP BY l_partkey, l_suppkey),
    eo AS (
      SELECT l_partkey, cost, s_name, s_acctbal, n_name
      FROM offers
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    mn AS (SELECT l_partkey, min(cost) AS min_cost
           FROM eo GROUP BY l_partkey)
    SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
           eo.l_partkey AS p_partkey, p_name,
           CAST(cost AS DOUBLE) AS cost
    FROM eo
    JOIN mn ON eo.l_partkey = mn.l_partkey AND eo.cost = mn.min_cost
    JOIN part ON p_partkey = eo.l_partkey
    ORDER BY s_acctbal DESC, s_name, p_partkey
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q2: for each part of a class, the in-region supplier
    offering it at minimum cost — the benchmark's CORRELATED MIN
    subquery (``ps_supplycost = (SELECT min(ps_supplycost) ... WHERE
    ps_partkey = p_partkey AND <region>)``), decorrelated the same way
    Q17's avg was: the region-restricted per-part minimum is computed
    ONCE as an aggregate frame and equality-rejoined — never a per-row
    re-scan. The part-class filter applies the magic-set reduction
    (offers are built only for LARGE parts, so the correlated
    aggregate's input is pre-shrunk by the outer filter).

    Exactness: cost is exact DECIMAL(12,2) end-to-end, and the
    min-equality rejoin compares DECIMAL to DECIMAL — ties select
    identical supplier sets on both engines (spec behavior: all
    minimum-cost suppliers qualify). The top-100 page orders by
    s_acctbal DESC with (s_name, p_partkey) tie-breaks. Dialect
    (documented, both sides): the fixture has no partsupp, so the
    supply relation derives from shipment history — a supplier offers
    a part at the MINIMUM extended price it ever shipped it at; the
    fixture's single-word p_type plays the spec's '%BRASS' class and
    its supplier columns carry no address/phone/comment.

    Scale: offers is one grouped pass over the part-pruned fact;
    supplier/nation/region broadcast onto it; the per-part min frame
    scales with |parts| and broadcasts back. At 100 TB the only
    corpus-sized exchange is the offers groupBy, keyed on the same
    (partkey) the rejoin needs.

    Reference analogue: none (beyond-reference TPC-H widening, r16
    suite completion)."""
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_type") == "LARGE"
    ).select("p_partkey", "p_name")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
    )
    offers = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("price").alias("cost"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(
                    F.col("r_name") == "EUROPE"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eo = offers.join(
        F.broadcast(supp), offers.l_suppkey == supp.s_suppkey
    ).select("l_partkey", "cost", "s_name", "s_acctbal", "n_name")
    mn = eo.groupBy("l_partkey").agg(F.min("cost").alias("min_cost"))
    return (
        eo.join(
            F.broadcast(mn),
            (eo.l_partkey == mn.l_partkey)
            & (eo.cost == mn.min_cost),
        )
        .drop(mn.l_partkey)
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            F.col("cost").cast("double").alias("cost"),
        )
        .orderBy(F.desc("s_acctbal"), "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "tpch_q11_important_stock",
    """
    WITH val AS (
      SELECT l_partkey,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_regionkey = 3
      GROUP BY l_partkey),
    tot AS (SELECT sum(value) AS total, count(*) AS n FROM val)
    SELECT l_partkey AS p_partkey, CAST(value AS DOUBLE) AS value
    FROM val, tot
    WHERE value * n * 2 > 3 * total
    ORDER BY value DESC, l_partkey
    """,
)
def tpch_q11_important_stock(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q11: parts representing a significant share of one
    geography's supply value — the HAVING-AGAINST-GLOBAL-SCALAR shape:
    a grouped sum filtered against a FRACTION OF ITS OWN TOTAL
    (``having sum(...) > 0.0001 * (SELECT sum(...) <same relation>)``)
    — the derived frame consumed twice, once grouped and once
    re-aggregated to one row, with NO second base-table scan (Q15
    reuses a view against its max; this is the fraction-of-total
    variant feeding a filter, the last uncorrelated-scalar form the
    registry lacked).

    Exactness: the share threshold multiplies through by the fraction's
    denominator — ``value * 500 > total`` — so both sides stay exact
    DECIMAL and no float division sits near the knife edge (the Q17/
    Q22 trick); ordering is on the exact decimal with l_partkey
    tie-break; double at the output boundary. Dialect (documented,
    both sides): no partsupp, so a part's stock value is the summed
    extended price of its shipments from the geography's suppliers;
    the spec's one-nation filter widens to region EUROPE (n_regionkey
    = 3) so the supplier set is non-trivial at every fixture scale;
    the spec's fixed 1/10000-of-total fraction is replaced by a
    SCALE-INVARIANT one — parts above 1.5x the MEAN per-part value,
    written ``value * n * 2 > 3 * total`` with n the derived frame's
    own row count, so both the accept and reject sets stay non-trivial
    at every fixture scale (14/331/2930 rows) and every factor stays
    exact integer-x-decimal.

    Scale: suppliers broadcast into the fact scan, one grouped pass on
    |parts| keys, the 1-row total broadcast back. At 100 TB the
    per-part frame never leaves the cluster and the global total is a
    second-stage combine of the same partial aggregates.

    Reference analogue: none (beyond-reference TPC-H widening, r16
    suite completion)."""
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .filter(F.col("n_regionkey") == 3)
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
    )
    val = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum("price").alias("value"))
    )
    tot = val.agg(
        F.sum("value").alias("total"), F.count("*").alias("n")
    )
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(
            F.col("value") * F.col("n") * F.lit(2)
            > F.lit(3) * F.col("total")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value").alias("val_exact"),
        )
        .orderBy(F.desc("val_exact"), "p_partkey")
        .select(
            "p_partkey",
            F.col("val_exact").cast("double").alias("value"),
        )
    )


@query(
    "tpch_q20_excess_stock_suppliers",
    """
    WITH yr AS (
      SELECT l_partkey, l_suppkey,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                       AND l_shipdate < TIMESTAMP '1998-01-01'
                      THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
               AS qty_year,
             sum(CAST(l_quantity AS BIGINT)) AS qty_total
      FROM lineitem
      GROUP BY l_partkey, l_suppkey),
    heavy AS (
      SELECT DISTINCT l_suppkey
      FROM yr
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%widget'
        AND qty_total > 2 * qty_year)
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_regionkey = 2
      AND s_suppkey IN (SELECT l_suppkey FROM heavy)
    ORDER BY s_name
    """,
)
def tpch_q20_excess_stock_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20: suppliers holding excess stock of a named part
    class — the NESTED-IN CHAIN (supplier IN (pairs WHERE part IN
    (name-class) AND quantity-threshold)) that composes THREE subquery
    levels: a name-LIKE part class, a per-(part, supplier) correlated
    quantity threshold, and a distinct-supplier membership test. Each
    level decorrelates: the threshold to one grouped pass with a
    conditional year sum computed IN THE SAME aggregate (no second
    fact scan for the spec's inner ``0.5 * sum(l_quantity ...)``), the
    IN chains to semi joins on the shrinking key sets.

    Exactness: quantities are integral, so the excess test multiplies
    through — ``qty_total > 2 * qty_year`` — pure BIGINT on both
    engines (spec: out-of-window shipments exceed in-window, the
    availqty proxy). Dialect (documented, both sides): no partsupp, so
    the supply pairs derive from shipment history (a pair exists iff
    the supplier ever shipped the part); the name class is the
    fixture's '%widget' suffix; region ASIA (n_regionkey = 2) plays
    the spec's single nation so membership is non-trivial at every
    scale; output carries n_name instead of the absent s_address.

    Scale: one grouped pass over the fact on (partkey, suppkey) —
    both window and total sums in the same combine; the part class
    broadcasts into it; the distinct supplier set shrinks to
    |suppliers| and broadcasts as a semi join. At 100 TB nothing after
    the first grouped exchange touches fact-sized data.

    Reference analogue: none (beyond-reference TPC-H widening, r16
    suite completion)."""
    in_year = (
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        in_year.alias("in_year"),
    )
    wid = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget")
    ).select("p_partkey")
    yr = (
        li.join(F.broadcast(wid), li.l_partkey == wid.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.when(F.col("in_year"), F.col("qty")).otherwise(0))
            .alias("qty_year"),
            F.sum("qty").alias("qty_total"),
        )
    )
    heavy = (
        yr.filter(F.col("qty_total") > F.lit(2) * F.col("qty_year"))
        .select("l_suppkey")
        .distinct()
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .filter(F.col("n_regionkey") == 2)
        .select("s_suppkey", "s_name", "n_name")
    )
    return (
        supp.join(
            F.broadcast(heavy),
            supp.s_suppkey == heavy.l_suppkey,
            "left_semi",
        )
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@query(
    "tpch_q21_waiting_suppliers",
    """
    WITH l AS (
      SELECT l_orderkey, l_suppkey,
             max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY l_orderkey, l_suppkey),
    o AS (
      SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late
      FROM l GROUP BY l_orderkey)
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM l
    JOIN o ON l.l_orderkey = o.l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE l.late = 1 AND o.n_supp >= 2 AND o.n_late = 1
      AND n_regionkey = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def tpch_q21_waiting_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q21: suppliers who alone held up multi-supplier orders —
    the benchmark's hardest subquery composition: EXISTS (another
    supplier contributed to the order) AND NOT EXISTS (another
    supplier was ALSO late), both correlated to the same outer row,
    both self-joins on the fact. Decorrelated to aggregates the way a
    modern planner does: collapse lineitem to (order, supplier,
    any-late) grain ONCE, then per-order counts (n_supp, n_late) make
    the double-EXISTS a pure row predicate — this supplier late AND
    n_supp >= 2 AND n_late = 1 — two grouped passes replacing two
    correlated self-joins of the fact against itself.

    Dialect (documented, both sides): no l_commitdate/l_receiptdate,
    so 'kept waiting' means shipped > 90 days after the order date
    (the Q12 lateness dialect); region AMERICA (n_regionkey = 1)
    plays the spec's single nation; o_orderstatus = 'F' is spec.
    Counts are exact BIGINT; the top page orders (numwait DESC,
    s_name) — deterministic.

    Scale: the first aggregate shuffles the F-filtered fact on
    (orderkey, suppkey); the per-order frame re-keys on orderkey and
    joins back ORDER-GRAIN data (scales with orders, not lineitem —
    a shuffle join on the same orderkey both frames are already
    grouped by); supplier/nation broadcast; the final aggregate is
    |suppliers|-sized. No fact-fact self-join survives anywhere in
    the plan — that is the decorrelation's whole point at 100 TB.

    Reference analogue: none (beyond-reference TPC-H widening, r16
    suite completion)."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    grain = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(late, 1).otherwise(0)).alias("late"))
    )
    per_order = grain.groupBy(
        F.col("l_orderkey").alias("ok")
    ).agg(
        F.count("*").alias("n_supp"), F.sum("late").alias("n_late")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .filter(F.col("n_regionkey") == 1)
        .select("s_suppkey", "s_name")
    )
    return (
        grain.filter(F.col("late") == 1)
        .join(per_order, grain.l_orderkey == per_order.ok)
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
