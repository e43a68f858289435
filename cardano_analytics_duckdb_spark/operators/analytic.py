"""Decision-support query shapes the reference's SQL surface implies but its
bundled workloads never exercise: correlated scalar subqueries, EXISTS
semantics, disjunctive join predicates, HAVING + join-back, conditional-
aggregate shares, argmax-by-subquery, and grouping sets.

The reference embeds DuckDB, whose SQL dialect supports all of these
(SURVEY §2.8 notes the engine surface is "whatever DuckDB parses"); a user
switching engines will write them, so they are first-class here.  Each is
re-expressed as a declarative DataFrame plan (decorrelated by hand where
Spark would otherwise plan a correlated subquery) and oracle-checked
against DuckDB running the *correlated* form — proving the decorrelation.

Scale notes (100 TB posture):
- Correlated scalar subqueries (Q17/Q22 shapes) become a pre-aggregated
  join: the inner aggregate is computed once, distributed, and joined on
  its correlation key — never re-evaluated per outer row.
- Scalar thresholds (avg/max of a whole table) are 1-row aggregates
  attached via broadcast cross-join: no shuffle of the big side.
- EXISTS is a left-semi join: Spark stops probing a key after the first
  match and never materializes the inner side's payload columns.
- ``price_decile_stats`` uses a global-order ``ntile`` for bit-exact
  oracle parity; at 100 TB you'd swap the window for percentile-boundary
  binning (one distributed ``percentile`` agg broadcast to a range
  ``CASE`` — no single-partition sort).  The window form is kept because
  rank arithmetic over a unique sort key is the only formulation that is
  deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ordering import small_sorted
from ..functions.rounding import cent_sum, rnd
from ..lake.tables import load_table

# -- correlated scalar subquery, decorrelated (TPC-H Q17 shape) ---------------
# revenue from line items ordering less than 20% of their part's average
# quantity.  Inner avg-per-part is computed once and joined on l_partkey.


def small_quantity_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty_cut = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(qty_cut, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            rnd(F.sum("l_extendedprice"), 2).alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_SMALL_QTY_SQL = """
SELECT floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS small_qty_revenue,
       count(*) AS n_items
FROM lineitem l
WHERE l.l_quantity < (
    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey
)
"""

# -- EXISTS → grouped count (TPC-H Q4 shape) ----------------------------------
# orders with at least one returned line item, counted per priority.
# Left-semi join: the probe stops at the first match per order key.


def priority_returned_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(
            returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .transform(small_sorted, "o_orderpriority")
    )


_PRIORITY_RETURNED_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# -- disjunctive multi-clause join predicate (TPC-H Q19 shape) ----------------
# OR of (brand, size, quantity-band) clauses.  The shared l_partkey =
# p_partkey equi-conjunct stays a hash join; only the residual OR is
# post-join — Catalyst also derives a pushable superset filter
# (size <= 50, quantity bounds) for the scans.


def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size") <= 15)
            & F.col("l_quantity").between(5, 25)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size") <= 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size") <= 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.filter(clause).agg(
        rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "disjunct_revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


_DISJUNCT_SQL = """
SELECT floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0
         AS disjunct_revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1'  AND p_size <= 15 AND l_quantity BETWEEN 5  AND 25)
   OR (p_brand = 'Brand#12' AND p_size <= 30 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#23' AND p_size <= 50 AND l_quantity BETWEEN 20 AND 40)
"""

# -- HAVING + join-back (TPC-H Q18 shape) -------------------------------------
# orders whose total quantity exceeds 300, re-joined to orders + customer.
# The aggregate runs first (map-side partials on l_orderkey), and only the
# tiny surviving key set flows into the join-back.


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300.0)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            rnd(F.col("o_totalprice"), 2).alias("o_totalprice"),
            rnd(F.col("total_qty"), 2).alias("total_qty"),
        )
        .transform(small_sorted, F.col("total_qty").desc(), F.col("o_orderkey"))
    )


_LARGE_VOLUME_SQL = """
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       floor((o.o_totalprice) * 100.0 + 0.5) / 100.0 AS o_totalprice,
       floor((sums.total_qty) * 100.0 + 0.5) / 100.0 AS total_qty
FROM (
    SELECT l_orderkey, sum(l_quantity) AS total_qty
    FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300.0
) sums
JOIN orders o ON o.o_orderkey = sums.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY sums.total_qty DESC, o.o_orderkey
"""

# -- nation-pair trade volume (TPC-H Q7 shape) --------------------------------
# bilateral shipping volume between distinct nation pairs, by ship year.
# Both nation lookups broadcast; the lineitem↔orders join carries the
# only large shuffle.


def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust_nation = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.filter(F.year("l_shipdate").between(1996, 1997))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cust_nation), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(
            # cent-exact: ~1400 output groups makes an ulp-boundary hit on a
            # float sum near-certain somewhere (see functions/rounding.py)
            cent_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "volume"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .transform(small_sorted, "supp_nation", "cust_nation", "ship_year")
    )


_NATION_PAIR_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l.l_shipdate) AS ship_year,
       sum(cast(floor((l.l_extendedprice * (1 - l.l_discount)) * 100.0 + 0.5)
                AS BIGINT)) / 100.0 AS volume,
       count(*) AS n_items
FROM lineitem l
JOIN orders o    ON l.l_orderkey = o.o_orderkey
JOIN customer c  ON o.o_custkey  = c.c_custkey
JOIN supplier s  ON l.l_suppkey  = s.s_suppkey
JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
WHERE year(l.l_shipdate) BETWEEN 1996 AND 1997
  AND sn.n_name <> cn.n_name
GROUP BY supp_nation, cust_nation, ship_year
ORDER BY supp_nation, cust_nation, ship_year
"""

# -- conditional-aggregate market share (TPC-H Q8 shape) ----------------------
# fraction of yearly revenue supplied by nation 7 — one pass, a CASE
# inside the numerator sum instead of a second scan.


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            rnd(
                F.sum(F.when(F.col("s_nationkey") == 7, rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .transform(small_sorted, "o_year")
    )


_MARKET_SHARE_SQL = """
SELECT year(o.o_orderdate) AS o_year,
       floor((sum(CASE WHEN s.s_nationkey = 7
                       THEN l.l_extendedprice * (1 - l.l_discount)
                       ELSE 0.0 END)
              / sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5)
         / 10000.0 AS mkt_share,
       count(*) AS n_items
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey  = s.s_suppkey
GROUP BY o_year
ORDER BY o_year
"""

# -- argmax via scalar subquery (TPC-H Q15 shape) -----------------------------
# supplier(s) with the maximum lineitem revenue.  The per-supplier
# aggregate is reused for both the max (1-row agg, broadcast) and the
# final filter — Spark never re-scans lineitem.


def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev")
    )
    max_rev = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(max_rev), F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", rnd(F.col("total_rev"), 2).alias("total_rev")
        )
        .transform(small_sorted, "s_suppkey")
    )


_TOP_SUPPLIER_SQL = """
WITH rev AS (
    SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_rev
    FROM lineitem GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       floor((rev.total_rev) * 100.0 + 0.5) / 100.0 AS total_rev
FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey
WHERE rev.total_rev = (SELECT max(total_rev) FROM rev)
ORDER BY s.s_suppkey
"""

# -- scalar threshold + NOT EXISTS (TPC-H Q22 shape) --------------------------
# customers richer than the average positive balance who never ordered,
# per nation.  The global average is a 1-row broadcast; NOT EXISTS is a
# left-anti join.


def rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.select("o_custkey"),
            customer.c_custkey == orders.o_custkey,
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            rnd(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .transform(small_sorted, "c_nationkey")
    )


_RICH_INACTIVE_SQL = """
SELECT c.c_nationkey, count(*) AS n_custs,
       floor((sum(c.c_acctbal)) * 100.0 + 0.5) / 100.0 AS total_bal
FROM customer c
WHERE c.c_acctbal > (
        SELECT avg(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0.0
      )
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
"""

# -- ntile decile bands -------------------------------------------------------
# order-price deciles.  ntile over a UNIQUE sort key (price, orderkey) is
# pure rank arithmetic — deterministic and engine-independent, unlike
# value-interpolated quantile binning.  Scale path documented in the
# module docstring (percentile-boundary binning, no global window).


def price_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select("o_totalprice", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            rnd(F.min("o_totalprice"), 2).alias("min_price"),
            rnd(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .transform(small_sorted, "decile")
    )


_DECILE_SQL = """
SELECT decile, count(*) AS n,
       floor((min(o_totalprice)) * 100.0 + 0.5) / 100.0 AS min_price,
       floor((max(o_totalprice)) * 100.0 + 0.5) / 100.0 AS max_price
FROM (
    SELECT o_totalprice,
           ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
    FROM orders
)
GROUP BY decile
ORDER BY decile
"""

# -- grouping sets ------------------------------------------------------------
# one scan, three aggregation shapes: by returnflag, by linestatus, and
# the grand total.  Spark expands this into a single expand+aggregate —
# no triple scan.  Rounding applied DataFrame-side (a `100.0` literal in
# Spark SQL parses as DECIMAL and breaks cross-engine bit parity).


def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.sum("l_extendedprice").alias("sum_price_raw"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            rnd(F.col("sum_price_raw"), 2).alias("sum_price"),
            "n",
        )
        .transform(small_sorted, "returnflag", "linestatus")
    )


_GROUPING_SETS_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS sum_price,
       count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY returnflag, linestatus
"""


# -- dual EXISTS / NOT EXISTS (TPC-H Q21 shape) -------------------------------
# orders that have a returned ('R') line item but no accepted ('A') one:
# a left-semi and a left-anti probe against the same table, fused over one
# lineitem scan per branch with only the join key materialized.


def returned_without_accepted_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    r_keys = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    a_keys = li.filter(F.col("l_returnflag") == "A").select("l_orderkey")
    return (
        orders.join(r_keys, orders.o_orderkey == r_keys.l_orderkey, "left_semi")
        .join(a_keys, orders.o_orderkey == a_keys.l_orderkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            cent_sum(F.col("o_totalprice")).alias("total_price"),
        )
        .transform(small_sorted, "o_orderstatus")
    )


_DUAL_EXISTS_SQL = """
SELECT o_orderstatus, count(*) AS n_orders,
       sum(cast(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0
         AS total_price
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
  AND NOT EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'A')
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

# -- per-group argmin join-back (TPC-H Q2 shape) ------------------------------
# cheapest supplier(s) for each part: min price per part, join back to
# recover the supplier rows at that price (ties kept — deterministic set).
# Unlike Q15's global argmax (1-row broadcast), the min here is a keyed
# aggregate re-joined on its group key — the decorrelated form of
# Q2's correlated min subquery.


def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 200)
    min_price = li.groupBy("l_partkey").agg(
        F.min("l_extendedprice").alias("min_price")
    )
    return (
        li.join(min_price, "l_partkey")
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .select(
            "l_partkey",
            "l_suppkey",
            rnd(F.col("min_price"), 2).alias("min_price"),
        )
        .distinct()
        .transform(small_sorted, "l_partkey", "l_suppkey")
    )


_CHEAPEST_SUPPLIER_SQL = """
SELECT DISTINCT l.l_partkey, l.l_suppkey,
       floor(l.l_extendedprice * 100.0 + 0.5) / 100.0 AS min_price
FROM lineitem l
WHERE l.l_partkey < 200
  AND l.l_extendedprice = (
      SELECT min(l2.l_extendedprice) FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey AND l2.l_partkey < 200
  )
ORDER BY l_partkey, l_suppkey
"""

# -- one-pass column profiling ------------------------------------------------
# The data-quality primitive every lake needs: per-column null counts,
# exact distinct cardinality, and value bounds, computed in ONE scan.  The
# multi-distinct aggregate plans through Catalyst's Expand (one pass over
# the data, internally multiplied per distinct-column), then the 1-row
# result is unpivoted to a row per column — a zero-shuffle narrow reshape.
# At 100 TB you'd swap exact countDistinct for approx_count_distinct per
# profiling run (the plan shape is unchanged); exact is kept here because
# the oracle hash-checks exact values.

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def lineitem_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"nulls_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    one = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', nulls_{c}, nd_{c}, min_{c}, max_{c}" for c in _PROFILE_COLS
    )
    return (
        one.selectExpr(
            "n_rows",
            f"stack({len(_PROFILE_COLS)}, {stack})"
            " AS (col_name, n_nulls, n_distinct, min_val, max_val)",
        )
        .select("col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")
        .transform(small_sorted, "col_name")
    )


def _profile_sql() -> str:
    aggs = ", ".join(
        f"count(*) - count({c}) AS nulls_{c},"
        f" count(DISTINCT {c}) AS nd_{c},"
        f" min({c}) AS min_{c}, max({c}) AS max_{c}"
        for c in _PROFILE_COLS
    )
    branches = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col_name, n_rows, nulls_{c} AS n_nulls,"
        f" nd_{c} AS n_distinct, min_{c} AS min_val, max_{c} AS max_val FROM a"
        for c in _PROFILE_COLS
    )
    return f"""
WITH a AS (SELECT count(*) AS n_rows, {aggs} FROM lineitem)
{branches}
ORDER BY col_name
"""


# -- unpivot / melt -----------------------------------------------------------
# wide-to-long reshaping: per-status priority-bucket revenue columns melted
# into rows.  Spark's `unpivot` is a zero-shuffle narrow transform over the
# (tiny) aggregated frame; the oracle mirrors it with UNION ALL, the
# dialect-portable rendering.


def order_status_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    urgent = F.when(
        F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")
    ).otherwise(F.lit(0.0))
    high = F.when(
        F.col("o_orderpriority") == "2-HIGH", F.col("o_totalprice")
    ).otherwise(F.lit(0.0))
    other = F.when(
        ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        F.col("o_totalprice"),
    ).otherwise(F.lit(0.0))
    wide = orders.groupBy("o_orderstatus").agg(
        cent_sum(urgent).alias("urgent"),
        cent_sum(high).alias("high"),
        cent_sum(other).alias("other"),
    )
    return (
        wide.unpivot(
            ids=["o_orderstatus"],
            values=["urgent", "high", "other"],
            variableColumnName="priority_bucket",
            valueColumnName="total_price",
        )
        .transform(small_sorted, "o_orderstatus", "priority_bucket")
    )


_UNPIVOT_SQL = """
WITH wide AS (
  SELECT o_orderstatus,
         sum(cast(floor((CASE WHEN o_orderpriority = '1-URGENT'
                              THEN o_totalprice ELSE 0.0 END) * 100.0 + 0.5)
                  AS BIGINT)) / 100.0 AS urgent,
         sum(cast(floor((CASE WHEN o_orderpriority = '2-HIGH'
                              THEN o_totalprice ELSE 0.0 END) * 100.0 + 0.5)
                  AS BIGINT)) / 100.0 AS high,
         sum(cast(floor((CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                              THEN o_totalprice ELSE 0.0 END) * 100.0 + 0.5)
                  AS BIGINT)) / 100.0 AS other
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, 'urgent' AS priority_bucket, urgent AS total_price FROM wide
UNION ALL
SELECT o_orderstatus, 'high', high FROM wide
UNION ALL
SELECT o_orderstatus, 'other', other FROM wide
ORDER BY o_orderstatus, priority_bucket
"""

# -- deterministic stratified sampling ---------------------------------------
# ~10% sample, reproducible across engines and cluster sizes: the sampling
# predicate is a multiplicative integer hash of the key — pure int64
# arithmetic, so the SAME rows are chosen everywhere (unlike TABLESAMPLE /
# rand(), which are engine- and partitioning-dependent).  This is the
# pattern for carving stable train/eval splits out of a 100 TB corpus:
# membership is a pushdown-able scan predicate, no shuffle, no state.


def stratified_order_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    keep = (F.col("o_orderkey") * F.lit(2654435761)) % F.lit(100) < 10
    return (
        orders.filter(keep)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            cent_sum(F.col("o_totalprice")).alias("sampled_price"),
        )
        .transform(small_sorted, "o_orderstatus")
    )


_SAMPLE_SQL = """
SELECT o_orderstatus, count(*) AS n_sampled,
       sum(cast(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0
         AS sampled_price
FROM orders
WHERE (o_orderkey * 2654435761) % 100 < 10
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

# -- approximate sketches (scale path) ----------------------------------------
# HyperLogLog++ distinct counts and KLL-ish approximate quantiles: at
# 100 TB these replace exact distinct (full shuffle of the key) and exact
# percentile (global sort) with fixed-size mergeable sketches — the
# default first pass over any new corpus.  Engine sketches are not
# bit-comparable across engines, so the REGISTERED query folds the sketch
# into deterministic error-bound booleans (plus exact columns that do
# hash-match), giving the driver a hard check; the raw sketch values are
# exposed via approx_user_sketches for tests/test_properties.py.


def approx_user_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            rnd(F.percentile_approx("value", 0.5, 10000), 2).alias(
                "approx_median_value"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .transform(small_sorted, "event_type")
    )


def approx_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_median"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.count(F.lit(1)).alias("n_events"),
    )
    users_ok = F.abs(F.col("approx_users") - F.col("exact_users")) <= F.greatest(
        F.ceil(F.col("exact_users") * F.lit(0.06)), F.lit(2)
    )
    median_ok = (F.col("approx_median") >= F.col("vmin")) & (
        F.col("approx_median") <= F.col("vmax")
    )
    return agg.select(
        "event_type",
        "n_events",
        "exact_users",
        users_ok.alias("approx_users_within_6pct"),
        median_ok.alias("approx_median_in_range"),
    ).transform(small_sorted, "event_type")


_APPROX_USER_STATS_SQL = """
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS exact_users,
       true AS approx_users_within_6pct,
       true AS approx_median_in_range
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# -- NOT IN with a subquery: null-aware anti-join (TPC-H Q16 shape) -----------
# The one semantically treacherous membership shape: `x NOT IN (subquery)`
# is NOT an anti-join when nulls are in play.  SQL three-valued logic says
#   x NOT IN (S)  ≡  x <> s1 AND x <> s2 AND ...
# so a NULL x (or a NULL in S) makes the predicate UNKNOWN, which a WHERE
# clause drops.  A plain LeftAnti join would *keep* those rows.  Spark
# plans this as a null-aware anti join (BroadcastHashJoin LeftAnti with the
# `(key = k) OR isnull(key = k)` disjunct); the oracle hash-match proves
# the plan's semantics, and test_plans asserts the shape stays a single
# broadcast probe — no cartesian, no per-row subquery re-execution.


def _negative_balance_suppkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN subquery of Q16 and of ``not_in_null_semantics``."""
    return (
        load_table(spark, sf_dir, "supplier")
        .filter("s_acctbal < 0.0")
        .select("s_suppkey")
    )


def distinct_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct suppliers per part descriptor, excluding
    suppliers from a NOT IN subquery (negative account balance).

    Scale posture: the exclusion set is a dimension-sized subquery →
    broadcast null-aware anti probe on the fact; count(DISTINCT) is a
    two-stage hash agg on (group keys, suppkey) — one shuffle total.

    The named residual (DuckDB's specialized perfect-hash distinct vs
    Spark's generic hash aggregate on an ~8M-combination key) now has
    TWO measured rejections and stands as a documented engine gap:
    r11's dedup-first variant was 2.0x worse on the plain path
    (q16_dedup_first_rejected — the pair-dedup ADDS a 60M-row
    exchange), and r13's bucket-local variant — dropDuplicates on the
    live l_partkey bucket layout, where the clustering makes the dedup
    exchange-FREE — still measured 2.2x worse than this shape on the
    same layout (SCALE_PROBE r13_tpch_ab: q16_local_dedup 2.796 s vs
    q16_r12_shape 1.28 s, n=7 equal-cache): even a partition-local
    int-pair hash pass over 60M rows costs more than it saves the
    downstream string-keyed distinct agg, which Spark runs as a
    two-stage partial/final anyway."""
    li = load_table(spark, sf_dir, "lineitem", layout_for=("l_partkey",))
    part = load_table(spark, sf_dir, "part", layout_for=("p_partkey",))
    negative = _negative_balance_suppkeys(spark, sf_dir)
    raw = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .filter(
            (F.col("p_brand") != "Brand#5")
            & F.col("p_size").isin(1, 9, 19, 29, 39, 49)
            & ~F.col("l_suppkey").isin(negative)
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )
    return raw.transform(
        small_sorted,
        F.col("supplier_cnt").desc(),
        "p_brand",
        "p_type",
        "p_size",
    )


_DISTINCT_SUPPLIER_PART_SQL = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5'
  AND p_size IN (1, 9, 19, 29, 39, 49)
  AND l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately null-poisoned NOT IN, both directions, in one result.

    - ``outer_nulls``: the probe expression is NULL for l_linenumber = 1
      rows; three-valued logic drops them (a naive anti-join would keep
      them), so n_kept < the naive count.
    - ``poisoned_set``: the subquery column is NULL for non-negative
      balances, so the set contains NULLs and NO row can satisfy NOT IN
      → n_kept must be exactly 0 (a naive anti-join would return
      thousands).  A hash match against DuckDB on both rows pins the
      null-aware semantics from both sides.
    """
    li = load_table(spark, sf_dir, "lineitem")
    poisoned = load_table(spark, sf_dir, "supplier").selectExpr(
        "CASE WHEN s_acctbal < 0.0 THEN s_suppkey END"
    )

    def kept(variant: str, probe: str, keys: DataFrame) -> DataFrame:
        return (
            li.filter(~F.expr(probe).isin(keys))
            .groupBy()
            .agg(F.lit(variant).alias("variant"), F.count("*").alias("n_kept"))
        )

    return (
        kept(
            "outer_nulls",
            "CASE WHEN l_linenumber = 1 THEN NULL ELSE l_suppkey END",
            _negative_balance_suppkeys(spark, sf_dir),
        )
        .unionAll(kept("poisoned_set", "l_suppkey", poisoned))
        .transform(small_sorted, "variant")
    )


_NOT_IN_NULL_SQL = """
SELECT 'outer_nulls' AS variant, count(*) AS n_kept
FROM lineitem
WHERE (CASE WHEN l_linenumber = 1 THEN NULL ELSE l_suppkey END)
      NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
UNION ALL
SELECT 'poisoned_set' AS variant, count(*) AS n_kept
FROM lineitem
WHERE l_suppkey NOT IN (
    SELECT CASE WHEN s_acctbal < 0.0 THEN s_suppkey END
    FROM supplier)
ORDER BY variant
"""


# -- HAVING vs whole-table scalar aggregate (TPC-H Q11 shape) -----------------
# Adapted: no partsupp table, so "value" is each part's discounted lineitem
# revenue; the shape under test is the Q11 plan — a grouped aggregate kept
# only where it exceeds a threshold derived from a scalar aggregate OVER THE
# SAME AGGREGATE, attached as a 1-row broadcast cross.  The fraction is
# scale-free (1.5x the mean part value, not an absolute share) so the result
# is non-empty at every SF; the comparison is pure int64 arithmetic on exact
# cent totals, so no float threshold can flip a boundary row between engines.


def significant_parts_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * F.lit(100.0)
        + F.lit(0.5)
    ).cast("long")
    # Explicit repartition -> SINGLE-phase aggregate: at scale the part
    # domain is high-cardinality relative to rows-per-task (100x probe:
    # ~94k rows/task over 200k parts), so map-side partial aggregation
    # combines almost nothing — every task builds a near-full hash table
    # and emits nearly its input.  Shuffling raw (key, cents) rows and
    # aggregating once is a measured 31% win (5.11 -> 3.50 s at 100x,
    # SCALE_PROBE tpch_100x).  Low-cardinality aggregates keep Catalyst's
    # partial/final staging; this opt-out is for Zipf-flat wide domains.
    pv = (
        li.select("l_partkey", cents.alias("c"))
        .repartition("l_partkey")
        .groupBy("l_partkey")
        .agg(F.sum("c").alias("value_cents"))
    )
    tot = pv.agg(
        F.sum("value_cents").alias("total_cents"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(
            F.lit(2) * F.col("value_cents") * F.col("n_parts")
            > F.lit(3) * F.col("total_cents")
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            (F.col("value_cents") / F.lit(100.0)).alias("part_value"),
        )
        # partition-local order, NOT small_sorted: the result is
        # dimension-sized (every part above 1.5x the mean), and coalesce(1)
        # would run the final aggregate for the whole part domain in ONE
        # task at scale.  Content is deterministic; driver/oracle
        # comparison is order-insensitive.
        .sortWithinPartitions(F.col("part_value").desc(), "partkey")
    )


_SIGNIFICANT_PARTS_SQL = """
WITH pv AS (
    SELECT l_partkey,
           sum(cast(floor((l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) AS BIGINT)) AS value_cents
    FROM lineitem GROUP BY l_partkey
), tot AS (
    SELECT sum(value_cents) AS total_cents, count(*) AS n_parts FROM pv
)
SELECT l_partkey AS partkey, value_cents / 100.0 AS part_value
FROM pv, tot
WHERE 2 * value_cents * n_parts > 3 * total_cents
ORDER BY part_value DESC, partkey
"""

# -- correlated-aggregate membership set (TPC-H Q20 shape) --------------------
# Suppliers who shipped more than 2x the mean per-supplier volume of some
# LIKE-filtered part.  The oracle runs the CORRELATED form (HAVING against a
# scalar subquery re-correlated on l_partkey); the Spark plan decorrelates
# it with ONE fact shuffle: an explicit repartition on l_partkey satisfies
# both the (part, supplier) group-by (hash on a key subset is sufficient
# clustering) and the per-part window that rolls the groups up into total
# volume + distinct-supplier count — no second aggregate, no self-join of
# the aggregated set.  The threshold division is the same double op on
# identical exact operands in both engines.


def excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part_keys = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    sq = (
        li.join(F.broadcast(part_keys), "l_partkey")
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    per_part = Window.partitionBy("l_partkey")
    excess = (
        sq.withColumn("part_qty", F.sum("supp_qty").over(per_part))
        .withColumn("n_supp", F.count(F.lit(1)).over(per_part))
        .filter(
            F.col("supp_qty")
            > (F.lit(2.0) * F.col("part_qty")) / F.col("n_supp")
        )
        .select("l_suppkey")
        .distinct()
    )
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        supplier.join(
            F.broadcast(excess),
            supplier.s_suppkey == excess.l_suppkey,
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .transform(small_sorted, "s_suppkey")
    )


_EXCESS_VOLUME_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey FROM lineitem l
    JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE 'small%'
    GROUP BY l_partkey, l_suppkey
    HAVING sum(l_quantity) > (
        SELECT 2.0 * sum(l2.l_quantity) / count(DISTINCT l2.l_suppkey)
        FROM lineitem l2
        JOIN part p2 ON p2.p_partkey = l2.l_partkey
        WHERE l2.l_partkey = l.l_partkey AND p2.p_name LIKE 'small%')
)
ORDER BY s_suppkey
"""


QUERIES = {
    "small_quantity_part_revenue": small_quantity_part_revenue,
    "priority_returned_order_counts": priority_returned_order_counts,
    "disjunctive_brand_revenue": disjunctive_brand_revenue,
    "large_volume_customers": large_volume_customers,
    "nation_pair_volume": nation_pair_volume,
    "nation_market_share": nation_market_share,
    "top_revenue_suppliers": top_revenue_suppliers,
    "rich_inactive_customers": rich_inactive_customers,
    "price_decile_stats": price_decile_stats,
    "revenue_grouping_sets": revenue_grouping_sets,
    "order_status_unpivot": order_status_unpivot,
    "stratified_order_sample": stratified_order_sample,
    "approx_user_stats": approx_user_stats,
    "returned_without_accepted_orders": returned_without_accepted_orders,
    "cheapest_supplier_per_part": cheapest_supplier_per_part,
    "lineitem_column_profile": lineitem_column_profile,
    "distinct_supplier_part_counts": distinct_supplier_part_counts,
    "not_in_null_semantics": not_in_null_semantics,
    "significant_parts_value": significant_parts_value,
    "excess_volume_suppliers": excess_volume_suppliers,
}

ORACLE = {
    "lineitem_column_profile": _profile_sql(),
    "order_status_unpivot": _UNPIVOT_SQL,
    "stratified_order_sample": _SAMPLE_SQL,
    "returned_without_accepted_orders": _DUAL_EXISTS_SQL,
    "cheapest_supplier_per_part": _CHEAPEST_SUPPLIER_SQL,
    # sketch values folded into error-bound booleans so the driver gets a
    # hard check; raw sketch accuracy bounded in tests/test_properties.py
    "approx_user_stats": _APPROX_USER_STATS_SQL,
    "small_quantity_part_revenue": _SMALL_QTY_SQL,
    "priority_returned_order_counts": _PRIORITY_RETURNED_SQL,
    "disjunctive_brand_revenue": _DISJUNCT_SQL,
    "large_volume_customers": _LARGE_VOLUME_SQL,
    "nation_pair_volume": _NATION_PAIR_SQL,
    "nation_market_share": _MARKET_SHARE_SQL,
    "top_revenue_suppliers": _TOP_SUPPLIER_SQL,
    "rich_inactive_customers": _RICH_INACTIVE_SQL,
    "price_decile_stats": _DECILE_SQL,
    "revenue_grouping_sets": _GROUPING_SETS_SQL,
    "distinct_supplier_part_counts": _DISTINCT_SUPPLIER_PART_SQL,
    "not_in_null_semantics": _NOT_IN_NULL_SQL,
    "significant_parts_value": _SIGNIFICANT_PARTS_SQL,
    "excess_volume_suppliers": _EXCESS_VOLUME_SQL,
}
