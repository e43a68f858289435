"""Core relational operators over the driver's synthetic tables.

Each query transplants one operator family from the reference's workloads
(SURVEY §2) onto the TPC-H-ish testdata so the driver can oracle-check it:

- high-fee report (filter + top-k + ungrouped multi-agg):
  /root/reference/main.py:24-53
- token-transfer flagship (semi-join, unnest/explode, 2-key join,
  collect_set+array_sort, left joins, null-safe set inequality):
  /root/reference/token_fee_analysis.py:204-249
- scalar functions (piecewise slot→time, fraction split, rounding):
  /root/reference/token_fee_analysis.py:8-16, ogmios_parquet.py:432-435

Scale notes (100 TB posture): dimension joins are explicitly
broadcast (``F.broadcast``, or a ``/*+ BROADCAST(x) */`` hint in a SQL
text); aggregations rely on Catalyst partial/final staging;
top-k compiles to TakeOrderedAndProject (no global sort); all scans are
single-pass with pushdown-friendly filters.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ordering import small_sorted
from ..functions.rounding import cent_sum, rnd, rnd_expr
from ..functions.slots import slot_posix_ms, slot_posix_ms_sql
from ..lake.tables import lake_sql, load_table

# -- S1/P1/P2/O1: glob scan → filter → project → top-k ----------------------
# ≙ main.py:24-35 (tx_fee > 2_000_000 ORDER BY tx_fee DESC LIMIT 100)


def high_value_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lake_sql(spark, sf_dir, """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM {orders}
WHERE o_totalprice > 400000.0D
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""")


_HIGH_VALUE_ORDERS_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
WHERE o_totalprice > 400000.0
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""

# -- A1: ungrouped multi-aggregate ≙ main.py:45-53 ---------------------------


_ORDER_SUMMARY_TEXT = f"""
SELECT count(*) AS total_orders,
       {rnd_expr("avg(o_totalprice)", 2)} AS avg_price,
       {rnd_expr("max(o_totalprice)", 2)} AS max_price,
       {rnd_expr("min(o_totalprice)", 2)} AS min_price
FROM {{orders}}
"""


def order_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lake_sql(spark, sf_dir, _ORDER_SUMMARY_TEXT)


_ORDER_SUMMARY_SQL = """
SELECT count(*) AS total_orders,
       floor((avg(o_totalprice)) * 100.0 + 0.5) / 100.0 AS avg_price,
       floor((max(o_totalprice)) * 100.0 + 0.5) / 100.0 AS max_price,
       floor((min(o_totalprice)) * 100.0 + 0.5) / 100.0 AS min_price
FROM orders
"""

# -- A7/P4/F7/O2: grouped multi-agg + range predicate (TPC-H Q1 shape) -------


_DISC_PRICE = "l_extendedprice * (1 - l_discount)"

# COALESCE(1) + SORT BY: small_sorted's one-pass order (functions/ordering.py)
_PRICING_SUMMARY_TEXT = f"""
SELECT /*+ COALESCE(1) */ l_returnflag, l_linestatus,
       {rnd_expr("sum(l_quantity)", 2)} AS sum_qty,
       {rnd_expr("sum(l_extendedprice)", 2)} AS sum_base_price,
       {rnd_expr(f"sum({_DISC_PRICE})", 2)} AS sum_disc_price,
       {rnd_expr(f"sum({_DISC_PRICE} * (l_tax + 1))", 2)} AS sum_charge,
       {rnd_expr("avg(l_quantity)", 2)} AS avg_qty,
       {rnd_expr("avg(l_extendedprice)", 2)} AS avg_price,
       {rnd_expr("avg(l_discount)", 4)} AS avg_disc,
       count(*) AS count_order
FROM {{lineitem}}
WHERE l_shipdate <= CAST('1998-09-02' AS TIMESTAMP)
GROUP BY l_returnflag, l_linestatus
SORT BY l_returnflag, l_linestatus
"""


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lake_sql(spark, sf_dir, _PRICING_SUMMARY_TEXT)


_PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
       floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS sum_base_price,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
       floor((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100.0 + 0.5) / 100.0 AS sum_charge,
       floor((avg(l_quantity)) * 100.0 + 0.5) / 100.0 AS avg_qty,
       floor((avg(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS avg_price,
       floor((avg(l_discount)) * 10000.0 + 0.5) / 10000.0 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

# -- J2/P6/A4: semi join (IN-subquery) ≙ token_fee_analysis.py:212 -----------


def customers_with_high_value_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    ids = (
        orders.filter(F.col("o_totalprice") > 300_000.0)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        customer.join(ids, "c_custkey", "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


_SEMI_JOIN_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 300000.0)
ORDER BY c_custkey
"""

# -- anti join (extension; absent from reference per SURVEY §2.3) ------------


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    ids = orders.select(F.col("o_custkey").alias("c_custkey"))
    return (
        customer.join(ids, "c_custkey", "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


_ANTI_JOIN_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
ORDER BY c_custkey
"""

# -- J4/J5: multi-way equi joins with broadcast dims -------------------------
# ≙ the 3-join flagship shape (token_fee_analysis.py:238-246); dims broadcast.


def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nation⋈region is a 25-row lookup: snapshot it once per lake (see
    # _collected_dim) and fold nationkey→region-name into a literal map,
    # replacing two serial broadcast builds per execution with a codegen'd
    # map lookup.  The inner join on both dims is preserved: element_at
    # yields NULL for an unmapped nationkey and groupBy drops nothing, so
    # guard with a filter (every TPC-H nationkey maps, but semantics first).
    nat = dict(_collected_dim(spark, sf_dir, "nation", ("n_nationkey", "n_regionkey")))
    reg = dict(_collected_dim(spark, sf_dir, "region", ("r_regionkey", "r_name")))
    key_to_region = "map(" + ",".join(
        f"{k},{_sql_str(reg[rk])}"
        for k, rk in sorted(nat.items())
        if rk in reg
    ) + ")"
    # shuffle_hash, not a forced broadcast: customer GROWS with the lake
    # (1.5M rows at 100x), so broadcasting it is a latent driver/executor
    # OOM at 1000x+ — the same reasoning promo_revenue_share documents for
    # lake-scaled dims.  A size-appropriate broadcast still happens when
    # the side is small: AQE converts the shuffle-hash join to broadcast
    # at runtime under the threshold.  Measured at 100x: shuffle_hash
    # 2.41 s vs forced broadcast 2.42 s (A/B in SCALE_PROBE
    # revenue_by_region_join_100x) — the hint costs nothing and removes
    # the scale cliff.
    text = f"""
SELECT /*+ COALESCE(1) */ r_name,
       {rnd_expr("sum(o_totalprice)", 2)} AS revenue,
       count(*) AS order_count
FROM (
  SELECT /*+ SHUFFLE_HASH(c) */
         element_at({key_to_region}, c_nationkey) AS r_name, o_totalprice
  FROM {{orders}}
  JOIN (SELECT c_custkey, c_nationkey FROM {{customer}}) c
    ON o_custkey = c_custkey
)
WHERE r_name IS NOT NULL
GROUP BY r_name
SORT BY r_name
"""
    # layout_for: serve the custkey-bucketed copies when the lake's
    # declared layout (lake/layout.py) has them — Catalyst then drops
    # both join Exchanges (customer_order_distribution went 0.96x DuckDB
    # at 100x on this same key family, SCALE_PROBE tpch_100x).
    return lake_sql(spark, sf_dir, text, layout_for={
        "orders": ("o_custkey",), "customer": ("c_custkey",),
    })


_REVENUE_BY_REGION_SQL = """
SELECT r_name,
       floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 AS revenue,
       count(*) AS order_count
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""

# -- A2/A3/O3: grouped distinct set-aggregate, canonicalized by sort ---------
# ≙ ARRAY_SORT(ARRAY_AGG(DISTINCT address)) GROUP BY tx_id
#   (token_fee_analysis.py:218-236)


# Driver-side snapshots of tiny dimensions, collected once per lake.  The
# bitset set-agg rewrite needs the value→bit mapping and the sorted domain
# array; deriving them inside the query (distinct → window → two extra
# broadcasts) costs three serial sub-jobs on every execution.  Since the
# domain is a ≤25-row dimension attribute, the cluster-scale move is to
# snapshot it once — like table statistics or dimension metadata — and fold
# it into the plan as literals, which also keeps the whole decode inside
# whole-stage codegen.  This is NOT a driver-side data loop: the collect is
# bounded by the dimension's domain size, never the fact table.
_DOMAIN_CACHE: dict[tuple, tuple] = {}

# Snapshot-as-literals is only for tiny dimension domains (nation 25,
# region 5, p_brand 25); a caller pointing this at a fact table must fail
# fast rather than silently collect it to the driver.
_DIM_SNAPSHOT_CAP = 128


def _collected_dim(
    spark: SparkSession, sf_dir: str, table: str, cols: tuple[str, ...]
) -> tuple:
    # Cache key includes the source's content signature (per-file name/
    # mtime/length via the JVM FileSystem — object-store safe, unlike the
    # os.path.getmtime this replaces): a lake rewritten in-process gets a
    # fresh snapshot instead of a stale domain.  The snapshot itself reads
    # the FILE directly (not load_table) so a warmed/cached copy of the
    # old data can't be served under the fresh key, and superseded
    # signatures are evicted so a long-lived session doesn't accumulate
    # dead snapshots.
    from ..lake.fsutil import shared_lake_fs

    path = os.path.join(sf_dir, f"{table}.parquet")
    sig = shared_lake_fs(spark, path).content_signature(path)
    key = (sf_dir, table, cols, sig)
    if key not in _DOMAIN_CACHE:
        for old in [k for k in _DOMAIN_CACHE if k[:3] == (sf_dir, table, cols)]:
            del _DOMAIN_CACHE[old]
        df = spark.read.parquet(path).select(*cols).distinct()
        rows = df.limit(_DIM_SNAPSHOT_CAP + 1).collect()
        if len(rows) > _DIM_SNAPSHOT_CAP:
            raise ValueError(
                f"_collected_dim({table}.{cols}): distinct domain exceeds "
                f"{_DIM_SNAPSHOT_CAP} rows — this helper folds tiny "
                "dimension domains into plan literals; use a broadcast "
                "join for anything larger"
            )
        _DOMAIN_CACHE[key] = tuple(tuple(r) for r in rows)
    return _DOMAIN_CACHE[key]


def _sql_str(value: str) -> str:
    """``value`` as a string literal of a ``lake_sql`` text, whose braces
    are format fields (so literal ones are doubled)."""
    v = value.replace("'", "''").replace("{", "{{").replace("}", "}}")
    return f"'{v}'"


def _sql_str_array(values) -> str:
    return "array(" + ",".join(map(_sql_str, values)) + ")"


# Decode a bitmask back to the '|'-joined alphabetically-sorted value set:
# bit i ↔ names[i+1] of the literal domain array.  String form, not
# array<string>: the driver's canonicalizer (pandas sort_values) can't hash
# list cells, and a sorted joined string is an equivalent canonical form.
_BITSET_DECODE = (
    "concat_ws('|', transform("
    "  filter(sequence(0, {n} - 1),"
    "         i -> (shiftright({mask}, i) & 1) = 1),"
    "  i -> element_at({names}, i + 1)))"
)


def order_brand_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Small-domain set aggregate as a BITSET: p_brand has ~25 distinct
    # values, so instead of shuffling brand strings into collect_set (heavy
    # rows, per-group set buffers), attach an alphabetical bit index on the
    # broadcast dim side and aggregate bit_or(1 << bit) — an 8-byte shuffle
    # payload with a trivially map-side-combinable agg.  The mask decodes to
    # the same sorted '|'-joined string after the agg via a 1-row broadcast
    # of the domain array.  (collect_set remains the general-domain path —
    # cardano.py's address sets — this rewrite is only legal when the dim
    # side proves the domain ≤62 values.)
    domain = sorted(
        r[0] for r in _collected_dim(spark, sf_dir, "part", ("p_brand",))
    )
    # array_position returns 0 (not NULL) for a value outside the
    # snapshotted domain; 0 - 1 = -1 would silently set bit 63 via
    # shiftleft(1L, -1).  Unreachable while the domain comes from this same
    # table, but fail VISIBLY if a drifted/stale snapshot ever meets an
    # unmapped brand.
    names = _sql_str_array(domain)
    pos = f"array_position({names}, p_brand)"
    decode = _BITSET_DECODE.format(n=len(domain), mask="brand_mask", names=names)
    # r13 agg-first (the events_sliding lesson applied to the bitset
    # aggs): the old shape pre-shuffled RAW (orderkey, bit) rows through
    # one range exchange — every lineitem row crossed the wire, and the
    # range sampler re-executed the broadcast join to pick boundaries.
    # Letting the groupBy plan itself gives partial bit_or BEFORE the
    # exchange (~4 lineitems/order fold map-side), a HASH exchange of
    # partials only, no sampler — the global order the range bought is
    # canonicalized away by the oracle.  A/B: SCALE_PROBE r13_aggfirst_ab.
    return lake_sql(spark, sf_dir, f"""
SELECT l_orderkey, {decode} AS brand_set
FROM (
  SELECT l_orderkey, bit_or(brand_bit) AS brand_mask
  FROM (
    SELECT /*+ BROADCAST(part_dim) */
           l_orderkey, shiftleft(1L, bit) AS brand_bit
    FROM (SELECT l_orderkey, l_partkey FROM {{lineitem}})
    JOIN (
      SELECT p_partkey,
             CAST(CASE WHEN {pos} > 0 THEN {pos} - 1
                  ELSE raise_error('p_brand outside the snapshotted domain') END
                  AS INT) AS bit
      FROM {{part}}
    ) part_dim ON l_partkey = p_partkey
  )
  GROUP BY l_orderkey
)
SORT BY l_orderkey
""")


_ORDER_BRAND_SETS_SQL = """
SELECT l_orderkey,
       array_to_string(list_sort(list(DISTINCT p_brand)), '|') AS brand_set
FROM lineitem
JOIN part ON l_partkey = p_partkey
GROUP BY l_orderkey
ORDER BY l_orderkey
"""

# -- P5/J5: left joins + null-safe set inequality (the ownership-change rule)
# ≙ token_fee_analysis.py:238-248: tx LEFT JOIN in/out addr sets,
#   keep rows where IS DISTINCT FROM.  Transplant: per order, the sorted set
#   of supplier nations ("input side") vs the customer's nation as 1-elt set
#   ("output side"); orders with no lineitem have a NULL input side (≙ mint).


def cross_nation_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both the supplier side (from lineitem) and the customer side (from
    # orders) key on the SAME id, so instead of aggregating one side and
    # fact-fact-joining the other (two shuffles + a sort-merge join whose
    # range-sort sampler re-executes it), tag the two streams, union them,
    # and compute both sets in ONE range-partitioned aggregate.  The range
    # shuffle simultaneously satisfies the agg's clustering and the global
    # ORDER BY (partition-local sort finishes it).  Every order contributes
    # exactly one customer-side row, so the union-agg preserves the left-
    # join semantics: orders with no lineitem get an empty supplier set,
    # mapped to NULL via nullif to keep the IS DISTINCT FROM rule intact.
    #
    # The nation domain is ≤25 values, so the supplier set is aggregated as
    # a BITSET (see order_brand_sets): the shuffle carries (orderkey,
    # mask-bit, cust-idx) fixed-width rows instead of nation-name strings,
    # and bit_or replaces the per-group collect_set buffers.  Decoding back
    # to the sorted '|'-joined string happens once, post-agg, via a 1-row
    # broadcast of the alphabetical domain array.
    dim = _collected_dim(spark, sf_dir, "nation", ("n_nationkey", "n_name"))
    names = sorted(n for _, n in dim)
    # literal nationkey→bit map; element_at yields NULL on a NULL/missing
    # key, which preserves the left-join semantics on the customer side
    key_to_bit = "map(" + ",".join(
        f"{k},{names.index(n)}" for k, n in sorted(dim)
    ) + ")"

    # r13 agg-first (see order_brand_sets): the old range pre-shuffle
    # moved every raw union row (≈5 per order: ~4 lineitem-supplier +
    # 1 customer) through one exchange, and the range sampler re-executed
    # BOTH broadcast joins to pick boundaries.  Planned agg gives partial
    # bit_or/max per union branch BEFORE the exchange, a hash exchange of
    # partials only, no sampler; the global order is oracle-canonicalized.
    # A/B: SCALE_PROBE r13_aggfirst_ab.
    names_arr = _sql_str_array(names)
    decode = _BITSET_DECODE.format(n=len(names), mask="supp_mask", names=names_arr)
    # The IS DISTINCT FROM rule compares the *encoded* sets: the string
    # forms are null-safe-equal exactly when supp_mask equals the
    # customer's single-bit mask (empty set ↔ mask 0 ↔ NULL string on
    # both sides).  Filtering on the 8-byte masks keeps the comparison
    # inside whole-stage codegen and decodes only surviving rows once —
    # the string filter would be folded into the broadcast-join
    # condition and evaluate the decode expression twice per row.
    return lake_sql(spark, sf_dir, f"""
SELECT o_orderkey,
       nullif({decode}, '') AS supp_nation_set,
       element_at({names_arr}, cust_idx + 1) AS cust_nation_set
FROM (
  SELECT o_orderkey, bit_or(nation_bit) AS supp_mask, max(cust_idx) AS cust_idx
  FROM (
    SELECT /*+ BROADCAST(supp) */
           l_orderkey AS o_orderkey,
           shiftleft(1L, element_at({key_to_bit}, s_nationkey)) AS nation_bit,
           CAST(NULL AS INT) AS cust_idx
    FROM (SELECT l_orderkey, l_suppkey FROM {{lineitem}})
    JOIN (SELECT s_suppkey, s_nationkey FROM {{supplier}}) supp
      ON l_suppkey = s_suppkey
    UNION ALL
    SELECT /*+ BROADCAST(cust) */
           o_orderkey,
           CAST(0 AS BIGINT) AS nation_bit,
           element_at({key_to_bit}, c_nationkey) AS cust_idx
    FROM {{orders}}
    LEFT JOIN (SELECT c_custkey, c_nationkey FROM {{customer}}) cust
      ON o_custkey = c_custkey
  )
  GROUP BY o_orderkey
)
WHERE NOT (supp_mask <=> if(cust_idx IS NULL, 0L, shiftleft(1L, cust_idx)))
SORT BY o_orderkey
""")


_CROSS_NATION_ORDERS_SQL = """
WITH supp_nations AS (
  SELECT l_orderkey,
         array_to_string(list_sort(list(DISTINCT n_name)), '|') AS supp_nation_set
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY l_orderkey
), cust_nation AS (
  SELECT c_custkey, n_name AS cust_nation_set
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT o_orderkey, supp_nation_set, cust_nation_set
FROM orders
LEFT JOIN cust_nation ON o_custkey = c_custkey
LEFT JOIN supp_nations ON o_orderkey = l_orderkey
WHERE supp_nation_set IS DISTINCT FROM cust_nation_set
ORDER BY o_orderkey
"""

# -- J3: lateral unnest / explode ≙ UNNEST(tx.inputs)
#   (token_fee_analysis.py:221-222).  Testdata has no array column, so build
#   the array with split() then explode — same LATERAL VIEW plan shape.


def part_name_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split(F.col("p_name"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
    )


_PART_NAME_TOKENS_SQL = """
SELECT t.token AS token, count(*) AS n
FROM part, unnest(string_split(p_name, ' ')) AS t(token)
GROUP BY t.token
ORDER BY n DESC, token
"""

# -- J1: explicit UNION ALL of two filtered slices ---------------------------
# ≙ the multi-file view concat (token_fee_analysis.py:76-80)


def priority_order_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 sort-drop, sweep 3 (see multimodal.payload_metadata): the
    # upstream is shuffle-free (two pushed-filter scans unioned), so the
    # final global ORDER BY made the range sampler re-execute BOTH scans
    # and then range-exchanged ~40% of orders rows — for an order the
    # oracle canonicalizes.  A/B: SCALE_PROBE r13_sortdrop3_ab.
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderpriority"
    )
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        "o_orderkey", "o_orderpriority"
    )
    return urgent.unionByName(high).sortWithinPartitions("o_orderkey")


_PRIORITY_UNION_SQL = """
SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL
SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '2-HIGH'
ORDER BY o_orderkey
"""

# -- set operators (extension; absent from reference per SURVEY §2.7) --------


def repeat_buyer_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers ordering in both Jan-window and Jul-window."""
    orders = load_table(spark, sf_dir, "orders")
    h1 = orders.filter(F.month("o_orderdate") <= 6).select(
        F.col("o_custkey").alias("custkey")
    )
    h2 = orders.filter(F.month("o_orderdate") > 6).select(
        F.col("o_custkey").alias("custkey")
    )
    return h1.intersect(h2).transform(small_sorted, "custkey")


_INTERSECT_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE month(o_orderdate) <= 6
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE month(o_orderdate) > 6
ORDER BY custkey
"""


def first_half_only_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers ordering only in the first half-year."""
    orders = load_table(spark, sf_dir, "orders")
    h1 = orders.filter(F.month("o_orderdate") <= 6).select(
        F.col("o_custkey").alias("custkey")
    )
    h2 = orders.filter(F.month("o_orderdate") > 6).select(
        F.col("o_custkey").alias("custkey")
    )
    return h1.subtract(h2).transform(small_sorted, "custkey")


_EXCEPT_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE month(o_orderdate) <= 6
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE month(o_orderdate) > 6
ORDER BY custkey
"""

# -- F4: piecewise slot→POSIX-ms conversion as a pure column expression ------
# ≙ slot_to_posix_ms_mainnet (token_fee_analysis.py:8-16): Byron 20 s slots
#   before 4,492,800, Shelley 1 s slots after.  o_orderkey stands in for slot.


def slot_time_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    slot = F.col("o_orderkey") * 100  # spread keys across the Byron boundary
    return (
        orders.select(
            F.col("o_orderkey"),
            slot.cast("long").alias("slot"),
            slot_posix_ms(slot).cast("long").alias("posix_ms"),
        )
        .orderBy("o_orderkey")
    )


_SLOT_TIME_SQL = f"""
SELECT o_orderkey,
       CAST(o_orderkey * 100 AS BIGINT) AS slot,
       CAST({slot_posix_ms_sql("o_orderkey * 100")} AS BIGINT) AS posix_ms
FROM orders
ORDER BY o_orderkey
"""

# -- conditional aggregation (pivot-shape via FILTER/CASE) -------------------


def status_price_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            rnd(
                F.sum(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))), 2
            ).alias("open_total"),
            rnd(
                F.sum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))), 2
            ).alias("finished_total"),
            rnd(
                F.sum(F.when(F.col("o_orderstatus") == "P", F.col("o_totalprice"))), 2
            ).alias("pending_total"),
        )
        .transform(small_sorted, "o_orderpriority")
    )


_STATUS_MATRIX_SQL = """
SELECT o_orderpriority,
       floor((sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O')) * 100.0 + 0.5) / 100.0 AS open_total,
       floor((sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F')) * 100.0 + 0.5) / 100.0 AS finished_total,
       floor((sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P')) * 100.0 + 0.5) / 100.0 AS pending_total,
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# -- rollup (grouping-set extension) -----------------------------------------


def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(rnd(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.count("*").alias("n"))
        .transform(
            small_sorted,
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


# -- TPC-H-shaped multi-way joins over the full star schema -------------------
# Date predicates compare DATE-cast values on both engines (timestamp
# rendering is session-TZ-dependent; dates are not).


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: segment filter → 3-way join → revenue top-10."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("1998-01-01").cast("date")
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            # ISO string, not DATE: DuckDB dates surface as pandas Timestamps
            # through fetchdf, so a string is the only type-stable rendering
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
                "order_date"
            ),
        )
        .agg(
            rnd(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


_SHIPPING_PRIORITY_SQL = """
SELECT l.l_orderkey,
       strftime(o.o_orderdate::DATE, '%Y-%m-%d') AS order_date,
       floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 100.0 + 0.5) / 100.0 AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate::DATE < DATE '1998-01-01'
GROUP BY l.l_orderkey, order_date
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


def supplier_volume_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: fact → supplier → nation, revenue per supplier nation."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            rnd(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
        )
        .transform(small_sorted, F.col("revenue").desc(), F.col("nation"))
    )


_SUPPLIER_VOLUME_SQL = """
SELECT n.n_name AS nation,
       floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 100.0 + 0.5) / 100.0 AS revenue,
       count(*) AS n_lineitems,
       count(DISTINCT s.s_suppkey) AS n_suppliers
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY nation
ORDER BY revenue DESC, nation
"""


def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: returned lineitems → customer revenue ranking, top 20."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            rnd(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("lost_revenue")
        )
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_RETURNED_ITEM_SQL = """
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 100.0 + 0.5) / 100.0 AS lost_revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, nation
ORDER BY lost_revenue DESC, c.c_custkey
LIMIT 20
"""


def brand_shipment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-dimension join: quantity/price stats per brand."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_shipments"),
            F.sum("l_quantity").alias("total_qty"),
            rnd(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
        )
        .orderBy("p_brand")
    )


_BRAND_SHIPMENT_SQL = """
SELECT p.p_brand,
       count(*) AS n_shipments,
       sum(l.l_quantity) AS total_qty,
       floor((avg(l.l_extendedprice)) * 100.0 + 0.5) / 100.0 AS avg_price,
       count(DISTINCT l.l_suppkey) AS n_suppliers
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
ORDER BY p.p_brand
"""


# -- exact percentiles (sort-based distribution stats) ------------------------
# Spark `percentile` and DuckDB `quantile_cont` share the same definition:
# linear interpolation at rank p·(n-1) over the sorted values.


def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            rnd(F.expr("percentile(l_extendedprice, 0.5)"), 2).alias("p50"),
            rnd(F.expr("percentile(l_extendedprice, 0.9)"), 2).alias("p90"),
            rnd(F.expr("percentile(l_extendedprice, 0.99)"), 2).alias("p99"),
        )
        .orderBy("l_returnflag")
    )


_PERCENTILES_SQL = """
SELECT l_returnflag,
       count(*) AS n,
       floor((quantile_cont(l_extendedprice, 0.5)) * 100.0 + 0.5) / 100.0 AS p50,
       floor((quantile_cont(l_extendedprice, 0.9)) * 100.0 + 0.5) / 100.0 AS p90,
       floor((quantile_cont(l_extendedprice, 0.99)) * 100.0 + 0.5) / 100.0 AS p99
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# -- ungrouped agg under a triple range predicate (TPC-H Q6 shape) ------------
# The "forecast revenue change" scan: every predicate is a simple range on a
# scanned column, so the whole WHERE reaches the parquet reader and the agg
# is one partial/final pass — the cheapest possible shape at 100 TB (no
# shuffle at all beyond the 1-row final agg).  Date bounds compare DATE-cast
# values per this module's cross-engine convention; the discount band uses
# half-open float bounds (0.015..0.045) so binary representation of the
# nominal 0.02/0.04 endpoints cannot flip a row on either engine.


def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Compare the raw timestamp, not cast(l_shipdate AS date): the
    # per-row cast blocked parquet predicate pushdown (a cast expression
    # is not a pushable filter), forcing a full decode of every row
    # group before the year filter ran — and burned a cast per row on
    # the engine's hottest full-lineitem scan.  date(ts) >= D is exactly
    # ts >= D 00:00:00 (and date(ts) < D is ts < D 00:00:00) for the
    # half-open year window, so the rewrite is bit-identical; the bounds
    # now reach PushedFilters and prune row groups on a date-clustered
    # layout (r11 verdict #3: 2.46x at 100x, scan-bound).
    ship_ty = li.schema["l_shipdate"].dataType
    lo = F.lit("1996-01-01 00:00:00").cast(ship_ty)
    hi = F.lit("1997-01-01 00:00:00").cast(ship_ty)
    return (
        li.filter(
            (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") < hi)
            & (F.col("l_discount") >= 0.015)
            & (F.col("l_discount") <= 0.045)
            & (F.col("l_quantity") < 24.0)
        ).agg(
            cent_sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue_effect"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_FORECAST_REVENUE_SQL = """
SELECT sum(cast(floor((l_extendedprice * l_discount) * 100.0 + 0.5) AS BIGINT)) / 100.0 AS revenue_effect,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate::DATE >= DATE '1996-01-01'
  AND l_shipdate::DATE < DATE '1997-01-01'
  AND l_discount >= 0.015 AND l_discount <= 0.045
  AND l_quantity < 24.0
"""

# -- product-line profit by supplier nation and year (TPC-H Q9 shape) ---------
# Adapted: the testdata has no partsupp/ps_supplycost, so profit is the
# discounted revenue side of Q9's expression; the plan shape is the point —
# a LIKE-filtered part dimension probes the fact as a broadcast semi-ish
# inner join, orders joins on the fact's key, supplier→nation are broadcast
# lookups, and ONE shuffle (the group-by) survives.


def nation_part_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # orderkey layout (not partkey): the li⋈orders exchange is the big
    # one — measured best on the orderkey family (1.18 vs 1.60 s at
    # 100x, SCALE_PROBE tpch_100x.bucketed_layout)
    li = load_table(spark, sf_dir, "lineitem", layout_for=("l_orderkey",))
    part_keys = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    orders = (
        load_table(spark, sf_dir, "orders", layout_for=("o_orderkey",))
        .select("o_orderkey", "o_orderdate")
        # hash join over sort-merge: same rationale as
        # late_ship_priority_counts (measured 2.81 -> 2.58 s at 100x)
        .hint("shuffle_hash")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part_keys), "l_partkey")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year(F.col("o_orderdate").cast("date"))
            .cast("long")
            .alias("o_year"),
        )
        .agg(
            cent_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("profit")
        )
        .transform(small_sorted, "supp_nation", F.col("o_year").desc())
    )


_NATION_PART_PROFIT_SQL = """
SELECT n_name AS supp_nation, CAST(year(o_orderdate::DATE) AS BIGINT) AS o_year,
       sum(cast(floor((l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) AS BIGINT)) / 100.0 AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
ORDER BY supp_nation, o_year DESC
"""

# -- conditional counts under a date-ordering residual (TPC-H Q12 shape) ------
# Adapted: no l_shipmode/commitdate in the testdata, so the group key is
# l_returnflag and the residual predicate is "shipped >30 days after the
# order" (same non-equi date conjunct Q12 applies post-join).  The
# priority split is the verbatim Q12 CASE pair, expressed as null-skipping
# counts so both engines emit exact BIGINTs.


def late_ship_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shuffle_hash, not sort-merge: a one-shot PK-FK join feeding a
    # 3-group aggregate never benefits from sorted output, and skipping
    # both sides' sorts is a measured 17% at 100x (6.97 -> 5.78 s median;
    # SCALE_PROBE tpch_100x).  The recurring-join cluster path for the
    # orderkey family is bucketing (bucket_probe: 2.11x at 100x).
    orders = load_table(
        spark, sf_dir, "orders", layout_for=("o_orderkey",)
    ).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    ).hint("shuffle_hash")
    li = load_table(
        spark, sf_dir, "lineitem", layout_for=("l_orderkey",)
    ).select(
        "l_orderkey", "l_shipdate", "l_returnflag"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            > 30
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, F.lit(1))).alias("high_line_count"),
            F.count(F.when(~high, F.lit(1))).alias("low_line_count"),
        )
        .transform(small_sorted, "l_returnflag")
    )


_LATE_SHIP_PRIORITY_SQL = """
SELECT l_returnflag,
       count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
       count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE (l_shipdate::DATE - o_orderdate::DATE) > 30
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

# -- two-level aggregate over an ON-clause-filtered outer join (TPC-H Q13) ----
# The Q13 trap is that the priority filter lives in the JOIN condition, not
# WHERE: customers with no qualifying orders must survive with c_count = 0.
# Filtering the orders side BEFORE a left outer join is the decorrelated
# equivalent.  The join's hash partitioning on the customer key feeds the
# first group-by with no extra exchange; the second aggregate is over the
# tiny count-distribution domain.


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(
        spark, sf_dir, "customer", layout_for=("c_custkey",)
    ).select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders", layout_for=("o_custkey",))
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    counts = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .transform(
            small_sorted, F.col("custdist").desc(), F.col("c_count").desc()
        )
    )


_CUSTOMER_ORDER_DIST_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer LEFT OUTER JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

# -- conditional-aggregate share over one month (TPC-H Q14 shape) -------------
# Promo revenue as a percentage of total.  Both sums quantize each term to
# integer cents (exact, order-independent); the share is a single double
# division over those exact int64s, so the 4-decimal rounding is
# bit-identical across engines.  Part is a broadcast dimension; the month
# filter bounds the fact scan.


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem", layout_for=("l_partkey",)
    ).filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-03-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1996-04-01").cast("date"))
    )
    # shuffle-hash, not broadcast: the month filter cuts the fact to ~1.5%
    # of its rows before the join, while the part dim scales with the lake
    # — at 100x, building a 200k-entry broadcast table per task costs more
    # than shuffling the filtered fact (measured 1.71 -> 0.96 s,
    # SCALE_PROBE tpch_100x).  The dim side is the hash build.
    part = (
        load_table(spark, sf_dir, "part", layout_for=("p_partkey",))
        .select("p_partkey", "p_type")
        .hint("shuffle_hash")
    )
    cents = F.floor(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * F.lit(100.0)
        + F.lit(0.5)
    ).cast("long")
    agg = (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", cents).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("pc"),
            F.sum(cents).alias("tc"),
        )
    )
    return agg.select(
        (
            F.floor(
                (F.lit(100.0) * F.col("pc") / F.col("tc")) * F.lit(10000.0)
                + F.lit(0.5)
            )
            / F.lit(10000.0)
        ).alias("promo_share_pct"),
        (F.col("pc") / F.lit(100.0)).alias("promo_revenue"),
        (F.col("tc") / F.lit(100.0)).alias("total_revenue"),
    )


_PROMO_REVENUE_SQL = """
WITH s AS (
    SELECT sum(CASE WHEN p_type = 'PROMO'
                    THEN cast(floor((l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) AS BIGINT)
                    ELSE 0 END) AS pc,
           sum(cast(floor((l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) AS BIGINT)) AS tc
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate::DATE >= DATE '1996-03-01'
      AND l_shipdate::DATE < DATE '1996-04-01'
)
SELECT floor((100.0 * pc / tc) * 10000.0 + 0.5) / 10000.0 AS promo_share_pct,
       pc / 100.0 AS promo_revenue,
       tc / 100.0 AS total_revenue
FROM s
"""


# -- FULL OUTER join (the one join type the inventory lacked) -----------------
# Per-nation customer vs supplier balance coverage, where BOTH sides are
# deliberately thinned (modulo filters) so nations can be customer-only,
# supplier-only, or both — every null side of the full outer is exercised
# and flagged.  Both inputs are dimension-sized post-aggregate, so the
# full outer is a tiny 25x25 join above two parallel aggs; coalesce picks
# the surviving key the way the SQL standard's USING would.


def nation_balance_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust_bal = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 5 == 3)
        .groupBy(F.col("c_nationkey").alias("c_nat"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(
                F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("cust_cents"),
        )
    )
    supp_bal = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 7 == 0)
        .groupBy(F.col("s_nationkey").alias("s_nat"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(
                F.floor(F.col("s_acctbal") * F.lit(100.0) + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("supp_cents"),
        )
    )
    return (
        cust_bal.join(
            supp_bal, cust_bal.c_nat == supp_bal.s_nat, "full_outer"
        )
        .select(
            F.coalesce("c_nat", "s_nat").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            (F.coalesce("cust_cents", F.lit(0)) / F.lit(100.0)).alias(
                "customer_balance"
            ),
            (F.coalesce("supp_cents", F.lit(0)) / F.lit(100.0)).alias(
                "supplier_balance"
            ),
            F.col("c_nat").isNull().alias("suppliers_only"),
            F.col("s_nat").isNull().alias("customers_only"),
        )
        .transform(small_sorted, "nationkey")
    )


_NATION_COVERAGE_SQL = """
WITH c AS (
    SELECT c_nationkey AS nationkey, count(*) AS n_customers,
           sum(cast(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)) AS cust_cents
    FROM customer WHERE c_custkey % 5 = 3 GROUP BY c_nationkey
), s AS (
    SELECT s_nationkey AS nationkey, count(*) AS n_suppliers,
           sum(cast(floor(s_acctbal * 100.0 + 0.5) AS BIGINT)) AS supp_cents
    FROM supplier WHERE s_suppkey % 7 = 0 GROUP BY s_nationkey
)
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
       coalesce(n_customers, 0) AS n_customers,
       coalesce(n_suppliers, 0) AS n_suppliers,
       coalesce(cust_cents, 0) / 100.0 AS customer_balance,
       coalesce(supp_cents, 0) / 100.0 AS supplier_balance,
       (c.nationkey IS NULL) AS suppliers_only,
       (s.nationkey IS NULL) AS customers_only
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
ORDER BY nationkey
"""

# -- CUBE (completes the ROLLUP / GROUPING SETS / CUBE trio) -------------------
# All four (flag, status) grouping combinations from ONE scan through
# Catalyst's Expand; grouping() flags disambiguate a real 'ALL' value
# from a rolled-up one, exactly as in revenue_grouping_sets.


def returnflag_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * F.lit(100.0)
        + F.lit(0.5)
    ).cast("long")
    return (
        li.select("l_returnflag", "l_linestatus", cents.alias("c"))
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.count(F.lit(1)).alias("n_items"),
            (F.sum("c") / F.lit(100.0)).alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("return_flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("line_status"),
            "g_flag",
            "g_status",
            "n_items",
            "revenue",
        )
        .transform(
            small_sorted, "g_flag", "g_status", "return_flag", "line_status"
        )
    )


_CUBE_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS return_flag,
       coalesce(l_linestatus, 'ALL') AS line_status,
       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
       count(*) AS n_items,
       sum(cast(floor((l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) AS BIGINT)) / 100.0 AS revenue
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY g_flag, g_status, return_flag, line_status
"""


QUERIES = {
    "high_value_orders": high_value_orders,
    "order_summary_stats": order_summary_stats,
    "pricing_summary": pricing_summary,
    "customers_with_high_value_orders": customers_with_high_value_orders,
    "customers_without_orders": customers_without_orders,
    "revenue_by_region": revenue_by_region,
    "order_brand_sets": order_brand_sets,
    "cross_nation_orders": cross_nation_orders,
    "part_name_tokens": part_name_tokens,
    "priority_order_union": priority_order_union,
    "repeat_buyer_custkeys": repeat_buyer_custkeys,
    "first_half_only_custkeys": first_half_only_custkeys,
    "slot_time_conversion": slot_time_conversion,
    "status_price_matrix": status_price_matrix,
    "lineitem_rollup": lineitem_rollup,
    "shipping_priority": shipping_priority,
    "supplier_volume_by_nation": supplier_volume_by_nation,
    "returned_item_customers": returned_item_customers,
    "brand_shipment_stats": brand_shipment_stats,
    "price_percentiles": price_percentiles,
    "forecast_revenue_change": forecast_revenue_change,
    "nation_part_profit": nation_part_profit,
    "late_ship_priority_counts": late_ship_priority_counts,
    "customer_order_distribution": customer_order_distribution,
    "promo_revenue_share": promo_revenue_share,
    "nation_balance_coverage": nation_balance_coverage,
    "returnflag_status_cube": returnflag_status_cube,
}

ORACLE = {
    "high_value_orders": _HIGH_VALUE_ORDERS_SQL,
    "order_summary_stats": _ORDER_SUMMARY_SQL,
    "pricing_summary": _PRICING_SUMMARY_SQL,
    "customers_with_high_value_orders": _SEMI_JOIN_SQL,
    "customers_without_orders": _ANTI_JOIN_SQL,
    "revenue_by_region": _REVENUE_BY_REGION_SQL,
    "order_brand_sets": _ORDER_BRAND_SETS_SQL,
    "cross_nation_orders": _CROSS_NATION_ORDERS_SQL,
    "part_name_tokens": _PART_NAME_TOKENS_SQL,
    "priority_order_union": _PRIORITY_UNION_SQL,
    "repeat_buyer_custkeys": _INTERSECT_SQL,
    "first_half_only_custkeys": _EXCEPT_SQL,
    "slot_time_conversion": _SLOT_TIME_SQL,
    "status_price_matrix": _STATUS_MATRIX_SQL,
    "lineitem_rollup": _ROLLUP_SQL,
    "shipping_priority": _SHIPPING_PRIORITY_SQL,
    "supplier_volume_by_nation": _SUPPLIER_VOLUME_SQL,
    "returned_item_customers": _RETURNED_ITEM_SQL,
    "brand_shipment_stats": _BRAND_SHIPMENT_SQL,
    "price_percentiles": _PERCENTILES_SQL,
    "forecast_revenue_change": _FORECAST_REVENUE_SQL,
    "nation_part_profit": _NATION_PART_PROFIT_SQL,
    "late_ship_priority_counts": _LATE_SHIP_PRIORITY_SQL,
    "customer_order_distribution": _CUSTOMER_ORDER_DIST_SQL,
    "promo_revenue_share": _PROMO_REVENUE_SQL,
    "nation_balance_coverage": _NATION_COVERAGE_SQL,
    "returnflag_status_cube": _CUBE_SQL,
}
