"""Window-function and event-time operators over ``events`` / ``orders``.

The reference has no window functions (SURVEY §2.5) but its community
wishlist implies them ("daily progression of the utxo set", "stake at a
specific slot" — /root/reference/README.md:130,142-145).  These queries are
the Spark-native expression of that family, plus the batch analog of the
streaming windowed aggregations in ``streaming/``.

All orderings include a unique tie-break column (event_id / o_orderkey) so
results are deterministic and oracle-hashable.

Scale notes: windows partitioned by a key (user_id, custkey) shuffle once on
that key and then run within partitions — no global sort.  The time-bucket
aggregation is a plain hash aggregate on a derived column (map-side partial
agg applies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.rounding import cent_sum, cent_sum_expr, cent_sum_sql, rnd
from ..lake.tables import lake_sql, load_table

# -- top-k per group ----------------------------------------------------------


def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One range shuffle on the RAW scan serves the window's clustering
    # requirement; range partitions being ordered, a partition-local sort
    # gives total order in the same pass.
    #
    # r13 measured the implicit-hash-exchange alternative (drop the
    # explicit repartition, let EnsureRequirements insert the window's
    # hash exchange — no range-boundary sampling job) and REJECTED it:
    # wash under load (2.607 vs 2.545 s, r13_sortdrop_ab), 0.87x on the
    # quiet-host re-read (1.960 vs 1.704 s, r13_sortdrop2_ab).  Named
    # cause: an ENSURE_REQUIREMENTS exchange is AQE-coalescible, and the
    # ~200 MB orders shuffle coalesces far below the core count, so the
    # window stage loses parallelism; the user-specified range exchange
    # pins the partition count (the same structure WINS 11% for
    # user_sessions, whose events shuffle is 10x bigger and never
    # coalesces below the cores).
    return lake_sql(spark, sf_dir, """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM (SELECT /*+ REPARTITION_BY_RANGE(o_custkey) */ * FROM {orders})
)
WHERE rn <= 3
SORT BY o_custkey, rn
""")


_TOP_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
ORDER BY o_custkey, rn
"""

# -- running aggregate --------------------------------------------------------


def user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 sort-drop: the final orderBy added a SECOND exchange (range,
    # carrying every output row) on top of the window's own hash
    # exchange, and its sampler re-ran the window evaluation (the
    # window's shuffle files are reused, but everything after them is
    # not).  The oracle canonicalizes order; one exchange suffices.
    # A/B: r13_sortdrop_ab.
    events = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        rnd(F.sum("value").over(w), 2).alias("running_value"),
    ).sortWithinPartitions("user_id", "event_id")


_RUNNING_VALUE_SQL = """
SELECT user_id, event_id,
       floor((sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100.0 + 0.5) / 100.0
         AS running_value
FROM events
ORDER BY user_id, event_id
"""

# -- lag / inter-event gaps ---------------------------------------------------


def user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 sort-drop: same second-exchange + window-re-evaluation cost as
    # user_running_value (see its comment).  A/B: r13_sortdrop_ab.
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return events.select(
        "user_id",
        "event_id",
        (F.unix_millis(F.col("ts")) - F.unix_millis(prev_ts)).alias("gap_ms"),
    ).sortWithinPartitions("user_id", "event_id")


_EVENT_GAPS_SQL = """
SELECT user_id, event_id,
       epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
         AS gap_ms
FROM events
ORDER BY user_id, event_id
"""

# -- sessionization (gap > 30 min starts a new session) -----------------------
# lag + conditional cumsum — the batch expression of session_window().


_SESSION_WINDOW = "PARTITION BY user_id ORDER BY ts, event_id"
_GAP_MS = f"(unix_millis(ts) - unix_millis(lag(ts) OVER ({_SESSION_WINDOW})))"
_USER_SESSIONS_TEXT = f"""
SELECT user_id, session_id, count(*) AS n_events,
       {cent_sum_expr("value")} AS session_value
FROM (
  SELECT *, sum(new_sess) OVER ({_SESSION_WINDOW}
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM (
    SELECT *, CASE WHEN {_GAP_MS} IS NULL OR {_GAP_MS} > 1800000
                   THEN 1 ELSE 0 END AS new_sess
    FROM {{events}}
  )
)
GROUP BY user_id, session_id
SORT BY user_id, session_id
"""


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: the explicit range shuffle becomes the window's implicit HASH
    # exchange — still ONE shuffle (hashpartitioning(user_id) satisfies
    # both windows' clustering AND the groupBy's (user_id, session_id)
    # clustering, so the agg stays single-stage post-window), but the
    # range-boundary sampling pass over the raw scan is gone, and the
    # global order it bought is canonicalized away by the oracle (the
    # gopher/pii lesson).  A/B: SCALE_PROBE r13_sortdrop_ab.
    # cent_sum, not rnd(sum(...)): float partial-sum order differs between
    # engines and flips 2-decimal rounding (r1 hash mismatch).
    return lake_sql(spark, sf_dir, _USER_SESSIONS_TEXT)


_SESSIONS_SQL = """
WITH gaps AS (
  SELECT user_id, event_id, ts, value,
         epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS gap_ms
  FROM events
), marked AS (
  SELECT *, CASE WHEN gap_ms IS NULL OR gap_ms > 1800000 THEN 1 ELSE 0 END AS new_sess
  FROM gaps
), sessioned AS (
  SELECT user_id, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
       {cs} AS session_value
FROM sessioned
GROUP BY user_id, session_id
ORDER BY user_id, session_id
""".format(cs=cent_sum_sql("value"))

# -- tumbling event-time window (batch analog of streaming groupBy(window)) ---


_TUMBLING_TEXT = f"""
SELECT /*+ REPARTITION(1) */ bucket_start_ms, event_type, count(*) AS n,
       {cent_sum_expr("value")} AS total_value
FROM (
  SELECT floor(unix_millis(ts) / 300000) * 300000 AS bucket_start_ms,
         event_type, value
  FROM {{events}}
)
GROUP BY bucket_start_ms, event_type
SORT BY bucket_start_ms, event_type
"""


def events_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Aggregate FIRST, then exchange only the finished rows for the
    # global order: the old range-shuffle-then-aggregate shape moved
    # EVERY raw row through the exchange to serve the final order —
    # measured 1.30 s at 100x bench data (10M events) vs 0.70 s for this
    # shape.  REPARTITION(1), NOT small_sorted's COALESCE(1): with 43k
    # groups (span x types) across 32 map tasks, partials are ~1.4M rows,
    # and coalesce would collapse the FINAL aggregation into one task
    # over all of them (measured 1.09 s); the extra round-robin exchange
    # moves only the 43k finished rows and keeps the final agg parallel.
    # Output is span-bounded, so one sort partition holds at any input
    # volume; if the span itself grows huge, swap for persist() + orderBy
    # (the flagship's staging pattern) — never re-widen the shuffle to
    # raw rows.
    return lake_sql(spark, sf_dir, _TUMBLING_TEXT)


_TUMBLING_SQL = """
SELECT (epoch_ms(ts) // 300000) * 300000 AS bucket_start_ms,
       event_type,
       count(*) AS n,
       {cs} AS total_value
FROM events
GROUP BY bucket_start_ms, event_type
ORDER BY bucket_start_ms, event_type
""".format(cs=cent_sum_sql("value"))


# -- sliding event-time window (10 min windows every 5 min) ------------------
# Each event lands in exactly two overlapping windows; emit both via explode
# (≙ Spark's window(ts, "10 minutes", "5 minutes") expansion, spelled out so
# the DuckDB oracle is expressible).


def events_sliding_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts"))
    base = (F.floor(ms / 300_000) * 300_000).cast("long")
    starts = F.array(base - 300_000, base)
    # Aggregate FIRST (r13 — the shape events_tumbling_5min measured 2x
    # better and this query never got): the old range-shuffle-then-agg
    # moved every EXPLODED row (2x raw) through the exchange; agg-first
    # partials combine ~7x map-side (625k rows/task over ~86k group
    # keys at 100x), the hash exchange moves partials only, and the
    # span-bounded finished rows take the same repartition(1) local
    # sort as tumbling.  A/B'd at 100x events in SCALE_PROBE
    # r13_events_ab, n=7 equal-cache: agg-first 0.738 s vs
    # merged-shuffle 2.271 s (3.1x) — 0.42x DuckDB's 1.745 s.
    return (
        events.select(
            F.explode(starts).alias("window_start_ms"), "event_type", "value"
        )
        .groupBy("window_start_ms", "event_type")
        .agg(F.count("*").alias("n"), cent_sum(F.col("value")).alias("total_value"))
        .repartition(1)
        .sortWithinPartitions("window_start_ms", "event_type")
    )


_SLIDING_SQL = """
SELECT window_start_ms, event_type, count(*) AS n,
       {cs} AS total_value
FROM (
  SELECT unnest([
           (epoch_ms(ts) // 300000) * 300000 - 300000,
           (epoch_ms(ts) // 300000) * 300000
         ]) AS window_start_ms,
         event_type, value
  FROM events
)
GROUP BY window_start_ms, event_type
ORDER BY window_start_ms, event_type
""".format(cs=cent_sum_sql("value"))


# -- RANGE-frame window: value-banded running sum -----------------------------
# For each order: total of all same-status orders priced within 10,000
# below it (RANGE frame — peers included by VALUE, so the result is
# deterministic without a unique tie-break).  Frame sums are integer cents:
# a float sum over a frame is ulp-order-dependent and flips 2-decimal
# rounding somewhere across 15k output rows (see functions/rounding.py).


def status_price_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    w = (
        W.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-10_000, 0)
    )
    return (
        orders.withColumn("c", cents)
        .select(
            "o_orderkey",
            "o_orderstatus",
            rnd(F.col("o_totalprice"), 2).alias("o_totalprice"),
            (F.sum("c").over(w) / F.lit(100.0)).alias("band_sum"),
            F.count(F.lit(1)).over(w).alias("band_n"),
        )
        .orderBy("o_orderkey")
    )


_RANGE_FRAME_SQL = """
SELECT o_orderkey, o_orderstatus,
       floor(o_totalprice * 100.0 + 0.5) / 100.0 AS o_totalprice,
       sum(cast(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) OVER w / 100.0
         AS band_sum,
       count(*) OVER w AS band_n
FROM orders
WINDOW w AS (
  PARTITION BY o_orderstatus ORDER BY o_totalprice
  RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW
)
ORDER BY o_orderkey
"""

# -- rank-statistics windows: percent_rank, cume_dist, first/last_value -------
# Unique (price, orderkey) ordering makes every rank statistic exact and
# engine-independent; first/last_value use the full-partition frame (the
# default frame stops at CURRENT ROW, which would make last_value a no-op).


def status_price_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        orders.filter(F.col("o_orderkey") < 3000)
        .select(
            "o_orderkey",
            "o_orderstatus",
            rnd(F.percent_rank().over(w), 6).alias("pct_rank"),
            rnd(F.cume_dist().over(w), 6).alias("cume"),
            rnd(F.first_value("o_totalprice").over(wfull), 2).alias(
                "cheapest"
            ),
            rnd(F.last_value("o_totalprice").over(wfull), 2).alias(
                "priciest"
            ),
        )
        .orderBy("o_orderkey")
    )


_PRICE_POSITION_SQL = """
SELECT o_orderkey, o_orderstatus,
       floor(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0 AS pct_rank,
       floor(cume_dist() OVER w * 1000000.0 + 0.5) / 1000000.0 AS cume,
       floor(first_value(o_totalprice) OVER wf * 100.0 + 0.5) / 100.0
         AS cheapest,
       floor(last_value(o_totalprice) OVER wf * 100.0 + 0.5) / 100.0
         AS priciest
FROM orders
WHERE o_orderkey < 3000
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey),
       wf AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_orderkey
"""


QUERIES = {
    "top_orders_per_customer": top_orders_per_customer,
    "user_running_value": user_running_value,
    "user_event_gaps": user_event_gaps,
    "user_sessions": user_sessions,
    "events_tumbling_5min": events_tumbling_5min,
    "events_sliding_10min": events_sliding_10min,
    "status_price_range_frame": status_price_range_frame,
    "status_price_position": status_price_position,
}

ORACLE = {
    "top_orders_per_customer": _TOP_ORDERS_SQL,
    "user_running_value": _RUNNING_VALUE_SQL,
    "user_event_gaps": _EVENT_GAPS_SQL,
    "user_sessions": _SESSIONS_SQL,
    "events_tumbling_5min": _TUMBLING_SQL,
    "events_sliding_10min": _SLIDING_SQL,
    "status_price_range_frame": _RANGE_FRAME_SQL,
    "status_price_position": _PRICE_POSITION_SQL,
}
