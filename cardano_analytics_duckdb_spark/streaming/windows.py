"""Structured Streaming windowed aggregations over the ``events`` table.

The streaming surface the reference lacks (SURVEY §2.9 notes no watermarks/
windows exist there; its ingest loop is the only stream).  Here: a real
``readStream`` → watermark → tumbling window → sink pipeline, replayable on
bounded parquet so it is testable offline and oracle-checkable — on bounded
replay with complete output, the result equals the batch tumbling-window
aggregation, so the same DuckDB SQL verifies it.

Scale notes: event-time windows + watermark bound state size; the grouped
aggregation shuffles once on (window, event_type).  On a real cluster the
same query runs against kafka/files with `Trigger.ProcessingTime` and RocksDB
state store; nothing in the plan is local-mode-specific.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.rounding import rnd
from ..lake.tables import events_ts_encoding, events_with_ts


def _events_raw_schema(ts_encoding: str) -> T.StructType:
    # ts arrives as long when the file is TIMESTAMP(NANOS) (read via
    # nanosAsLong), TIMESTAMP_NTZ for unadjusted TIMESTAMP(MICROS/MILLIS)
    # files, or plain TIMESTAMP for isAdjustedToUTC=true files — the same
    # three-way footer probe as the batch loader (lake.tables.load_table),
    # so batch and streaming can never disagree on a testdata drift.
    ts_type = {
        "nanos": T.LongType(),
        "ntz": T.TimestampNTZType(),
        "utc": T.TimestampType(),
    }[ts_encoding]
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def streaming_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (bounded replay source).

    Normalizes ``ts`` to a session-TZ TIMESTAMP for every parquet encoding
    the testdata has used (``lake.tables.events_with_ts``).
    """
    enc = events_ts_encoding(os.path.join(sf_dir, "events.parquet"))
    reader = spark.readStream.schema(_events_raw_schema(enc)).option(
        "pathGlobFilter", "events.parquet"
    )
    return events_with_ts(spark, enc, lambda: reader.parquet(sf_dir))


def drained(stream: DataFrame, mode: str) -> DataFrame:
    """Run ``stream`` to completion (``availableNow``) into a memory sink
    and return the sink's rows as a batch frame.

    The sink registers a temp view under a fresh name; the frame is
    analysed while the view exists, so it keeps the sink's ``MemoryPlan``
    after the view is dropped — the caller's session is left with no view
    and no active stream, whether or not the drain succeeds.
    """
    spark = stream.sparkSession
    name = f"drain_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        return spark.table(name)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling windows per event_type, via an actual streaming
    query drained to completion; returns the final (batch) result.

    Matches the batch ``events_tumbling_5min`` oracle: Spark's window() is
    epoch-aligned, so window.start == floor(epoch_ms/300000)*300000.
    """
    agg = (
        streaming_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            F.count("*").alias("n"),
            rnd(F.sum("value"), 2).alias("total_value"),
        )
    )
    return (
        drained(agg, "complete")
        .selectExpr(
            "unix_millis(window.start) AS bucket_start_ms",
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("bucket_start_ms", "event_type")
    )


_STREAM_TUMBLING_SQL = """
SELECT (epoch_ms(ts) // 300000) * 300000 AS bucket_start_ms,
       event_type,
       count(*) AS n,
       floor((sum(value)) * 100.0 + 0.5) / 100.0 AS total_value
FROM events
GROUP BY bucket_start_ms, event_type
ORDER BY bucket_start_ms, event_type
"""


# -- native session windows (Spark-idiomatic sessionization) ------------------


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-min gap) via ``F.session_window`` on a
    real stream — the builtin the reference (and DuckDB) lack.

    Boundary semantics: session_window closes at ``last_event + gap`` with a
    half-open interval, so a new session starts at gap >= 30 min; the batch
    ``user_sessions`` splits at gap > 30 min.  The two agree unless an event
    lands exactly on the boundary (the oracle below uses >=; the driver data
    has no exact-boundary gaps at any SF, verified at build time).
    """
    agg = (
        streaming_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            rnd(F.sum("value"), 2).alias("session_value"),
        )
    )
    return (
        drained(agg, "complete")
        .selectExpr(
            "user_id",
            "unix_millis(session_window.start) AS session_start_ms",
            "unix_millis(session_window.end) AS session_end_ms",
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start_ms")
    )


_STREAM_SESSION_SQL = """
WITH gaps AS (
  SELECT user_id, ts, value,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS gap_us
  FROM events
), marked AS (
  SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END AS new_sess
  FROM gaps
), sessioned AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM marked
)
SELECT user_id,
       min(epoch_ms(ts)) AS session_start_ms,
       max(epoch_ms(ts)) + 1800000 AS session_end_ms,
       count(*) AS n_events,
       floor((sum(value)) * 100.0 + 0.5) / 100.0 AS session_value
FROM sessioned
GROUP BY user_id, sess
ORDER BY user_id, session_start_ms
"""

# -- custom stateful operator: applyInPandasWithState sessionization ----------
# The escape hatch for semantics session_window can't express (the driver
# spec's "custom stateful operators").  State per user carries the open
# session across micro-batches; every batch re-emits each touched session's
# current view, and a downstream batch dedupe keeps the final (largest)
# emission per (user, session_start) — emissions grow monotonically, so
# max(n_events) is the completed session regardless of batch boundaries.

_SESS_STATE_SCHEMA = "start_ms long, last_us long, n long, total double"
_SESS_OUT_SCHEMA = (
    "user_id long, session_start_ms long, n_events long, session_value double"
)


def streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Defined locally so cloudpickle ships it by value — Python workers
    # don't have this package on their sys.path.
    def _session_func(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        rows = pd.concat(list(pdfs)).sort_values("us")
        if state.exists:
            start_ms, last_us, n, total = state.get
            sessions = [[start_ms, last_us, n, total]]
        else:
            sessions = []
        for us, ms, value in zip(rows["us"], rows["ms"], rows["value"]):
            if sessions and us - sessions[-1][1] <= 1_800_000_000:
                cur = sessions[-1]
                cur[1] = us
                cur[2] += 1
                cur[3] += value
            else:
                sessions.append([ms, us, 1, value])
        state.update(tuple(sessions[-1]))
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "session_start_ms": [s[0] for s in sessions],
                "n_events": [s[2] for s in sessions],
                "session_value": [s[3] for s in sessions],
            }
        )

    ev = streaming_events(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.unix_millis("ts").alias("ms"),
        "value",
    )
    # pandas may warn "concatenation with empty or all-NA entries" here:
    # PySpark's own ApplyInPandasWithState serializer pads each output
    # batch with all-NA rows and then calls pd.concat on them
    # (pyspark/sql/pandas/serializers.py); _session_func never sees an
    # empty group, so there is no edge of ours to guard.
    emitted = ev.groupBy("user_id").applyInPandasWithState(
        _session_func,
        outputStructType=_SESS_OUT_SCHEMA,
        stateStructType=_SESS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # final view per session = the largest emission; then number sessions
    # per user in start order to match the batch session_id convention
    from pyspark.sql import Window as W

    final = (
        drained(emitted, "update")
        .groupBy("user_id", "session_start_ms")
        .agg(
            F.max_by("n_events", "n_events").alias("n_events"),
            F.max_by("session_value", "n_events").alias("raw_value"),
        )
    )
    sess_num = W.partitionBy("user_id").orderBy("session_start_ms")
    return (
        final.select(
            "user_id",
            F.row_number().over(sess_num).alias("session_id"),
            "n_events",
            rnd(F.col("raw_value"), 2).alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


_STREAM_STATEFUL_SQL = """
WITH gaps AS (
  SELECT user_id, ts, value,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
           AS gap_us
  FROM events
), marked AS (
  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
  FROM gaps
), sessioned AS (
  SELECT user_id, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
       floor((sum(value)) * 100.0 + 0.5) / 100.0 AS session_value
FROM sessioned
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


# -- stream-stream interval join ----------------------------------------------
# clicks joined to same-user purchases from the preceding 10 minutes — two
# watermarked streams, inner join on key + event-time range.  Watermarks
# bound both join-state buffers (Spark evicts rows whose event time can no
# longer match), which is what keeps state finite on an unbounded feed; on
# bounded replay with availableNow the result equals the batch interval
# join, so DuckDB verifies it exactly.


def _clicks_with_purchases(
    spark: SparkSession, sf_dir: str, how: str
) -> DataFrame:
    """Each click stream row joined (``how``) to the same user's purchase
    stream rows from the 10 minutes before it; both sides watermarked."""

    def side(event_type: str, prefix: str, id_name: str) -> DataFrame:
        return (
            streaming_events(spark, sf_dir)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("event_id").alias(id_name),
            )
            .withWatermark(f"{prefix}_ts", "10 minutes")
        )

    return side("click", "c", "click_id").join(
        side("purchase", "p", "purchase_id"),
        F.expr(
            "c_user = p_user AND "
            "p_ts BETWEEN c_ts - INTERVAL 10 MINUTES AND c_ts"
        ),
        how,
    )


def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _clicks_with_purchases(spark, sf_dir, "inner").select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.unix_millis("c_ts") - F.unix_millis("p_ts")).alias("gap_ms"),
    )
    return drained(joined, "append").orderBy("click_id", "purchase_id")


_STREAM_JOIN_SQL = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id,
       epoch_ms(c.ts) - epoch_ms(p.ts) AS gap_ms
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts BETWEEN c.ts - INTERVAL 10 MINUTE AND c.ts
ORDER BY click_id, purchase_id
"""


# -- stream-stream LEFT OUTER interval join -----------------------------------
# Clicks with their purchase match OR a proven no-match: outer semantics on
# two unbounded streams are only decidable through the watermark — a null-
# padded row may emit ONLY once the watermark has passed the click's join
# window, proving no qualifying purchase can still arrive.  Inner results
# emit on match; outer results emit at state eviction.  That protocol makes
# the stream END special: the GLOBAL watermark is the minimum over both
# sides minus the delay, so no click later than
# least(max click ts, max purchase ts) - delay - window can ever have its
# no-match proven on bounded replay (observed: the last click of the
# sf0.001 feed IS such a row — the click side's own max is hours before
# the purchase side's).  The operator therefore scopes its contract to
# clicks at least 25 minutes (window 10 + delay 10 + margin) before the
# SMALLER per-side max — for those, availableNow replay equals the batch
# LEFT JOIN, and DuckDB verifies it exactly.  The cutoff is read from the
# same parquet with a 1-row batch agg (identical value on both engines by
# construction).


def streaming_click_nopurchase_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..lake.tables import load_table

    cutoff = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
                "mc"
            ),
            F.max(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("mp"),
        )
        .select(F.least("mc", "mp") - F.expr("INTERVAL 25 MINUTES"))
        .first()[0]
    )
    joined = _clicks_with_purchases(spark, sf_dir, "left_outer").select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        "c_ts",
        (F.unix_millis("c_ts") - F.unix_millis("p_ts")).alias("gap_ms"),
    )
    return (
        drained(joined, "append")
        .filter(F.col("c_ts") <= F.lit(cutoff))
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            (F.col("purchase_id").isNull()).alias("unmatched"),
            "gap_ms",
        )
        .orderBy("click_id", "purchase_id")
    )


_STREAM_LOUTER_SQL = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id,
       p.event_id IS NULL AS unmatched,
       epoch_ms(c.ts) - epoch_ms(p.ts) AS gap_ms
FROM (SELECT * FROM events WHERE event_type = 'click'
      AND ts <= (SELECT least(max(ts) FILTER (WHERE event_type = 'click'),
                              max(ts) FILTER (WHERE event_type = 'purchase'))
                        - INTERVAL 25 MINUTE FROM events)) c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts BETWEEN c.ts - INTERVAL 10 MINUTE AND c.ts
ORDER BY click_id, purchase_id
"""


# -- streaming deduplication --------------------------------------------------
# The LLM-pipeline dedup family applied to an unbounded feed: watermarked
# exact-dedup via dropDuplicatesWithinWatermark, whose state store retains a
# key only until the watermark passes it — bounded state on an infinite
# stream, where a batch distinct would need the full history.  Which physical
# row survives a duplicate group is batch/partition-order dependent, so the
# query aggregates only key-level facts (counts per event_type), which are
# deterministic and exactly oracle-checkable on bounded replay.
#
# Oracle-equivalence requires the dedup horizon (the watermark delay) to
# cover the WHOLE replayed span: with a short delay, two duplicates of a key
# separated by more than the delay across different microbatches are both
# emitted, diverging from count(DISTINCT).  The testdata spans ~30 days at
# every SF, so a 365-day delay makes the equality hold however the source
# splits into microbatches (file layout has drifted across driver rounds);
# on an unbounded feed the same query is "dedup within a year" with state
# still bounded by the horizon.


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = streaming_events(spark, sf_dir).withWatermark("ts", "365 days")
    dedup = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    return (
        drained(dedup, "append")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique_users"))
        .orderBy("event_type")
    )


_STREAM_DEDUP_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_unique_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = {
    "streaming_tumbling_counts": streaming_tumbling_counts,
    "streaming_session_windows": streaming_session_windows,
    "streaming_stateful_sessions": streaming_stateful_sessions,
    "streaming_click_purchase_join": streaming_click_purchase_join,
    "streaming_click_nopurchase_join": streaming_click_nopurchase_join,
    "streaming_dedup_events": streaming_dedup_events,
}

ORACLE = {
    "streaming_tumbling_counts": _STREAM_TUMBLING_SQL,
    "streaming_session_windows": _STREAM_SESSION_SQL,
    "streaming_stateful_sessions": _STREAM_STATEFUL_SQL,
    "streaming_click_purchase_join": _STREAM_JOIN_SQL,
    "streaming_click_nopurchase_join": _STREAM_LOUTER_SQL,
    "streaming_dedup_events": _STREAM_DEDUP_SQL,
}
