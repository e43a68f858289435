"""SparkSession construction with scale-oriented defaults.

Replaces the reference's in-process ``duckdb.connect()`` boundary
(/root/reference/main.py:21, /root/reference/token_fee_analysis.py:46) with a
Spark driver session.  The config block encodes the Catalyst/AQE posture the
whole engine assumes:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting) so the
  same logical plans survive 1000-executor / 100 TB deployments where static
  estimates are wrong.  This is a measured decision, not a hope: the
  AQE on/off probe (``aqe_on_over_off`` in ``SCALE_PROBE.json``) timed the
  same plans both ways — at sf0.1 with core-count shuffle partitions AQE costs ~2.4x
  (pure per-stage driver latency on sub-second queries, why bench.py's
  timed pass turns it off), while at 10x the data the FULL 15-query
  headline set under this production posture (AQE on, 200 shuffle
  partitions, the bypass-writer fix below) runs at 0.965x of the bench
  posture overall and wins on every shuffle-heavy query
  (``headline_10x`` in SCALE_PROBE.json).  The crossover direction is
  the 100 TB argument.
- constraintPropagation off: constraint inference is quadratic in predicate
  count and none of this engine's plans benefit (no inferred-filter join
  elimination anywhere in the query library); it is an optimizer *inference*
  pass, so disabling changes plans' derivation cost, never results.
  Measured r6: the default cost ~2× driver latency on sub-second queries.
- Arrow on for every pandas boundary (``toPandas``, pandas UDFs).
- UTC session timezone so results hash-match the DuckDB oracle (DuckDB
  timestamps are UTC-naive).
- ``shuffle.partitions`` sized by caller (≈ cores locally; thousands on a
  real cluster — AQE coalesces down, so oversizing is the safe direction).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def session_builder(
    app_name: str = "cardano-analytics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession.Builder:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.constraintPropagation.enabled", "false")
        # The bypass-merge shuffle writer opens one file writer PER REDUCE
        # PARTITION per map task; its threshold defaults to 200, so a
        # "production-sized" partition count of exactly <=200 silently hits
        # the writer's worst case.  Measured (r8, 10x bench data, 32-way
        # map stage): a one-shuffle hash agg at shuffle.partitions=200 took
        # 2.1 s vs 0.27 s with the sort writer — 13x map-stage CPU doing
        # nothing but opening/flushing 6400 tiny files.  16 keeps the
        # bypass path for genuinely small fan-outs where it wins and lets
        # every larger shuffle use the serialized sort writer, which is
        # also the only regime a 1000-executor cluster ever runs in.
        .config("spark.shuffle.sort.bypassMergeThreshold", "16")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder


def get_session(**kwargs) -> SparkSession:
    spark = session_builder(**kwargs).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
