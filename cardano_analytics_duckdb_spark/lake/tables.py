"""Readers for the driver's synthetic parquet tables and view registration.

Mirrors the reference's view-catalog pattern — one SQL view per table over a
discovered parquet file set (``_setup_views``,
/root/reference/token_fee_analysis.py:49-81) — as Spark temp views.  Unlike
the reference's glob-everything approach, `spark.read.parquet` keeps filter
and projection pushdown into the scan (SURVEY §4 R1/R4 are free).
"""

from __future__ import annotations

import hashlib
import os
import string
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Warmed-table registry: (sf_dir, name) -> cached DataFrame.  Populated by
# ``warm_lake``; consulted by ``load_table`` so every operator transparently
# reads the in-memory columnar copy once a lake has been warmed, and by
# ``lake_sql``, which reads it through the view ``warm_lake`` registers.
_WARMED: dict[tuple[str, str], DataFrame] = {}


def warm_view_name(sf_dir: str, name: str) -> str:
    """The temp view ``warm_lake`` registers over ``sf_dir``'s cached
    ``name``: a ``__graft_`` prefix and a digest of ``sf_dir``, so it
    clashes with no caller's view and two lakes never share one."""
    digest = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
    return f"__graft_{digest}_{name}"


# Tables under this many bytes stay single-partition when warmed, so
# broadcast-sized dims don't pay one task per core per stage.
_SMALL_TABLE_BYTES = 262_144


def warm_lake(spark: SparkSession, sf_dir: str) -> None:
    """Repartition + cache every table of ``sf_dir`` in memory, and
    register one temp view per cached table (``warm_view_name``), which
    ``lake_sql`` texts read it through.  The views belong to the lake
    until ``unwarm_lake``.

    Why: the driver's testdata files are single-row-group parquet, so a cold
    scan is one task no matter how many cores exist (parquet row groups are
    the unit of split).  Caching through an explicit ``repartition`` restores
    scan parallelism for every downstream query — the local analogue of a
    cluster keeping hot tables cached/bucketed across executors.

    At 100 TB you would warm only dimension tables and rely on partitioned
    scans (many files → many splits) for facts; this helper takes whatever
    fits, spilling to disk (MEMORY_AND_DISK is ``cache()``'s default for
    DataFrames).  Tables under ``_SMALL_TABLE_BYTES`` stay single-partition;
    the others take ``max(2, cores // 4)`` partitions, cores being the
    session's default parallelism: on a 4-core host one partition per core
    was slower over the headline queries (see ROADMAP).
    """
    from pyspark import __version__ as _  # noqa: F401  (documents pin intent)

    partitions = max(2, spark.sparkContext.defaultParallelism // 4)
    for name in TESTDATA_TABLES:
        key = (sf_dir, name)
        if key in _WARMED:
            continue
        df = load_table(spark, sf_dir, name)
        size = os.path.getsize(os.path.join(sf_dir, f"{name}.parquet"))
        n = partitions if size > _SMALL_TABLE_BYTES else 1
        cached = df.repartition(n).cache()
        cached.count()  # materialize now so queries never pay the fill
        cached.createOrReplaceTempView(warm_view_name(sf_dir, name))
        _WARMED[key] = cached


def unwarm_lake(sf_dir: str | None = None) -> None:
    """Drop warmed tables (all lakes, or just ``sf_dir``'s) and the views
    ``warm_lake`` registered over them.  Dropping a view uncaches its
    plan, which is the table being dropped here anyway."""
    for key in [k for k in _WARMED if sf_dir is None or k[0] == sf_dir]:
        cached = _WARMED.pop(key)
        cached.sparkSession.catalog.dropTempView(warm_view_name(*key))
        cached.unpersist()


class _View:
    """A registered view, spliced into a ``spark.sql`` text as a quoted
    identifier (PySpark's formatter would quote a ``str`` as a literal)."""

    __slots__ = ("name",)

    def __init__(self, name: str):
        self.name = name

    def __format__(self, spec: str) -> str:
        return f"`{self.name}`"


_FIELDS = string.Formatter()


def lake_sql(
    spark: SparkSession,
    sf_dir: str,
    text: str,
    layout_for: Mapping[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """``text`` as ONE ``spark.sql`` query — one parse, one analysis —
    with each ``{name}`` field bound to table ``name`` of ``sf_dir``
    (literal braces are doubled, as in ``str.format``).

    A table warmed in this session is bound by the name of its
    ``warm_lake`` view, so the query registers and drops no view.  Any
    other table is bound to the frame ``load_table`` would serve unwarmed
    (``layout_for`` gives its key hint): PySpark registers a temp view
    for it and drops that view once the text is analysed.  Dropping a
    view uncaches its plan, which is why a warmed frame must never take
    that path; another session, which cannot see the warm views, reads
    the files."""
    bind: dict[str, object] = {}
    for _, name, _, _ in _FIELDS.parse(text):
        if name is None or name in bind:
            continue
        if _warmed_in(spark, sf_dir, name) is not None:
            bind[name] = _View(warm_view_name(sf_dir, name))
        else:
            hint = layout_for.get(name) if layout_for else None
            bind[name] = _load_unwarmed(spark, sf_dir, name, hint)
    return spark.sql(text, **bind)


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    layout_for: tuple[str, ...] | None = None,
) -> DataFrame:
    """The default read path for testdata-lake tables.

    Resolution order: the in-memory copy ``warm_lake`` made in this
    session, then a FRESH bucketed copy from the lake's declared layout
    (``lake/layout.py`` — ``layout_for`` names the join/aggregation key
    the caller wants co-location on; no hint serves the table's primary
    layout), then the plain parquet.  Another session reads the files,
    as ``lake_sql`` does.  A stale or absent layout silently falls
    through to plain — layouts are an optimization, never a correctness
    dependency."""
    warmed = _warmed_in(spark, sf_dir, name)
    if warmed is not None:
        return warmed
    return _load_unwarmed(spark, sf_dir, name, layout_for)


def _warmed_in(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame | None:
    """The copy of ``name`` that ``warm_lake`` cached in ``spark``, if
    any: a frame of another session must not serve this one."""
    warmed = _WARMED.get((sf_dir, name))
    if warmed is not None and warmed.sparkSession is spark:
        return warmed
    return None


def _load_unwarmed(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    layout_for: tuple[str, ...] | None = None,
) -> DataFrame:
    """``load_table`` past the warmed copy: the fresh bucketed copy, or
    else the plain parquet."""
    from .layout import resolve_bucketed

    bucketed = resolve_bucketed(spark, sf_dir, name, layout_for)
    if bucketed is not None:
        return bucketed
    return load_plain_table(spark, sf_dir, name)


def load_plain_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The un-resolved parquet read (also the layout builder's source —
    building a copy must never read through a copy)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        raise FileNotFoundError(f"table {name!r} not found at {path}")
    if name == "events":
        return events_with_ts(
            spark, events_ts_encoding(path), lambda: spark.read.parquet(path)
        )
    return spark.read.parquet(path)


def events_ts_encoding(path: str) -> str:
    """Probe the parquet footer for the ``ts`` encoding: ``"nanos"``
    (TIMESTAMP(NANOS) — Spark's vectorized reader rejects it),
    ``"ntz"`` (micros/millis without UTC adjustment — surfaces as
    TIMESTAMP_NTZ), or ``"utc"`` (isAdjustedToUTC=true — surfaces as plain
    TIMESTAMP).

    The driver's testdata has drifted across regenerations (NANOS in rounds
    1-2, plain MICROS since round 3); a footer read (one file, driver-side,
    metadata only) decides the loader path — for BOTH the batch reader and
    the streaming source schema — instead of hardcoding any encoding.
    """
    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
        if not parts:
            return "ntz"
        probe = os.path.join(path, parts[0])
    # Physical type first: Spark's default writer emits INT96 timestamps,
    # which pyarrow ALSO surfaces as timestamp[ns] — but Spark reads its
    # own INT96 back as a plain (UTC-adjusted) TIMESTAMP, so classifying
    # by the arrow type alone would mis-route any events table WE wrote
    # (compacted/derived lakes) into the nanos workaround and break.
    pf = pq.ParquetFile(probe)
    for i in range(len(pf.schema)):
        col = pf.schema.column(i)
        if col.name == "ts":
            if col.physical_type == "INT96":
                return "utc"
            break
    t = pq.read_schema(probe).field("ts").type
    if str(t).startswith("timestamp[ns"):
        return "nanos"
    return "utc" if getattr(t, "tz", None) else "ntz"


def events_with_ts(
    spark: SparkSession, encoding: str, read: Callable[[], DataFrame]
) -> DataFrame:
    """The events frame ``read()`` returns, with ``ts`` normalized to a
    session-TZ TIMESTAMP for the footer's ``encoding`` — the one rule for
    both the batch reader and the streaming source:

    - ``"nanos"``: Spark's vectorized reader rejects TIMESTAMP(NANOS)
      ([PARQUET_TYPE_ILLEGAL]); read nanos as long, truncate to micros —
      DuckDB's ns→us cast semantics, so oracle comparisons stay bit-identical.
    - ``"ntz"``: micros/millis without UTC adjustment surface as
      TIMESTAMP_NTZ; read the naive value as UTC (``_ntz_as_utc_instant``).
    - ``"utc"``: already a TIMESTAMP.
    """
    if encoding == "nanos":
        # nanosAsLong only changes how otherwise-unreadable NANOS columns
        # surface, and is only set when such a file is actually present.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return read().withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if encoding == "ntz":
        return read().withColumn("ts", _ntz_as_utc_instant("ts"))
    return read()


def _ntz_as_utc_instant(col: str):
    """TIMESTAMP_NTZ → TIMESTAMP interpreting the naive value as UTC,
    independent of ``spark.sql.session.timeZone``.

    A plain ``cast(ntz AS timestamp)`` reads the wall time in the *session*
    zone — under the driver's vanilla (host-TZ) session that shifts every
    epoch the oracle compares against (DuckDB treats naive timestamps as
    UTC).  ``timestampdiff`` between two NTZ values is pure arithmetic, and
    ``timestamp_micros`` maps epoch micros to an instant; neither consults
    the session zone.
    """
    return F.expr(
        "timestamp_micros(timestampdiff(MICROSECOND, "
        f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {col}))"
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Register one temp view per table (``{name}{suffix}``), like the
    reference's ``{t}_view`` catalog (token_fee_analysis.py:76-80)."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{t}{suffix}")
