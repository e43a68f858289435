"""Declarative bucketed layouts for file-table sources.

A file-table source is a dir of ``<table>.parquet`` files (or
directories of part files), such as the sf testdata.  These are
the sources where bucketing was measured to win: SCALE_PROBE tpch_100x
(2.63x -> 0.97x DuckDB on bucketed copies, per-query speedups 2.1-8.1x)
and bucket_probe_100x (join speedup 2.11x).  On the slot-partitioned
Cardano lake the same copies lost on every read path
(r13_cardano_layout_10000x), so ``set_bucket_spec`` refuses lake roots
and the lake's readers never consult a layout.  Hash-bucketed copies
are the one layout kind (a range-clustered copy for footer-stat pruning
is ``lake/zorder.py::zorder_write``'s job):

- ``set_bucket_spec`` records WHICH tables are bucketed by WHICH key
  columns (several layouts per table — ``lineitem`` serves the orderkey
  join family AND the partkey family) in a ``bucket_spec.json`` control
  file under a per-source derived dir; the source itself, which this
  package reads but does not own, is never written into.
- ``bucketize`` builds/refreshes the copies INCREMENTALLY: each copy
  records the source's content signature at build time and is skipped
  while the source is unchanged.  Copies are external-location bucketed
  catalog tables, so a FRESH session re-registers them from the status
  file (``CREATE TABLE ... CLUSTERED BY ... LOCATION ...``) instead of
  rebuilding — the layout survives process restarts.
- ``resolve_bucketed`` is the read-path hook: ``tables.load_table``
  consults it on every read and serves the bucketed copy ONLY when its
  recorded source signature still matches the live source; a rewritten
  source makes the read fall back to the plain path until the next
  ``bucketize``.  Staleness can therefore never serve wrong rows; it
  only costs the optimization.

100 TB posture: a fact-fact join's dominant cost is shuffling both
sides; a stored co-bucketed layout pays that shuffle once at write and
never again (bucket_probe_100x: join_speedup 2.11x, breakeven ~14
joins).  The spec is per-source metadata exactly like a lakehouse table
property — queries never change, storage decides.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession

from .fsutil import LakeFs

SPEC_NAME = "bucket_spec.json"
STATUS_NAME = "bucket_status.json"

# The join-key families the tpch-shape workload measured (SCALE_PROBE
# tpch_100x.bucketed_layout): orderkey carries late_ship/nation_part,
# custkey carries customer_order_distribution/revenue_by_region, partkey
# carries promo_revenue/distinct_supplier_part_counts.
DEFAULT_TPCH_SPEC: dict[str, list[list[str]]] = {
    "orders": [["o_orderkey"], ["o_custkey"]],
    "lineitem": [["l_orderkey"], ["l_partkey"]],
    "customer": [["c_custkey"]],
    "part": [["p_partkey"]],
}

# Parsed status per layout dir, plus negative entries (``_NO_SPEC`` = no
# spec file in that dir — a DISTINCT sentinel, so a layout that is
# declared but not yet built (spec present, status absent) is never
# conflated with "no layout here"; r12 advice: a None-valued status
# entry used to make every read between set_bucket_spec and the first
# bucketize see "no layout" until a process restart).  Invalidated by
# every mutation in THIS process; another process building a layout is
# picked up lazily (next cache miss) or via ``invalidate_layout_cache``
# — resolution correctness never depends on it, because the
# source-signature check below is live.
_NO_SPEC = object()
_LAYOUT_CACHE: dict[str, object] = {}


def invalidate_layout_cache(layout_dir: str | None = None) -> None:
    for k in [k for k in _LAYOUT_CACHE if layout_dir is None or k == layout_dir]:
        del _LAYOUT_CACHE[k]


def _derived_dir(source_dir: str) -> str:
    """Where a source's layout lives: a per-source dir outside the
    source, so a read-only input is never written into."""
    tag = hashlib.md5(os.path.abspath(source_dir).encode()).hexdigest()[:12]
    base = os.environ.get("SPARK_GRAFT_LAYOUT_DIR") or os.path.join(
        os.path.expanduser("~"), ".spark_graft_layouts"
    )
    return os.path.join(base, tag)


def _find_layout_dir(lfs: LakeFs, source_dir: str) -> str | None:
    d = _derived_dir(source_dir)
    cached = _LAYOUT_CACHE.get(d)
    if cached is _NO_SPEC:
        return None
    # a parsed status dict: layout known here
    if cached is not None or lfs.exists(os.path.join(d, SPEC_NAME)):
        return d
    _LAYOUT_CACHE[d] = _NO_SPEC
    return None


def _read_json(lfs: LakeFs, path: str) -> dict | None:
    if not lfs.exists(path):
        return None
    return json.loads(lfs.read_text(path))


def _write_json(lfs: LakeFs, path: str, payload: dict) -> None:
    tmp = path + ".tmp"
    lfs.write_text(tmp, json.dumps(payload, indent=1, sort_keys=True))
    if lfs.exists(path):
        lfs.delete(path)
    lfs.rename(tmp, path)


def set_bucket_spec(
    spark: SparkSession,
    source_dir: str,
    tables: dict[str, Iterable[Iterable[str]]],
    n_buckets: int = 64,
) -> str:
    """Declare the source's bucket layouts ({table: [key-column lists]})
    and return the layout dir.  Declares only — ``bucketize`` builds.
    The FIRST listed layout of a table is its primary (served when a
    reader gives no ``layout_for`` hint).  Every declared table must be
    a file table, ``<source_dir>/<table>.parquet``."""
    lfs = LakeFs(spark, source_dir)
    norm = {
        t: [list(cols) for cols in layouts] for t, layouts in tables.items()
    }
    for t, layouts in norm.items():
        if not layouts or any(not cols for cols in layouts):
            raise ValueError(f"empty bucket-column list for table {t!r}")
    missing = [
        t for t in norm if not lfs.exists(_source_path(source_dir, t))
    ]
    if missing:
        raise ValueError(
            f"no {', '.join(f'{t}.parquet' for t in missing)} under "
            f"{source_dir}: bucketed layouts serve file tables only (on "
            "the Cardano lake they lost on every read path, SCALE_PROBE "
            "r13_cardano_layout_10000x)"
        )
    spec = {"version": 1, "n_buckets": int(n_buckets), "tables": norm}
    d = _derived_dir(source_dir)
    lfs.mkdirs(d)
    _write_json(lfs, os.path.join(d, SPEC_NAME), spec)
    invalidate_layout_cache()
    return d


def bucket_spec(spark: SparkSession, source_dir: str) -> dict | None:
    lfs = LakeFs(spark, source_dir)
    d = _find_layout_dir(lfs, source_dir)
    return _read_json(lfs, os.path.join(d, SPEC_NAME)) if d else None


def drop_layout(spark: SparkSession, source_dir: str) -> None:
    """Remove the source's layout: catalog entries, copies, spec."""
    lfs = LakeFs(spark, source_dir)
    d = _derived_dir(source_dir)
    status = _read_json(lfs, os.path.join(d, STATUS_NAME)) or {}
    for st in status.get("copies", {}).values():
        if st.get("catalog"):  # older sorted copies have none
            spark.sql(f"DROP TABLE IF EXISTS {st['catalog']}")
    if lfs.exists(d):
        lfs.delete_recursive(d)
    invalidate_layout_cache()


def _source_path(source_dir: str, table: str) -> str:
    return os.path.join(source_dir, f"{table}.parquet")


def _source_sig(lfs: LakeFs, source_dir: str, table: str) -> list:
    # JSON-friendly form of fsutil.content_signature (the file, or the
    # part files of a ``<table>.parquet`` dir — a rewrite changes it)
    return [
        list(e) for e in lfs.content_signature(_source_path(source_dir, table))
    ]


def _catalog_name(source_dir: str, table: str, cols: list[str]) -> str:
    tag = hashlib.md5(os.path.abspath(source_dir).encode()).hexdigest()[:8]
    return f"lake_{tag}_{table}_by_{'_'.join(cols)}"


def _schema_ddl(df: DataFrame) -> str:
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )


def bucketize(
    spark: SparkSession, source_dir: str, tables: Iterable[str] | None = None
) -> dict[str, str]:
    """Build/refresh every copy the spec declares (or just ``tables``).

    Incremental: a copy whose recorded source signature matches the live
    source is skipped — re-running after a source rewrite rebuilds
    exactly the tables that changed.  Returns {copy_key: catalog name}
    for the copies that are CURRENT after the call (built or verified).

    Builds are scheduled by the operator (the ``bucketize`` CLI verb).
    Readers need no coordination: they resolve through the status
    sidecar and the signature check, and a half-built copy is never
    referenced by a committed status entry (status publishes via
    write-temp-then-rename after each table completes).
    """
    from .tables import load_plain_table

    lfs = LakeFs(spark, source_dir)
    d = _find_layout_dir(lfs, source_dir)
    if d is None:
        raise ValueError(
            f"no bucket spec for {source_dir} — declare one with "
            "set_bucket_spec first"
        )
    spec = _read_json(lfs, os.path.join(d, SPEC_NAME))
    status_path = os.path.join(d, STATUS_NAME)
    status = _read_json(lfs, status_path) or {"copies": {}}
    n_buckets = int(spec.get("n_buckets", 64))
    only = set(tables) if tables is not None else None
    out: dict[str, str] = {}
    # Prune copies whose (table, cols) the spec no longer declares —
    # without this a layout removed from the spec left an orphan that
    # resolve_bucketed kept serving (r12 advice).  Spec membership is
    # global, so pruning ignores the ``tables`` narrowing.
    declared = {
        f"{t}_by_{'_'.join(cols)}"
        for t, layouts in spec["tables"].items()
        for cols in layouts
    }
    orphans = [k for k in status["copies"] if k not in declared]
    for k in orphans:
        st2 = status["copies"].pop(k)
        if st2.get("catalog"):  # older sorted copies have none
            spark.sql(f"DROP TABLE IF EXISTS {st2['catalog']}")
        if lfs.exists(st2["location"]):
            lfs.delete_recursive(st2["location"])
    if orphans:
        _write_json(lfs, status_path, status)
    for table, layouts in sorted(spec["tables"].items()):
        if only is not None and table not in only:
            continue
        sig = _source_sig(lfs, source_dir, table)
        src: DataFrame | None = None
        for cols in layouts:
            key = f"{table}_by_{'_'.join(cols)}"
            st = status["copies"].get(key)
            cat = _catalog_name(source_dir, table, cols)
            if (
                st is not None
                and st["source_sig"] == sig
                # a spec re-declared with a different bucket count must
                # rebuild even when the SOURCE is unchanged — otherwise
                # tables sit at mixed counts and joins silently lose
                # co-location (r12 advice)
                and st.get("n_buckets") == n_buckets
            ):
                out[key] = st["catalog"]
                continue  # copy is current
            if src is None:
                # the PLAIN frame — never the copy being refreshed
                src = load_plain_table(spark, source_dir, table)
            loc = os.path.join(d, key)
            spark.sql(f"DROP TABLE IF EXISTS {cat}")
            (
                # one file per bucket: bucketBy makes every writer task
                # emit a file per bucket it holds, so hash-repartitioning
                # on the key first keeps file counts = bucket counts and
                # lets the stored per-bucket sort survive (elides the
                # join's Sort as well as its Exchange)
                src.repartition(n_buckets, *[src[c] for c in cols])
                .write.mode("overwrite")
                .bucketBy(n_buckets, *cols)
                .sortBy(*cols)
                .option("path", loc)
                .saveAsTable(cat)
            )
            status["copies"][key] = {
                "table": table,
                "cols": list(cols),
                "n_buckets": n_buckets,
                "catalog": cat,
                "location": loc,
                "source_sig": sig,
                "schema_ddl": _schema_ddl(src),
            }
            out[key] = cat
        _write_json(lfs, status_path, status)
    invalidate_layout_cache(d)
    return out


def _load_status(lfs: LakeFs, source_dir: str) -> dict | None:
    d = _find_layout_dir(lfs, source_dir)
    if d is None:
        return None
    cached = _LAYOUT_CACHE.get(d)
    if isinstance(cached, dict):
        return cached
    status = _read_json(lfs, os.path.join(d, STATUS_NAME))
    if status is not None:
        # cache ONLY a real status.  A declared-but-unbuilt layout (spec
        # present, status absent) stays uncached so the first bucketize
        # — possibly in another process — is picked up on the very next
        # read, and so the "no layout" sentinel above is never poisoned.
        _LAYOUT_CACHE[d] = status
    return status


def resolve_bucketed(
    spark: SparkSession,
    source_dir: str,
    table: str,
    layout_for: Iterable[str] | None = None,
) -> DataFrame | None:
    """The read-path hook: the table's CURRENT bucketed copy, or None.

    ``layout_for`` names the key columns the caller's join/aggregation
    uses; the copy bucketed by exactly those columns is served if fresh.
    Without a hint the table's primary (first-declared) layout is
    served.  A copy whose recorded source signature no longer matches
    the live source is IGNORED — the caller falls back to the plain
    read, so a stale layout can cost performance but never correctness.
    """
    if _LAYOUT_CACHE.get(_derived_dir(source_dir)) is _NO_SPEC:
        return None  # known-absent: no JVM traffic at all
    lfs = LakeFs(spark, source_dir)
    status = _load_status(lfs, source_dir)
    if not status:
        return None
    want = list(layout_for) if layout_for is not None else None
    # Only catalog-backed (bucketed) copies are served: an entry without
    # a catalog name is a range-clustered copy an older build left
    # behind, which the next ``bucketize`` prunes as undeclared.
    bucketed = [
        st
        for st in status.get("copies", {}).values()
        if st["table"] == table
        and st.get("catalog")
        and (want is None or st["cols"] == want)
    ]
    if not bucketed:
        return None
    sig = _source_sig(lfs, source_dir, table)
    for st in bucketed:
        if st["source_sig"] == sig:
            return _catalog_frame(spark, st)
    return None


def _catalog_frame(spark: SparkSession, st: dict) -> DataFrame:
    """The copy as a catalog table, re-registering in a fresh session
    (the files outlive the session; the in-memory catalog does not)."""
    if not spark.catalog.tableExists(st["catalog"]):
        cols = ", ".join(f"`{c}`" for c in st["cols"])
        try:
            spark.sql(
                f"CREATE TABLE {st['catalog']} ({st['schema_ddl']}) "
                f"USING PARQUET CLUSTERED BY ({cols}) "
                f"SORTED BY ({cols}) "
                f"INTO {st['n_buckets']} BUCKETS LOCATION '{st['location']}'"
            )
        except Exception:
            # two threads of one session racing the exists-check: losing
            # the CREATE race is fine as long as the table is now there
            if not spark.catalog.tableExists(st["catalog"]):
                raise
    return spark.table(st["catalog"])
