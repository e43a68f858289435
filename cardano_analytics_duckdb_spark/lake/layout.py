"""Declarative bucketed layouts as a LAKE LIFECYCLE feature.

r11 measured the win (SCALE_PROBE tpch_100x: 2.63x -> 0.97x DuckDB on
bucketed copies, per-query speedups 2.1-8.1x) but left the layout a
probe-side artifact: in-process copies that nothing produced or
maintained, so a real deployment got the plain layout unless an
operator re-ran the probe's steps by hand (r11 verdict, "What's
missing" #1).  This module makes the layout declarative and durable;
hash-bucketed copies are its one layout kind (a range-clustered copy
for footer-stat pruning is ``lake/zorder.py::zorder_write``'s job):

- ``set_bucket_spec`` records WHICH tables are bucketed by WHICH key
  columns (several layouts per table — ``lineitem`` serves the orderkey
  join family AND the partkey family) in a ``bucket_spec.json`` control
  file under the lake's ``_layout`` dir (or a per-source derived dir
  when the source is read-only, e.g. the driver's testdata).
- ``bucketize`` builds/refreshes the copies INCREMENTALLY: each copy
  records the source's content signature at build time and is skipped
  while the source is unchanged.  Copies are external-location bucketed
  catalog tables, so a FRESH session re-registers them from the status
  file (``CREATE TABLE ... CLUSTERED BY ... LOCATION ...``) instead of
  rebuilding — the layout survives process restarts, which is what
  separates a lifecycle feature from a session trick.
- ``resolve_bucketed`` is the automatic read-path hook: ``tables
  .load_table`` (testdata lakes) and ``operators/cardano._lake``
  (streaming lakes) consult it on every read and serve the bucketed
  copy ONLY when its recorded source signature still matches the live
  source — a compaction/rollback/append invalidates the copy by
  construction (the signature covers the generation-pointer sidecars
  and every data file one level down), and the read silently falls back
  to the plain path until the next ``bucketize``/``refresh_layout``.
  Staleness can therefore never serve wrong rows; it only costs the
  optimization.
- ``refresh_layout`` is the maintenance hook ``compact_lake`` calls:
  a lake with a spec keeps its layout current through the same
  lifecycle that maintains the data (SURVEY §2 S9/T8 extended to join
  keys; the reference's compact-later design, ogmios_parquet.py:523-571,
  stops at file counts).

100 TB posture: a fact-fact join's dominant cost is shuffling both
sides; a stored co-bucketed layout pays that shuffle once at write and
never again (bucket_probe_100x: join_speedup 2.11x, breakeven ~14
joins).  The spec is per-lake metadata exactly like a lakehouse table
property — queries never change, storage decides.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
# spec file at that candidate — a DISTINCT sentinel, so a layout that is
# declared but not yet built (spec present, status absent) is never
# conflated with "no layout here"; r12 advice: a None-valued status
# entry used to make every read between set_bucket_spec and the first
# bucketize see "no layout" until a process restart).  Invalidated by
# every mutation in THIS process; another process building a layout is
# picked up lazily (next cache miss) or via ``invalidate_layout_cache``
# — resolution correctness never depends on it, because the
# source-signature check below is live (root-token-keyed memo).
_NO_SPEC = object()
_LAYOUT_CACHE: dict[str, object] = {}

# Live source-signature memo: path -> (expires, root_token, sig).  The
# deep signature (every data file one level down) is O(#partition dirs)
# listing RPCs — a per-query listing storm at object-store scale (r12
# advice).  Reads re-validate against a ONE-RPC shallow root listing
# (entry-dir mtimes move on any direct child change on local/HDFS; gen
# dirs and pointer files appear AT the root on every maintenance swap),
# and a short TTL (seconds) bounds the residual
# window on stores with synthetic dir mtimes where a bare append inside
# an existing entry leaves the root listing unchanged.
_SIG_CACHE: dict[str, tuple[float, tuple, list]] = {}
_SIG_TTL_S = 10.0


def invalidate_layout_cache(layout_dir: str | None = None) -> None:
    for k in [k for k in _LAYOUT_CACHE if layout_dir is None or k == layout_dir]:
        del _LAYOUT_CACHE[k]
    _SIG_CACHE.clear()


def _derived_dir(source_dir: str) -> str:
    tag = hashlib.md5(os.path.abspath(source_dir).encode()).hexdigest()[:12]
    base = os.environ.get("SPARK_GRAFT_LAYOUT_DIR") or os.path.join(
        os.path.expanduser("~"), ".spark_graft_layouts"
    )
    return os.path.join(base, tag)


def _layout_candidates(source_dir: str) -> list[str]:
    """Where a source's layout may live, probe order: inside the lake
    (``<source>/_layout`` — for lake roots this package writes and
    maintains) first, then the derived per-source dir (external/file
    -table sources like the driver's testdata, which this package must
    NEVER write into — ``set_bucket_spec`` routes those to the derived
    dir by construction; the in-lake candidate is still probed on read
    so a lake's layout travels with the lake)."""
    return [
        os.path.join(source_dir.rstrip("/"), "_layout"),
        _derived_dir(source_dir),
    ]


def _is_external_source(lfs: LakeFs, source_dir: str) -> bool:
    """True when the source serves file-tables (``<name>.parquet`` files
    directly under the dir) — an EXTERNAL input this package reads but
    does not own, so its layout lives in the derived dir.  Lake roots
    (directory-tables this package created and maintains) host their
    layout in-place, so it travels with the lake."""
    return any(f.endswith(".parquet") for f in lfs.list_files(source_dir))


def _find_layout_dir(lfs: LakeFs, source_dir: str) -> str | None:
    for cand in _layout_candidates(source_dir):
        cached = _LAYOUT_CACHE.get(cand)
        if cached is _NO_SPEC:
            continue
        if cached is not None:  # a parsed status dict: layout known here
            return cand
        if lfs.exists(os.path.join(cand, SPEC_NAME)):
            return cand
        _LAYOUT_CACHE[cand] = _NO_SPEC
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
    reader gives no ``layout_for`` hint)."""
    lfs = LakeFs(spark, source_dir)
    norm = {
        t: [list(cols) for cols in layouts] for t, layouts in tables.items()
    }
    for t, layouts in norm.items():
        if not layouts or any(not cols for cols in layouts):
            raise ValueError(f"empty bucket-column list for table {t!r}")
    spec = {"version": 1, "n_buckets": int(n_buckets), "tables": norm}
    in_lake, derived = _layout_candidates(source_dir)
    candidates = (
        [derived] if _is_external_source(lfs, source_dir)
        else [in_lake, derived]
    )
    last_err: Exception | None = None
    for cand in candidates:
        try:
            lfs.mkdirs(cand)
            _write_json(lfs, os.path.join(cand, SPEC_NAME), spec)
            invalidate_layout_cache()
            return cand
        except Exception as e:  # read-only lake: fall to the derived dir
            last_err = e
    raise IOError(
        f"could not write bucket spec for {source_dir}: {last_err}"
    )


def bucket_spec(spark: SparkSession, source_dir: str) -> dict | None:
    lfs = LakeFs(spark, source_dir)
    d = _find_layout_dir(lfs, source_dir)
    return _read_json(lfs, os.path.join(d, SPEC_NAME)) if d else None


def drop_layout(spark: SparkSession, source_dir: str) -> None:
    """Remove the source's layout: catalog entries, copies, spec."""
    lfs = LakeFs(spark, source_dir)
    for cand in _layout_candidates(source_dir):
        status = _read_json(lfs, os.path.join(cand, STATUS_NAME)) or {}
        for st in status.get("copies", {}).values():
            if st.get("catalog"):  # older sorted copies have none
                spark.sql(f"DROP TABLE IF EXISTS {st['catalog']}")
        if lfs.exists(cand):
            lfs.delete_recursive(cand)
    invalidate_layout_cache()


def _source_path(lfs: LakeFs, source_dir: str, table: str) -> str:
    file_path = os.path.join(source_dir, f"{table}.parquet")
    if lfs.exists(file_path):
        return file_path
    return os.path.join(source_dir, table)


def _source_sig(
    lfs: LakeFs, source_dir: str, table: str, fresh: bool = False
) -> list:
    # JSON-friendly form of fsutil.content_signature (covers the file, or
    # a table dir's control sidecars + data files one level down — so a
    # pointer flip, append, or vacuum all change it).  Hot-read-path
    # memo: re-validated per read against the ONE-RPC shallow root token
    # (+ TTL backstop) instead of re-deep-listing every partition dir —
    # r12 advice, the per-query listing storm at object-store scale.
    # Writers (``bucketize``) pass fresh=True and always deep-list.
    path = _source_path(lfs, source_dir, table)
    now = time.monotonic()
    root = lfs.shallow_signature(path)
    if not fresh:
        ent = _SIG_CACHE.get(path)
        if ent is not None and now < ent[0] and ent[1] == root:
            return ent[2]
    sig = [list(e) for e in lfs.content_signature(path)]
    _SIG_CACHE[path] = (now + _SIG_TTL_S, root, sig)
    return sig


def _source_frame(
    spark: SparkSession, lfs: LakeFs, source_dir: str, table: str
) -> DataFrame:
    file_path = os.path.join(source_dir, f"{table}.parquet")
    if lfs.exists(file_path):
        from .tables import load_plain_table

        # the PLAIN frame — never the copy being refreshed
        return load_plain_table(spark, source_dir, table)
    from .generations import read_table

    return read_table(spark, os.path.join(source_dir, table))


def _partition_col(lfs: LakeFs, source_dir: str, table: str) -> str | None:
    """The single INTEGRAL hive partition column of a DIR-table source
    (``col=N`` entries — the lake's ``slot_group`` layout), else None.
    Decides whether a table's copies are built PARTITION-INCREMENTALLY;
    non-integral partition values (the generation layer doesn't manage
    those either — lake/generations.py's entry contract) fall back to
    whole-table copies rather than risking a bad value parse."""
    path = _source_path(lfs, source_dir, table)
    if path.endswith(".parquet"):
        return None
    entries = [
        d
        for d in lfs.list_dirs(path)
        if "=" in d and not d.startswith(("_", "."))
    ]
    cols = {d.split("=", 1)[0] for d in entries}
    if len(cols) != 1:
        return None
    for d in entries:
        # strict: exactly what the incremental refresh's int() parse
        # accepts minus signs/whitespace slack — lstrip("-") let values
        # like "--5" through validation only to crash the parse later
        if not re.fullmatch(r"-?\d+", d.split("=", 1)[1]):
            return None
    return cols.pop()


def _entry_tokens(lfs: LakeFs, table_dir: str) -> dict[str, list]:
    """Per-partition freshness tokens for a generation-managed table:
    the entry dir's file signature PLUS the entry's pointer state (gen
    dir name, gen files, superseded list).  Generation dirs live at the
    TABLE root, so the entry dir's own listing alone would miss a swap.
    An entry's token changes on append, compaction/rollback swap, or
    vacuum of that entry — and ONLY that entry, which is what makes the
    refresh cost proportional to the changed partitions."""
    from .generations import (
        current_generations,
        generation_files,
        live_partition_files,
    )

    gens = current_generations(lfs, table_dir)
    live = {
        e
        for e in lfs.list_dirs(table_dir)
        if "=" in e and not e.startswith(("_", "."))
    }
    out: dict[str, list] = {}
    for entry in sorted(live | set(gens)):
        tok: list = [
            list(x)
            for x in lfs.content_signature(os.path.join(table_dir, entry))
        ]
        st = gens.get(entry)
        n_live = len(live_partition_files(lfs, table_dir, entry, gens))
        if st is not None:
            tok.append(["#gen", st.get("gen") or ""])
            if st.get("gen"):
                n_live += len(
                    generation_files(lfs, table_dir, st["gen"])
                )
                tok.extend(
                    ["#genfile", *x]
                    for x in lfs.content_signature(
                        os.path.join(table_dir, st["gen"])
                    )
                )
            tok.append(["#superseded", *sorted(st.get("superseded", []))])
        # live data-file count: an entry EMPTIED by maintenance (gen
        # None, every hive file superseded) must force the full rebuild
        # below — dynamic partition overwrite can only REPLACE a copy
        # partition, never drop one, so an incremental refresh would
        # resurrect the emptied partition's old rows (caught by the
        # layout resolution walk on its first run)
        tok.append(["#live", n_live])
        out[entry] = tok
    return out


def _incremental_entries(
    st: dict | None, tokens: dict | None, pcol: str | None, n_buckets: int
) -> list[str] | None:
    """Which partition entries to rewrite, or None for a FULL rebuild.

    Incremental only when the existing copy is partition-aware with the
    same partition column and bucket count, and no entry DISAPPEARED
    (dynamic overwrite can replace partitions but not drop them — a
    removal falls back to the full rebuild, which mode("overwrite")
    handles).  Returns [] when only table-root control files churned."""
    if pcol is None or tokens is None or st is None:
        return None
    if st.get("partition_col") != pcol or st.get("n_buckets") != n_buckets:
        return None
    old = st.get("partition_tokens")
    if not old:
        return None
    if set(old) - set(tokens):
        return None  # an entry was dropped (rollback to origin + vacuum)
    changed = [e for e in sorted(tokens) if tokens[e] != old.get(e)]
    for e in changed:
        live = next(
            (x[1] for x in tokens[e] if x and x[0] == "#live"), None
        )
        if not live:
            # the entry exists but holds ZERO live files (emptied by a
            # rollback): overwrite can't drop the copy's partition, so
            # this must be a full rebuild
            return None
    return changed


def _resolve_catalog(spark: SparkSession, st: dict) -> None:
    """Ensure the copy's catalog entry exists (fresh session) before an
    incremental insertInto targets it."""
    _catalog_frame(spark, st)


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
    source is skipped — re-running after an append/compaction rebuilds
    exactly the tables that changed.  Returns {copy_key: catalog name}
    for the copies that are CURRENT after the call (built or verified).

    Writer discipline: layout builds follow the lake's single-maintainer
    contract like every other maintenance verb — ``compact_lake``'s
    refresh already runs INSIDE the maintenance lock; a standalone
    ``bucketize`` (CLI) is scheduled by the operator like a compaction
    would be.  Readers need no coordination: they resolve through the
    status sidecar and the signature check, and a half-built copy is
    never referenced by a committed status entry (status publishes via
    write-temp-then-rename after each table completes).
    """
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
        sig = _source_sig(lfs, source_dir, table, fresh=True)
        pcol = _partition_col(lfs, source_dir, table)
        tokens = (
            _entry_tokens(lfs, _source_path(lfs, source_dir, table))
            if pcol
            else None
        )
        src: DataFrame | None = None
        retired = False
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
            if retired:
                continue
            if src is None:
                try:
                    src = _source_frame(spark, lfs, source_dir, table)
                except ValueError as e:
                    if "no live data" not in str(e):
                        raise
                    # The source was EMPTIED (rollback to origin): there
                    # is nothing to copy, and the maintenance hook must
                    # not blow up the compaction that called it — retire
                    # every copy of this table so resolution can never
                    # serve the dead rows (the signature mismatch already
                    # guarantees that; this reclaims the artifacts too).
                    for cols2 in layouts:
                        key2 = f"{table}_by_{'_'.join(cols2)}"
                        st2 = status["copies"].pop(key2, None)
                        if st2 is not None:
                            spark.sql(
                                f"DROP TABLE IF EXISTS {st2['catalog']}"
                            )
                            if lfs.exists(st2["location"]):
                                lfs.delete_recursive(st2["location"])
                    retired = True
                    continue
            loc = os.path.join(d, key)
            changed = _incremental_entries(st, tokens, pcol, n_buckets)
            if changed is not None and not changed:
                # control-plane-only churn (control files at the table
                # root, such as a stats manifest build, move the
                # whole-dir signature without any entry's data
                # changing): no rewrite, just re-record the signature so
                # resolution serves the copy again
                pass
            elif changed is not None:
                # PARTITION-INCREMENTAL refresh: at 100 TB a steady-state
                # lake appends/compacts a handful of recent slot_groups
                # per maintenance cycle — rewriting the whole copy would
                # make the layout cost proportional to the TABLE, this
                # keeps it proportional to the changed partitions.
                # Dynamic partition overwrite into the partitioned+
                # bucketed table preserves the bucket invariant (one
                # sorted file per (partition, bucket); join-correctness
                # and Exchange elision asserted in tests/test_layout.py).
                _resolve_catalog(spark, st)  # fresh session: re-register
                part_vals = [int(e.split("=", 1)[1]) for e in changed]
                delta = src.filter(F.col(pcol).isin(part_vals))
                ordered = [c for c in src.columns if c != pcol] + [pcol]
                saved = spark.conf.get(
                    "spark.sql.sources.partitionOverwriteMode", "static"
                )
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", "dynamic"
                )
                try:
                    (
                        delta.select(*ordered)
                        .repartition(n_buckets, *[F.col(c) for c in cols])
                        .write.mode("overwrite")
                        .insertInto(cat, overwrite=True)
                    )
                finally:
                    spark.conf.set(
                        "spark.sql.sources.partitionOverwriteMode", saved
                    )
            else:
                spark.sql(f"DROP TABLE IF EXISTS {cat}")
                writer = (
                    # one file per bucket (and per partition): bucketBy
                    # makes every writer task emit a file per bucket it
                    # holds, so hash-repartitioning on the key first
                    # keeps file counts = bucket counts and lets the
                    # stored per-bucket sort survive (elides the join's
                    # Sort as well as its Exchange)
                    src.repartition(n_buckets, *[src[c] for c in cols])
                    .write.mode("overwrite")
                )
                if pcol:
                    ordered = [c for c in src.columns if c != pcol] + [pcol]
                    writer = (
                        src.select(*ordered)
                        .repartition(n_buckets, *[F.col(c) for c in cols])
                        .write.mode("overwrite")
                        .partitionBy(pcol)
                    )
                (
                    writer.bucketBy(n_buckets, *cols)
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
                "schema_ddl": _schema_ddl(
                    src.select(
                        *([c for c in src.columns if c != pcol] + [pcol])
                    )
                    if pcol
                    else src
                ),
                "partition_col": pcol,
                "partition_tokens": tokens,
            }
            out[key] = cat
        _write_json(lfs, status_path, status)
    invalidate_layout_cache(d)
    return out


def refresh_layout(
    spark: SparkSession, source_dir: str
) -> dict[str, str] | None:
    """Maintenance hook: refresh stale copies IF a spec exists, else a
    cheap no-op (one existence probe).  ``compact_lake`` calls this so a
    spec'd lake's layout follows its data through the lifecycle."""
    lfs = LakeFs(spark, source_dir)
    if _find_layout_dir(lfs, source_dir) is None:
        return None
    return bucketize(spark, source_dir)


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
    cands = _layout_candidates(source_dir)
    if all(_LAYOUT_CACHE.get(c) is _NO_SPEC for c in cands):
        return None  # both candidates known-absent: no JVM traffic at all
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
        pcol = st.get("partition_col")
        part = f"PARTITIONED BY (`{pcol}`) " if pcol else ""
        try:
            spark.sql(
                f"CREATE TABLE {st['catalog']} ({st['schema_ddl']}) "
                f"USING PARQUET {part}CLUSTERED BY ({cols}) "
                f"SORTED BY ({cols}) "
                f"INTO {st['n_buckets']} BUCKETS LOCATION '{st['location']}'"
            )
            if pcol:
                # load the on-disk partitions into the fresh catalog —
                # without this the re-registered table reads empty
                spark.sql(f"MSCK REPAIR TABLE {st['catalog']}")
        except Exception:
            # two threads of one session racing the exists-check: losing
            # the CREATE race is fine as long as the table is now there
            if not spark.catalog.tableExists(st["catalog"]):
                raise
    return spark.table(st["catalog"])
