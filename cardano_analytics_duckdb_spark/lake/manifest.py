"""File-level min/max statistics manifest: data skipping on raw parquet.

Partition pruning (``partitionBy`` dirs) only helps on the partition key;
for every other selective column a 100 TB scan still opens every file.
Parquet footers already carry per-column min/max — this module hoists
them into a tiny queryable manifest (the Iceberg/Delta data-skipping
idea, rebuilt on plain parquet):

- :func:`build_manifest` — DISTRIBUTED footer-stat collection: the file
  list is parallelized and each task reads only footers (no data pages)
  via pyarrow, so building costs O(files) metadata reads, not a scan.
  Stats land in ``<table>/_manifest/`` ("_"-prefixed: invisible to Spark
  readers, same convention as the epoch control dirs).
- :func:`prune_files_box` — files whose per-column [min, max] intervals
  can intersect EVERY ``(column, lo, hi)`` predicate of a box.
  CORRECTNESS RULE: a file is skipped only when its stats PROVE no row
  can match — files missing from the manifest (appended after the
  build), columns with no stats, or all-null chunks on a bounded
  predicate are handled conservatively (kept, kept, skipped — SQL range
  predicates reject NULL).  A predicate with neither bound filters
  nothing and skips nothing; an empty box keeps every live file.
- :func:`read_pruned_box_with_bound` — the pruned scan: selected files
  via ``option("basePath", table)`` (partition columns survive), with
  the row-level filter still applied on top — file skipping is an
  optimization, never the filter itself — plus the kept files' row
  count bound.

On a generation-managed table the live files are the ones ONE read of
its pointer resolves (``generations.resolve_partitions``), and the pruned
scan reads them through ``generations.read_files`` — the module that
serves ``read_table`` — so the prune verdicts always describe the file
snapshot the scan opens.

Synergy with ``lake/zorder.py``: z-ordering clusters rows so per-file
min/max ranges are tight and disjoint — the manifest is what turns that
layout into skipped IO on non-partition columns.

Scheme support in the footer kernel: ``file:`` URIs open directly;
other schemes resolve through ``pyarrow.fs.FileSystem.from_uri``
(``s3a://`` is normalized to ``s3://``), so S3/GCS work wherever the
executors carry pyarrow's native filesystems; a scheme pyarrow cannot
open fails loudly as a task error — run the build where the data lives.

Staleness contract: the manifest is a snapshot.  Appends after a build
are READ (never wrongly skipped) but not pruned until the next
:func:`build_manifest`; rewrites that delete manifest-listed files leave
dangling entries, which :func:`prune_files_box` drops by re-listing
live files.  Rebuild after maintenance (compaction / z-order) for best
skipping.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .fsutil import LakeFs

MANIFEST_DIR = "_manifest"

_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("column", T.StringType()),
        T.StructField("null_count", T.LongType()),
        T.StructField("min_num", T.DoubleType()),
        T.StructField("max_num", T.DoubleType()),
        T.StructField("min_str", T.StringType()),
        T.StructField("max_str", T.StringType()),
        # BINARY column bounds, lowercase-hex encoded.  Hex maps each
        # byte to a fixed-width pair, so lexicographic order on the hex
        # strings EQUALS bytewise order on the raw values — prune
        # comparisons run as plain string comparisons.  Length-capped at
        # the kernel (64 bytes) so spec-permitted writer truncation of
        # long binary stats can never produce an unsafe max bound.
        T.StructField("min_bin", T.StringType()),
        T.StructField("max_bin", T.StringType()),
    ]
)


def _walk_files(lfs: LakeFs, root: str) -> list[str]:
    out: list[str] = []
    stack = [root]
    while stack:
        d = stack.pop()
        for f in lfs.list_files(d):
            name = f.rsplit("/", 1)[-1]
            if not name.startswith(("_", ".")) and name.endswith(".parquet"):
                out.append(f)
        for sub in lfs.list_dirs(d):
            if not sub.startswith(("_", ".")):
                stack.append(os.path.join(d, sub))
    return out


def _data_files(lfs: LakeFs, root: str) -> list[str]:
    """Full URIs of every CURRENT data file under ``root``.

    Plain table: recurse through partition dirs, skipping control
    dirs/files ("_"/"." prefixes) — the same visibility rule Hadoop
    readers apply.  Generation-managed table (``lake/generations.py``
    pointer present): the files of ONE pointer resolution — current
    generation files (hidden, so the plain walk would miss them) plus
    non-superseded hive files; superseded files are excluded so the
    manifest stats and prune verdicts always describe the same snapshot
    ``generations.read_table`` serves."""
    from .generations import resolve_partitions

    parts = resolve_partitions(lfs, root)
    if all(p.state is None for p in parts):
        return sorted(_walk_files(lfs, root))
    return sorted(f for p in parts for f in p.gen_files + p.live)


def _norm_uri(u: str) -> str:
    """Canonical form for prefix matching: Hadoop renders local paths as
    ``file:/tmp/x`` (Path.toString) but ``file:///tmp/x`` (URI.toString)
    — strip the file scheme and authority slashes so both compare equal.
    Non-file schemes render consistently on both paths and pass through."""
    if u.startswith("file:"):
        u = u[len("file:") :]
        while u.startswith("//"):
            u = u[1:]
    return u


def _relative(files: list[str], lfs: LakeFs, root: str) -> dict[str, str]:
    """{full URI -> path relative to the table root} so the manifest
    survives a table move/copy, and so pruned reads can tell hive files
    (``slot_group=N/...``) from hidden generation files (``_gen__...``)."""
    root_norm = _norm_uri(lfs.uri(root)).rstrip("/")
    out = {}
    for f in files:
        fn = _norm_uri(f)
        out[f] = (
            fn[len(root_norm) :].lstrip("/")
            if fn.startswith(root_norm + "/")
            else f
        )
    return out


def build_manifest(spark: SparkSession, table_dir: str) -> str:
    """Collect per-file, per-column footer stats for every top-level
    primitive column of ``table_dir`` into ``table_dir/_manifest``;
    returns the manifest path.

    The footer reads run in EXECUTOR tasks over the parallelized file
    list (``mapInPandas`` so a 100M-file table fans out instead of
    looping on the driver); each task opens only the ~KB footer.  Numeric
    (int/float/bool) and temporal stats land in ``min_num``/``max_num``
    (timestamps as POSIX seconds, dates as ordinal days); string stats in
    ``min_str``/``max_str``.

    Driver-side traffic is file NAMES only (the listing here, the
    per-file skip verdicts in :func:`prune_files_box`) — the same metadata
    cost class as Spark's own InMemoryFileIndex for the scan being
    replaced; stats bytes stay in executors and parquet.  For steady
    append workloads prefer :func:`update_manifest` (cost ∝ new files).
    """
    return _write_stats(spark, table_dir, mode="overwrite")


def update_manifest(spark: SparkSession, table_dir: str) -> int:
    """Incrementally extend the manifest: compute footer stats ONLY for
    live data files with no manifest entry and append them; returns how
    many files were added.  This is the steady-state maintenance path —
    an append-heavy lake pays O(delta) per refresh instead of
    :func:`build_manifest`'s O(files) rebuild.  Entries for deleted
    files are left in place (pruning drops them against the live
    listing); :func:`refresh_manifest` sheds them once they dominate.
    """
    lfs = LakeFs(spark, table_dir)
    mpath = os.path.join(table_dir, MANIFEST_DIR)
    if not lfs.exists(mpath):
        build_manifest(spark, table_dir)
        return len(_data_files(lfs, table_dir))
    existing = spark.read.parquet(mpath)
    if "min_bin" not in existing.columns:
        # pre-binary-stats manifest: appending the widened schema would
        # leave mixed footers (reads silently drop the new columns), so
        # migrate with a one-time full rebuild
        build_manifest(spark, table_dir)
        return len(_data_files(lfs, table_dir))
    covered = {
        r["file"] for r in existing.select("file").distinct().collect()
    }
    _write_stats(spark, table_dir, mode="append", skip_rel=covered)
    live = _relative(_data_files(lfs, table_dir), lfs, table_dir)
    return sum(1 for rel in live.values() if rel not in covered)


def refresh_manifest(spark: SparkSession, table_dir: str) -> int:
    """Post-rewrite manifest maintenance at O(delta): append entries for
    the rewrite's new files via :func:`update_manifest` (stale entries
    are harmless — pruning intersects verdicts with the live listing),
    and only pay :func:`build_manifest`'s O(files) rebuild when dead
    entries outnumber live ones (repeated rewrites would otherwise grow
    the manifest without bound).  Returns files added (or re-scanned, on
    the rebuild path)."""
    lfs = LakeFs(spark, table_dir)
    mpath = os.path.join(table_dir, MANIFEST_DIR)
    if not lfs.exists(mpath):
        build_manifest(spark, table_dir)
        return len(_data_files(lfs, table_dir))
    added = update_manifest(spark, table_dir)
    covered = {
        r["file"]
        for r in spark.read.parquet(mpath).select("file").distinct().collect()
    }
    live = set(_relative(_data_files(lfs, table_dir), lfs, table_dir).values())
    dead = len(covered - live)
    if dead > len(live):
        build_manifest(spark, table_dir)
        return len(live)
    return added


def _write_stats(
    spark: SparkSession,
    table_dir: str,
    mode: str,
    skip_rel: set[str] | None = None,
) -> str:
    lfs = LakeFs(spark, table_dir)
    files = _data_files(lfs, table_dir)
    rel = _relative(files, lfs, table_dir)
    rows = [
        (f, rel[f])
        for f in files
        if skip_rel is None or rel[f] not in skip_rel
    ]
    dest = os.path.join(table_dir, MANIFEST_DIR)
    if not rows:
        return dest

    def footer_stats(batches) -> Iterator:
        # Locally-defined kernel: shipped by value (driver harness runs
        # from a foreign cwd — module-level functions don't resolve).
        import datetime as _dt
        import decimal

        import pandas as pd
        import pyarrow.parquet as pq

        def open_file(uri: str):
            if uri.startswith("file:"):
                local = uri[len("file:") :]
                while local.startswith("//"):
                    local = local[1:]
                return pq.ParquetFile(local)
            if "://" in uri:
                from pyarrow import fs as pafs

                scheme_fix = uri.replace("s3a://", "s3://", 1)
                fs, path = pafs.FileSystem.from_uri(scheme_fix)
                return pq.ParquetFile(fs.open_input_file(path))
            return pq.ParquetFile(uri)

        def as_num(v):
            # Naive timestamps (parquet TIMESTAMP_NTZ) must NOT go through
            # datetime.timestamp(), which applies the executor's LOCAL
            # timezone — stats would skew by the UTC offset and differ
            # across executors; interpret naive values as UTC.
            import calendar

            if isinstance(v, bool):
                return float(v)
            if isinstance(v, (int, float)):
                return float(v)
            if isinstance(v, decimal.Decimal):
                return float(v)
            if isinstance(v, _dt.datetime):
                if v.tzinfo is None:
                    return (
                        float(calendar.timegm(v.timetuple()))
                        + v.microsecond / 1e6
                    )
                return v.timestamp()
            if isinstance(v, _dt.date):
                return float(v.toordinal())
            return None

        import pyarrow as _pa

        for pdf in batches:
            out: list[dict] = []
            for uri, relpath in zip(pdf["uri"], pdf["rel"]):
                pf = open_file(uri)
                md = pf.metadata
                n_rows = md.num_rows
                # Top-level BINARY columns (arrow schema is authoritative:
                # physical BYTE_ARRAY alone can't tell string from binary)
                bin_cols = {
                    fld.name
                    for fld in pf.schema_arrow
                    if _pa.types.is_binary(fld.type)
                    or _pa.types.is_large_binary(fld.type)
                    or _pa.types.is_fixed_size_binary(fld.type)
                }
                agg: dict[str, dict] = {}
                for rg in range(md.num_row_groups):
                    rg_rows = md.row_group(rg).num_rows
                    for ci in range(md.num_columns):
                        col = md.row_group(rg).column(ci)
                        name = col.path_in_schema
                        if "." in name:  # nested field — skip
                            continue
                        st = col.statistics
                        a = agg.setdefault(
                            name,
                            {
                                "null_count": 0,
                                "min_num": None,
                                "max_num": None,
                                "min_str": None,
                                "max_str": None,
                                "min_bin": None,
                                "max_bin": None,
                                "has_stats": True,
                            },
                        )
                        if st is None:
                            a["has_stats"] = False
                            continue
                        if not st.has_min_max:
                            # an ALL-NULL chunk legitimately has no min/max
                            # and stays trustworthy; any other reason means
                            # incomplete stats -> poison the entry
                            if st.null_count == rg_rows:
                                a["null_count"] += st.null_count
                            else:
                                a["has_stats"] = False
                            continue
                        a["null_count"] += st.null_count or 0
                        mn, mx = st.min, st.max
                        if name in bin_cols and isinstance(mn, bytes):
                            # 64-byte cap: parquet writers MAY truncate
                            # long byte-array stats (a truncated max is an
                            # UNSAFE upper bound); chain hashes/ids are
                            # 28-32 B, far under any writer's threshold
                            if len(mn) > 64 or len(mx) > 64:
                                a["has_stats"] = False
                                continue
                            hmn, hmx = mn.hex(), mx.hex()
                            a["min_bin"] = (
                                hmn
                                if a["min_bin"] is None
                                else min(a["min_bin"], hmn)
                            )
                            a["max_bin"] = (
                                hmx
                                if a["max_bin"] is None
                                else max(a["max_bin"], hmx)
                            )
                            continue
                        if isinstance(mn, bytes):
                            try:
                                mn = mn.decode("utf-8")
                                mx = mx.decode("utf-8")
                            except UnicodeDecodeError:
                                a["has_stats"] = False
                                continue
                        nmn, nmx = as_num(mn), as_num(mx)
                        if nmn is not None:
                            a["min_num"] = (
                                nmn
                                if a["min_num"] is None
                                else min(a["min_num"], nmn)
                            )
                            a["max_num"] = (
                                nmx
                                if a["max_num"] is None
                                else max(a["max_num"], nmx)
                            )
                        elif isinstance(mn, str):
                            a["min_str"] = (
                                mn
                                if a["min_str"] is None
                                else min(a["min_str"], mn)
                            )
                            a["max_str"] = (
                                mx
                                if a["max_str"] is None
                                else max(a["max_str"], mx)
                            )
                        else:
                            # min/max of a type this kernel can't order
                            # (time, interval, future types): NEVER leave
                            # the entry looking all-null — that would make
                            # pruning wrongly skip a populated file.
                            a["has_stats"] = False
                for name, a in agg.items():
                    if not a["has_stats"]:
                        # any stat-less chunk poisons the file's entry for
                        # that column — pruning must not trust partial info
                        a.update(
                            min_num=None,
                            max_num=None,
                            min_str=None,
                            max_str=None,
                            min_bin=None,
                            max_bin=None,
                            null_count=-1,
                        )
                    out.append(
                        {
                            "file": relpath,
                            "n_rows": n_rows,
                            "column": name,
                            "null_count": a["null_count"],
                            "min_num": a["min_num"],
                            "max_num": a["max_num"],
                            "min_str": a["min_str"],
                            "max_str": a["max_str"],
                            "min_bin": a["min_bin"],
                            "max_bin": a["max_bin"],
                        }
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "file",
                    "n_rows",
                    "column",
                    "null_count",
                    "min_num",
                    "max_num",
                    "min_str",
                    "max_str",
                    "min_bin",
                    "max_bin",
                ],
            )

    n_slices = max(1, min(len(rows), 64))
    files_df = spark.createDataFrame(
        rows, T.StructType(
            [
                T.StructField("uri", T.StringType()),
                T.StructField("rel", T.StringType()),
            ]
        )
    ).repartition(n_slices)
    manifest = files_df.mapInPandas(footer_stats, schema=_MANIFEST_SCHEMA)
    manifest.write.mode(mode).parquet(dest)
    return dest


#: Accepted bound types: numeric/temporal-as-number (float/int), string,
#: or raw bytes (binary columns — compared via the order-preserving hex
#: encoding the manifest stores).
Bound = float | int | str | bytes | None


def _sql_literal(v: Bound) -> str:
    """``v`` as Spark SQL literal text of the type ``F.lit(v)`` gives."""
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    if isinstance(v, float):
        return f"{v!r}D"  # an unsuffixed 1.5 would be a DECIMAL
    return str(v)


def box_predicate_sql(preds: list[tuple[str, Bound, Bound]]) -> str | None:
    """The box as ONE row predicate, ``col >= lo AND col <= hi`` per bound
    in order (None when no predicate has a bound): one parse instead of a
    chain of ``filter(F.col(c) >= F.lit(v))`` calls, which Catalyst merges
    into an equivalent condition."""
    terms = []
    for column, lo, hi in preds:
        if lo is not None:
            terms.append(f"{column} >= {_sql_literal(lo)}")
        if hi is not None:
            terms.append(f"{column} <= {_sql_literal(hi)}")
    return " AND ".join(terms) or None


def _bound_cols(lo, hi) -> tuple[str, str]:
    """(min_col, max_col) of the manifest stat pair a bound type prunes
    against; both bounds must agree in kind."""
    probe = lo if lo is not None else hi
    if isinstance(probe, (bytes, bytearray)):
        return "min_bin", "max_bin"
    if isinstance(probe, str):
        return "min_str", "max_str"
    return "min_num", "max_num"


def _bound_py(v):
    """A bound as the Python value the manifest's stored encoding
    compares against: bytes -> lowercase hex (order-preserving, matches
    ``min_bin``/``max_bin``), numerics -> float (``min_num``/``max_num``
    are DOUBLE), strings as-is."""
    if v is None:
        return None
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, str):
        return v
    return float(v)


# Driver-side manifest snapshots, keyed per table by the manifest dir's
# content signature: the stats are read (one tiny Spark job) ONCE per
# manifest VERSION instead of once per predicate per query execution —
# prune verdicts then evaluate in plain Python over the cached rows.
# Bounded by the manifest's own size (one row per file per indexed
# column — the same volume the per-query ``collect`` already shipped to
# the driver); a manifest rewrite (build/update/compaction refresh)
# changes the signature and evicts the stale snapshot.
_SNAPSHOT_CACHE: dict[str, tuple] = {}


def _manifest_snapshot(spark: SparkSession, lfs: LakeFs, table_dir: str):
    """{"columns": set, "by_col": {column: [row dicts]}} of the table's
    manifest, or None when no manifest exists."""
    mpath = os.path.join(table_dir, MANIFEST_DIR)
    sig = lfs.content_signature(mpath)
    if not sig:
        return None
    key = lfs.uri(table_dir)
    hit = _SNAPSHOT_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    df = spark.read.parquet(mpath)
    by_col: dict[str, list[dict]] = {}
    for r in df.collect():
        row = r.asDict()
        by_col.setdefault(row["column"], []).append(row)
    snap = {"columns": set(df.columns), "by_col": by_col}
    _SNAPSHOT_CACHE[key] = (sig, snap)
    return snap


def prune_files_box(
    spark: SparkSession,
    table_dir: str,
    preds: list[tuple[str, Bound, Bound]],
) -> list[str]:
    """Full URIs of the data files that may contain rows satisfying EVERY
    ``lo <= column <= hi`` predicate (each bound optional) — the read
    shape z-order layouts exist for: each clustered dimension contributes
    its own skips and the box keeps only files tight in all of them.

    Bounds may be numeric (numeric/temporal columns), ``str`` (string
    columns), or ``bytes`` (binary columns — equality is the common case:
    pass ``lo=hi=value``).  Binary/string comparisons run on the
    manifest's order-preserving encodings, so skipping stays a plain
    column comparison.

    Skip only on proof: a file is skipped iff, for ANY predicate with a
    bound, its [min, max] for that column lies entirely outside [lo, hi]
    or the column is all-null there (range predicates reject NULL).
    Files with no manifest entry (post-build appends) and files whose
    stats are incomplete (null_count = -1 sentinel) are always kept;
    manifest entries whose file no longer exists are dropped.  A pre-r9
    manifest (no ``min_bin`` columns) skips nothing on bytes bounds.
    One pass: the live files are listed once and the manifest snapshot
    read once, however many predicates the box has."""
    lfs = LakeFs(spark, table_dir)
    live = _data_files(lfs, table_dir)
    bounded = any(lo is not None or hi is not None for _, lo, hi in preds)
    snap = _manifest_snapshot(spark, lfs, table_dir) if bounded else None
    return list(_kept(_relative(live, lfs, table_dir), snap, preds))


def _kept(
    rel: dict[str, str], snap, preds: list[tuple[str, Bound, Bound]]
) -> dict[str, str]:
    """The entries of ``rel`` ({live file URI -> path relative to the
    table root}) whose files :func:`prune_files_box` keeps, given the
    manifest snapshot ``snap`` (None: keep all)."""
    if snap is None:
        return rel
    has_bin = "min_bin" in snap["columns"]
    skipped: set[str] = set()
    for column, lo, hi in preds:
        if lo is None and hi is None:
            continue
        min_col, max_col = _bound_cols(lo, hi)
        if min_col not in snap["columns"]:  # pre-binary manifest + bytes
            continue
        lo_v, hi_v = _bound_py(lo), _bound_py(hi)
        for row in snap["by_col"].get(column, ()):
            mn, mx = row.get(min_col), row.get(max_col)
            # provably-no-match: interval disjoint from [lo, hi] ...
            disjoint = mn is not None and (
                (lo_v is not None and mx is not None and mx < lo_v)
                or (hi_v is not None and mn > hi_v)
            )
            # ... or every value NULL (min/max absent, yet stats complete)
            nc = row.get("null_count")
            all_null = (
                row.get("min_num") is None
                and row.get("min_str") is None
                and (not has_bin or row.get("min_bin") is None)
                and nc is not None
                and nc >= 0
            )
            if disjoint or all_null:
                skipped.add(row["file"])
    return {f: r for f, r in rel.items() if r not in skipped}


def _read_files(
    spark: SparkSession, table_dir: str, rel: dict[str, str]
) -> DataFrame:
    """Read the surviving files ``rel`` ({file URI -> path relative to the
    table root}) through ``generations.read_files``: hive files form its
    hive branch, files under hidden generation dirs its generation
    branch.  A never-managed table has only the hive branch."""
    from .generations import read_files

    hidden = {f for f, r in rel.items() if r.startswith("_")}
    return read_files(
        spark, table_dir, sorted(rel.keys() - hidden), sorted(hidden)
    )


def read_pruned_box_with_bound(
    spark: SparkSession,
    table_dir: str,
    preds: list[tuple[str, Bound, Bound]],
    lfs: LakeFs | None = None,
) -> tuple[DataFrame, int | None]:
    """The box query itself over the files :func:`prune_files_box`
    keeps, predicates re-applied row-level — it equals ``full scan WHERE
    AND_i(lo_i <= col_i <= hi_i)`` — plus the UPPER BOUND on the
    surviving rows, from the SAME prune pass (sum of the kept files'
    manifest ``n_rows``; None when a kept file has no entry or no
    manifest exists).  One file listing serves both — callers gating a
    broadcast on the bound (operators/cardano.py flagship, r11 verdict
    #2) pay zero traffic beyond the read they were already doing; a
    second listing pass measured ~1.1 s/run at the 2M-tx probe lake (the
    first flagship_gate_ab_10000x recording).  The control-plane work
    happens once: one filesystem handle (the caller's ``lfs`` for
    ``table_dir``, when it has one), one file listing, one manifest
    snapshot (its signature listed once) and one relativization."""
    lfs = lfs or LakeFs(spark, table_dir)
    live = _data_files(lfs, table_dir)
    snap = _manifest_snapshot(spark, lfs, table_dir)
    rel = _kept(_relative(live, lfs, table_dir), snap, preds)
    bound: int | None = None
    if snap is not None:
        n_rows: dict[str, int] = {}
        for rows in snap["by_col"].values():
            for r in rows:
                if r.get("n_rows") is not None:
                    n_rows[r["file"]] = r["n_rows"]
        total = 0
        for r in rel.values():
            nr = n_rows.get(r)
            if nr is None:
                total = None  # un-stat'd append: the bound would be a lie
                break
            total += nr
        bound = total
    if not rel:
        from .generations import read_table

        df = spark.createDataFrame([], read_table(spark, table_dir).schema)
    else:
        df = _read_files(spark, table_dir, rel)
    box = box_predicate_sql(preds)
    return (df.filter(box) if box else df), bound
