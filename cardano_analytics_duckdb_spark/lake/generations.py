"""Reader-atomic partition swaps via a generation pointer.

Plain-parquet maintenance (compaction, rollback) rewrites a
partition directory in place; the delete+rename swap is NOT atomic for
concurrent readers — a query racing the swap silently misses a partition.
This module adds the minimal transactional layer that fixes it, the same
shape Delta/Iceberg use for their commit:

- Rewrites land in HIDDEN generation directories
  (``_gen__slot_group_5000__g00001`` — the ``_`` prefix keeps raw Spark
  file indexes from ever seeing half-written data, and the ``=`` is
  stripped so partition discovery can't parse it as a column).
- A single pointer file (``_generations.v{N}.json``) records, per
  partition entry, the current generation dir AND the exact hive-dir
  files the swap superseded.  Publishing is one atomic create of a NEW
  versioned name — readers take the highest version, so there is no
  delete-then-replace window at all, and one flip commits ANY number of
  partition swaps atomically together.
- Superseded data stays at its original path until
  :func:`vacuum_superseded` — in-flight readers keep a consistent
  snapshot; vacuum is pure space reclaim (Delta's ``VACUUM`` contract),
  not a correctness step.
- APPENDS STAY SAFE with no coordination: supersession is per-FILE, and
  appended part files (always fresh names) are never in any superseded
  list, so generation-resolving readers see them immediately — before or
  after vacuum.

Readers resolve through :func:`read_table`: a table that has never been
generation-managed (no pointer file) takes the plain ``spark.read.parquet``
path — identical plan, one listing probe of overhead.  Once a pointer
exists, raw reads of the table dir are WRONG by construction (they see
superseded files and no generation dirs) — every reader in this package
resolves; external readers (DuckDB lists) get :func:`current_data_paths`.

Generation dir files carry their partition column IN THE DATA (the swap
writers inject it) — the dir name can't provide it, and it is what lets
the stats manifest (``lake/manifest.py``) prune generation files like any
others.

Replaces nothing in the reference (its maintenance is single-user
end-of-run, ogmios_parquet.py:523-571); this is the 100 TB posture where
readers, appenders, and maintenance overlap.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fsutil import LakeFs

_POINTER_RE = re.compile(r"^_generations\.v(\d+)\.json$")
_SNAPSHOT_RE = re.compile(r"^_snapshot\.v(\d+)\.json$")
_GEN_RE = re.compile(r"^_gen__(.+)__g(\d+)$")
# Lake-level savepoint files live at the TABLE'S PARENT (the lake root);
# vacuum reads them to honor pins without importing lake.savepoints
# (savepoints imports this module).
_SAVEPOINT_RE = re.compile(r"^_savepoint\.v(\d+)\.json$")


def _pointer_versions(lfs: LakeFs, table_dir: str) -> list[tuple[int, str]]:
    out = []
    for f in lfs.list_files(table_dir):
        name = f.rsplit("/", 1)[-1]
        m = _POINTER_RE.match(name)
        if m:
            out.append((int(m.group(1)), f))
    return sorted(out)


def current_generations(lfs: LakeFs, table_dir: str) -> dict[str, dict]:
    """{partition entry -> {"gen": dir name | None,
    "superseded": [hive file names...]}}; {} when the table has never
    been generation-managed (the plain-parquet fast path)."""
    versions = _pointer_versions(lfs, table_dir)
    if not versions:
        return {}
    return json.loads(lfs.read_text(versions[-1][1]))


def _publish(lfs: LakeFs, table_dir: str, mapping: dict[str, dict]) -> None:
    """Atomically publish ``mapping`` as the next pointer version.  The
    write goes to a NEW name (``write_text`` is tmp+rename underneath), so
    a reader resolving at any instant sees either the old or the new
    complete mapping — never a gap.

    Each publish also records a ``_snapshot.vN.json`` sidecar — the
    explicit set of data files a reader of version N resolves (live hive
    file names per entry + the entry's current generation dir), covering
    EVERY partition entry including never-pointered ones.  The pointer
    alone cannot reconstruct old versions (it names only superseded
    files, so appends landing after version N would be indistinguishable
    from files live AT N); the sidecar is what makes
    :func:`read_table_at` time travel exact.  Sidecar first, pointer
    second: a crash between the two leaves an orphan sidecar that the
    retried publish simply overwrites (same version number — pointer
    count is the source of truth).  A hive file appended concurrently
    with a publish may miss version N's sidecar and appear in N+1's:
    snapshot membership follows the publish order, matching the
    reader-visible commit order of the pointer itself."""
    root_parquet = [
        f for f in lfs.list_files(table_dir) if f.endswith(".parquet")
    ]
    if root_parquet:
        # An unpartitioned table (parquet directly under the table dir)
        # has no hive entries to snapshot — a pointer published over it
        # would make read_table_at claim "holds no data files" while the
        # live read serves data.  Refuse loudly rather than publish an
        # unreconstructible version.
        raise ValueError(
            f"generation management requires a hive-partitioned layout; "
            f"{table_dir} holds {len(root_parquet)} root-level parquet "
            f"file(s) (first: {root_parquet[0]})"
        )
    versions = _pointer_versions(lfs, table_dir)
    nxt = (versions[-1][0] + 1) if versions else 1
    live = {
        d
        for d in lfs.list_dirs(table_dir)
        if "=" in d and not d.startswith(("_", "."))
    }
    snap: dict[str, dict] = {}
    for entry in sorted(live | set(mapping)):
        st = mapping.get(entry) or {}
        superseded = set(st.get("superseded", []))
        names = sorted(
            f.rsplit("/", 1)[-1]
            for f in lfs.list_files(os.path.join(table_dir, entry))
            if f.endswith(".parquet")
            and f.rsplit("/", 1)[-1] not in superseded
        )
        snap[entry] = {"gen": st.get("gen"), "files": names}
    lfs.write_text(
        os.path.join(table_dir, f"_snapshot.v{nxt:06d}.json"),
        json.dumps({"entries": snap}, sort_keys=True),
    )
    lfs.write_text(
        os.path.join(table_dir, f"_generations.v{nxt:06d}.json"),
        json.dumps(mapping, sort_keys=True),
    )


def snapshot_versions(lfs: LakeFs, table_dir: str) -> list[int]:
    """Pointer versions whose snapshot sidecar exists — the time-travel
    targets :func:`read_table_at` accepts (older ones are reclaimed by
    vacuum, exactly like Delta's retention window)."""
    out = []
    for f in lfs.list_files(table_dir):
        m = _SNAPSHOT_RE.match(f.rsplit("/", 1)[-1])
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def partition_entries(lfs: LakeFs, table_dir: str) -> list[str]:
    """Logical partition entries: live hive dirs plus pointered entries
    (whose hive dir may already be vacuumed)."""
    gens = current_generations(lfs, table_dir)
    live = {
        d
        for d in lfs.list_dirs(table_dir)
        if "=" in d and not d.startswith(("_", "."))
    }
    return sorted(live | set(gens))


def live_partition_files(
    lfs: LakeFs, table_dir: str, entry: str, gens: dict | None = None
) -> list[str]:
    """Full URIs of the entry's hive-dir parquet files NOT superseded by
    the current pointer — i.e. appends since the last swap (or all files
    if never swapped)."""
    if gens is None:
        gens = current_generations(lfs, table_dir)
    superseded = set((gens.get(entry) or {}).get("superseded", []))
    return [
        f
        for f in lfs.list_files(os.path.join(table_dir, entry))
        if f.endswith(".parquet")
        and f.rsplit("/", 1)[-1] not in superseded
    ]


def generation_files(lfs: LakeFs, table_dir: str, gen: str) -> list[str]:
    """Full URIs of a generation dir's parquet files (Spark must be handed
    these explicitly — it ignores "_"-prefixed dirs even when named)."""
    return [
        f
        for f in lfs.list_files(os.path.join(table_dir, gen))
        if f.endswith(".parquet")
    ]


_ENTRY_RE = re.compile(r"^[A-Za-z0-9_]+=-?\d+$")


def next_generation_dir(lfs: LakeFs, table_dir: str, entry: str) -> str:
    """Name (not full path) of the generation dir the next swap of
    ``entry`` should write to.  Numbered past every existing dir for the
    entry (committed or abandoned) so a crashed swap's leftover is never
    written into again.

    Generation management supports SINGLE INTEGRAL partition columns only
    (``col=N`` entries, the lake's ``slot_group`` layout): the dir-name
    slug replaces "=" with "_", which is non-injective on arbitrary
    strings (``a=b_c`` and ``a_b=c`` would collide), and the maintenance
    scanners parse ``int(entry.split("=")[1])``.  Enforced here — the one
    chokepoint every swap passes through — rather than documented-only."""
    if not _ENTRY_RE.match(entry):
        raise ValueError(
            f"generation management supports only single integral "
            f"partition entries matching [A-Za-z0-9_]+=<int>; got "
            f"{entry!r} (string or multi-column partition layouts would "
            "collide in the '=' -> '_' dir slug)"
        )
    slug = entry.replace("=", "_")
    ks = [
        int(m.group(2))
        for d in lfs.list_dirs(table_dir)
        if (m := _GEN_RE.match(d)) and m.group(1) == slug
    ]
    return f"_gen__{slug}__g{(max(ks) + 1 if ks else 1):05d}"


def commit_swaps(
    lfs: LakeFs, table_dir: str, swaps: dict[str, dict]
) -> None:
    """Register ``{entry -> {"gen": new dir | None, "superseded": [...]}}``
    — ONE atomic pointer flip covering every entry in ``swaps`` (the
    maintenance job composes each entry's new state, including carrying
    forward not-yet-vacuumed supersede lists).  ``"gen": None`` drops the
    partition's base data (rollback past its first slot).  Old data is
    left in place for in-flight readers; reclaim with
    :func:`vacuum_superseded` whenever convenient."""
    gens = current_generations(lfs, table_dir)
    gens.update(swaps)
    _publish(lfs, table_dir, gens)


# Per-table read schemas, captured from the first (inferred) read and
# keyed by (table, branch kind).  Lake tables are schema-stable by
# contract (``lake/fixtures.py::_ARROW_SCHEMAS``; appends and
# maintenance never alter columns), so re-running footer inference on
# every execution is a pure fixed-cost Spark job — measured as 4 of
# the flagship's 9 jobs per execution (r10 verdict #4 job audit).
# With the cache, repeat reads pass the remembered schema and skip the
# job.  The branch kind matters: a hive read infers the partition
# column from DIR NAMES (int), a generation-file read carries it IN
# THE DATA (int64 — the swap writers inject it), and the union
# reconciles them — so each kind caches the schema its own inference
# produced.  ``invalidate_schema_cache`` exists for tooling that
# rewrites a table IN PLACE with different columns (nothing in this
# package does).
_SCHEMA_CACHE: dict[tuple[str, str], object] = {}


def invalidate_schema_cache(table_dir: str | None = None) -> None:
    for k in [
        k for k in _SCHEMA_CACHE if table_dir is None or k[0] == table_dir
    ]:
        del _SCHEMA_CACHE[k]


def reconcile_schema_cache(lfs, table_dirs) -> None:
    """Drop remembered schemas whose table dir no longer EXISTS — the
    delete-and-recreate hazard (tests, notebooks, re-bootstrapped lakes
    in one long-lived process): a dir deleted and later recreated with
    different columns would otherwise read through the stale schema,
    returning missing columns as all-null instead of failing.  Called by
    the ingest bootstrap (the only path in this package that CREATES
    table dirs) before its first write; one existence RPC per table per
    ingest run, and only for dirs that actually have a cache entry."""
    for td in table_dirs:
        if any(k[0] == td for k in _SCHEMA_CACHE) and not lfs.exists(td):
            invalidate_schema_cache(td)


def _schema_reader(spark: SparkSession, table_dir: str, kind: str):
    """DataFrameReader with the table's remembered ``kind``-branch schema
    applied; pair with :func:`_remember_schema` on the frame it built."""
    s = _SCHEMA_CACHE.get((table_dir, kind))
    return spark.read.schema(s) if s is not None else spark.read


def _remember_schema(table_dir: str, kind: str, df: DataFrame) -> DataFrame:
    _SCHEMA_CACHE.setdefault((table_dir, kind), df.schema)
    return df


def read_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """The generation-resolving read every consumer of a maintained lake
    table must use.  No pointer file -> plain ``spark.read.parquet``
    (identical plan).  With a pointer: per pointered entry, the current
    generation dir (partition column in the data) unions with the
    entry's NON-superseded hive files (appends since the swap, partition
    column from the path); unpointered entries read path-partitioned as
    usual.  Filters on the partition column still prune: pushed into
    each branch, the literal comparison constant-folds and empty
    branches collapse."""
    lfs = LakeFs(spark, table_dir)
    gens = current_generations(lfs, table_dir)
    if not gens:
        if (table_dir, "hive") in _SCHEMA_CACHE:
            # A provided schema skips footer inference — but it would
            # also read an EMPTIED dir as silently empty, so keep the
            # fail-loud contract with a listing probe (driver RPCs, no
            # Spark job).  Only a .parquet file INSIDE a partition dir
            # counts: an empty ``col=`` dir would read as silently empty
            # where the uncached path raises, and root-level parquet
            # (unpartitioned relayout) may not match the cached HIVE
            # schema — that case falls through to fresh inference below.
            has_part_data = any(
                f.endswith(".parquet")
                for d in lfs.list_dirs(table_dir)
                if "=" in d and not d.startswith(("_", "."))
                for f in lfs.list_files(os.path.join(table_dir, d))
            )
            if has_part_data:
                return _schema_reader(spark, table_dir, "hive").parquet(
                    table_dir
                )
            if not any(
                f.endswith(".parquet") for f in lfs.list_files(table_dir)
            ):
                raise ValueError(
                    f"table {table_dir} has no live data (every "
                    "partition dropped)"
                )
        try:
            return _remember_schema(
                table_dir, "hive", spark.read.parquet(table_dir)
            )
        except AnalysisException as e:
            # Same contract as the pointered branch below: an emptied
            # table (rollback to origin + vacuum, or a fresh dir holding
            # only control files) raises a DOMAIN error, not Spark's
            # schema-inference one.  Anything else re-raises untouched.
            if getattr(e, "getErrorClass", lambda: None)() == (
                "UNABLE_TO_INFER_SCHEMA"
            ):
                raise ValueError(
                    f"table {table_dir} has no live data (every "
                    "partition dropped)"
                ) from e
            raise
    live_dirs = {
        d
        for d in lfs.list_dirs(table_dir)
        if "=" in d and not d.startswith(("_", "."))
    }
    plain_dirs: list[str] = []
    explicit_files: list[str] = []
    gen_files: list[str] = []
    for entry in sorted(live_dirs | set(gens)):
        st = gens.get(entry)
        if st is None:
            # never pointered, or dropped by vacuum (which also reclaims
            # the hive dir when empty — so a plain dir here always has
            # data and reads without a per-entry listing)
            plain_dirs.append(os.path.join(table_dir, entry))
            continue
        # NOTE: a gen-less entry with an empty supersede list must STILL
        # go through the explicit-file listing — writers publishing a
        # partition drop with vacuum="end" leave exactly that state, and
        # the hive dir may be empty (schema inference dies on a branch
        # of only-empty dirs).  Only vacuum_superseded may promote an
        # entry back to the plain path, because only it removes the
        # empty dir first.
        if st.get("gen"):
            gen_files.extend(
                generation_files(lfs, table_dir, st["gen"])
            )
        explicit_files.extend(
            live_partition_files(lfs, table_dir, entry, gens)
        )
    branches = []
    hive_paths = plain_dirs + explicit_files
    if hive_paths:
        branches.append(
            _remember_schema(
                table_dir,
                "hive",
                _schema_reader(spark, table_dir, "hive")
                .option("basePath", table_dir)
                .parquet(*hive_paths),
            )
        )
    if gen_files:
        # Explicit FILE paths: Spark's file index ignores "_"-prefixed
        # directories even when named directly, but files handed to the
        # reader one by one bypass the hidden-path filter.
        branches.append(
            _remember_schema(
                table_dir,
                "gen",
                _schema_reader(spark, table_dir, "gen").parquet(*gen_files),
            )
        )
    if not branches:
        raise ValueError(
            f"table {table_dir} has no live data (every partition dropped)"
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def _resolve_snapshot(
    lfs: LakeFs, table_dir: str, version: int
) -> tuple[list[str], list[str]]:
    """(hive files, generation files) of snapshot ``version``; raises on
    an unknown version or any vacuum-reclaimed path (never partial)."""
    versions = snapshot_versions(lfs, table_dir)
    if version not in versions:
        have = versions if versions else "none (never published a pointer)"
        raise ValueError(
            f"no snapshot v{version} for {table_dir}: available versions "
            f"are {have} — older snapshots are reclaimed by "
            "vacuum_superseded"
        )
    snap = json.loads(
        lfs.read_text(
            os.path.join(table_dir, f"_snapshot.v{version:06d}.json")
        )
    )["entries"]
    explicit_files: list[str] = []
    gen_files: list[str] = []
    missing: list[str] = []
    for entry in sorted(snap):
        st = snap[entry]
        for name in st.get("files", []):
            p = os.path.join(table_dir, entry, name)
            if lfs.exists(p):
                explicit_files.append(p)
            else:
                missing.append(p)
        if st.get("gen"):
            gdir = os.path.join(table_dir, st["gen"])
            if lfs.exists(gdir):
                gen_files.extend(generation_files(lfs, table_dir, st["gen"]))
            else:
                missing.append(gdir)
    if missing:
        raise ValueError(
            f"snapshot v{version} of {table_dir} is no longer "
            f"reconstructible — vacuum_superseded reclaimed "
            f"{len(missing)} path(s), first: {missing[:3]}"
        )
    return explicit_files, gen_files


def read_table_at(
    spark: SparkSession, table_dir: str, version: int
) -> DataFrame:
    """Time travel: read the table exactly as pointer version ``version``
    published it (Delta-style ``VERSION AS OF``).  Resolves the version's
    snapshot sidecar to an explicit file set — live hive files read with
    ``basePath`` so the partition column comes from the path, generation
    files read by name (their partition column is in the data) — and
    fails LOUD, naming every missing path, when vacuum has reclaimed any
    of it: the retention window is "since the last vacuum", and a
    silently partial snapshot would be worse than no snapshot.

    Scale posture: resolving a version is pure control-plane work (one
    sidecar read + per-file existence probes, no data listing); the plan
    is the same explicit-file union ``read_table`` builds, so partition
    pruning and column pushdown behave identically."""
    lfs = LakeFs(spark, table_dir)
    explicit_files, gen_files = _resolve_snapshot(lfs, table_dir, version)
    branches = []
    if explicit_files:
        branches.append(
            _remember_schema(
                table_dir,
                "hive",
                _schema_reader(spark, table_dir, "hive")
                .option("basePath", table_dir)
                .parquet(*explicit_files),
            )
        )
    if gen_files:
        branches.append(
            _remember_schema(
                table_dir,
                "gen",
                _schema_reader(spark, table_dir, "gen").parquet(*gen_files),
            )
        )
    if not branches:
        raise ValueError(
            f"snapshot v{version} of {table_dir} holds no data files "
            "(every partition was dropped at that version)"
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def _snapshot_entries(
    lfs: LakeFs, table_dir: str, version: int
) -> dict[str, dict]:
    """Raw per-entry snapshot state ({entry: {"gen", "files"}}) of
    ``version``; loud on unknown versions like :func:`_resolve_snapshot`
    (but without existence probes — callers resolve reads themselves)."""
    versions = snapshot_versions(lfs, table_dir)
    if version not in versions:
        have = versions if versions else "none (never published a pointer)"
        raise ValueError(
            f"no snapshot v{version} for {table_dir}: available versions "
            f"are {have} — older snapshots are reclaimed by "
            "vacuum_superseded"
        )
    return json.loads(
        lfs.read_text(
            os.path.join(table_dir, f"_snapshot.v{version:06d}.json")
        )
    )["entries"]


def read_table_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int,
    allow_rewrites: bool = False,
) -> DataFrame:
    """Incremental read: the rows APPENDED between two published versions
    — the change-data-feed shape a downstream pipeline needs to process
    only what's new since its last run (dedup/curate/index the fresh
    documents, not the whole lake).  File-level diff of the two snapshot
    sidecars: per partition entry, hive files present at ``to_version``
    but not at ``from_version``.

    Maintenance rewrites are NOT appends: an entry whose generation dir
    changed between the versions (compaction or rollback swapped it)
    carries rewritten old rows in new files, so a file diff would
    misreport them as new data.  Default is to refuse LOUD naming those
    entries (diff across a pure-append window, e.g. between savepoints
    taken around maintenance); ``allow_rewrites=True`` includes the new
    generation's files, documented as re-delivered rewrites — the same
    at-least-once contract Delta's CDF without commit-level changes
    gives.

    Scale posture: two sidecar reads and a set difference — pure
    control-plane; the returned plan is an explicit-file scan with the
    same pruning behavior as every other lake read.  Returns an EMPTY
    frame (correct schema) when nothing was appended."""
    lfs = LakeFs(spark, table_dir)
    if from_version > to_version:
        raise ValueError(
            f"from_version v{from_version} is newer than to_version "
            f"v{to_version}"
        )
    before = _snapshot_entries(lfs, table_dir, from_version)
    after = _snapshot_entries(lfs, table_dir, to_version)
    appended: list[str] = []
    gen_files: list[str] = []
    rewritten: list[str] = []
    for entry, st in after.items():
        old = before.get(entry, {})
        old_files = set(old.get("files", []))
        new_files = set(st.get("files", []))
        # A rewrite is ANY non-append change, not just a generation swap:
        # a rollback that drops hive files from a never-compacted entry
        # publishes gen None -> None with the file set SHRINKING — the
        # old-files-⊄-new-files test catches that, keeping the
        # refuse-loud contract for windows containing deletions.
        if st.get("gen") != old.get("gen") or not old_files <= new_files:
            rewritten.append(entry)
            if allow_rewrites and st.get("gen") != old.get("gen") and st.get(
                "gen"
            ):
                gdir = os.path.join(table_dir, st["gen"])
                if not lfs.exists(gdir):
                    raise ValueError(
                        f"changes v{from_version}->v{to_version} of "
                        f"{table_dir} are no longer reconstructible — "
                        f"vacuum reclaimed {gdir}"
                    )
                gen_files.extend(generation_files(lfs, table_dir, st["gen"]))
        new_names = new_files - old_files
        for name in sorted(new_names):
            p = os.path.join(table_dir, entry, name)
            if not lfs.exists(p):
                raise ValueError(
                    f"changes v{from_version}->v{to_version} of "
                    f"{table_dir} are no longer reconstructible — vacuum "
                    f"reclaimed {p}"
                )
            appended.append(p)
    # Entries present at from_version but GONE at to_version are
    # deletions (rollback dropping a whole never-compacted partition,
    # then vacuum removing the emptied entry from the snapshot) — a file
    # diff over ``after`` alone would silently certify such a window as
    # pure-append.  They carry no new files to deliver, so with
    # allow_rewrites they are accepted (and simply absent); without it
    # they refuse loud like any other rewrite.
    rewritten.extend(sorted(set(before) - set(after)))
    if rewritten and not allow_rewrites:
        raise ValueError(
            f"entries {sorted(rewritten)} were REWRITTEN between "
            f"v{from_version} and v{to_version} of {table_dir} (generation "
            "swap: compaction/rollback) — a file diff would "
            "re-deliver old rows as new.  Diff a pure-append window, or "
            "pass allow_rewrites=True to accept re-delivery."
        )
    branches = []
    if appended:
        branches.append(
            _schema_reader(spark, table_dir, "hive")
            .option("basePath", table_dir)
            .parquet(*appended)
        )
    if gen_files:
        branches.append(
            _schema_reader(spark, table_dir, "gen").parquet(*gen_files)
        )
    if not branches:
        # nothing appended: an empty frame with the table's schema keeps
        # downstream incremental jobs unconditional
        return read_table_at(spark, table_dir, to_version).limit(0)
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def table_history(lfs: LakeFs, table_dir: str) -> list[dict]:
    """Delta-style DESCRIBE HISTORY: one record per travel-able version —
    the snapshot version, its publish time (sidecar mtime via the JVM
    FileSystem, scheme-agnostic), partition-entry / file / generation
    counts, and what changed vs the previous surviving version (appended
    file count, rewritten entries).  Pure control-plane: sidecar reads
    only, no data listing."""
    out: list[dict] = []
    prev: dict[str, dict] | None = None
    for v in snapshot_versions(lfs, table_dir):
        entries = _snapshot_entries(lfs, table_dir, v)
        gens = {st["gen"] for st in entries.values() if st.get("gen")}
        sig = lfs.content_signature(
            os.path.join(table_dir, f"_snapshot.v{v:06d}.json")
        )
        rec: dict = {
            "version": v,
            "published_ms": sig[0][1] if sig else None,
            "entries": len(entries),
            "hive_files": sum(
                len(st.get("files", [])) for st in entries.values()
            ),
            "generations": len(gens),
        }
        if prev is not None:
            rec["appended_files"] = sum(
                len(
                    set(st.get("files", []))
                    - set(prev.get(e, {}).get("files", []))
                )
                for e, st in entries.items()
            )
            # Same non-append test as read_table_changes: gen swap, file
            # set shrink WITHOUT a swap (rollback on a never-compacted
            # entry), or the entry disappearing from the snapshot.
            rec["rewritten_entries"] = sorted(
                {
                    e
                    for e, st in entries.items()
                    if st.get("gen") != prev.get(e, {}).get("gen")
                    or not set(prev.get(e, {}).get("files", []))
                    <= set(st.get("files", []))
                }
                | (set(prev) - set(entries))
            )
        out.append(rec)
        prev = entries
    return out


def data_paths_at(lfs: LakeFs, table_dir: str, version: int) -> list[str]:
    """External-reader counterpart of :func:`read_table_at` (symmetric
    with :func:`current_data_paths`): the explicit parquet paths of
    snapshot ``version``, for DuckDB ``read_parquet([...])`` lists and
    ad-hoc tools.  Same loud contract — unknown version or a
    vacuum-reclaimed file raises instead of returning a partial list."""
    explicit_files, gen_files = _resolve_snapshot(lfs, table_dir, version)
    return sorted(explicit_files + gen_files)


def current_data_paths(lfs: LakeFs, table_dir: str) -> list[str]:
    """Paths holding CURRENT data — whole hive dirs for unpointered
    entries, explicit non-superseded files plus the generation dir for
    pointered ones.  External readers (DuckDB ``read_parquet`` lists,
    ad-hoc tools) should use these instead of globbing the table root
    once a pointer exists."""
    gens = current_generations(lfs, table_dir)
    out: list[str] = []
    for entry in partition_entries(lfs, table_dir):
        st = gens.get(entry)
        if st is None:
            out.append(os.path.join(table_dir, entry))
            continue
        if st.get("gen"):
            out.append(os.path.join(table_dir, st["gen"]))
        out.extend(live_partition_files(lfs, table_dir, entry, gens))
    return sorted(out)


def pinned_snapshot_versions(lfs: LakeFs, table_dir: str) -> set[int]:
    """Snapshot versions of ``table_dir`` pinned by lake-level savepoints
    (``_savepoint.v*.json`` files at the table's parent dir).  Pure
    control-plane: one listing of the lake root + one tiny JSON read per
    savepoint."""
    norm = table_dir.rstrip("/")
    root, table = os.path.dirname(norm), os.path.basename(norm)
    if not root or not lfs.exists(root):
        return set()
    pinned: set[int] = set()
    for f in lfs.list_files(root):
        if _SAVEPOINT_RE.match(f.rsplit("/", 1)[-1]):
            v = json.loads(lfs.read_text(f)).get("tables", {}).get(table)
            if v is not None:
                pinned.add(int(v))
    return pinned


def _pinned_refs(
    lfs: LakeFs, table_dir: str, versions: set[int]
) -> tuple[set[tuple[str, str]], set[str]]:
    """({(entry, file name)}, {generation dir name}) referenced by the
    given snapshot versions — name-relative so they compare against
    listing results regardless of URI qualification.  Reads the raw
    sidecars (no existence probes): vacuum must not fail just because an
    old pin is already broken."""
    files: set[tuple[str, str]] = set()
    gen_dirs: set[str] = set()
    for v in versions:
        sidecar = os.path.join(table_dir, f"_snapshot.v{v:06d}.json")
        if not lfs.exists(sidecar):
            continue
        snap = json.loads(lfs.read_text(sidecar))["entries"]
        for entry, st in snap.items():
            for name in st.get("files", []):
                files.add((entry, name))
            if st.get("gen"):
                gen_dirs.add(st["gen"])
    return files, gen_dirs


def superseded_paths(
    lfs: LakeFs, table_dir: str, keep_versions: set[int] | None = None
) -> list[str]:
    """What vacuum would delete: superseded hive files, generation dirs
    other than the current one per entry, old pointer versions, and old
    snapshot sidecars.  Paths a ``keep_versions`` snapshot references are
    excluded (savepoint retention), as are those sidecars themselves; old
    pointer files always go (time travel resolves sidecars, never old
    pointers)."""
    pointer_versions = _pointer_versions(lfs, table_dir)
    if not pointer_versions:
        return []
    keep = keep_versions or set()
    keep_files, keep_gens = _pinned_refs(lfs, table_dir, keep)
    # gens may be the EMPTY mapping (e.g. a savepoint republish of a
    # never-compacted table): there is nothing data-side to reclaim, but
    # old pointer/sidecar versions still accumulate and are handled below.
    gens = current_generations(lfs, table_dir)
    stale: list[str] = []
    current = {st["gen"] for st in gens.values() if st.get("gen")}
    for d in lfs.list_dirs(table_dir):
        m = _GEN_RE.match(d)
        if m and d not in current and d not in keep_gens:
            stale.append(os.path.join(table_dir, d))
    for entry, st in gens.items():
        superseded = set(st.get("superseded", []))
        if not superseded:
            continue
        for f in lfs.list_files(os.path.join(table_dir, entry)):
            name = f.rsplit("/", 1)[-1]
            if name in superseded and (entry, name) not in keep_files:
                stale.append(f)
    for _, f in pointer_versions[:-1]:
        stale.append(f)
    # Snapshot sidecars older than the newest pointer reference the
    # superseded files above — reclaim them together so a time-travel
    # read can never resolve a half-deleted version.  The newest
    # version's sidecar stays: its file set IS the current data, which
    # vacuum keeps, so the latest snapshot remains readable after.
    # Pinned sidecars stay too — their file sets were excluded above.
    newest = pointer_versions[-1][0]
    for f in lfs.list_files(table_dir):
        m = _SNAPSHOT_RE.match(f.rsplit("/", 1)[-1])
        if m and int(m.group(1)) < newest and int(m.group(1)) not in keep:
            stale.append(f)
    return sorted(stale)


def unpublished_generation_dirs(lfs: LakeFs, table_dir: str) -> list[str]:
    """Generation dir names of a table that has NO pointer yet — what a
    swap leaves when it dies after writing its generation but before its
    first publish.  No committed state can reference them, and
    :func:`superseded_paths` returns nothing for an unpointered table, so
    ``lake/vacuum.py`` reclaims them.  (Once a pointer exists, every
    non-current generation dir is :func:`superseded_paths`' to reclaim.)"""
    if _pointer_versions(lfs, table_dir):
        return []
    return sorted(d for d in lfs.list_dirs(table_dir) if _GEN_RE.match(d))


def vacuum_superseded(
    spark: SparkSession, table_dir: str, keep_savepoints: bool = True
) -> list[str]:
    """Space reclaim (correctness never depends on it): delete superseded
    hive files, non-current generation dirs, and old pointer versions,
    then republish the pointer with supersede lists shrunk to what
    remains.  Run when no reader is mid-query over the OLD snapshot — the
    one residual non-transactional window, confined to an explicit step
    exactly like Delta's VACUUM.

    ``keep_savepoints`` (default) is Delta-style retention for lake-level
    savepoints: snapshot versions a live ``_savepoint.v*.json`` at the
    lake root pins keep their sidecar AND every data path the sidecar
    references, so ``read_savepoint`` stays fully readable across any
    number of vacuums.  ``savepoints.drop_savepoint`` releases the pin;
    ``keep_savepoints=False`` restores unconditional reclaim (reading a
    then-broken savepoint fails loud, never partial)."""
    lfs = LakeFs(spark, table_dir)
    pinned = (
        pinned_snapshot_versions(lfs, table_dir) if keep_savepoints else set()
    )
    stale = superseded_paths(lfs, table_dir, keep_versions=pinned)
    for p in stale:
        lfs.delete_recursive(p)
    gens = current_generations(lfs, table_dir)
    # A gen-less entry with its supersede list reclaimed is
    # indistinguishable from an unpointered partition (its hive dir — if
    # anything remains — IS the data), so drop it: readers stop paying
    # the per-entry listing, and a table whose every swap has been
    # vacuumed down to gen-less state publishes the EMPTY mapping and
    # returns to the fully plain ``spark.read.parquet`` path.
    # A superseded file a savepoint kept on disk MUST stay in the list —
    # dropping the name would resurrect it into the live read.
    cleaned = {}
    for e, st in gens.items():
        remaining = sorted(
            n
            for n in st.get("superseded", [])
            if lfs.exists(os.path.join(table_dir, e, n))
        )
        if st.get("gen") or remaining:
            cleaned[e] = {"gen": st.get("gen"), "superseded": remaining}
    # Before publishing the drop, reclaim each dropped entry's hive dir
    # if the file deletions above emptied it — otherwise readers of the
    # cleaned mapping would hand bare empty dirs to the parquet reader
    # (schema inference fails when every plain branch is empty).  The
    # NON-recursive delete is an atomic rmdir-if-empty: a racing
    # uncoordinated append that just landed a file makes it fail, and a
    # failed delete is correct (the dir has live data and reads plain).
    for entry in gens.keys() - cleaned.keys():
        d = os.path.join(table_dir, entry)
        if not lfs.list_files(d) and not lfs.list_dirs(d):
            try:
                lfs.delete(d)
            except Exception:
                pass
    if cleaned != gens:
        _publish(lfs, table_dir, cleaned)
        # the pre-clean version is now itself superseded; readers resolve
        # the newest, so dropping it immediately is safe — and its
        # snapshot sidecar goes with it (retention is "since the last
        # vacuum", except versions a live savepoint pins)
        newest = _pointer_versions(lfs, table_dir)[-1][0]
        for _, f in _pointer_versions(lfs, table_dir)[:-1]:
            lfs.delete(f)
            stale.append(f)
        for f in lfs.list_files(table_dir):
            m = _SNAPSHOT_RE.match(f.rsplit("/", 1)[-1])
            if m and int(m.group(1)) < newest and int(m.group(1)) not in pinned:
                lfs.delete(f)
                stale.append(f)
    return stale
