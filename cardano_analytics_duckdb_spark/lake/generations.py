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
  :func:`vacuum_superseded` — in-flight readers keep a consistent view;
  vacuum is pure space reclaim (Delta's ``VACUUM`` contract), not a
  correctness step.
- APPENDS STAY SAFE with no coordination: supersession is per-FILE, and
  appended part files (always fresh names) are never in any superseded
  list, so generation-resolving readers see them immediately — before or
  after vacuum.

Readers resolve through :func:`read_table`: a table that has never been
generation-managed (no pointer file) takes the plain ``spark.read.parquet``
path — identical plan, the table dir's two listings (pointer files,
partition dirs) of overhead.  Once a pointer exists, raw reads of the table dir are WRONG by construction (they see
superseded files and no generation dirs) — every reader in this package
resolves; external readers (DuckDB lists) take their files from
:func:`resolve_partitions`, the one place the pointer turns into files.

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
from dataclasses import dataclass
from functools import cached_property

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from .fsutil import LakeFs

_POINTER_RE = re.compile(r"^_generations\.v(\d+)\.json$")
_GEN_RE = re.compile(r"^_gen__(.+)__g(\d+)$")


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
    complete mapping — never a gap."""
    root_parquet = [
        f for f in lfs.list_files(table_dir) if f.endswith(".parquet")
    ]
    if root_parquet:
        # A pointered read_table lists only the ``col=N`` partition
        # entries (plus generation dirs), so parquet files directly under
        # the table dir would silently drop out of every read once a
        # pointer exists.  Refuse loudly instead.
        raise ValueError(
            f"generation management requires a hive-partitioned layout; "
            f"{table_dir} holds {len(root_parquet)} root-level parquet "
            f"file(s) (first: {root_parquet[0]})"
        )
    versions = _pointer_versions(lfs, table_dir)
    nxt = (versions[-1][0] + 1) if versions else 1
    lfs.write_text(
        os.path.join(table_dir, f"_generations.v{nxt:06d}.json"),
        json.dumps(mapping, sort_keys=True),
    )


def _parquet_files(lfs: LakeFs, d: str, skip=()) -> list[str]:
    """Full URIs of the parquet files directly under ``d`` whose names
    are not in ``skip``."""
    return [
        f
        for f in lfs.list_files(d)
        if f.endswith(".parquet") and f.rsplit("/", 1)[-1] not in skip
    ]


@dataclass
class PartitionFiles:
    """One logical partition entry of a table, as ONE pointer read
    (:func:`resolve_partitions`) left it.  ``state`` is the entry's
    pointer state, None when the entry was never pointered (its hive
    dir then holds exactly its data).  The file lists are listed on
    first use, so each reader pays only for the entries it opens."""

    lfs: LakeFs
    table_dir: str
    entry: str
    state: dict | None

    @property
    def superseded(self) -> list[str]:
        return (self.state or {}).get("superseded", [])

    @cached_property
    def gen_files(self) -> list[str]:
        """The current generation dir's files (Spark must be handed
        these explicitly — it ignores "_"-prefixed dirs even when
        named); [] when the entry has no generation."""
        gen = (self.state or {}).get("gen")
        if not gen:
            return []
        return _parquet_files(self.lfs, os.path.join(self.table_dir, gen))

    @cached_property
    def live(self) -> list[str]:
        """The hive dir's files the pointer has NOT superseded — appends
        since the last swap, or every file if never swapped."""
        return _parquet_files(
            self.lfs,
            os.path.join(self.table_dir, self.entry),
            set(self.superseded),
        )

    def swapped(self, gen: str | None) -> dict:
        """The entry's pointer state once generation dir ``gen`` (None:
        nothing) replaces all its current data: its live hive files join
        the supersede list.  ``live`` is the listing the rewrite read,
        not a fresh one, so a file appended after that read stays live."""
        return {
            "gen": gen,
            "superseded": self.superseded
            + [f.rsplit("/", 1)[-1] for f in self.live],
        }


def resolve_partitions(lfs: LakeFs, table_dir: str) -> list[PartitionFiles]:
    """Every logical partition entry of ``table_dir`` — live hive dirs
    plus pointered entries (whose hive dir may already be vacuumed) — in
    entry order, resolved against ONE read of the pointer.  This is the
    one place the pointer turns into files: ``read_table``, the stats
    manifest and the maintenance rewrites all read through it, and so
    should external readers (DuckDB ``read_parquet`` lists, ad-hoc
    tools) instead of globbing the table root once a pointer exists.
    No entry has a ``state`` when the table has never been
    generation-managed (or every swap was vacuumed down to the plain
    layout)."""
    gens = current_generations(lfs, table_dir)
    live = {
        d
        for d in lfs.list_dirs(table_dir)
        if "=" in d and not d.startswith(("_", "."))
    }
    return [
        PartitionFiles(lfs, table_dir, e, gens.get(e))
        for e in sorted(live | set(gens))
    ]


def partition_entries(lfs: LakeFs, table_dir: str) -> list[str]:
    """Logical partition entry names (:func:`resolve_partitions`)."""
    return [p.entry for p in resolve_partitions(lfs, table_dir)]


def live_partition_files(
    lfs: LakeFs, table_dir: str, entry: str, gens: dict | None = None
) -> list[str]:
    """:attr:`PartitionFiles.live` of ``entry`` under the pointer mapping
    ``gens`` (read afresh when not given)."""
    if gens is None:
        gens = current_generations(lfs, table_dir)
    return PartitionFiles(lfs, table_dir, entry, gens.get(entry)).live


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


def read_files(
    spark: SparkSession,
    table_dir: str,
    hive_paths: list[str],
    gen_files: list[str],
) -> DataFrame:
    """The union by name of a table's two branches, each read with the
    schema its kind remembers: ``hive_paths`` (hive dirs or files, with
    ``basePath`` so the partition column comes from the path) and
    ``gen_files`` (generation files, partition column in the data)."""
    branches = []
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
    parts = resolve_partitions(lfs, table_dir)
    if all(p.state is None for p in parts):
        if (table_dir, "hive") in _SCHEMA_CACHE:
            # A provided schema skips footer inference — but it would
            # also read an EMPTIED dir as silently empty, so keep the
            # fail-loud contract with a listing probe (driver RPCs, no
            # Spark job).  Only a .parquet file INSIDE a partition dir
            # counts: an empty ``col=`` dir would read as silently empty
            # where the uncached path raises, and root-level parquet
            # (unpartitioned relayout) may not match the cached HIVE
            # schema — that case falls through to fresh inference below.
            if any(p.live for p in parts):
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
    plain_dirs: list[str] = []
    explicit_files: list[str] = []
    gen_files: list[str] = []
    for p in parts:
        if p.state is None:
            # never pointered, or dropped by vacuum (which also reclaims
            # the hive dir when empty — so a plain dir here always has
            # data and reads without a per-entry listing)
            plain_dirs.append(os.path.join(table_dir, p.entry))
            continue
        # NOTE: a gen-less entry with an empty supersede list must STILL
        # go through the explicit-file listing — writers publishing a
        # partition drop with vacuum="end" leave exactly that state, and
        # the hive dir may be empty (schema inference dies on a branch
        # of only-empty dirs).  Only vacuum_superseded may promote an
        # entry back to the plain path, because only it removes the
        # empty dir first.
        gen_files.extend(p.gen_files)
        explicit_files.extend(p.live)
    return read_files(spark, table_dir, plain_dirs + explicit_files, gen_files)


def superseded_paths(lfs: LakeFs, table_dir: str) -> list[str]:
    """What vacuum would delete: superseded hive files, generation dirs
    other than the current one per entry, and old pointer versions."""
    pointer_versions = _pointer_versions(lfs, table_dir)
    if not pointer_versions:
        return []
    # gens may be the EMPTY mapping (every swap vacuumed down to gen-less
    # state): there is nothing data-side to reclaim, but old pointer
    # versions still accumulate and are handled below.
    gens = current_generations(lfs, table_dir)
    stale: list[str] = []
    current = {st["gen"] for st in gens.values() if st.get("gen")}
    for d in lfs.list_dirs(table_dir):
        if _GEN_RE.match(d) and d not in current:
            stale.append(os.path.join(table_dir, d))
    for entry, st in gens.items():
        superseded = set(st.get("superseded", []))
        if not superseded:
            continue
        for f in lfs.list_files(os.path.join(table_dir, entry)):
            if f.rsplit("/", 1)[-1] in superseded:
                stale.append(f)
    for _, f in pointer_versions[:-1]:
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


def vacuum_superseded(spark: SparkSession, table_dir: str) -> list[str]:
    """Space reclaim (correctness never depends on it): delete superseded
    hive files, non-current generation dirs, and old pointer versions,
    then republish the pointer with supersede lists shrunk to what
    remains.  Run when no reader is mid-query over the superseded files —
    the one residual non-transactional window, confined to an explicit
    step exactly like Delta's VACUUM."""
    lfs = LakeFs(spark, table_dir)
    stale = superseded_paths(lfs, table_dir)
    for p in stale:
        lfs.delete_recursive(p)
    gens = current_generations(lfs, table_dir)
    # A gen-less entry with its supersede list reclaimed is
    # indistinguishable from an unpointered partition (its hive dir — if
    # anything remains — IS the data), so drop it: readers stop paying
    # the per-entry listing, and a table whose every swap has been
    # vacuumed down to gen-less state publishes the EMPTY mapping and
    # returns to the fully plain ``spark.read.parquet`` path.
    # A superseded file still on disk (say, superseded by a swap that
    # published after the listing above) MUST stay in the list —
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
        # the newest, so dropping it immediately is safe
        for _, f in _pointer_versions(lfs, table_dir)[:-1]:
            lfs.delete(f)
            stale.append(f)
    return stale
