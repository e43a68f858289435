"""Lake-level savepoints: cross-table consistent time travel.

Per-table time travel (``generations.read_table_at``) pins ONE table's
pointer version, but maintenance jobs touch many tables and each table's
pointer flips independently — a set of per-table versions chosen after
the fact can straddle a compaction (table A captured pre-swap, table B
post-swap).  A savepoint closes that gap: taken UNDER THE MAINTENANCE
LOCK, it republishes every table's current mapping (which snapshots its
live file set — see ``generations._publish``) and records the resulting
versions in one ``_savepoint.vK.json`` at the lake root.  Because no
maintenance swap can run concurrently, the captured cut can never be a
torn multi-table rewrite.

What a savepoint does and does not promise:
- It IS a consistent view across maintenance operations (compaction,
  rollback): all-tables-before or all-tables-after, never mixed.
- It is NOT a global transaction over uncoordinated appends: an ingest
  batch landing while the savepoint walks the tables may be captured in
  one table and not another (appends never take the lock — by design,
  supersession is per-file).  Savepoint during an ingest quiet period,
  or after ``ingest_blocks`` returns, for batch-exact cuts.
- Retention: ``vacuum_superseded`` defaults to ``keep_savepoints=True``
  — snapshot versions a live savepoint pins keep their sidecar and
  every data path it references, so a savepoint taken for
  reproducibility survives maintenance until :func:`drop_savepoint`
  releases it.  With ``keep_savepoints=False`` vacuum reclaims
  unconditionally and reading the savepoint then fails LOUD for that
  table (never partial).

Scale posture: creating a savepoint is pure control-plane work — one
listing per partition entry per table (the same cost every publish
already pays) and one small JSON write; no data files move.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from .fsutil import LakeFs
from .generations import (
    _publish,
    current_data_paths,
    current_generations,
    read_table_at,
    snapshot_versions,
)
from .lock import maintenance_lock

_SAVEPOINT_RE = re.compile(r"^_savepoint\.v(\d+)\.json$")


def _lake_tables(lfs: LakeFs, root: str) -> list[str]:
    """Data-table dirs under the lake root (control dirs excluded)."""
    return sorted(
        d
        for d in lfs.list_dirs(root)
        if not d.startswith(("_", ".")) and "=" not in d
    )


def savepoint_versions(lfs: LakeFs, root: str) -> list[int]:
    out = []
    for f in lfs.list_files(root):
        m = _SAVEPOINT_RE.match(f.rsplit("/", 1)[-1])
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def create_savepoint(
    spark: SparkSession, root: str, tables: list[str] | None = None
) -> int:
    """Capture a cross-table consistent savepoint; returns its id.

    Holds the maintenance lock for the duration: it REFUSES (raises
    RuntimeError, like every maintenance job — the lock is non-blocking
    in both directions) while a compaction or rollback runs, and a
    maintenance job starting mid-capture refuses likewise.  The id is
    allocated UNDER the lock, so two racing creators can never mint the
    same id and silently overwrite each other's cut."""
    lfs = LakeFs(spark, root)
    names = tables or _lake_tables(lfs, root)
    if not names:
        raise ValueError(f"no tables under lake root {root}")
    with maintenance_lock(spark, root, owner="create_savepoint"):
        sp = (savepoint_versions(lfs, root) or [0])[-1] + 1
        versions: dict[str, int] = {}
        for t in names:
            table_dir = os.path.join(root, t)
            if not current_data_paths(lfs, table_dir):
                # An EMPTY table (e.g. no datum-bearing blocks ingested
                # yet) has no schema to pin — the live read_table raises
                # on it too (fail-loud empty-table contract), so the
                # savepoint omits it rather than recording an unreadable
                # member.
                continue
            # Republish the CURRENT mapping unchanged: the publish itself
            # writes the snapshot sidecar that pins the table's live file
            # set.  A never-pointered table publishes the empty mapping —
            # current readers keep the plain-parquet fast path (empty
            # mapping reads plain), and the sidecar still records every
            # live file for the savepoint.
            _publish(lfs, table_dir, current_generations(lfs, table_dir))
            versions[t] = snapshot_versions(lfs, table_dir)[-1]
        lfs.write_text(
            os.path.join(root, f"_savepoint.v{sp:06d}.json"),
            json.dumps({"tables": versions}, sort_keys=True),
        )
    return sp


def savepoint_info(lfs: LakeFs, root: str, savepoint: int) -> dict[str, int]:
    """{table -> pinned snapshot version} of ``savepoint``; loud when
    unknown."""
    have = savepoint_versions(lfs, root)
    if savepoint not in have:
        raise ValueError(
            f"no savepoint v{savepoint} under {root}: available are "
            f"{have or 'none'}"
        )
    return json.loads(
        lfs.read_text(os.path.join(root, f"_savepoint.v{savepoint:06d}.json"))
    )["tables"]


def drop_savepoint(spark: SparkSession, root: str, savepoint: int) -> None:
    """Release a savepoint's retention pin.  The savepoint file is
    deleted; the NEXT ``vacuum_superseded`` on each member table reclaims
    whatever only this savepoint was keeping (dropping never deletes data
    itself — reclaim stays an explicit vacuum step).  Loud on unknown
    ids, same contract as :func:`savepoint_info`."""
    lfs = LakeFs(spark, root)
    savepoint_info(lfs, root, savepoint)  # loud when unknown
    lfs.delete(os.path.join(root, f"_savepoint.v{savepoint:06d}.json"))


def read_savepoint(
    spark: SparkSession, root: str, savepoint: int
) -> dict[str, DataFrame]:
    """{table -> DataFrame} of the lake exactly as the savepoint captured
    it.  Each table resolves through ``read_table_at``, so a version whose
    files vacuum reclaimed raises (naming the table's missing paths)
    rather than returning a partial lake."""
    lfs = LakeFs(spark, root)
    return {
        t: read_table_at(spark, os.path.join(root, t), v)
        for t, v in savepoint_info(lfs, root, savepoint).items()
    }
