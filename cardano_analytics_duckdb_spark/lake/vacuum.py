"""Orphan inspection and cleanup after crashed maintenance jobs.

The maintenance lock (``lake/lock.py``) deliberately stays held when a
rewrite dies mid-flight.  Every rewrite job (compaction, rollback)
writes a hidden ``_gen__*`` generation dir, then publishes the
table's pointer (``lake/generations.py``).  A job that dies between the
two on a table with no pointer yet leaves a generation dir that nothing
references and that :func:`generations.superseded_paths` never lists.
The "_" prefix keeps Hadoop readers from scanning it (a visible orphan
with junk part files would fail every table read), but it still holds
disk.  This module is the "inspect then clean" half of that contract:
:func:`find_orphans` reports those dirs, and :func:`vacuum_lake` removes
them — under the maintenance lock, so it can never race a LIVE job whose
generation is about to be published, and never runs while a crashed
job's lock is still held un-inspected.

Orphans are safe to delete by construction: a table without a pointer
resolves through the plain hive layout, so no reader or committed state
points at any of its generation dirs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .fsutil import LakeFs
from .generations import unpublished_generation_dirs, vacuum_superseded
from .lock import maintenance_lock


def _table_dirs(lfs: LakeFs, root: str) -> list[str]:
    return [d for d in lfs.list_dirs(root) if not d.startswith(("_", "."))]


def find_orphans(spark: SparkSession, root: str) -> dict[str, list[str]]:
    """{"tmp_dirs": [...]} of crash leftovers under ``root`` (paths
    relative to the lake root).  Read-only."""
    lfs = LakeFs(spark, root)
    tmp_dirs = [
        f"{t}/{d}"
        for t in _table_dirs(lfs, root)
        for d in unpublished_generation_dirs(lfs, os.path.join(root, t))
    ]
    return {"tmp_dirs": sorted(tmp_dirs)}


def vacuum_lake(spark: SparkSession, root: str) -> dict[str, list[str]]:
    """Remove every orphan :func:`find_orphans` reports, plus superseded
    generation data left by deferred-vacuum maintenance swaps
    (``lake/generations.py``); returns what was removed.  Holds the
    maintenance lock for the scan AND the deletes — a held lock (live
    job, or crashed job not yet inspected) makes this refuse rather than
    delete a generation dir that is about to be published.  Like any
    generation vacuum, run when no reader is mid-query over the
    superseded files."""
    with maintenance_lock(spark, root, owner="vacuum_lake"):
        orphans = find_orphans(spark, root)
        lfs = LakeFs(spark, root)
        for d in orphans["tmp_dirs"]:
            lfs.delete_recursive(os.path.join(root, d))
        superseded: list[str] = []
        for t in _table_dirs(lfs, root):
            superseded.extend(
                vacuum_superseded(spark, os.path.join(root, t))
            )
        orphans["superseded"] = sorted(superseded)
    return orphans
