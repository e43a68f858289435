"""Enforced single-writer lock for lake maintenance windows.

``rollback_lake`` and ``compact_lake`` rewrite table partitions with a
generation swap (write a hidden ``_gen__*`` dir, then publish the
table's pointer — ``lake/generations.py``) that is only safe inside a
single-writer window (documented in their docstrings).  Documentation
alone does not stop a second operator — or a cron job racing a manual
run — from starting a second rewrite over the same lake, and two
concurrent swaps interleave into data loss.  This module upgrades the
documented assumption to an enforced one: every maintenance job takes an
exclusive lock file at the lake root before touching data.

Mechanism: ``FileSystem.create(path, overwrite=false)`` — an ATOMIC
create-if-absent on HDFS and local filesystems (the loser gets
``FileAlreadyExistsException``).  On S3A, object stores lack atomic
create-exclusive, so two writers racing within the probe window can both
acquire; the lock is still worth holding there (it stops every non-racing
overlap, which is the realistic failure) but the hard guarantee needs an
external coordinator — documented, not pretended.

Crash behavior: a job that dies mid-rewrite — killed OR by exception —
leaves the lock file behind, and every later acquisition fails with the
recorded owner and timestamp.  This is deliberate: a failed rewrite
leaves the lake in a state that needs a human look before the next
rewrite (e.g. an unpublished ``_gen__*`` dir after a failed swap), so
releasing on exception would hand the next cron run a half-rewritten
table it would then silently "fix" (an absent table dir reads as
nothing-to-compact).  The lock is released only when the job completes.
Break a confirmed-stale lock by deleting ``<root>/_maintenance.lock``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession

from .fsutil import LakeFs

LOCK_NAME = "_maintenance.lock"


def _lock_path(root: str) -> str:
    return os.path.join(root, LOCK_NAME)


@contextmanager
def maintenance_lock(spark: SparkSession, root: str, owner: str = "maintenance"):
    """Hold the lake's exclusive maintenance lock while the ``with`` block
    COMPLETES; raises ``RuntimeError`` (with the holder's recorded
    identity) if another job holds it.

    Released only on normal exit — a body that raises leaves the lock in
    place (see module docstring: a failed rewrite needs inspection, not a
    fresh writer), with the original exception propagating unchanged.
    """
    lfs = LakeFs(spark, root)
    lfs.mkdirs(root)
    path = _lock_path(root)
    payload = json.dumps(
        {"owner": owner, "pid": os.getpid(), "acquired_at": time.time()}
    )
    if not lfs.create_exclusive(path, payload):
        try:
            holder = lfs.read_text(path)
        except Exception:
            holder = "<unreadable>"
        raise RuntimeError(
            f"lake {root} is locked by another maintenance job: {holder}. "
            "If that job crashed, inspect the lake for partial rewrites "
            "(run lake.vacuum.find_orphans, or look for unpublished "
            f"'_gen__*' dirs), then delete {path} to break the lock."
        )
    yield
    lfs.delete(path)
