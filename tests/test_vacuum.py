"""Orphan report + cleanup (lake/vacuum.py): crash leftovers are found,
removal runs under the maintenance lock, committed data is untouched."""

from __future__ import annotations

import os

import pytest

from cardano_analytics_duckdb_spark.lake.fixtures import fixture_blocks
from cardano_analytics_duckdb_spark.lake.lock import LOCK_NAME, maintenance_lock
from cardano_analytics_duckdb_spark.lake.vacuum import find_orphans, vacuum_lake
from cardano_analytics_duckdb_spark.streaming.ingest import ingest_blocks


_ORPHAN = "tx/_gen__slot_group_0__g00001"


def _plant_orphans(dest):
    """What a compaction leaves when it dies after writing its first
    generation dir but before publishing the table's pointer."""
    gen = os.path.join(dest, _ORPHAN)
    os.makedirs(gen)
    # junk part-file: must be INVISIBLE to table reads (the "_" prefix)
    open(os.path.join(gen, "part-0.parquet"), "w").write("junk")
    return [_ORPHAN]


def test_vacuum_reports_and_removes_orphans(spark, tmp_path):
    dest = str(tmp_path / "lake")
    ingest_blocks(spark, fixture_blocks()[:3], dest, batch_size=3)
    exp_dirs = _plant_orphans(dest)

    report = find_orphans(spark, dest)
    assert report == {"tmp_dirs": exp_dirs}
    # find_orphans is read-only
    assert os.path.isdir(os.path.join(dest, _ORPHAN))

    # the planted junk parquet must NOT poison table reads: "_"-prefixed
    # generation dirs are invisible to Hadoop readers (this is why the
    # rewrite jobs name them that way)
    n_tx = spark.read.parquet(os.path.join(dest, "tx")).count()
    removed = vacuum_lake(spark, dest)
    # vacuum additionally reclaims superseded generation data (none here —
    # this lake was never compacted/rolled back through generations)
    assert removed == {**report, "superseded": []}
    assert find_orphans(spark, dest) == {"tmp_dirs": []}
    assert not os.path.exists(os.path.join(dest, _ORPHAN))
    # committed data untouched, lock released
    assert spark.read.parquet(os.path.join(dest, "tx")).count() == n_tx
    assert not os.path.exists(os.path.join(dest, LOCK_NAME))


def test_published_generations_are_not_orphans(spark, tmp_path):
    """Once a table has a pointer, its generation dirs are committed state
    (or superseded data ``vacuum_superseded`` reclaims with savepoint
    retention) — never orphans."""
    from cardano_analytics_duckdb_spark.lake.generations import read_table
    from cardano_analytics_duckdb_spark.streaming.ingest import compact_lake

    dest = str(tmp_path / "lake")
    ingest_blocks(spark, fixture_blocks()[:6], dest, batch_size=2)
    compact_lake(spark, dest, tables=["tx"])
    assert any(d.startswith("_gen__") for d in os.listdir(f"{dest}/tx"))
    n_tx = read_table(spark, os.path.join(dest, "tx")).count()
    assert find_orphans(spark, dest) == {"tmp_dirs": []}
    assert vacuum_lake(spark, dest)["tmp_dirs"] == []
    assert read_table(spark, os.path.join(dest, "tx")).count() == n_tx


def test_vacuum_refuses_while_lock_held(spark, tmp_path):
    """A held lock means a live job's generation dir may be about to
    publish (or a crashed job awaits inspection) — vacuum must refuse,
    not delete."""
    dest = str(tmp_path / "lake")
    ingest_blocks(spark, fixture_blocks()[:3], dest, batch_size=3)
    _plant_orphans(dest)
    with maintenance_lock(spark, dest, owner="live-compact"):
        with pytest.raises(RuntimeError, match="live-compact"):
            vacuum_lake(spark, dest)
        # nothing was deleted
        assert os.path.isdir(os.path.join(dest, _ORPHAN))
