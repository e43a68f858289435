"""Reader-atomic maintenance swaps (r7 verdict item #6).

The old delete+rename partition swap had a window where a concurrent
reader silently saw a missing partition.  ``lake/generations.py`` replaces
it with hidden generation dirs committed by one atomic pointer flip;
superseded files stay in place until vacuum.  The gate test here: a
reader looping during compaction NEVER observes a partial row count.
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from cardano_analytics_duckdb_spark.lake.fixtures import fixture_blocks
from cardano_analytics_duckdb_spark.lake.fsutil import LakeFs
from cardano_analytics_duckdb_spark.lake.generations import (
    current_generations,
    read_table,
    superseded_paths,
    vacuum_superseded,
)
from cardano_analytics_duckdb_spark.streaming.ingest import (
    compact_lake,
    ingest_blocks,
    rollback_lake,
)


@pytest.fixture()
def lake(spark, tmp_path):
    dest = str(tmp_path / "lake")
    # batch_size=1 -> many files per partition, so compaction has work
    ingest_blocks(spark, fixture_blocks()[:8], dest, batch_size=1)
    return dest


def test_reader_never_sees_partial_counts_during_compaction(spark, lake):
    """THE gate: read in a loop while compaction swaps every fragmented
    partition; every observed count equals the table's true row count.
    vacuum="defer" keeps old files for in-flight readers; the pointer
    flip is the only mutation a reader can observe."""
    tx = os.path.join(lake, "tx")
    expected = spark.read.parquet(tx).count()
    counts: list[int] = []
    errors: list[Exception] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                counts.append(read_table(spark, tx).count())
            except Exception as e:  # noqa: BLE001 - recorded for assert
                errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        compact_lake(spark, lake, vacuum="defer")
        # a few guaranteed post-swap reads before stopping
        for _ in range(3):
            counts.append(read_table(spark, tx).count())
    finally:
        stop.set()
        t.join()
    assert not errors, f"reader errored during swap: {errors[:1]}"
    assert counts and set(counts) == {expected}
    # old files still present (defer), new state committed
    assert superseded_paths(LakeFs(spark, lake), tx)
    # vacuum reclaims; the count is unchanged
    vacuum_superseded(spark, tx)
    assert superseded_paths(LakeFs(spark, lake), tx) == []
    assert read_table(spark, tx).count() == expected


def test_rollback_swap_is_all_or_nothing(spark, lake):
    """Concurrent reads during a rollback observe exactly the before or
    the after total — never an intermediate mix of swapped and unswapped
    partitions (the table's swaps commit as ONE pointer flip)."""
    tx = os.path.join(lake, "tx")
    full = read_table(spark, tx)
    n_before = full.count()
    to_slot = int(
        full.approxQuantile("slot", [0.5], 0.0)[0]
    )
    n_after = full.filter(F.col("slot") <= to_slot).count()
    assert n_after < n_before
    counts: list[int] = []
    errors: list[Exception] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                counts.append(read_table(spark, tx).count())
            except Exception as e:  # noqa: BLE001
                errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        rollback_lake(spark, lake, to_slot, vacuum="defer")
        for _ in range(2):
            counts.append(read_table(spark, tx).count())
    finally:
        stop.set()
        t.join()
    assert not errors
    assert set(counts) <= {n_before, n_after}
    assert counts[-1] == n_after


def test_appends_after_swap_are_visible_without_vacuum(spark, lake):
    """Supersession is per-file: rows appended after a deferred-vacuum
    compaction are immediately visible to generation-resolving readers,
    and vacuuming later changes nothing."""
    tx = os.path.join(lake, "tx")
    n0 = spark.read.parquet(tx).count()
    compact_lake(spark, lake, vacuum="defer")
    more = fixture_blocks()[8:12]
    ingest_blocks(spark, more, lake, batch_size=1)
    n_more = sum(len(b["transactions"]) for b in more)
    assert read_table(spark, tx).count() == n0 + n_more
    vacuum_superseded(spark, tx)
    assert read_table(spark, tx).count() == n0 + n_more


def test_recompaction_merges_generation_and_appends(spark, lake):
    """Compacting again after post-swap appends folds the generation base
    AND the appended files into the next generation; values survive."""

    def canon(df):
        return sorted(
            (r["slot"], bytes(r["tx_id"]).hex(), r["tx_fee"])
            for r in df.select("slot", "tx_id", "tx_fee").collect()
        )

    tx = os.path.join(lake, "tx")
    compact_lake(spark, lake)
    ingest_blocks(spark, fixture_blocks()[8:12], lake, batch_size=1)
    expected = canon(read_table(spark, tx))
    compact_lake(spark, lake)
    assert canon(read_table(spark, tx)) == expected
    # fully reclaimed: every logical partition is one generation file
    lfs = LakeFs(spark, lake)
    gens = current_generations(lfs, tx)
    for entry, st in gens.items():
        assert st["superseded"] == []


def _canon_tx(df):
    return sorted(
        (r["slot"], bytes(r["tx_id"]).hex(), r["tx_fee"])
        for r in df.select("slot", "tx_id", "tx_fee").collect()
    )


def test_time_travel_reads_each_published_version(spark, lake):
    """read_table_at(v) reproduces the table exactly as version v
    published it: v1 = the first compaction's state, v2 = the
    recompaction folding later appends; both stay bit-stable after the
    head moves on, and the head always equals the newest version."""
    from cardano_analytics_duckdb_spark.lake.generations import (
        read_table_at,
        snapshot_versions,
    )

    tx = os.path.join(lake, "tx")
    # vacuum="defer" retains history — compact's default vacuum="end"
    # reclaims old snapshots immediately (retention == since last vacuum)
    compact_lake(spark, lake, vacuum="defer")  # publishes v1
    at_v1 = _canon_tx(read_table(spark, tx))
    ingest_blocks(spark, fixture_blocks()[8:12], lake, batch_size=1)
    compact_lake(spark, lake, vacuum="defer")  # publishes v2
    at_v2 = _canon_tx(read_table(spark, tx))
    assert at_v1 != at_v2  # the appends changed the table

    lfs = LakeFs(spark, lake)
    versions = snapshot_versions(lfs, tx)
    assert len(versions) >= 2
    assert _canon_tx(read_table_at(spark, tx, versions[0])) == at_v1
    assert _canon_tx(read_table_at(spark, tx, versions[-1])) == at_v2

    # external-reader symmetry: DuckDB over the explicit snapshot paths
    # sees the same row count as the Spark time-travel read
    import duckdb

    from cardano_analytics_duckdb_spark.lake.generations import data_paths_at

    paths = [p.removeprefix("file:") for p in data_paths_at(lfs, tx, versions[0])]
    n = duckdb.connect().execute(
        "SELECT count(*) FROM read_parquet($1)", [paths]
    ).fetchone()[0]
    assert n == len(at_v1)


def test_time_travel_across_rollback(spark, lake):
    """A rollback is just another published version: the pre-rollback
    snapshot stays readable (deferred vacuum) and returns the FULL
    pre-rollback data, while the head reads the rolled-back table."""
    from cardano_analytics_duckdb_spark.lake.generations import (
        read_table_at,
        snapshot_versions,
    )

    tx = os.path.join(lake, "tx")
    compact_lake(spark, lake, vacuum="defer")
    before = _canon_tx(read_table(spark, tx))
    full = read_table(spark, tx)
    to_slot = int(full.approxQuantile("slot", [0.5], 0.0)[0])
    lfs = LakeFs(spark, lake)
    v_before = snapshot_versions(lfs, tx)[-1]
    rollback_lake(spark, lake, to_slot, vacuum="defer")
    after = _canon_tx(read_table(spark, tx))
    assert len(after) < len(before)
    assert _canon_tx(read_table_at(spark, tx, v_before)) == before
    v_after = snapshot_versions(lfs, tx)[-1]
    assert v_after > v_before
    assert _canon_tx(read_table_at(spark, tx, v_after)) == after


def test_time_travel_fails_loud_after_vacuum(spark, lake):
    """Vacuum bounds the retention window: old versions' snapshots are
    reclaimed with their files, a reclaimed version read raises naming
    vacuum, and the NEWEST version survives vacuum readable (its file
    set is the current data)."""
    import pytest as _pytest

    from cardano_analytics_duckdb_spark.lake.generations import (
        read_table_at,
        snapshot_versions,
    )

    tx = os.path.join(lake, "tx")
    compact_lake(spark, lake, vacuum="defer")
    ingest_blocks(spark, fixture_blocks()[8:12], lake, batch_size=1)
    compact_lake(spark, lake, vacuum="defer")
    lfs = LakeFs(spark, lake)
    v_old = snapshot_versions(lfs, tx)[0]
    vacuum_superseded(spark, tx)
    with _pytest.raises(ValueError, match="vacuum"):
        read_table_at(spark, tx, v_old)
    remaining = snapshot_versions(lfs, tx)
    assert v_old not in remaining
    assert remaining, "newest snapshot must survive vacuum"
    head = _canon_tx(read_table(spark, tx))
    assert _canon_tx(read_table_at(spark, tx, remaining[-1])) == head
    # unknown version: loud, lists what IS available
    with _pytest.raises(ValueError, match="available versions"):
        read_table_at(spark, tx, 9999)


def test_untouched_table_reads_plain(spark, lake):
    """No pointer file -> read_table is the plain parquet scan (same
    plan), so the 133 registered queries pay nothing for this layer."""
    tx = os.path.join(lake, "tx")
    plain = spark.read.parquet(tx)
    resolved = read_table(spark, tx)
    assert resolved.schema == plain.schema
    resolved_plan = resolved._jdf.queryExecution().optimizedPlan().toString()
    plain_plan = plain._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in resolved_plan
    # identical plan shape modulo expression ids
    import re

    strip = lambda s: re.sub(r"#\d+", "#", s)  # noqa: E731
    assert strip(resolved_plan) == strip(plain_plan)


def test_dropped_partition_with_empty_hive_dir_reads(spark, lake):
    """Regression: compact(vacuum="end") empties every hive dir, then a
    rollback that DROPS a gen-resident partition publishes
    ``{gen: None, superseded: []}`` while the empty hive dir remains.
    The reader must route that entry through the explicit-file listing
    (it contributes nothing), not hand a branch of only-empty dirs to
    parquet schema inference (UNABLE_TO_INFER_SCHEMA — the bug the
    r8 model walk hit)."""
    root = str(lake) + "_twogroups"
    tx = os.path.join(root, "tx")
    # several appends per partition so compaction rewrites both
    for i in range(3):
        spark.createDataFrame(
            [
                (i * 10 + j, s, (s // 100) * 100)
                for j, s in enumerate((10 + i, 40 + i, 120 + i, 150 + i))
            ],
            "tx_id long, slot long, slot_group long",
        ).write.mode("append").partitionBy("slot_group").parquet(tx)
    compact_lake(spark, root, vacuum="end", tables=["tx"])
    rows = read_table(spark, tx).select("slot", "slot_group").collect()
    groups = sorted({r.slot_group for r in rows})
    assert len(groups) >= 2
    to_slot = max(r.slot for r in rows if r.slot_group == groups[0])
    expected = sorted(r.slot for r in rows if r.slot <= to_slot)

    rollback_lake(spark, root, to_slot, vacuum="defer", tables=["tx"])
    lfs = LakeFs(spark, tx)
    gens = current_generations(lfs, tx)
    dropped = [e for e, st in gens.items() if st.get("gen") is None]
    assert dropped, "rollback must have fully dropped a partition"
    assert all(not gens[e]["superseded"] for e in dropped), (
        "gen-resident drop supersedes no hive files — the exact state"
    )
    # the crash state: empty hive dir alongside a mapping drop entry
    assert any(
        not lfs.list_files(os.path.join(tx, e)) for e in dropped
    )
    got = sorted(
        r.slot for r in read_table(spark, tx).select("slot").collect()
    )
    assert got == expected

    # vacuum drops the entries AND reclaims the empty dirs, so the
    # plain-dir fast path stays safe afterwards too
    vacuum_superseded(spark, tx)
    gens = current_generations(lfs, tx)
    assert all(st.get("gen") for st in gens.values())
    for e in dropped:
        assert not lfs.exists(os.path.join(tx, e))
    got = sorted(
        r.slot for r in read_table(spark, tx).select("slot").collect()
    )
    assert got == expected


def test_vacuum_restores_plain_scan_after_full_drop(spark, tmp_path):
    """A table whose every swap was a partition drop returns — after
    vacuum — to the EMPTY pointer mapping and the plain
    ``spark.read.parquet`` plan, so the generation layer's cost
    vanishes once nothing is generation-resident anymore."""
    import re

    root = str(tmp_path / "plainlake")
    t = os.path.join(root, "tx")
    spark.createDataFrame(
        [(i, i * 40, (i * 40 // 100) * 100) for i in range(10)],
        "tx_id long, slot long, slot_group long",
    ).write.partitionBy("slot_group").parquet(t)
    plain_rows = sorted(
        r.slot
        for r in spark.read.parquet(t).collect()
        if r.slot <= 90
    )

    # drops partitions >= 100 entirely; slot_group=0 has no row > 90,
    # so it is never pointered
    rollback_lake(spark, root, 90, vacuum="defer", tables=["tx"])
    lfs = LakeFs(spark, t)
    assert current_generations(lfs, t), "drop entries must exist"
    vacuum_superseded(spark, t)
    assert current_generations(lfs, t) == {}

    resolved = read_table(spark, t)
    assert sorted(r.slot for r in resolved.collect()) == plain_rows
    strip = lambda s: re.sub(r"#\d+", "#", s)  # noqa: E731
    resolved_plan = strip(
        resolved._jdf.queryExecution().optimizedPlan().toString()
    )
    plain_plan = strip(
        spark.read.parquet(t)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert resolved_plan == plain_plan


def test_next_generation_dir_rejects_non_integral_entries(spark, tmp_path):
    """ADVICE r8: the '=' -> '_' dir slug is non-injective on arbitrary
    strings (a=b_c vs a_b=c), and the maintenance scanners parse
    int(entry.split('=')[1]) — so generation management enforces the
    single-integral-partition contract at its one chokepoint."""
    from cardano_analytics_duckdb_spark.lake.fsutil import LakeFs
    from cardano_analytics_duckdb_spark.lake.generations import (
        next_generation_dir,
    )

    lfs = LakeFs(spark, str(tmp_path))
    ok = next_generation_dir(lfs, str(tmp_path), "slot_group=4000")
    assert ok.startswith("_gen__slot_group_4000__g")
    # negative partition values are integral too (pre-origin sentinel)
    next_generation_dir(lfs, str(tmp_path), "slot_group=-1")
    for bad in ("a=b_c", "a_b=c", "country=US", "a=1/b=2", "slot_group=", "x"):
        with pytest.raises(ValueError, match="single integral"):
            next_generation_dir(lfs, str(tmp_path), bad)


def test_vacuum_reclaims_control_files_of_empty_mapping(spark, tmp_path):
    """ADVICE r10: a table stuck in the empty-mapping state (e.g. a
    never-compacted table that savepoints keep republishing with {})
    must not accumulate pointer/snapshot versions forever — vacuum
    reclaims all but the newest pair."""
    from cardano_analytics_duckdb_spark.lake.generations import _publish

    root = str(tmp_path / "emptylake")
    t = os.path.join(root, "tx")
    spark.createDataFrame(
        [(i, i * 40, 0) for i in range(4)],
        "tx_id long, slot long, slot_group long",
    ).write.partitionBy("slot_group").parquet(t)
    lfs = LakeFs(spark, t)
    for _ in range(3):  # three {} republishes (savepoint pattern)
        _publish(lfs, t, {})
    control = [
        f
        for f in lfs.list_files(t)
        if "_generations.v" in f or "_snapshot.v" in f
    ]
    assert len(control) == 6
    reclaimed = vacuum_superseded(spark, t)
    assert len(reclaimed) == 4, reclaimed  # 2 old pointers + 2 sidecars
    remaining = [
        f
        for f in lfs.list_files(t)
        if "_generations.v" in f or "_snapshot.v" in f
    ]
    assert len(remaining) == 2
    # the table still reads (plain path: mapping is {})
    assert read_table(spark, t).count() == 4


def test_publish_refuses_unpartitioned_table(spark, tmp_path):
    """ADVICE r10: a pointer over root-level parquet files would snapshot
    as empty and make time travel claim 'holds no data files' — publish
    fails loud instead."""
    from cardano_analytics_duckdb_spark.lake.generations import _publish

    t = str(tmp_path / "flat")
    spark.createDataFrame(
        [(1, 2)], "a long, b long"
    ).write.parquet(t)
    lfs = LakeFs(spark, t)
    with pytest.raises(ValueError, match="hive-partitioned"):
        _publish(lfs, t, {})


def test_read_table_changes_between_savepoints(spark, lake):
    """Incremental read (r11): the rows appended between two published
    versions — exactly the delta, empty when nothing changed, loud when
    the window crosses a maintenance rewrite unless re-delivery is
    explicitly accepted."""
    from cardano_analytics_duckdb_spark.lake.generations import (
        read_table_changes,
        snapshot_versions,
    )
    from cardano_analytics_duckdb_spark.lake.savepoints import (
        create_savepoint,
    )

    tx = os.path.join(lake, "tx")
    lfs = LakeFs(spark, tx)
    create_savepoint(spark, lake)
    v1 = snapshot_versions(lfs, tx)[-1]
    n1 = read_table(spark, tx).count()

    ingest_blocks(spark, fixture_blocks()[8:12], lake, batch_size=1)
    create_savepoint(spark, lake)
    v2 = snapshot_versions(lfs, tx)[-1]
    n2 = read_table(spark, tx).count()

    delta = read_table_changes(spark, tx, v1, v2)
    assert delta.count() == n2 - n1 > 0
    assert delta.schema == read_table(spark, tx).schema
    # same-version diff: empty, schema intact, no error
    empty = read_table_changes(spark, tx, v1, v1)
    assert empty.count() == 0 and len(empty.schema) > 0
    with pytest.raises(ValueError, match="newer than"):
        read_table_changes(spark, tx, v2, v1)

    # a compaction between versions is a rewrite, not an append
    compact_lake(spark, lake, vacuum="defer")
    v3 = snapshot_versions(lfs, tx)[-1]
    with pytest.raises(ValueError, match="REWRITTEN"):
        read_table_changes(spark, tx, v2, v3)
    redelivered = read_table_changes(spark, tx, v2, v3, allow_rewrites=True)
    assert redelivered.count() == n2  # the swapped generation re-delivers


def test_read_table_changes_detects_deletions(spark, lake):
    """ADVICE r11 (medium): a rollback that fully drops a never-compacted
    partition publishes gen None -> None with the entry's files shrinking
    to [], and a later vacuum removes the entry from the snapshot — both
    are DELETIONS a file diff must refuse to certify as pure-append."""
    from cardano_analytics_duckdb_spark.lake.generations import (
        read_table_changes,
        snapshot_versions,
        table_history,
    )
    from cardano_analytics_duckdb_spark.lake.savepoints import (
        create_savepoint,
    )

    tx = os.path.join(lake, "tx")
    lfs = LakeFs(spark, tx)
    create_savepoint(spark, lake)
    v1 = snapshot_versions(lfs, tx)[-1]

    # Fully drop the (never-compacted) partition; defer vacuum so the
    # entry survives in the snapshot with a SHRUNKEN file set and no
    # generation swap (gen None -> None).
    rollback_lake(spark, lake, to_slot=0, vacuum="defer")
    v2 = snapshot_versions(lfs, tx)[-1]
    gens = current_generations(lfs, tx)
    assert any(
        st.get("gen") is None and st.get("superseded") for st in gens.values()
    )
    with pytest.raises(ValueError, match="REWRITTEN"):
        read_table_changes(spark, tx, v1, v2)
    # table_history flags the same window
    hist = {h["version"]: h for h in table_history(lfs, tx)}
    assert hist[v2]["rewritten_entries"]

    # vacuum reclaims the emptied entry from the snapshot entirely —
    # entry present in `before`, absent from `after` is also a deletion
    vacuum_superseded(spark, lake)
    v3 = snapshot_versions(lfs, tx)[-1]
    if v3 != v2:  # vacuum published a new snapshot without the entry
        with pytest.raises(ValueError, match="REWRITTEN"):
            read_table_changes(spark, tx, v1, v3)
        hist = {h["version"]: h for h in table_history(lfs, tx)}
        assert hist[v3]["rewritten_entries"]


def test_read_table_changes_detects_dropped_entry(spark, tmp_path):
    """Entry present at from_version, GONE at to_version (vacuum removed
    an emptied partition from the snapshot): refuse-loud, exercised
    against synthetic sidecars so it can't depend on vacuum's publish
    timing."""
    import json

    from cardano_analytics_duckdb_spark.lake.generations import (
        read_table_changes,
        table_history,
    )

    t = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 7)], "slot_group long, v long"
    ).write.partitionBy("slot_group").parquet(t)
    lfs = LakeFs(spark, t)
    part_file = lfs.list_files(os.path.join(t, "slot_group=1"))[0]
    name = part_file.rsplit("/", 1)[-1]
    lfs.write_text(
        os.path.join(t, "_snapshot.v000001.json"),
        json.dumps(
            {"entries": {"slot_group=1": {"gen": None, "files": [name]}}}
        ),
    )
    lfs.write_text(
        os.path.join(t, "_snapshot.v000002.json"),
        json.dumps({"entries": {}}),
    )
    with pytest.raises(ValueError, match="slot_group=1.*REWRITTEN"):
        read_table_changes(spark, t, 1, 2)
    hist = {h["version"]: h for h in table_history(lfs, t)}
    assert hist[2]["rewritten_entries"] == ["slot_group=1"]
