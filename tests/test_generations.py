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
    """ADVICE r10: a table stuck in the empty-mapping state (every swap
    vacuumed down to gen-less entries) must not accumulate pointer
    versions forever — vacuum reclaims all but the newest."""
    from cardano_analytics_duckdb_spark.lake.generations import _publish

    root = str(tmp_path / "emptylake")
    t = os.path.join(root, "tx")
    spark.createDataFrame(
        [(i, i * 40, 0) for i in range(4)],
        "tx_id long, slot long, slot_group long",
    ).write.partitionBy("slot_group").parquet(t)
    lfs = LakeFs(spark, t)
    for _ in range(3):  # three {} publishes
        _publish(lfs, t, {})
    pointers = [f for f in lfs.list_files(t) if "_generations.v" in f]
    assert len(pointers) == 3
    reclaimed = vacuum_superseded(spark, t)
    assert len(reclaimed) == 2, reclaimed  # the 2 old pointers
    remaining = [f for f in lfs.list_files(t) if "_generations.v" in f]
    assert len(remaining) == 1
    # the table still reads (plain path: mapping is {})
    assert read_table(spark, t).count() == 4


def test_publish_refuses_unpartitioned_table(spark, tmp_path):
    """ADVICE r10: a pointered read_table lists only the ``col=N``
    partition entries, so root-level parquet files would silently drop
    out of every read once a pointer exists — publish fails loud
    instead."""
    from cardano_analytics_duckdb_spark.lake.generations import _publish

    t = str(tmp_path / "flat")
    spark.createDataFrame(
        [(1, 2)], "a long, b long"
    ).write.parquet(t)
    lfs = LakeFs(spark, t)
    with pytest.raises(ValueError, match="hive-partitioned"):
        _publish(lfs, t, {})


def test_maintenance_commits_write_only_pointer_files(spark, lake):
    """Each commit that compaction or rollback makes writes one control
    file, the table's next ``_generations.v*.json`` pointer, and no
    ``_snapshot.v*`` sidecar; vacuum then leaves exactly the newest
    pointer per table."""
    tx = os.path.join(lake, "tx")
    compact_lake(spark, lake, vacuum="defer")
    to_slot = int(read_table(spark, tx).approxQuantile("slot", [0.5], 0.0)[0])
    rollback_lake(spark, lake, to_slot, vacuum="defer")

    def named(td, prefix):
        return [n for n in os.listdir(td) if n.startswith(prefix)]

    touched = [
        td
        for t in sorted(os.listdir(lake))
        if not t.startswith(("_", "."))
        and named(td := os.path.join(lake, t), "_gen__")
    ]
    assert tx in touched
    assert len(named(tx, "_generations.v")) == 2  # compaction + rollback
    for td in touched:
        assert named(td, "_generations.v"), td
        assert not named(td, "_snapshot.v"), td
        vacuum_superseded(spark, td)
        assert len(named(td, "_generations.v")) == 1, td


def test_one_pointer_resolution_per_read(spark, tmp_path, monkeypatch):
    """A read resolves the table's pointer once and lists each directory
    it reads at most once: on a compacted lake whose ``asset`` holds one
    pointered and one unpointered slot_group, a manifest-pruned read
    makes 1 pointer read and 4 file listings (the table dir, the
    generation dir, the pointered entry's hive dir, the unpointered
    entry's dir), and ``read_table`` 1 and 3 (it reads the unpointered
    entry as a dir, unlisted)."""
    from cardano_analytics_duckdb_spark.lake import fsutil, generations
    from cardano_analytics_duckdb_spark.lake.manifest import (
        build_manifest,
        read_pruned_box_with_bound,
    )
    from cardano_analytics_duckdb_spark.operators.cardano import (
        TOKEN_NAME,
        TOKEN_POLICY,
    )

    root = str(tmp_path / "lake")
    ingest_blocks(spark, fixture_blocks(), root, batch_size=3)
    compact_lake(spark, root)
    asset = os.path.join(root, "asset")
    gens = current_generations(LakeFs(spark, asset), asset)
    hive = sorted(d for d in os.listdir(asset) if d.startswith("slot_group="))
    assert len(hive) == 2 and len(gens) == 1 and next(iter(gens)) in hive
    build_manifest(spark, asset)
    want = read_table(spark, asset).filter(
        (F.col("policy_id") == TOKEN_POLICY) & (F.col("asset_name") == TOKEN_NAME)
    ).count()

    calls = {"current_generations": 0, "list_files": 0}

    def counted(owner, name):
        real = getattr(owner, name)

        def wrapper(*a, **k):
            calls[name] += 1
            return real(*a, **k)

        monkeypatch.setattr(owner, name, wrapper)

    counted(generations, "current_generations")
    counted(fsutil.LakeFs, "list_files")
    box = [
        ("policy_id", TOKEN_POLICY, TOKEN_POLICY),
        ("asset_name", TOKEN_NAME, TOKEN_NAME),
    ]
    df, _ = read_pruned_box_with_bound(spark, asset, box)
    assert calls == {"current_generations": 1, "list_files": 4}
    assert df.count() == want > 0
    calls.update(current_generations=0, list_files=0)
    read_table(spark, asset)
    assert calls == {"current_generations": 1, "list_files": 3}
