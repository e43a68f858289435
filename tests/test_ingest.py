"""Extraction parity: replaying fixture blocks through the ingestion
pipeline must reproduce the fixture lake tables exactly (same rows, same
values), and compaction must preserve them while reducing file count."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from cardano_analytics_duckdb_spark.lake.fixtures import (
    ensure_fixture_lake,
    fixture_blocks,
)
from cardano_analytics_duckdb_spark.streaming.ingest import (
    LAKE_TABLES,
    compact_lake,
    ingest_blocks,
)

from .probes import Jobs, session_state


def _canon_rows(df):
    def c(v):
        if isinstance(v, (bytes, bytearray)):
            return bytes(v).hex()
        if isinstance(v, list):
            return tuple(c(x) for x in v)
        if hasattr(v, "asDict"):
            return tuple((k, c(x)) for k, x in sorted(v.asDict().items()))
        return v

    cols = sorted(c for c in df.columns if c != "slot_group")
    rows = [tuple(c(r[col]) for col in cols) for r in df.collect()]
    return sorted(rows, key=lambda r: tuple(str(x) for x in r))


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("ingested_lake"))
    stats = ingest_blocks(
        spark, fixture_blocks(), dest, batch_size=25
    )
    return dest, stats


def test_ingest_stats(ingested):
    _, stats = ingested
    assert stats["transactions"] == 198
    assert stats["rollbacks"] == 0
    assert stats["batches"] >= 2  # actually micro-batched


def test_extraction_parity_all_tables(spark, ingested):
    dest, _ = ingested
    root = ensure_fixture_lake(spark)
    for t in LAKE_TABLES:
        expected = _canon_rows(spark.read.parquet(f"{root}/{t}"))
        actual = _canon_rows(spark.read.parquet(f"{dest}/{t}"))
        assert actual == expected, f"table {t} diverges after ingestion"


def test_ref_script_flag_derived_from_output_script(spark, ingested):
    # ogmios_parquet.py:278 derives has_ref_script from output.get('script');
    # the fixture carries exactly one reference-script output (tx 196).  Pin
    # a non-zero true count so the flag can't regress to constant-false on
    # both sides of the parity test at once.
    dest, _ = ingested
    trues = (
        spark.read.parquet(f"{dest}/utxo")
        .filter(F.col("has_ref_script"))
        .count()
    )
    assert trues == 1


def test_rollback_events_are_skipped(spark, tmp_path):
    dest = str(tmp_path / "lake_rb")
    blocks = fixture_blocks()[:3]
    blocks.insert(2, {"direction": "backward", "slot": 100_000})
    stats = ingest_blocks(spark, blocks, dest, batch_size=10)
    assert stats["rollbacks"] == 1
    assert stats["blocks"] == 3


def test_stop_slot_bounds_ingestion(spark, tmp_path):
    dest = str(tmp_path / "lake_stop")
    stats = ingest_blocks(
        spark, fixture_blocks(), dest, batch_size=500, stop_slot=150_000
    )
    max_slot = (
        spark.read.parquet(f"{dest}/tx").agg(F.max("slot")).first()[0]
    )
    assert max_slot <= 150_000
    assert stats["blocks"] < len(fixture_blocks())


def test_compaction_preserves_rows_and_merges_files(spark, ingested):
    from cardano_analytics_duckdb_spark.lake.fsutil import LakeFs
    from cardano_analytics_duckdb_spark.lake.generations import (
        partition_entries,
        read_table,
    )

    dest, _ = ingested
    before = _canon_rows(spark.read.parquet(f"{dest}/tx"))
    n_files_before = len(glob.glob(f"{dest}/tx/slot_group=*/*.parquet"))
    compact_lake(spark, dest)
    # Compacted data lives in generation dirs now — readers resolve the
    # pointer via read_table (a raw table-dir read no longer sees it).
    after = _canon_rows(read_table(spark, f"{dest}/tx"))
    n_files_after = len(glob.glob(f"{dest}/tx/_gen__*/*.parquet"))
    assert after == before
    lfs = LakeFs(spark, dest)
    n_groups = len(partition_entries(lfs, f"{dest}/tx"))
    assert n_files_after == n_groups  # exactly one file per partition
    assert n_files_after < n_files_before
    # default vacuum="end" reclaimed every superseded hive file
    assert glob.glob(f"{dest}/tx/slot_group=*/*.parquet") == []


def test_rollback_lake_reconciles(spark, tmp_path):
    """T6 upgrade: rollback drops exactly the rows past the rollback point,
    leaving earlier partitions untouched."""
    from cardano_analytics_duckdb_spark.streaming.ingest import rollback_lake

    dest = str(tmp_path / "lake_rollback")
    ingest_blocks(spark, fixture_blocks(), dest, batch_size=500)
    tx = spark.read.parquet(f"{dest}/tx")
    to_slot = 150_000
    expect_keep = tx.filter(F.col("slot") <= to_slot).count()
    expect_drop = tx.count() - expect_keep
    # every table's rows past the rollback point, counted directly: the
    # rollback counts each table in its own aggregate
    expect_dropped = {
        t: n
        for t in LAKE_TABLES
        if os.path.isdir(f"{dest}/{t}")
        and (
            n := spark.read.parquet(f"{dest}/{t}")
            .filter(F.col("slot") > to_slot)
            .count()
        )
    }
    assert len(expect_dropped) > 1
    dropped = rollback_lake(spark, dest, to_slot)
    assert dropped["tx"] == expect_drop
    assert dropped == expect_dropped
    from cardano_analytics_duckdb_spark.lake.generations import read_table

    after = read_table(spark, f"{dest}/tx")
    assert after.count() == expect_keep
    assert after.agg(F.max("slot")).first()[0] <= to_slot
    # boundary-straddling partition group 0 was rewritten, not dropped
    assert after.filter(F.col("slot_group") == 0).count() > 0


def test_maintenance_functions_take_only_the_known_parameters():
    """Lake maintenance is append, compact, rollback.  Their parameter
    lists are pinned so an option (a stale-state override, a tunable
    threshold, a second partition grid) cannot slip back in unreviewed:
    changing one must update this list in the same change."""
    import inspect

    from cardano_analytics_duckdb_spark.streaming.ingest import rollback_lake

    expected = {
        ingest_blocks: [
            "spark", "blocks", "dest", "batch_size", "stop_slot",
            "reconcile_rollbacks",
        ],
        compact_lake: ["spark", "root", "tables", "vacuum"],
        rollback_lake: ["spark", "root", "to_slot", "vacuum", "tables"],
    }
    wrong = {
        fn.__name__: params
        for fn, want in expected.items()
        if (params := list(inspect.signature(fn).parameters)) != want
    }
    assert not wrong, f"maintenance signatures changed: {wrong}"


def test_streaming_modules_use_no_driver_local_fs():
    """Every filesystem touch in the streaming modules must go through the
    Hadoop FS wrapper (lake/fsutil.py) — a driver-local glob/os probe
    returns nothing on hdfs:///s3a:// and either fails open (guards) or
    loses data (a rewrite that misses files).  Source-inspection pin so
    a convenience regression can't slip back in; os.path.join is allowed
    (pure string manipulation)."""
    import importlib
    import inspect
    import pkgutil

    from cardano_analytics_duckdb_spark import streaming

    banned = (
        "glob.glob", "shutil.", "os.listdir", "os.path.isdir",
        "os.path.exists", "os.remove", "os.rename", "os.makedirs",
    )
    mods = [
        importlib.import_module(f"{streaming.__name__}.{m.name}")
        for m in pkgutil.iter_modules(streaming.__path__)
    ]
    assert {"ingest"} <= {
        m.__name__.rsplit(".", 1)[-1] for m in mods
    }
    for mod in mods:
        src = inspect.getsource(mod)
        for needle in banned:
            assert needle not in src, f"{mod.__name__} uses {needle}"


def test_maintenance_lock_excludes_second_writer(spark, tmp_path):
    """The single-writer maintenance window is ENFORCED, not just
    documented: while one job holds the lake's lock, compact_lake and
    rollback_lake fail fast with the holder's identity; after release
    they run normally.  A holder that dies — by kill OR by exception —
    leaves the lock in place (a failed rewrite needs inspection before
    the next writer), and the error names the file to delete."""
    import pytest

    from cardano_analytics_duckdb_spark.lake.lock import (
        LOCK_NAME,
        maintenance_lock,
    )

    from cardano_analytics_duckdb_spark.streaming.ingest import rollback_lake

    dest = str(tmp_path / "lake")
    ingest_blocks(spark, fixture_blocks()[:3], dest, batch_size=3)

    with maintenance_lock(spark, dest, owner="job-a"):
        with pytest.raises(RuntimeError, match="job-a"):
            compact_lake(spark, dest)
        with pytest.raises(RuntimeError, match=LOCK_NAME):
            rollback_lake(spark, dest, to_slot=10**9)
        # re-entry from a second context is also excluded
        with pytest.raises(RuntimeError, match="locked"):
            with maintenance_lock(spark, dest, owner="job-b"):
                pass

    # released on exit: maintenance proceeds (and releases its own lock)
    compact_lake(spark, dest)
    compact_lake(spark, dest)

    # a body that RAISES keeps the lock held: the next writer must not
    # run over a half-finished rewrite — breaking it is a manual delete
    with pytest.raises(ValueError, match="boom"):
        with maintenance_lock(spark, dest, owner="job-c"):
            raise ValueError("boom")
    with pytest.raises(RuntimeError, match="job-c"):
        with maintenance_lock(spark, dest, owner="job-d"):
            pass
    os.remove(os.path.join(dest, LOCK_NAME))  # operator breaks the lock
    with maintenance_lock(spark, dest, owner="job-d"):
        pass


def test_compaction_is_incremental_per_partition(spark, tmp_path):
    """Compaction must not touch already-compact partitions: a partition
    at one file keeps the SAME part-file (identical path — no rewrite),
    while a fragmented partition collapses to one file."""
    from cardano_analytics_duckdb_spark.lake.fsutil import LakeFs
    from cardano_analytics_duckdb_spark.lake.generations import (
        current_generations,
        live_partition_files,
        partition_entries,
        read_table,
    )

    dest = str(tmp_path / "lake")
    blocks = fixture_blocks()[:6]
    # wave 1 + compact: every partition at one file
    ingest_blocks(spark, blocks[:3], dest, batch_size=1)
    compact_lake(spark, dest)
    lfs = LakeFs(spark, dest)

    def files_by_partition(table):
        """Current files per logical partition: the generation dir's
        files plus non-superseded hive files (post-swap appends)."""
        src = os.path.join(dest, table)
        gens = current_generations(lfs, src)
        out = {}
        for entry in partition_entries(lfs, src):
            files = list(live_partition_files(lfs, src, entry, gens))
            gen = (gens.get(entry) or {}).get("gen")
            if gen:
                files += [
                    f
                    for f in lfs.list_files(os.path.join(src, gen))
                    if f.endswith(".parquet")
                ]
            out[entry] = sorted(files)
        return out

    before = files_by_partition("tx")
    assert all(len(v) == 1 for v in before.values())

    # wave 2 appends into (at least) one partition; others stay compact
    ingest_blocks(spark, blocks[3:], dest, batch_size=1)
    mid = files_by_partition("tx")
    untouched = [d for d in before if len(mid[d]) == len(before[d]) == 1
                 and mid[d] == before[d]]
    fragmented = [d for d in mid if len(mid[d]) > 1]
    assert fragmented, "fixture waves must fragment at least one partition"

    n_rows = read_table(spark, os.path.join(dest, "tx")).count()
    compact_lake(spark, dest)
    after = files_by_partition("tx")
    # fragmented partitions collapsed; untouched ones kept their exact file
    assert all(len(after[d]) == 1 for d in fragmented)
    for d in untouched:
        assert after[d] == before[d]
    assert read_table(spark, os.path.join(dest, "tx")).count() == n_rows


def test_malformed_backward_event_refuses_full_lake_default(spark):
    """ADVICE r8 (medium): -1 is reserved for an EXPLICIT point='origin';
    a backward event with no recognizable rollback point raises instead of
    silently defaulting to a full-lake rollback."""
    from cardano_analytics_duckdb_spark.streaming.ingest import (
        _rollback_point_slot,
    )

    assert _rollback_point_slot({"point": "origin"}) == -1
    assert _rollback_point_slot({"point": {"slot": 7, "id": "ab"}}) == 7
    assert _rollback_point_slot({"slot": 9}) == 9  # replay-fixture shape
    for ev in (
        {},
        {"direction": "backward"},
        {"point": {}},
        {"point": {"id": "ab"}},  # point dict missing its slot
        {"point": 3.5},
    ):
        with pytest.raises(ValueError, match="full-lake"):
            _rollback_point_slot(ev)


def test_malformed_backward_event_does_not_wipe_lake(spark, tmp_path):
    """Integration of the same guard under reconcile_rollbacks=True: the
    stream fails loud at the malformed event and every previously-flushed
    row stays on disk (previously: rollback_lake(root, -1) == wipe)."""
    dest = str(tmp_path / "lake_malformed")
    blocks = fixture_blocks()[:4]
    ingest_blocks(spark, blocks[:3], dest, batch_size=10)
    n_before = spark.read.parquet(f"{dest}/tx").count()
    assert n_before > 0
    tail = [{"direction": "backward", "point": {"id": "deadbeef"}}]
    tail += blocks[3:]
    with pytest.raises(ValueError, match="rollback point"):
        ingest_blocks(
            spark, tail, dest, batch_size=1, reconcile_rollbacks=True
        )
    assert spark.read.parquet(f"{dest}/tx").count() == n_before
    # the refusal happened before the lock was taken: lake not wedged
    assert not os.path.exists(os.path.join(dest, "_maintenance.lock"))


_TXLESS_BLOCK = {
    "type": "ebb", "era": "byron", "id": "ab" * 16, "height": 0, "slot": 0,
}


def test_txless_blocks_ingest(spark, tmp_path):
    """A block without ``transactions`` (a Byron epoch-boundary block)
    ingests: alone in a flush, and mixed into the fixture stream, with
    every table's rows equal to the fixture lake's."""
    dest = str(tmp_path / "lake_txless")
    stats = ingest_blocks(spark, iter([_TXLESS_BLOCK]), dest)
    assert (stats["blocks"], stats["transactions"]) == (1, 0)
    blocks = fixture_blocks()
    blocks.insert(30, {**_TXLESS_BLOCK, "slot": blocks[30]["slot"] - 1})
    blocks.insert(0, {**_TXLESS_BLOCK, "transactions": None})
    stats = ingest_blocks(spark, blocks, dest, batch_size=100)
    assert stats["blocks"] == len(blocks)
    assert stats["transactions"] == 198
    root = ensure_fixture_lake(spark)
    for t in LAKE_TABLES:
        assert (
            spark.read.parquet(f"{dest}/{t}").count()
            == spark.read.parquet(f"{root}/{t}").count()
        ), t


def test_sparse_emptiness_decided_on_the_driver_matches_spark(spark):
    """The sparse tables a flush skips are decided from the block dicts,
    not by a Spark job: on the fixture stream and on hostile dicts
    (missing keys, None lists, None list elements, null or unknown
    certificate types) the tables called non-empty are exactly those
    whose extracted frame has rows."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from cardano_analytics_duckdb_spark.sources.blocks import (
        blocks_to_dataframe,
    )
    from cardano_analytics_duckdb_spark.streaming.ingest import (
        _SPARSE_TABLES,
        _sparse_tables_present,
        extract_tables,
    )

    def block(*txs):
        return {"type": "babbage", "slot": 7, "height": 1,
                "transactions": list(txs)}

    def tx(**fields):
        return {"id": "cd" * 32, **fields}

    hostile = [
        [_TXLESS_BLOCK],
        [{**_TXLESS_BLOCK, "transactions": None}],
        [block()],
        [block(None)],
        [block({})],
        [block(tx())],
        [block(tx(certificates=None, votes=[], proposals=None,
                  redeemers=[]))],
        [block(tx(certificates=[None]))],
        [block(tx(certificates=[{}]))],
        [block(tx(certificates=[{"type": None}]))],
        [block(tx(certificates=[{"type": "unknownCertificate"}]))],
        [block(tx(certificates=[{"type": "stakePoolRetirement",
                                 "retirement_epoch": 9}]))],
        [block(tx(certificates=[None, {"type": "stakeDelegation"}]))],
        [block(tx(votes=[None]))],
        [block(tx(proposals=[None]))],
        [block(tx(redeemers=[None]), None, tx(votes=[]))],
    ]
    fixture = fixture_blocks()
    cases = hostile + [fixture[i:i + 20] for i in range(0, len(fixture), 20)]
    cases.append(fixture + [b for case in hostile for b in case])
    seen = set()
    for blocks in cases:
        tables = extract_tables(blocks_to_dataframe(spark, blocks))
        with_rows = {
            r[0]
            for r in reduce(
                DataFrame.unionByName,
                [
                    tables[t].select(F.lit(t).alias("t")).limit(1)
                    for t in sorted(_SPARSE_TABLES)
                ],
            ).collect()
        }
        assert _sparse_tables_present(blocks) == with_rows, blocks
        seen |= with_rows
    assert seen == _SPARSE_TABLES


def test_flush_job_budget_in_the_callers_group(spark, tmp_path):
    """One flush whose blocks fill all 13 tables runs exactly 1 append
    per table, so no cache fill, count or emptiness probe, and every
    job, including those the per-table threads submit, lands in the
    caller's job group."""
    dest = str(tmp_path / "lake_budget")
    with Jobs(spark, "flush-budget") as jobs:
        stats = ingest_blocks(spark, fixture_blocks(), dest, batch_size=500)
    assert stats["batches"] == 1
    assert all(os.path.isdir(f"{dest}/{t}") for t in LAKE_TABLES)
    assert len(jobs.ids) == len(LAKE_TABLES)


def test_flush_frames_read_a_local_relation_with_no_python(spark, tmp_path):
    """Every extracted table reads the blocks from a JVM-side local
    relation (not an RDD of pickled rows) and runs no Python UDF, and an
    ingest leaves no cache entry, temp view or stream behind (the SQL
    texts bind the block frame under a view that must be dropped)."""
    from cardano_analytics_duckdb_spark.sources.blocks import (
        blocks_to_dataframe,
    )
    from cardano_analytics_duckdb_spark.streaming.ingest import (
        extract_tables,
    )

    tables = extract_tables(blocks_to_dataframe(spark, fixture_blocks()))
    assert set(tables) == set(LAKE_TABLES)
    for name, df in tables.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, (name, plan)
        assert "ExistingRDD" not in plan, (name, plan)
        assert "ArrowEvalPython" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)
    before = session_state(spark)
    ingest_blocks(spark, fixture_blocks(), str(tmp_path / "lake_leaf"),
                  batch_size=100)
    assert session_state(spark) == before


def test_missing_maps_read_as_empty(spark):
    """A transaction or output without its ``mint``, ``withdrawals`` or
    ``value`` map reads as one with an empty map: the flags derived from
    them are false, not null, as the fixture lake's row builder gives
    (``has_mint=bool(...)``).  Spark reads a null map nested in an Arrow
    struct as an empty map.  A transaction without its ``inputs``,
    ``outputs``, ``certificates``, ``votes``, ``proposals`` or
    ``redeemers`` list counts it as empty too (``len(...)``,
    ``bool(...)``): 0 and false, not null."""
    from cardano_analytics_duckdb_spark.sources.blocks import (
        blocks_to_dataframe,
    )
    from cardano_analytics_duckdb_spark.streaming.ingest import (
        extract_tables,
    )

    block = {"type": "babbage", "slot": 7, "height": 1, "transactions": [
        {"id": "cd" * 32, "outputs": [{"address": "addr"}]},
    ]}
    tables = extract_tables(blocks_to_dataframe(spark, [block]))
    (tx,) = tables["tx"].collect()
    assert (tx.has_mint, tx.has_withdrawal) == (False, False)
    assert (tx.has_cert, tx.has_vote, tx.has_proposal) == (False, False, False)
    assert (tx.input_count, tx.redeemer_count) == (0, 0)
    assert (tx.output_count, tx.witness_datum_count) == (1, 0)
    (utxo,) = tables["utxo"].collect()
    assert (utxo.has_token, utxo.lovelace) == (False, None)

    bare = {"type": "babbage", "slot": 8, "height": 2,
            "transactions": [{"id": "ef" * 32}]}
    (tx,) = extract_tables(blocks_to_dataframe(spark, [bare]))["tx"].collect()
    assert (tx.input_count, tx.output_count, tx.witness_datum_count) == (0, 0, 0)


def test_rollback_job_budget_and_rewrites(spark, tmp_path):
    """A rollback runs 1 aggregate per table holding rows in a touched
    partition, plus a schema read and 1 write per partition that loses
    rows but keeps some, so no count or emptiness probe, and it writes
    only to partitions that lose rows; a no-op rollback returns {} and
    publishes no new pointer version."""
    from cardano_analytics_duckdb_spark.lake.fsutil import LakeFs
    from cardano_analytics_duckdb_spark.lake.generations import (
        _pointer_versions,
        read_table,
    )
    from cardano_analytics_duckdb_spark.streaming.ingest import rollback_lake

    dest = str(tmp_path / "lake_rb_budget")
    ingest_blocks(spark, fixture_blocks(), dest, batch_size=500)
    lfs = LakeFs(spark, dest)
    tables = [t for t in LAKE_TABLES if os.path.isdir(f"{dest}/{t}")]

    def with_rows_past(slot):
        out = set()
        for t in tables:
            try:
                df = read_table(spark, f"{dest}/{t}")
            except ValueError:
                continue  # every partition dropped
            if df.filter(F.col("slot") > slot).limit(1).count():
                out.add(t)
        return out

    def gen_dirs():
        return {
            t: sorted(
                d for d in lfs.list_dirs(f"{dest}/{t}")
                if d.startswith("_gen__")
            )
            for t in tables
        }

    def versions():
        return {t: _pointer_versions(lfs, f"{dest}/{t}") for t in tables}

    # Both rollbacks below touch every slot_group (the boundary group is
    # 0), so every table holding rows runs its one aggregate.
    # slot_group=0 ends at 199_999: it loses no row, so it is not
    # rewritten; slot_group=200000 loses every row, so it is dropped
    # without a write.
    touched = with_rows_past(-1)
    with Jobs(spark, "rollback-aligned") as jobs:
        dropped = rollback_lake(spark, dest, 199_999)
    assert len(jobs.ids) == len(touched)
    assert dropped and all(n > 0 for n in dropped.values())
    assert gen_dirs() == {t: [] for t in tables}
    for t in dropped:
        assert lfs.list_dirs(f"{dest}/{t}") == ["slot_group=0"], t

    # mid-group: slot_group=0 loses rows and is rewritten, once, in each
    # table holding rows past the point
    to_slot = 150_000
    touched, losing = with_rows_past(-1), with_rows_past(to_slot)
    assert losing
    with Jobs(spark, "rollback-mid") as jobs:
        dropped = rollback_lake(spark, dest, to_slot)
    assert len(jobs.ids) == len(touched) + 2 * len(losing)
    assert set(dropped) == losing
    assert gen_dirs() == {
        t: ["_gen__slot_group_0__g00001"] if t in losing else []
        for t in tables
    }

    # no-op: nothing past the point
    before = versions()
    assert rollback_lake(spark, dest, 10**9) == {}
    assert rollback_lake(spark, dest, to_slot) == {}
    assert versions() == before
