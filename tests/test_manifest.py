"""File-level min/max manifest (lake/manifest.py): build, prune, and the
correctness rule that makes data skipping safe — skip only on proof.

The test table is range-partitioned on the pruning column so files have
tight, mostly-disjoint [min, max] spans (the layout z-order produces);
a narrow range predicate must then drop most files while every read
stays exactly equal to the full-scan filter.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from cardano_analytics_duckdb_spark.lake.manifest import (
    MANIFEST_DIR,
    build_manifest,
    prune_files_box,
    read_pruned_box_with_bound,
)
from cardano_analytics_duckdb_spark.lake.tables import load_table

N_FILES = 8


@pytest.fixture(scope="module")
def mtable(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("manifest") / "orders_m")
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    # range layout on the pruning column -> disjoint per-file spans
    src.repartitionByRange(N_FILES, "o_totalprice").write.parquet(path)
    build_manifest(spark, path)
    return path


def _full(spark, mtable):
    return spark.read.parquet(mtable)


def test_manifest_dir_is_reader_invisible(spark, sf_dir, mtable):
    assert os.path.isdir(os.path.join(mtable, MANIFEST_DIR))
    src = load_table(spark, sf_dir, "orders")
    assert _full(spark, mtable).count() == src.count()


def test_manifest_rows_cover_files_and_columns(spark, mtable):
    m = spark.read.parquet(os.path.join(mtable, MANIFEST_DIR))
    files = {r["file"] for r in m.select("file").distinct().collect()}
    assert len(files) == N_FILES
    cols = {r["column"] for r in m.select("column").distinct().collect()}
    assert {"o_orderkey", "o_totalprice", "o_orderstatus"} <= cols
    # numeric stats on the numeric column, string stats on the string one
    tp = m.filter(F.col("column") == "o_totalprice").first()
    assert tp["min_num"] is not None and tp["min_str"] is None
    st = m.filter(F.col("column") == "o_orderstatus").first()
    assert st["min_str"] is not None and st["min_num"] is None


def test_prune_is_strict_subset_on_narrow_range(spark, mtable):
    lo, hi = _full(spark, mtable).agg(
        F.min("o_totalprice"), F.max("o_totalprice")
    ).first()
    width = (hi - lo) / N_FILES
    kept = prune_files_box(spark, mtable, [("o_totalprice", lo, lo + width / 2)])
    assert 0 < len(kept) < N_FILES


def test_read_pruned_equals_full_filter(spark, mtable):
    lo, hi = _full(spark, mtable).agg(
        F.min("o_totalprice"), F.max("o_totalprice")
    ).first()
    mid_lo = lo + (hi - lo) * 0.3
    mid_hi = lo + (hi - lo) * 0.42
    expect = sorted(
        map(
            tuple,
            _full(spark, mtable)
            .filter(
                (F.col("o_totalprice") >= mid_lo)
                & (F.col("o_totalprice") <= mid_hi)
            )
            .collect(),
        )
    )
    actual = sorted(
        map(
            tuple,
            read_pruned_box_with_bound(
                spark, mtable, [("o_totalprice", mid_lo, mid_hi)]
            )[0]
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
            .collect(),
        )
    )
    assert actual == expect
    assert len(actual) > 0


def test_out_of_range_prunes_everything(spark, mtable):
    hi = _full(spark, mtable).agg(F.max("o_totalprice")).first()[0]
    box = [("o_totalprice", hi + 1e6, None)]
    assert prune_files_box(spark, mtable, box) == []
    df = read_pruned_box_with_bound(spark, mtable, box)[0]
    assert df.count() == 0
    # empty result still carries the table schema
    assert "o_custkey" in df.columns


def test_post_build_appends_are_never_skipped(spark, mtable):
    """The staleness contract: files appended AFTER the manifest build
    have no stats and must always be read."""
    hi = _full(spark, mtable).agg(F.max("o_totalprice")).first()[0]
    extra = spark.createDataFrame(
        [(10_000_001, 1, float(hi) + 5e6, "X")],
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string",
    )
    extra.coalesce(1).write.mode("append").parquet(mtable)
    got = read_pruned_box_with_bound(
        spark, mtable, [("o_totalprice", float(hi) + 1e6, None)]
    )[0].collect()
    assert [r["o_orderkey"] for r in got] == [10_000_001]
    # rebuild folds the new file in; pruning now skips it for old ranges
    build_manifest(spark, mtable)
    lo = _full(spark, mtable).agg(F.min("o_totalprice")).first()[0]
    kept = prune_files_box(spark, mtable, [("o_totalprice", lo, lo + 1.0)])
    assert all("10_000_001" not in f for f in kept)
    m = spark.read.parquet(os.path.join(mtable, MANIFEST_DIR))
    assert m.select("file").distinct().count() == N_FILES + 1


def test_unclustered_column_cannot_skip_mid_range(spark, mtable):
    """o_orderkey was NOT the layout column, so every original file's
    span straddles the middle of the key range and a mid-range probe
    skips none of them — the measured motivation for z-order: skipping
    quality is a property of LAYOUT, surfaced by the manifest.  (The
    out-of-range single-row file appended by the previous test is the
    one legitimate skip.)"""
    base = _full(spark, mtable).filter(F.col("o_orderkey") < 10_000_001)
    lo, hi = base.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    mid = (lo + hi) / 2.0
    kept = prune_files_box(spark, mtable, [("o_orderkey", mid, mid)])
    assert len(kept) == N_FILES  # all originals kept, appended row skipped


def test_compaction_refreshes_existing_manifest(spark, sf_dir, tmp_path):
    """compact_lake rewrites files; an existing manifest must be rebuilt
    in the same maintenance window or pruning degrades to keep-all."""
    from cardano_analytics_duckdb_spark.streaming.ingest import compact_lake

    root = str(tmp_path / "lake")
    tx = os.path.join(root, "tx")
    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("tx_fee"),
        (F.col("o_orderkey") % 2).alias("slot_group"),
    )
    for _ in range(3):  # three append chunks per partition
        src.coalesce(1).write.mode("append").partitionBy("slot_group").parquet(tx)
    build_manifest(spark, tx)
    before = spark.read.parquet(os.path.join(tx, MANIFEST_DIR))
    assert before.select("file").distinct().count() == 6

    compact_lake(spark, root, tables=["tx"])
    after = spark.read.parquet(os.path.join(tx, MANIFEST_DIR))
    files = [r["file"] for r in after.select("file").distinct().collect()]
    assert len(files) == 2  # one rewritten file per slot_group
    # the rewritten files live in hidden generation dirs — the manifest
    # resolves through the pointer, never the raw walk
    assert all(f.startswith("_gen__") for f in files)
    # refreshed entries prune against the LIVE post-compaction files
    from cardano_analytics_duckdb_spark.lake.generations import read_table

    resolved = read_table(spark, tx)
    hi = resolved.agg(F.max("tx_fee")).first()[0]
    assert prune_files_box(spark, tx, [("tx_fee", hi + 1, None)]) == []
    # ... and an in-range pruned read over the generation-managed table
    # equals the resolved filter (partition column included)
    got = sorted(
        map(tuple, read_pruned_box_with_bound(
            spark, tx, [("tx_fee", None, hi - 1)])[0]
            .select("tx_fee", "slot_group").collect())
    )
    expect = sorted(
        map(tuple, resolved.filter(F.col("tx_fee") <= hi - 1)
            .select("tx_fee", "slot_group").collect())
    )
    assert got == expect and len(got) > 0


def test_update_manifest_is_incremental(spark, sf_dir, tmp_path):
    """update_manifest stats only the uncovered files: O(delta) per
    refresh, and a no-op refresh adds nothing."""
    from cardano_analytics_duckdb_spark.lake.manifest import update_manifest

    table = str(tmp_path / "orders_u")
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    src.repartitionByRange(4, "o_totalprice").write.parquet(table)
    assert update_manifest(spark, table) == 4  # bootstrap == full build

    hi = src.agg(F.max("o_totalprice")).first()[0]
    spark.createDataFrame(
        [(20_000_001, float(hi) + 9e6)],
        "o_orderkey long, o_totalprice double",
    ).coalesce(1).write.mode("append").parquet(table)
    assert update_manifest(spark, table) == 1  # only the new file
    assert update_manifest(spark, table) == 0  # steady state: no-op

    m = spark.read.parquet(os.path.join(table, MANIFEST_DIR))
    assert m.select("file").distinct().count() == 5
    # the freshly covered file is now skippable for old ranges ...
    lo = src.agg(F.min("o_totalprice")).first()[0]
    kept = prune_files_box(spark, table, [("o_totalprice", lo, lo + 1.0)])
    assert len(kept) <= 2 and all("part-" in f for f in kept)
    # ... and found for its own range
    got = read_pruned_box_with_bound(
        spark, table, [("o_totalprice", float(hi) + 1e6, None)]
    )[0].collect()
    assert [r["o_orderkey"] for r in got] == [20_000_001]


def test_read_pruned_preserves_partition_columns(spark, sf_dir, tmp_path):
    """Pruned reads pass explicit file lists; option(basePath) must keep
    hive partition columns alive and consistent with the full scan."""
    table = str(tmp_path / "part_table")
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderkey") % 3).alias("bucket3"),
    )
    src.repartitionByRange(2, "o_totalprice").write.partitionBy(
        "bucket3"
    ).parquet(table)
    build_manifest(spark, table)
    lo, hi = src.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    mid_lo, mid_hi = lo + (hi - lo) * 0.2, lo + (hi - lo) * 0.5
    got = read_pruned_box_with_bound(
        spark, table, [("o_totalprice", mid_lo, mid_hi)]
    )[0]
    assert "bucket3" in got.columns
    expect = sorted(
        map(
            tuple,
            spark.read.parquet(table)
            .filter(
                (F.col("o_totalprice") >= mid_lo)
                & (F.col("o_totalprice") <= mid_hi)
            )
            .select("o_orderkey", "o_totalprice", "bucket3")
            .collect(),
        )
    )
    actual = sorted(
        map(
            tuple,
            got.select("o_orderkey", "o_totalprice", "bucket3").collect(),
        )
    )
    assert actual == expect and len(actual) > 0


def test_box_pruning_on_zordered_layout(spark, sf_dir, tmp_path):
    """The z-order + manifest synergy end-to-end: a 2-D box over a
    z-ordered table skips MORE files than either dimension alone, and
    the pruned read equals the full-scan box filter exactly."""
    from cardano_analytics_duckdb_spark.lake.zorder import zorder_write

    table = str(tmp_path / "lineitem_zm")
    src = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    zorder_write(src, table, ["l_orderkey", "l_partkey"], out_files=16)
    build_manifest(spark, table)

    lo_o, hi_o = src.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    lo_p, hi_p = src.agg(F.min("l_partkey"), F.max("l_partkey")).first()
    box = [
        ("l_orderkey", float(lo_o), float(lo_o + (hi_o - lo_o) // 4)),
        ("l_partkey", float(lo_p), float(lo_p + (hi_p - lo_p) // 4)),
    ]
    kept_box = prune_files_box(spark, table, box)
    kept_o = prune_files_box(spark, table, [box[0]])
    kept_p = prune_files_box(spark, table, [box[1]])
    assert set(kept_box) == set(kept_o) & set(kept_p)
    assert 0 < len(kept_box) < 16
    assert len(kept_box) <= min(len(kept_o), len(kept_p))

    expect = sorted(
        map(
            tuple,
            spark.read.parquet(table)
            .filter(
                (F.col("l_orderkey") >= box[0][1])
                & (F.col("l_orderkey") <= box[0][2])
                & (F.col("l_partkey") >= box[1][1])
                & (F.col("l_partkey") <= box[1][2])
            )
            .collect(),
        )
    )
    actual = sorted(
        map(tuple, read_pruned_box_with_bound(spark, table, box)[0].collect())
    )
    assert actual == expect and len(actual) > 0


def test_high_fee_predicate_skips_files_on_fee_clustered_layout(
    spark, tmp_path
):
    """r7 verdict #8: the cardano fee predicate routed through the stats
    manifest reads FEWER files on a fee-clustered tx layout, with the
    same rows as the resolved full-scan filter."""
    from cardano_analytics_duckdb_spark.lake.fixtures import (
        ensure_fixture_lake,
    )
    from cardano_analytics_duckdb_spark.operators.cardano import _lake_pruned

    src_root = ensure_fixture_lake(spark)
    root = str(tmp_path / "fee_lake")
    tx = spark.read.parquet(f"{src_root}/tx")
    n_files = 8
    # the layout a fee-targeted z-order/range-cluster maintenance pass
    # produces: disjoint per-file fee spans
    (
        tx.repartitionByRange(n_files, "tx_fee")
        .write.parquet(os.path.join(root, "tx"))
    )
    # first _lake_pruned call builds the manifest lazily
    fee = [("tx_fee", 2_000_001, None)]
    pruned, _ = _lake_pruned(spark, "tx", fee, root=root)
    kept = prune_files_box(spark, os.path.join(root, "tx"), fee)
    assert 0 < len(kept) < n_files  # actual skipped IO, not keep-all
    got = sorted(
        (r["tx_fee"], bytes(r["tx_id"]).hex()) for r in pruned.collect()
    )
    expect = sorted(
        (r["tx_fee"], bytes(r["tx_id"]).hex())
        for r in tx.filter(F.col("tx_fee") > 2_000_000).collect()
    )
    assert got == expect and len(got) > 0


def test_high_fee_query_builds_and_survives_fixture_manifest(spark, sf_dir):
    """cardano_high_fee_txs now routes through the manifest on the fixture
    lake itself — first call builds it, the result stays oracle-exact
    (the full oracle suite re-checks the hash; here: rows vs a raw scan)."""
    import duckdb

    from cardano_analytics_duckdb_spark.lake.fixtures import (
        DEFAULT_LAKE_ROOT,
        ensure_fixture_lake,
    )
    from cardano_analytics_duckdb_spark.operators.cardano import (
        _HIGH_FEE_SQL,
        cardano_high_fee_txs,
    )

    ensure_fixture_lake(spark)
    got = [
        tuple(r)
        for r in cardano_high_fee_txs(spark, sf_dir)
        .select("slot", "tx_id_hex", "tx_fee")
        .collect()
    ]
    assert os.path.isdir(os.path.join(DEFAULT_LAKE_ROOT, "tx", MANIFEST_DIR))
    expect = [
        (s, h, f) for (s, h, f, *_rest) in duckdb.sql(_HIGH_FEE_SQL).fetchall()
    ]
    assert got == expect and len(got) > 0


def test_refresh_after_partial_compaction_is_o_delta(spark, sf_dir, tmp_path):
    """Steady-state compaction touches few partitions; the manifest
    refresh must stat only the rewrite's new files (dead entries stay,
    harmless to pruning) instead of rebuilding the whole table's stats.
    The rebuild only fires once dead entries outnumber live ones."""
    from cardano_analytics_duckdb_spark.lake.manifest import (
        update_manifest,
    )
    from cardano_analytics_duckdb_spark.streaming.ingest import compact_lake

    root = str(tmp_path / "lake")
    tx = os.path.join(root, "tx")
    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("tx_fee"),
        (F.col("o_orderkey") % 3).alias("slot_group"),
    )
    # 3 partitions, one file each ...
    src.coalesce(1).write.partitionBy("slot_group").parquet(tx)
    # ... then fragment ONLY partition 0 with two more append chunks
    frag = src.filter(F.col("slot_group") == 0)
    for _ in range(2):
        frag.coalesce(1).write.mode("append").partitionBy(
            "slot_group"
        ).parquet(tx)
    build_manifest(spark, tx)
    m0 = spark.read.parquet(os.path.join(tx, MANIFEST_DIR))
    assert m0.select("file").distinct().count() == 5

    compact_lake(spark, root, tables=["tx"])  # rewrites partition 0 only
    m1 = spark.read.parquet(os.path.join(tx, MANIFEST_DIR))
    files = {r["file"] for r in m1.select("file").distinct().collect()}
    # incremental: 5 prior entries (3 now dead) + 1 new generation file,
    # NOT a 4-file rebuild — dead (3) does not outnumber live (3)
    assert len(files) == 6
    assert sum(f.startswith("_gen__") for f in files) == 1
    assert update_manifest(spark, tx) == 0  # everything live is covered

    # pruning still exact over the mixed manifest
    from cardano_analytics_duckdb_spark.lake.generations import read_table

    resolved = read_table(spark, tx)
    lo = resolved.agg(F.min("tx_fee")).first()[0]
    got = sorted(
        r["tx_fee"]
        for r in read_pruned_box_with_bound(
            spark, tx, [("tx_fee", None, lo + 100)]
        )[0].collect()
    )
    expect = sorted(
        r["tx_fee"]
        for r in resolved.filter(F.col("tx_fee") <= lo + 100).collect()
    )
    assert got == expect and len(got) > 0

    # one more rewrite of partition 0: dead entries (4) now outnumber
    # live ones (3) and the refresh sheds them with a rebuild
    frag.coalesce(1).write.mode("append").partitionBy(
        "slot_group"
    ).parquet(tx)
    compact_lake(spark, root, tables=["tx"])
    mN = spark.read.parquet(os.path.join(tx, MANIFEST_DIR))
    assert mN.select("file").distinct().count() == 3  # current files only


def test_lazy_manifest_build_is_lock_protected(spark, tmp_path):
    """r8 verdict #3: the lazy first-use build in _lake_pruned runs under
    the lake's _maintenance.lock with an in-lock double-check.  While
    another maintenance job holds the lock, the read query writes NOTHING
    and falls back to the plain exact scan; once the lock frees, the next
    read builds the manifest and prunes."""
    from cardano_analytics_duckdb_spark.lake.fixtures import (
        ensure_fixture_lake,
    )
    from cardano_analytics_duckdb_spark.lake.lock import LOCK_NAME
    from cardano_analytics_duckdb_spark.operators.cardano import _lake_pruned

    src_root = ensure_fixture_lake(spark)
    root = str(tmp_path / "locked_lake")
    tx = spark.read.parquet(f"{src_root}/tx")
    tx.repartitionByRange(8, "tx_fee").write.parquet(os.path.join(root, "tx"))

    expect = sorted(
        (r["tx_fee"], bytes(r["tx_id"]).hex())
        for r in tx.filter(F.col("tx_fee") >= 2_000_001).collect()
    )

    # another maintenance job holds the lake lock
    with open(os.path.join(root, LOCK_NAME), "w") as f:
        f.write('{"owner": "other-session-compaction"}')
    got = sorted(
        (r["tx_fee"], bytes(r["tx_id"]).hex())
        for r in _lake_pruned(
            spark, "tx", [("tx_fee", 2_000_001, None)], root=root
        )[0].collect()
    )
    assert got == expect and len(got) > 0
    # no write side-effect happened under a held lock
    assert not os.path.exists(os.path.join(root, "tx", MANIFEST_DIR))

    # lock freed -> next first-use read builds and prunes
    os.remove(os.path.join(root, LOCK_NAME))
    got2 = sorted(
        (r["tx_fee"], bytes(r["tx_id"]).hex())
        for r in _lake_pruned(
            spark, "tx", [("tx_fee", 2_000_001, None)], root=root
        )[0].collect()
    )
    assert got2 == expect
    assert os.path.isdir(os.path.join(root, "tx", MANIFEST_DIR))
    # and the build released the lake lock on its way out
    assert not os.path.exists(os.path.join(root, LOCK_NAME))


def test_lazy_manifest_double_check_skips_rebuild(spark, tmp_path):
    """Second session entering the lock after a first session's build must
    NOT rebuild (overwrite-mode churn): the manifest files are bit-stable
    across a repeat _lake_pruned call."""
    from cardano_analytics_duckdb_spark.lake.fixtures import (
        ensure_fixture_lake,
    )
    from cardano_analytics_duckdb_spark.operators.cardano import _lake_pruned

    src_root = ensure_fixture_lake(spark)
    root = str(tmp_path / "dc_lake")
    tx = spark.read.parquet(f"{src_root}/tx")
    tx.repartitionByRange(4, "tx_fee").write.parquet(os.path.join(root, "tx"))

    _lake_pruned(spark, "tx", [("tx_fee", 2_000_001, None)], root=root)[0].count()
    mdir = os.path.join(root, "tx", MANIFEST_DIR)

    def snapshot():
        out = {}
        for dirpath, _dirs, files in os.walk(mdir):
            for fn in files:
                p = os.path.join(dirpath, fn)
                out[p] = (os.path.getmtime(p), os.path.getsize(p))
        return out

    before = snapshot()
    assert before
    _lake_pruned(spark, "tx", [("tx_fee", 2_000_001, None)], root=root)[0].count()
    assert snapshot() == before


def test_binary_policy_equality_skips_files_on_policy_clustered_layout(
    spark, tmp_path
):
    """r8 verdict #4: BINARY column bounds (hex-encoded, order-preserving)
    let the flagship token filter (policy_id == bytes) skip files on a
    policy-clustered asset layout — kept < total, rows identical to the
    resolved full-scan filter."""
    from cardano_analytics_duckdb_spark.lake.fixtures import (
        TOKEN_NAME,
        TOKEN_POLICY,
        ensure_fixture_lake,
    )

    src_root = ensure_fixture_lake(spark)
    root = str(tmp_path / "policy_lake")
    asset = spark.read.parquet(f"{src_root}/asset")
    # the layout a policy-clustering maintenance pass produces: each file
    # covers exactly one policy (deterministic here: one write per policy,
    # 2 files each, so files NOT holding the queried policy must exist)
    is_target = F.col("policy_id") == F.lit(TOKEN_POLICY)
    for part in (asset.filter(is_target), asset.filter(~is_target)):
        (
            part.repartition(2)
            .write.mode("append")
            .parquet(os.path.join(root, "asset"))
        )
    build_manifest(spark, os.path.join(root, "asset"))
    kept = prune_files_box(
        spark, os.path.join(root, "asset"),
        [("policy_id", TOKEN_POLICY, TOKEN_POLICY)],
    )
    total = len(
        [f for f in os.listdir(os.path.join(root, "asset"))
         if f.endswith(".parquet")]
    )
    assert 0 < len(kept) < total
    got = sorted(
        (r["slot"], bytes(r["tx_id"]).hex(), r["output_index"])
        for r in read_pruned_box_with_bound(
            spark, os.path.join(root, "asset"),
            [("policy_id", TOKEN_POLICY, TOKEN_POLICY)],
        )[0].collect()
    )
    expect = sorted(
        (r["slot"], bytes(r["tx_id"]).hex(), r["output_index"])
        for r in asset.filter(
            F.col("policy_id") == F.lit(TOKEN_POLICY)
        ).collect()
    )
    assert got == expect and len(got) > 0

    # conjunctive box: policy equality AND a slot window skips at least
    # as much as either predicate alone, rows still exact
    box_kept = prune_files_box(
        spark, os.path.join(root, "asset"),
        [("policy_id", TOKEN_POLICY, TOKEN_POLICY),
         ("asset_name", TOKEN_NAME, TOKEN_NAME),
         ("slot", 100_000, 199_999)],
    )
    assert len(box_kept) <= len(kept)
    got_box = sorted(
        (r["slot"], bytes(r["tx_id"]).hex())
        for r in read_pruned_box_with_bound(
            spark, os.path.join(root, "asset"),
            [("policy_id", TOKEN_POLICY, TOKEN_POLICY),
             ("asset_name", TOKEN_NAME, TOKEN_NAME),
             ("slot", 100_000, 199_999)],
        )[0].collect()
    )
    expect_box = sorted(
        (r["slot"], bytes(r["tx_id"]).hex())
        for r in asset.filter(
            (F.col("policy_id") == F.lit(TOKEN_POLICY))
            & (F.col("asset_name") == F.lit(TOKEN_NAME))
            & F.col("slot").between(100_000, 199_999)
        ).collect()
    )
    assert got_box == expect_box and len(got_box) > 0


def test_concurrent_first_reads_race_one_build(spark, tmp_path):
    """Two sessions issuing their FIRST range read concurrently: the lock
    serializes the lazy build — exactly one manifest results (or one
    session falls back to the plain exact read), and both get identical,
    correct rows."""
    import threading

    from cardano_analytics_duckdb_spark.lake.fixtures import (
        ensure_fixture_lake,
    )
    from cardano_analytics_duckdb_spark.operators.cardano import _lake_pruned

    src_root = ensure_fixture_lake(spark)
    root = str(tmp_path / "race_lake")
    tx = spark.read.parquet(f"{src_root}/tx")
    tx.repartitionByRange(4, "tx_fee").write.parquet(os.path.join(root, "tx"))

    expect = sorted(
        (r["tx_fee"], bytes(r["tx_id"]).hex())
        for r in tx.filter(F.col("tx_fee") >= 2_000_001).collect()
    )
    results: dict[int, list] = {}
    errors: list = []

    def first_read(i: int) -> None:
        try:
            results[i] = sorted(
                (r["tx_fee"], bytes(r["tx_id"]).hex())
                for r in _lake_pruned(
                    spark, "tx", [("tx_fee", 2_000_001, None)], root=root
                )[0].collect()
            )
        except Exception as ex:  # pragma: no cover - diagnostic path
            errors.append(ex)

    threads = [
        threading.Thread(target=first_read, args=(i,)) for i in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert results[0] == results[1] == expect and len(expect) > 0
    # the loser of the create_exclusive race either double-checked inside
    # the lock or fell back — never a torn/overwritten manifest: if it
    # exists it must prune correctly right now
    mdir = os.path.join(root, "tx", MANIFEST_DIR)
    if os.path.isdir(mdir):
        fee = [("tx_fee", 2_000_001, None)]
        kept = prune_files_box(spark, os.path.join(root, "tx"), fee)
        got = sorted(
            (r["tx_fee"], bytes(r["tx_id"]).hex())
            for r in read_pruned_box_with_bound(
                spark, os.path.join(root, "tx"), fee
            )[0].collect()
        )
        assert got == expect and len(kept) >= 1
    # and no lock is left behind either way
    assert not os.path.exists(os.path.join(root, "_maintenance.lock"))


def test_pruned_row_bound_is_exact_file_sum_and_loud_on_gaps(
    spark, mtable, tmp_path
):
    """r12 (flagship broadcast gate): the bound equals the kept files'
    n_rows sum (an upper bound on matching rows, >= the true filtered
    count), shares the prune pass with the read, and degrades to None —
    never a lying number — when a surviving file has no manifest entry."""
    from cardano_analytics_duckdb_spark.operators.cardano import _lake_pruned

    lo, hi = _full(spark, mtable).agg(
        F.min("o_totalprice"), F.max("o_totalprice")
    ).first()
    width = (hi - lo) / N_FILES
    preds = [("o_totalprice", lo, lo + width / 2)]
    df, bound = read_pruned_box_with_bound(spark, mtable, preds)
    true_n = df.count()
    assert bound is not None and bound >= true_n > 0
    kept = prune_files_box(spark, mtable, preds)
    total = 0
    import pyarrow.parquet as pq

    for f in kept:
        total += pq.ParquetFile(f.replace("file:", "")).metadata.num_rows
    assert bound == total
    # a repeat read reuses the cached snapshot and reports the same bound
    assert read_pruned_box_with_bound(spark, mtable, preds)[1] == bound
    # no effective predicates -> no box -> the cardano read's bound
    # refuses (None) instead of reporting the whole table
    assert _lake_pruned(
        spark, os.path.basename(mtable), [("o_totalprice", None, None)],
        root=os.path.dirname(mtable),
    )[1] is None

    # an un-stat'd append inside the box makes the bound unknowable
    import shutil

    t2 = str(tmp_path / "with_append")
    shutil.copytree(mtable.replace("file:", ""), t2)
    _full(spark, mtable).limit(5).write.mode("append").parquet(t2)
    df2, bound2 = read_pruned_box_with_bound(spark, t2, preds)
    assert bound2 is None
    assert df2.count() >= true_n  # the read itself still keeps the append


def test_unbounded_box_keeps_every_live_file(spark, tmp_path):
    """An empty box, and a predicate with neither bound, filter nothing,
    so they must skip nothing — not even a file whose column is all
    null there (only a BOUNDED predicate rejects NULL)."""
    t = str(tmp_path / "nulls")
    schema = "k long, c long"
    spark.createDataFrame([(1, 10), (2, 20)], schema).coalesce(1).write.parquet(t)
    spark.createDataFrame(
        [(3, None), (4, None), (5, None)], schema
    ).coalesce(1).write.mode("append").parquet(t)
    build_manifest(spark, t)
    for preds in ([], [("c", None, None)]):
        df, bound = read_pruned_box_with_bound(spark, t, preds)
        assert sorted(r["k"] for r in df.collect()) == [1, 2, 3, 4, 5]
        assert bound == 5
        assert len(prune_files_box(spark, t, preds)) == 2
    # a bounded predicate still skips the all-null file
    assert len(prune_files_box(spark, t, [("c", 0, None)])) == 1


def test_box_prune_lists_live_files_once(spark, mtable, monkeypatch):
    """One pass per box: however many predicates, the live data files are
    listed exactly once."""
    from cardano_analytics_duckdb_spark.lake import manifest

    calls = []
    real = manifest._data_files

    def counting(lfs, root):
        calls.append(root)
        return real(lfs, root)

    monkeypatch.setattr(manifest, "_data_files", counting)
    lo, hi = _full(spark, mtable).agg(
        F.min("o_totalprice"), F.max("o_totalprice")
    ).first()
    box = [
        ("o_totalprice", lo, (lo + hi) / 2),
        ("o_orderkey", 1, None),
        ("o_orderstatus", "F", "O"),
    ]
    kept = manifest.prune_files_box(spark, mtable, box)
    assert kept
    assert len(calls) == 1


def test_pruned_read_does_control_plane_work_once(spark, mtable, monkeypatch):
    """A pruned read opens one filesystem handle, takes one manifest
    snapshot (whose signature lists the manifest dir) and relativizes
    the live files once, for the prune verdicts, the row bound and the
    read alike."""
    from cardano_analytics_duckdb_spark.lake import fsutil, manifest

    calls = {"LakeFs": 0, "content_signature": 0, "_relative": 0}

    def counted(owner, name):
        real = getattr(owner, name)

        def wrapper(*a, **k):
            calls[name] += 1
            return real(*a, **k)

        monkeypatch.setattr(owner, name, wrapper)

    counted(fsutil.LakeFs, "content_signature")
    counted(manifest, "LakeFs")
    counted(manifest, "_relative")
    lo = _full(spark, mtable).agg(F.min("o_totalprice")).first()[0]
    df, bound = read_pruned_box_with_bound(
        spark, mtable, [("o_totalprice", lo, lo + 1.0)]
    )
    assert bound is not None and df.count() > 0
    assert calls == {"LakeFs": 1, "content_signature": 1, "_relative": 1}


def test_lake_pruned_shares_one_filesystem_handle(spark, tmp_path, monkeypatch):
    """``_lake_pruned`` probes ``_manifest`` and then runs the pruned read
    on ONE filesystem handle."""
    from cardano_analytics_duckdb_spark.lake import fsutil
    from cardano_analytics_duckdb_spark.lake.fixtures import (
        ensure_fixture_lake,
    )
    from cardano_analytics_duckdb_spark.operators.cardano import _lake_pruned

    src_root = ensure_fixture_lake(spark)
    root = str(tmp_path / "fs_lake")
    spark.read.parquet(f"{src_root}/tx").write.parquet(os.path.join(root, "tx"))
    fee = [("tx_fee", 2_000_001, None)]
    _lake_pruned(spark, "tx", fee, root=root)  # builds the manifest

    made = []
    real_init = fsutil.LakeFs.__init__

    def counted(self, spark, root):
        made.append(root)
        real_init(self, spark, root)

    monkeypatch.setattr(fsutil.LakeFs, "__init__", counted)
    df, bound = _lake_pruned(spark, "tx", fee, root=root)
    assert bound is not None and df.count() > 0
    assert made == [f"{root}/tx"]


def test_box_predicate_matches_the_chained_filters(spark):
    """The box applies as ONE SQL-text filter.  Its literals keep the
    types ``F.lit`` gives (double, long, string with quotes and
    backslashes, binary), so the optimized plan is the one Catalyst
    makes of a chain of per-bound filters up to how the conjunction
    nests (``sameResult`` compares canonical plans), and so are the
    rows."""
    from cardano_analytics_duckdb_spark.lake.manifest import box_predicate_sql

    df = spark.createDataFrame(
        [(b"\x01\x02", "a'b\\c", 1.5, 3), (b"\x00", "zz", 9.0, 7)],
        "b binary, s string, d double, i long",
    )
    box = [("b", b"\x01\x02", b"\x01\x02"), ("s", "a'b\\c", None),
           ("d", 0.25, 2.0), ("i", 2.5, 3_000_000_000), ("d", None, None)]
    chained = df
    for column, lo, hi in box:
        if lo is not None:
            chained = chained.filter(F.col(column) >= F.lit(lo))
        if hi is not None:
            chained = chained.filter(F.col(column) <= F.lit(hi))
    one = df.filter(box_predicate_sql(box))

    def optimized(frame):
        return frame._jdf.queryExecution().optimizedPlan()

    assert optimized(one).sameResult(optimized(chained))
    assert one.collect() == chained.collect() == [df.first()]
    assert box_predicate_sql([("d", None, None)]) is None
