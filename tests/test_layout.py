"""Bucketed layouts as a lake lifecycle feature (r11 verdict #1).

The r11 probe proved the win (tpch_100x 0.97x DuckDB on bucketed copies)
but the layout was an in-process registry nothing maintained.  These
tests pin the lifecycle contract of ``lake/layout.py``:

- declare once (``set_bucket_spec``), build incrementally
  (``bucketize``), resolve automatically (``load_table`` /
  ``operators/cardano._lake``) — queries never change;
- copies are signature-checked: ANY source change makes resolution fall
  back to the plain read (stale layouts cost performance, never rows);
- ``compact_lake`` refreshes a spec'd lake's layout in the same
  maintenance window that rewrote its data;
- copies survive the session: a fresh catalog re-registers them from
  the status file (``CREATE TABLE ... CLUSTERED BY ... LOCATION``);
- the driver's read-only testdata is NEVER written into — external
  (file-table) sources get the derived layout dir.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cardano_analytics_duckdb_spark.lake import layout
from cardano_analytics_duckdb_spark.lake.fixtures import fixture_blocks
from cardano_analytics_duckdb_spark.lake.fsutil import LakeFs
from cardano_analytics_duckdb_spark.lake.tables import load_table

SF = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def layout_env(monkeypatch, tmp_path):
    """Route derived layout dirs into the test's tmp dir and start from
    a clean in-process cache."""
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "layouts"))
    layout.invalidate_layout_cache()
    yield tmp_path
    layout.invalidate_layout_cache()


def _below_join_exchange(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # after an action, AQE appends an "== Initial Plan ==" copy — judge
    # the FINAL plan only
    plan = plan.split("== Initial Plan ==")[0]
    lines = plan.splitlines()
    idx = next(i for i, ln in enumerate(lines) if "Join" in ln)
    return "Exchange" in "\n".join(lines[idx:])


def test_external_source_layout_never_touches_source(spark, layout_env):
    d = layout.set_bucket_spec(
        spark, SF, {"orders": [["o_orderkey"]]}, n_buckets=4
    )
    try:
        assert not d.startswith(SF)
        assert not os.path.exists(os.path.join(SF, "_layout"))
        assert d.startswith(str(layout_env / "layouts"))
    finally:
        layout.drop_layout(spark, SF)


def test_default_read_path_serves_fresh_copy_and_elides_exchange(
    spark, layout_env
):
    from cardano_analytics_duckdb_spark.operators.relational import (
        customer_order_distribution,
        late_ship_priority_counts,
        revenue_by_region,
    )

    plain = {
        "late": late_ship_priority_counts(spark, SF).collect(),
        "dist": customer_order_distribution(spark, SF).collect(),
        "rev": revenue_by_region(spark, SF).collect(),
    }
    layout.set_bucket_spec(spark, SF, layout.DEFAULT_TPCH_SPEC, n_buckets=4)
    layout.bucketize(spark, SF)
    # tiny SF would broadcast and trivially skip the exchange — force the
    # shuffle path so the assertion is about the BUCKETED distribution
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        late = late_ship_priority_counts(spark, SF)
        dist = customer_order_distribution(spark, SF)
        rev = revenue_by_region(spark, SF)
        # same rows, exchange-free joins, via the UNCHANGED query code
        assert late.collect() == plain["late"]
        assert dist.collect() == plain["dist"]
        assert rev.collect() == plain["rev"]
        assert not _below_join_exchange(late)
        assert not _below_join_exchange(dist)
        assert not _below_join_exchange(rev)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        layout.drop_layout(spark, SF)


def test_bucketize_is_incremental_and_resolution_is_signature_checked(
    spark, layout_env, tmp_path
):
    # copy a table so the source can change under the layout
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    shutil.copy(
        os.path.join(SF, "orders.parquet"),
        os.path.join(src_dir, "orders.parquet"),
    )
    layout.set_bucket_spec(
        spark, src_dir, {"orders": [["o_orderkey"]]}, n_buckets=4
    )
    layout.bucketize(spark, src_dir)
    assert layout.resolve_bucketed(spark, src_dir, "orders") is not None

    # unchanged source: second bucketize rebuilds nothing (same catalog,
    # same recorded signature object)
    lfs = LakeFs(spark, src_dir)
    d = layout._find_layout_dir(lfs, src_dir)
    before = lfs.content_signature(os.path.join(d, "orders_by_o_orderkey"))
    layout.bucketize(spark, src_dir)
    after = lfs.content_signature(os.path.join(d, "orders_by_o_orderkey"))
    assert before == after

    # source rewritten -> copy is STALE -> resolution falls back to plain
    full = load_table(spark, src_dir, "orders")
    half = full.filter(F.col("o_orderkey") % 2 == 0)
    n_half = half.count()
    half.toPandas().to_parquet(
        os.path.join(src_dir, "orders.parquet"),
        coerce_timestamps="us",  # pandas defaults to NANOS, which the
        allow_truncated_timestamps=True,  # vectorized reader rejects
    )
    assert layout.resolve_bucketed(spark, src_dir, "orders") is None
    assert load_table(spark, src_dir, "orders").count() == n_half

    # refresh rebuilds; resolution serves the new copy with the new rows
    layout.bucketize(spark, src_dir)
    served = layout.resolve_bucketed(spark, src_dir, "orders")
    assert served is not None and served.count() == n_half
    layout.drop_layout(spark, src_dir)


def test_fresh_session_reregisters_from_status(spark, layout_env):
    layout.set_bucket_spec(
        spark, SF, {"customer": [["c_custkey"]]}, n_buckets=4
    )
    built = layout.bucketize(spark, SF)
    cat = built["customer_by_c_custkey"]
    n = load_table(spark, SF, "customer").count()
    try:
        # simulate a fresh session: the in-memory catalog forgets the
        # table; the files and the status sidecar remain
        spark.sql(f"DROP TABLE IF EXISTS {cat}")
        layout.invalidate_layout_cache()
        served = layout.resolve_bucketed(spark, SF, "customer")
        assert served is not None and served.count() == n
        # and it is a real BUCKETED table again (exchange-free self-join)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = served.join(
                layout.resolve_bucketed(spark, SF, "customer"), "c_custkey"
            )
            assert not _below_join_exchange(joined)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        layout.drop_layout(spark, SF)


def test_bucket_lake_shorthand_and_unbucket(spark, layout_env):
    """Declare and build one table's copy, read it, then drop the layout:
    resolution goes back to the plain read."""
    layout.set_bucket_spec(spark, SF, {"part": [["p_partkey"]]}, n_buckets=4)
    out = layout.bucketize(spark, SF, tables=["part"])
    try:
        assert "part_by_p_partkey" in out
        assert load_table(
            spark, SF, "part", layout_for=("p_partkey",)
        ).count() == load_table(spark, SF, "part").count()
    finally:
        layout.drop_layout(spark, SF)
    assert layout.resolve_bucketed(spark, SF, "part") is None


def test_streaming_lake_layout_follows_compaction(spark, layout_env, tmp_path):
    """The lifecycle on a generation-pointer lake: spec'd copies go stale
    on append (fallback to plain — correct rows), and compact_lake's
    refresh hook rebuilds them in the same maintenance window."""
    from cardano_analytics_duckdb_spark.operators.cardano import _lake
    from cardano_analytics_duckdb_spark.streaming.ingest import (
        compact_lake,
        ingest_blocks,
    )

    root = str(tmp_path / "lake")
    ingest_blocks(spark, fixture_blocks()[:8], root, batch_size=1)
    # lake roots host their layout in-place
    d = layout.set_bucket_spec(spark, root, {"tx": [["tx_id"]]}, n_buckets=4)
    assert d == os.path.join(root, "_layout")
    layout.bucketize(spark, root)
    n0 = _lake(spark, "tx", root).count()
    assert layout.resolve_bucketed(spark, root, "tx") is not None

    # append: copy goes stale, the default read path still serves every
    # row (plain fallback)
    ingest_blocks(spark, fixture_blocks()[8:12], root, batch_size=1)
    assert layout.resolve_bucketed(spark, root, "tx") is None
    n1 = _lake(spark, "tx", root).count()
    assert n1 > n0

    # compaction refreshes the layout as part of maintenance
    compact_lake(spark, root)
    served = layout.resolve_bucketed(spark, root, "tx")
    assert served is not None and served.count() == n1
    assert _lake(spark, "tx", root).count() == n1


def test_bucketize_cli(spark, tmp_path, capsys, monkeypatch):
    """The bucketize verb: declare + build, then a refresh with no
    --spec reuses the declared one."""
    import json

    from cardano_analytics_duckdb_spark.cli import main
    from cardano_analytics_duckdb_spark.streaming.ingest import (
        compact_lake,
        ingest_blocks,
    )

    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "layouts"))
    layout.invalidate_layout_cache()
    root = str(tmp_path / "lake")
    ingest_blocks(spark, fixture_blocks()[:8], root, batch_size=1)
    ingest_blocks(spark, fixture_blocks()[8:12], root, batch_size=1)
    compact_lake(spark, root)

    rc = main(
        [
            "bucketize", "--lake", root,
            "--spec", '{"tx": [["tx_id"]]}',
            "--buckets", "4",
        ],
        spark=spark,
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "tx_by_tx_id" in rep["copies"]
    assert layout.resolve_bucketed(spark, root, "tx") is not None
    rc = main(["bucketize", "--lake", root], spark=spark)
    assert rc == 0


def test_lake_layout_refresh_is_partition_incremental(
    spark, layout_env, tmp_path
):
    """100 TB posture: a steady-state lake appends to recent slot_groups;
    the layout refresh must rewrite ONLY those partitions, not the whole
    copy — and control-plane-only churn (a stats manifest build) must
    rewrite nothing."""
    from cardano_analytics_duckdb_spark.lake.manifest import build_manifest
    from cardano_analytics_duckdb_spark.operators.cardano import _lake
    from cardano_analytics_duckdb_spark.streaming.ingest import ingest_blocks

    blocks = [
        b for b in fixture_blocks() if b.get("direction") != "backward"
    ]
    root = str(tmp_path / "lake")
    ingest_blocks(spark, blocks[:150], root, batch_size=50)
    d = layout.set_bucket_spec(spark, root, {"tx": [["tx_id"]]}, n_buckets=4)
    layout.bucketize(spark, root)
    lfs = LakeFs(spark, root)
    status = layout._read_json(lfs, os.path.join(d, layout.STATUS_NAME))
    st = status["copies"]["tx_by_tx_id"]
    assert st["partition_col"] == "slot_group"
    assert set(st["partition_tokens"]) == {
        "slot_group=0", "slot_group=200000",
    }
    loc = st["location"]
    g0_before = lfs.content_signature(os.path.join(loc, "slot_group=0"))
    assert g0_before

    # append ONLY to the newer group, then refresh: the old group's copy
    # files must be byte-identical (same names, mtimes, lengths)
    tail = blocks[150:]
    assert all(b["slot"] >= 200000 for b in tail)
    ingest_blocks(spark, tail, root, batch_size=50)
    assert layout.resolve_bucketed(spark, root, "tx") is None  # stale
    layout.bucketize(spark, root)
    assert g0_before == lfs.content_signature(
        os.path.join(loc, "slot_group=0")
    ), "untouched partition was rewritten"
    served = layout.resolve_bucketed(spark, root, "tx")
    n_true = _lake(spark, "tx", root).count()
    assert served is not None and served.count() == n_true
    # bucket invariant survives the incremental insert: self-join on the
    # bucket key stays exchange-free AND row-correct
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = served.select("tx_id", "tx_fee").join(
            served.select("tx_id", "slot"), "tx_id"
        )
        assert j.count() == n_true  # tx_id unique -> 1:1 self join
        assert not _below_join_exchange(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # control-plane-only churn: a manifest build adds control files under
    # the table root (stale signature) but moves no entry's data —
    # refresh must rewrite NOTHING and still restore resolution
    build_manifest(spark, os.path.join(root, "tx"))
    assert layout.resolve_bucketed(spark, root, "tx") is None
    whole_before = lfs.content_signature(loc)
    layout.bucketize(spark, root)
    assert lfs.content_signature(loc) == whole_before
    assert layout.resolve_bucketed(spark, root, "tx") is not None

    # fresh-session re-registration of a PARTITIONED copy: the catalog
    # must relearn the on-disk partitions (CREATE ... PARTITIONED BY +
    # MSCK REPAIR) — without the repair the table reads empty
    status = layout._read_json(lfs, os.path.join(d, layout.STATUS_NAME))
    cat = status["copies"]["tx_by_tx_id"]["catalog"]
    spark.sql(f"DROP TABLE IF EXISTS {cat}")
    layout.invalidate_layout_cache()
    served = layout.resolve_bucketed(spark, root, "tx")
    assert served is not None and served.count() == n_true
    # partition pruning works on the re-registered copy
    assert served.filter(F.col("slot_group") == 0).count() > 0


def test_advisor_recovers_audited_spec_from_workload(spark):
    """lake/advisor.py: the recommendation derived from the tpch-family
    queries' own optimized plans must contain every (table, key) the
    hand-audited DEFAULT_TPCH_SPEC declares — the spec is workload
    evidence, not folklore.  (The advisor also surfaces suppkey keys
    from the broadcast-dim joins; it recommends, the operator decides —
    so the assertion is superset, not equality.)"""
    from cardano_analytics_duckdb_spark.lake.advisor import (
        recommend_bucket_spec,
    )
    from cardano_analytics_duckdb_spark.operators import all_queries

    qs = all_queries()
    tpch = {
        n: qs[n]
        for n in (
            "forecast_revenue_change", "nation_part_profit",
            "late_ship_priority_counts", "customer_order_distribution",
            "promo_revenue_share", "significant_parts_value",
            "excess_volume_suppliers", "distinct_supplier_part_counts",
            "not_in_null_semantics", "revenue_by_region",
        )
    }
    spec = recommend_bucket_spec(spark, SF, tpch, min_votes=2)
    got = {(t, c) for t, layouts in spec.items() for (c,) in layouts}
    want = {
        (t, c)
        for t, layouts in layout.DEFAULT_TPCH_SPEC.items()
        for (c,) in layouts
    }
    assert want <= got, f"missing: {want - got}"


def test_bucketize_recommend_cli(spark, capsys, monkeypatch, tmp_path):
    import json

    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "layouts"))
    layout.invalidate_layout_cache()
    from cardano_analytics_duckdb_spark.cli import main

    rc = main(["bucketize", "--lake", SF, "--recommend"], spark=spark)
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    spec = rep["recommended_spec"]
    assert ["o_custkey"] in spec.get("orders", [])
    # recommend is read-only: no layout was declared or built
    assert layout.bucket_spec(spark, SF) is None


def test_layout_resolution_walk_never_serves_wrong_rows(spark, tmp_path):
    """Compositional safety (the test_generations_model pattern): a
    seeded random sequence of append / compact / rollback /
    vacuum / bucketize runs against a driver-side model.
    After EVERY step the layout invariant must hold: resolution either
    serves EXACTLY the model rows or returns None (plain fallback — the
    default read path then equals the model via read_table).  After
    every bucketize, resolution must be live and exact.  This is the
    'staleness costs performance, never rows' contract checked across
    arbitrary interleavings rather than pointwise — its FIRST run caught
    the emptied-partition resurrection bug (dynamic overwrite can't drop
    a copy partition; rollback-emptied entries now force a full
    rebuild).  SOAK_SEEDS=N sweeps N extra seeds."""
    _run_layout_walk(spark, str(tmp_path / "walk"), 20260816, 14)
    n = int(os.environ.get("SOAK_SEEDS", "0"))
    off = int(os.environ.get("SOAK_OFFSET", "0"))
    for i in range(off, off + n):
        _run_layout_walk(
            spark, str(tmp_path / f"walk_s{i}"), 20260816 + 1 + i, 14
        )


def _run_layout_walk(spark, root, seed, n_steps):
    import random

    from cardano_analytics_duckdb_spark.lake.generations import (
        read_table,
        vacuum_superseded,
    )
    from cardano_analytics_duckdb_spark.lake.lock import maintenance_lock
    from cardano_analytics_duckdb_spark.streaming.ingest import (
        _compact_lake_locked,
        _rollback_lake_locked,
    )

    SCHEMA = "k long, v string, slot long, slot_group long"
    rng = random.Random(seed)
    t = os.path.join(root, "t")
    model: dict[int, tuple[str, int, int]] = {}
    next_key = 0

    def fresh_rows(n):
        nonlocal next_key
        out = []
        for _ in range(n):
            slot = rng.randrange(0, 300)
            g = (slot // 100) * 100
            out.append((next_key, f"v{next_key}", slot, g))
            model[next_key] = (f"v{next_key}", slot, g)
            next_key += 1
        return out

    def model_rows():
        return sorted((k, v, s, g) for k, (v, s, g) in model.items())

    def frame_rows(df):
        return sorted(
            map(tuple, df.select("k", "v", "slot", "slot_group").collect())
        )

    spark.createDataFrame(fresh_rows(6), SCHEMA).write.mode(
        "append"
    ).partitionBy("slot_group").parquet(t)
    layout.set_bucket_spec(spark, root, {"t": [["k"]]}, n_buckets=4)
    layout.bucketize(spark, root)

    ops = ["append", "compact", "compact_defer", "rollback",
           "vacuum", "bucketize", "bucketize"]
    history = []
    for step in range(n_steps):
        op = rng.choice(ops)
        history.append(op)
        if op == "append":
            spark.createDataFrame(
                fresh_rows(rng.randint(1, 4)), SCHEMA
            ).write.mode("append").partitionBy("slot_group").parquet(t)
        elif op in ("compact", "compact_defer"):
            # NOTE: _compact_lake_locked ends with refresh_layout — the
            # lifecycle hook is part of the walk
            with maintenance_lock(spark, root, owner=f"walk-{step}"):
                _compact_lake_locked(
                    spark, root, tables=["t"],
                    vacuum="end" if op == "compact" else "defer",
                )
        elif op == "rollback":
            to_slot = rng.choice([60, 140, 230])
            with maintenance_lock(spark, root, owner=f"walk-{step}"):
                _rollback_lake_locked(
                    spark, root, to_slot, tables=["t"],
                    vacuum=rng.choice(["end", "defer"]),
                )
            for k in [k for k, (_, s, _) in model.items() if s > to_slot]:
                del model[k]
        elif op == "vacuum":
            vacuum_superseded(spark, t)
        elif op == "bucketize":
            # on an EMPTIED source (rollback to origin) this must retire
            # the copies, not raise — the compaction hook calls it too
            layout.bucketize(spark, root)
            served = layout.resolve_bucketed(spark, root, "t")
            if model:
                assert served is not None, (
                    f"stale right after refresh: {history}"
                )
            else:
                assert served is None, (
                    f"served a copy of an EMPTIED source: {history}"
                )
        if not model:
            continue
        served = layout.resolve_bucketed(spark, root, "t")
        if served is not None:
            assert frame_rows(served) == model_rows(), (
                f"layout served WRONG ROWS after step {step} ({op}); "
                f"history={history}"
            )
        assert frame_rows(read_table(spark, t)) == model_rows(), (
            f"plain path diverged after step {step} ({op}); "
            f"history={history}"
        )


def test_declared_but_unbuilt_layout_is_picked_up_without_restart(
    spark, layout_env, tmp_path
):
    """r12 advice (medium): a read BETWEEN set_bucket_spec and the first
    bucketize must not poison the in-process cache — the first build is
    picked up lazily on the next read, and bucketize itself never sees a
    phantom 'no bucket spec'."""
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    shutil.copy(
        os.path.join(SF, "orders.parquet"),
        os.path.join(src_dir, "orders.parquet"),
    )
    layout.set_bucket_spec(
        spark, src_dir, {"orders": [["o_orderkey"]]}, n_buckets=4
    )
    # reads in the declared-but-unbuilt window: plain fallback, no error
    assert layout.resolve_bucketed(spark, src_dir, "orders") is None
    assert load_table(spark, src_dir, "orders").count() > 0
    # SAME process, NO cache invalidation: build must work and the very
    # next read must serve the copy
    layout.bucketize(spark, src_dir)
    assert layout.resolve_bucketed(spark, src_dir, "orders") is not None
    # refresh_layout in the same window must also not silently no-op
    layout.drop_layout(spark, src_dir)
    layout.set_bucket_spec(
        spark, src_dir, {"orders": [["o_orderkey"]]}, n_buckets=4
    )
    assert layout.resolve_bucketed(spark, src_dir, "orders") is None
    assert layout.refresh_layout(spark, src_dir) is not None
    assert layout.resolve_bucketed(spark, src_dir, "orders") is not None
    layout.drop_layout(spark, src_dir)


def test_spec_redeclare_rebuilds_bucket_count_and_prunes_orphans(
    spark, layout_env, tmp_path
):
    """r12 advice (low): n_buckets is part of the copy-current check —
    a re-declared count rebuilds even when the source is unchanged — and
    layouts dropped from the spec are pruned, not served forever."""
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    shutil.copy(
        os.path.join(SF, "orders.parquet"),
        os.path.join(src_dir, "orders.parquet"),
    )
    layout.set_bucket_spec(
        spark,
        src_dir,
        {"orders": [["o_orderkey"], ["o_custkey"]]},
        n_buckets=4,
    )
    layout.bucketize(spark, src_dir)
    df = layout.resolve_bucketed(spark, src_dir, "orders")
    assert df is not None

    def bucket_count(frame):
        # read the recorded count from the status file instead of the
        # catalog (stable across spark versions)
        lfs = LakeFs(spark, src_dir)
        d = layout._find_layout_dir(lfs, src_dir)
        st = layout._read_json(lfs, os.path.join(d, layout.STATUS_NAME))
        return {k: v["n_buckets"] for k, v in st["copies"].items()}

    assert set(bucket_count(df).values()) == {4}
    # re-declare with a different count and a NARROWED spec: the custkey
    # layout disappears, the orderkey copy rebuilds at the new count
    layout.set_bucket_spec(
        spark, src_dir, {"orders": [["o_orderkey"]]}, n_buckets=8
    )
    layout.bucketize(spark, src_dir)
    counts = bucket_count(df)
    assert counts == {"orders_by_o_orderkey": 8}
    assert (
        layout.resolve_bucketed(
            spark, src_dir, "orders", layout_for=["o_custkey"]
        )
        is None
    )
    served = layout.resolve_bucketed(spark, src_dir, "orders")
    assert served is not None
    assert served.count() == load_table(spark, src_dir, "orders").count()
    layout.drop_layout(spark, src_dir)


def test_partition_col_rejects_malformed_hive_values(spark, tmp_path):
    """r12 advice (low): values like '--5' must fail validation (fall
    back to whole-table copies) instead of crashing the incremental
    parse downstream."""
    lfs = LakeFs(spark, str(tmp_path))
    t = tmp_path / "t"
    for entry in ["slot_group=--5", "slot_group=10"]:
        d = t / entry
        d.mkdir(parents=True)
        (d / "x.txt").write_text("x")
    assert layout._partition_col(lfs, str(tmp_path), "t") is None
    shutil.rmtree(t / "slot_group=--5")
    (t / "slot_group=-20").mkdir()
    assert layout._partition_col(lfs, str(tmp_path), "t") == "slot_group"


def test_source_sig_memo_revalidates_on_root_change(
    spark, layout_env, tmp_path
):
    """r12 advice (low): the hot-path signature is memoized behind the
    one-RPC shallow root token — repeated reads reuse it, any root-level
    change (new file) re-deep-lists immediately, and TTL expiry forces a
    refresh even with an unchanged token."""
    src = tmp_path / "src"
    (src / "t" / "g=1").mkdir(parents=True)
    (src / "t" / "g=1" / "a.parquet").write_text("a")
    lfs = LakeFs(spark, str(src))
    layout._SIG_CACHE.clear()
    s1 = layout._source_sig(lfs, str(src), "t")
    assert layout._source_sig(lfs, str(src), "t") == s1  # memo hit
    # mutate one level down: entry-dir mtime moves the ROOT token
    import time as _time

    _time.sleep(0.02)
    (src / "t" / "g=1" / "b.parquet").write_text("bb")
    s2 = layout._source_sig(lfs, str(src), "t")
    assert s2 != s1 and any("b.parquet" in e[0] for e in s2)
    # fresh=True (writer path) always deep-lists
    assert layout._source_sig(lfs, str(src), "t", fresh=True) == s2
    # expired TTL entry is refreshed in place
    path = layout._source_path(lfs, str(src), "t")
    exp, root, sig = layout._SIG_CACHE[path]
    layout._SIG_CACHE[path] = (-1.0, root, sig)
    assert layout._source_sig(lfs, str(src), "t") == s2
    assert layout._SIG_CACHE[path][0] > 0


def test_catalogless_status_entry_is_never_served_and_pruned(
    spark, layout_env, tmp_path
):
    """A status entry with no catalog table (a range-clustered copy from
    an older build) is never served, even with a matching source
    signature, and the next bucketize prunes it as undeclared."""
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    shutil.copy(
        os.path.join(SF, "orders.parquet"),
        os.path.join(src_dir, "orders.parquet"),
    )
    layout.set_bucket_spec(
        spark, src_dir, {"orders": [["o_orderkey"]]}, n_buckets=4
    )
    layout.bucketize(spark, src_dir)
    lfs = LakeFs(spark, src_dir)
    d = layout._find_layout_dir(lfs, src_dir)
    status_path = os.path.join(d, layout.STATUS_NAME)
    status = layout._read_json(lfs, status_path)
    # a one-row copy: serving it would return wrong rows
    loc = os.path.join(d, "orders_sorted_by_o_orderkey")
    load_table(spark, src_dir, "orders").limit(1).write.parquet(loc)
    status["copies"]["orders_sorted_by_o_orderkey"] = {
        "table": "orders",
        "cols": ["o_orderkey"],
        "kind": "sorted",
        "out_files": 4,
        "location": loc,
        "source_sig": status["copies"]["orders_by_o_orderkey"]["source_sig"],
    }
    layout._write_json(lfs, status_path, status)
    layout.invalidate_layout_cache()
    try:
        # no bucketed copy matches this hint, so only the leftover could
        # be served
        assert layout.resolve_bucketed(
            spark, src_dir, "orders", ("o_custkey",)
        ) is None
        assert layout.resolve_bucketed(spark, src_dir, "orders") is not None
        built = layout.bucketize(spark, src_dir)
        assert set(built) == {"orders_by_o_orderkey"}
        assert not os.path.exists(loc)
    finally:
        layout.drop_layout(spark, src_dir)
