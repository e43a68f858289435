"""Bucketed layouts of file-table sources (``lake/layout.py``).

Bucketed copies of the TPC-H file tables won where they were measured
(SCALE_PROBE tpch_100x 0.97x DuckDB); on the Cardano lake they lost on
every read path (r13_cardano_layout_10000x).  These tests pin the
contract:

- declare once (``set_bucket_spec``), build incrementally
  (``bucketize``), resolve automatically (``load_table``) — queries
  never change;
- copies are signature-checked: ANY source change makes resolution fall
  back to the plain read (stale layouts cost performance, never rows);
- copies survive the session: a fresh catalog re-registers them from
  the status file (``CREATE TABLE ... CLUSTERED BY ... LOCATION``);
- read-only testdata is NEVER written into — the layout
  lives in a per-source derived dir;
- a lake root is refused, and a ``_layout/`` dir an older build left in
  a lake is inert.
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


def test_bucketize_cli(spark, tmp_path, capsys, monkeypatch):
    """The bucketize verb: declare + build on a file-table source, then a
    refresh with no --spec reuses the declared one.  A lake root is
    refused with the measured reason, and nothing is written."""
    import json

    from cardano_analytics_duckdb_spark.cli import main
    from cardano_analytics_duckdb_spark.streaming.ingest import ingest_blocks

    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "layouts"))
    layout.invalidate_layout_cache()
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    shutil.copy(
        os.path.join(SF, "orders.parquet"),
        os.path.join(src_dir, "orders.parquet"),
    )
    rc = main(
        [
            "bucketize", "--lake", src_dir,
            "--spec", '{"orders": [["o_orderkey"]]}',
            "--buckets", "4",
        ],
        spark=spark,
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "orders_by_o_orderkey" in rep["copies"]
    assert layout.resolve_bucketed(spark, src_dir, "orders") is not None
    rc = main(["bucketize", "--lake", src_dir], spark=spark)
    assert rc == 0
    layout.drop_layout(spark, src_dir)

    root = str(tmp_path / "lake")
    ingest_blocks(spark, fixture_blocks()[:8], root)
    with pytest.raises(SystemExit, match="r13_cardano_layout_10000x"):
        main(
            ["bucketize", "--lake", root, "--spec", '{"tx": [["tx_id"]]}'],
            spark=spark,
        )
    assert not os.path.exists(os.path.join(root, "_layout"))
    assert not os.path.exists(layout._derived_dir(root))


def test_lake_root_is_refused_and_a_leftover_layout_is_inert(
    spark, layout_env
):
    """Bucketed copies lost on every Cardano-lake read path (SCALE_PROBE
    r13_cardano_layout_10000x), so a lake root cannot declare a layout,
    and a ``_layout/`` dir an older build left inside a lake changes
    neither the lake's reads nor its compaction."""
    import json

    from cardano_analytics_duckdb_spark.lake.generations import read_table
    from cardano_analytics_duckdb_spark.operators.cardano import _lake
    from cardano_analytics_duckdb_spark.streaming.ingest import (
        compact_lake,
        ingest_blocks,
    )

    root = str(layout_env / "lake")
    ingest_blocks(spark, fixture_blocks()[:8], root, batch_size=4)
    with pytest.raises(ValueError, match="r13_cardano_layout_10000x"):
        layout.set_bucket_spec(spark, root, {"tx": [["tx_id"]]}, n_buckets=4)
    left = os.path.join(root, "_layout")
    assert not os.path.exists(left)
    assert not os.path.exists(layout._derived_dir(root))

    # the spec an older build declared inside the lake, written by hand
    os.makedirs(left)
    with open(os.path.join(left, layout.SPEC_NAME), "w") as f:
        json.dump(
            {"version": 1, "n_buckets": 4, "tables": {"tx": [["tx_id"]]}}, f
        )
    layout.invalidate_layout_cache()
    ingest_blocks(spark, fixture_blocks()[8:12], root, batch_size=4)
    compact_lake(spark, root)
    assert os.listdir(left) == [layout.SPEC_NAME]
    tx = _lake(spark, "tx", root)
    assert sorted(tx.inputFiles()) == sorted(
        read_table(spark, os.path.join(root, "tx")).inputFiles()
    )
    assert tx.count() == sum(
        len(b["transactions"]) for b in fixture_blocks()[:12]
    )


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
