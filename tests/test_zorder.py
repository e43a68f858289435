"""Z-order clustered writer: correctness (layout never changes results) and
the pruning property that justifies it (per-file min-max spans shrink on
EVERY clustered dimension, where a linear sort shrinks only the first)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cardano_analytics_duckdb_spark.lake.tables import load_table
from cardano_analytics_duckdb_spark.lake.zorder import zorder_write

COLS = ["l_orderkey", "l_partkey"]


@pytest.fixture(scope="module")
def zpath(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("zorder") / "lineitem_z")
    zorder_write(
        load_table(spark, sf_dir, "lineitem").select(*COLS, "l_quantity"),
        path,
        COLS,
        out_files=8,
    )
    return path


def _box(df):
    lo_o, hi_o = df.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    lo_p, hi_p = df.agg(F.min("l_partkey"), F.max("l_partkey")).first()
    mid_o = lo_o + (hi_o - lo_o) // 4
    mid_p = lo_p + (hi_p - lo_p) // 4
    return (
        (F.col("l_orderkey") >= lo_o)
        & (F.col("l_orderkey") <= mid_o)
        & (F.col("l_partkey") >= lo_p)
        & (F.col("l_partkey") <= mid_p)
    )


def test_zorder_layout_preserves_results(spark, sf_dir, zpath):
    src = load_table(spark, sf_dir, "lineitem").select(*COLS, "l_quantity")
    z = spark.read.parquet(zpath)
    pred = _box(src)
    expect = sorted(map(tuple, src.filter(pred).collect()))
    actual = sorted(map(tuple, z.filter(pred).collect()))
    assert actual == expect
    assert z.count() == src.count()


def _mean_span_frac(spark, path, col):
    """Average per-file (max-min) span of ``col``, as a fraction of the
    global span — the quantity parquet row-group pruning depends on."""
    df = spark.read.parquet(path).withColumn("f", F.input_file_name())
    per_file = df.groupBy("f").agg(
        (F.max(col) - F.min(col)).cast("double").alias("span")
    )
    lo, hi = df.agg(F.min(col), F.max(col)).first()
    return (
        per_file.agg(F.avg("span")).first()[0] / float(hi - lo)
    )


def test_zorder_shrinks_every_dimension(spark, sf_dir, zpath, tmp_path):
    # Linear-sort baseline: tight on l_orderkey, useless on l_partkey.
    lin = str(tmp_path / "lineitem_lin")
    (
        load_table(spark, sf_dir, "lineitem")
        .select(*COLS, "l_quantity")
        .repartitionByRange(8, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(lin)
    )
    z_o = _mean_span_frac(spark, zpath, "l_orderkey")
    z_p = _mean_span_frac(spark, zpath, "l_partkey")
    lin_p = _mean_span_frac(spark, lin, "l_partkey")
    # Both clustered dimensions shrink (8 files on a 2-d curve ≈ 1/2 to 1/4
    # span per dim), and the second dimension beats the linear layout by a
    # wide margin (linear leaves it at ~1.0 of the global span).
    assert z_o < 0.75, z_o
    assert z_p < 0.75, z_p
    assert z_p < 0.8 * lin_p, (z_p, lin_p)


def test_overwide_morton_config_raises(spark):
    import pyspark.sql.functions as F
    import pytest as _pytest

    from cardano_analytics_duckdb_spark.lake.zorder import morton_interleave

    with _pytest.raises(ValueError, match="> 63"):
        morton_interleave([F.lit(0)] * 6, 12)


def test_zorder_key_handles_empty_frame(spark, tmp_path):
    from cardano_analytics_duckdb_spark.lake.tables import load_table
    from cardano_analytics_duckdb_spark.lake.zorder import zorder_write

    import pyspark.sql.functions as F

    empty = (
        load_table(spark, "/root/testdata/sf0.001", "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.lit(False))
    )
    out = str(tmp_path / "z_empty")
    zorder_write(empty, out, ["l_orderkey", "l_partkey"])
    assert spark.read.parquet(out).count() == 0


def test_zorder_key_autoreduces_bits_for_many_columns(spark, sf_dir):
    from cardano_analytics_duckdb_spark.lake.tables import load_table
    from cardano_analytics_duckdb_spark.lake.zorder import zorder_key

    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
    # 4 cols × default 12 bits would overflow; zorder_key must clamp to
    # 63//4 = 15 -> min(12,15)=12 fits; force the clamp with bits=20
    key = zorder_key(li, cols, bits=20)
    got = li.select(key.alias("z")).agg(F.min("z"), F.max("z")).first()
    assert got[0] >= 0  # keys stay non-negative signed longs


def test_binary_column_zorder_enables_box_pruning(spark, tmp_path):
    """r9: BINARY columns cluster on the Morton curve via an
    order-preserving hex-prefix coordinate, so a (policy_id, slot)
    z-order plus the binary-stats manifest turns the flagship's
    policy-equality x slot-window box into skipped files — produced
    end-to-end by our own tooling (zorder_write -> build_manifest ->
    prune_files_box), rows identical to the full-scan filter."""
    import os

    from cardano_analytics_duckdb_spark.lake.manifest import (
        build_manifest,
        prune_files_box,
        read_pruned_box_with_bound,
    )

    # 4096 rows, 8 distinct 32-byte policies DIFFERING IN THEIR LEADING
    # BYTE (like real hash-valued ids — entropy up front, where the
    # 7-byte prefix coordinate sees it), slot = row id
    df = (
        spark.range(4096)
        .withColumn(
            "policy_id",
            F.unhex(F.rpad(F.hex(F.col("id") % 8 + 1), 64, "0")),
        )
        .withColumn("slot", F.col("id"))
        .select("policy_id", "slot")
    )
    path = str(tmp_path / "asset_z")
    zorder_write(df, path, ["policy_id", "slot"], out_files=8)
    build_manifest(spark, path)

    target = bytes.fromhex("3" + "0" * 63)  # policy 3
    total = len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )
    # the binary DIMENSION ALONE must prune (the coordinate saw the
    # policies — not just the numeric slot axis doing all the work)
    kept_policy = prune_files_box(
        spark, path, [("policy_id", target, target)]
    )
    assert 0 < len(kept_policy) < total
    box = [("policy_id", target, target), ("slot", 1000, 3000)]
    kept = prune_files_box(spark, path, box)
    assert 0 < len(kept) <= len(kept_policy)
    got = sorted(
        r["slot"]
        for r in read_pruned_box_with_bound(spark, path, box)[0].collect()
    )
    expect = sorted(
        r["slot"]
        for r in df.filter(
            (F.col("policy_id") == F.lit(target))
            & F.col("slot").between(1000, 3000)
        ).collect()
    )
    assert got == expect and len(got) > 0


def test_binary_coord_sql_matches_python_mirror(spark):
    """The hypothesis property test (test_properties.py) reasons over a
    pure-Python mirror of _binary_coord; this pins the mirror to the
    actual Catalyst expression on edge-shaped values (empty, short, long,
    high bytes, shared prefixes)."""
    from cardano_analytics_duckdb_spark.lake.zorder import _binary_coord

    vals = [
        b"",
        b"\x00",
        b"\xff",
        b"\x01" * 7,
        b"\x01" * 8,
        b"\xab\xcd",
        bytes(range(32)),
        b"\xff" * 7,
        b"\x7f\xff\xff\xff\xff\xff\xff",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v binary")
    got = [
        r["c"]
        for r in df.select(
            _binary_coord("v").alias("c")
        ).collect()
    ]

    def mirror(v: bytes) -> int:
        return int(v.hex()[:14].ljust(14, "0") or "0", 16)

    assert got == [mirror(v) for v in vals]
