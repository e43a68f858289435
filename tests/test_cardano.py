"""Cardano-lake parity tests: flagship edge-case semantics (FIXTURES.md §B)
and blake2b datum integrity.  The oracle hash-match of every cardano_* query
is covered by test_queries_oracle.py (they're registered in the same
QUERIES/ORACLE maps)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from cardano_analytics_duckdb_spark.lake.fixtures import (
    DEFAULT_LAKE_ROOT,
    ensure_fixture_lake,
    fixture_blocks,
    _txid,
)
from cardano_analytics_duckdb_spark.operators.cardano import (
    _token_transfers,
    _token_transfers_sql,
    cardano_token_transfers,
    cardano_token_transfers_windowed,
)
from cardano_analytics_duckdb_spark.operators.reports import (
    _TTYPE_SQL,
    token_transfer_report,
)

from .probes import Jobs, cache_entries


def _hexid(i: int) -> str:
    return _txid(i).hex()


def test_flagship_edge_case_semantics(spark, sf_dir):
    got = {
        r.tx_id_hex for r in cardano_token_transfers(spark, sf_dir).collect()
    }
    included = {0, 1, 3, 4, 5, 7, 10, 11, 12, 13}
    # tx2  self-send: input set == output set -> excluded
    # tx6  pure burn: creates no token output, so it never enters
    #      relevant_txs (the reference semi-join is on *creating* txs,
    #      token_fee_analysis.py:212) -> excluded; locks actual semantics
    # tx8/9 other-policy noise -> excluded
    excluded = {2, 6, 8, 9, 14, 15}
    for i in included:
        assert _hexid(i) in got, f"tx{i} should be an ownership change"
    for i in excluded:
        assert _hexid(i) not in got, f"tx{i} must not be reported"


def test_flagship_null_set_directions(spark, sf_dir):
    rows = {
        r.tx_id_hex: r for r in cardano_token_transfers(spark, sf_dir).collect()
    }
    def hexset(*addrs: str) -> str:
        # addr sets are emitted as '|'-joined sorted lowercase-hex strings
        # (scalar columns — the driver canonicalizer can't hash list cells)
        return "|".join(sorted(a.encode().hex() for a in addrs))

    mint = rows[_hexid(0)]  # mint: no token inputs
    assert mint.input_addr_set is None
    assert mint.output_addr_set == hexset("addr_test_a")
    ghost = rows[_hexid(7)]  # inputs outside the dataset behave like a mint
    assert ghost.input_addr_set is None
    fan = rows[_hexid(4)]  # dedup + sort canonicalization
    assert fan.input_addr_set == hexset(
        "addr_test_b", "addr_test_c", "addr_test_d"
    )
    assert fan.output_addr_set == hexset("addr_test_e", "addr_test_f")


def test_flagship_slot_window_prunes_boundary(spark, sf_dir):
    got = {
        r.tx_id_hex
        for r in cardano_token_transfers_windowed(spark, sf_dir).collect()
    }
    assert _hexid(11) in got  # slot 199,999: inside window
    assert _hexid(12) not in got  # slot 200,000: outside -> not relevant
    assert _hexid(13) not in got


def test_datum_blake2b_integrity(spark, sf_dir):
    """Inline datums must carry blake2b-256(inline_datum) as datum_hash
    (≙ ogmios_parquet.py:333-343)."""
    root = ensure_fixture_lake(spark)
    inline = (
        spark.read.parquet(f"{root}/datum")
        .filter(F.col("is_inline"))
        .select("datum_hash", "inline_datum")
        .collect()
    )
    assert inline
    for r in inline:
        assert (
            hashlib.blake2b(bytes(r.inline_datum), digest_size=32).digest()
            == bytes(r.datum_hash)
        )


def test_fixed_width_binary_invariants(spark, sf_dir):
    """Spark has no fixed-length binary type; enforce the reference's
    binary(32)/binary(28) widths (ogmios_parquet.py:19,29,74) in tests."""
    root = ensure_fixture_lake(spark)
    tx = spark.read.parquet(f"{root}/tx")
    bad = tx.filter(F.length("tx_id") != 32).count()
    assert bad == 0
    asset = spark.read.parquet(f"{root}/asset")
    assert asset.filter(F.length("policy_id") != 28).count() == 0


def test_partition_pruning_on_slot_predicate(spark, sf_dir):
    """A slot_group predicate must prune partition directories (SURVEY R4)."""
    root = ensure_fixture_lake(spark)
    tx = spark.read.parquet(f"{root}/tx")
    plan = (
        tx.filter(F.col("slot_group") == 0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "slot_group" in plan
    pruned = tx.filter(F.col("slot_group") == 0)
    full = tx
    assert pruned.count() < full.count()


def test_token_transfer_report_and_csv_sink(spark, sf_dir, tmp_path):
    """S10 CSV sink + A6/A7 report layer (token_fee_analysis.py:310-389)."""
    import glob

    cached = cache_entries(spark)
    csv_dir = str(tmp_path / "transfers_csv")
    txt = token_transfer_report(spark, csv_path=csv_dir)
    assert "TOKEN TRANSFER FEE ANALYSIS" in txt
    assert "Ownership-changing transfers: 10" in txt
    parts = glob.glob(f"{csv_dir}/part-*.csv")
    assert parts, "CSV sink wrote no part files"
    header = open(parts[0]).readline().strip().split(",")
    assert header == [
        "slot",
        "tx_id_hex",
        "tx_fee",
        "input_count",
        "output_count",
        "input_addr_set",
        "output_addr_set",
    ]
    # windowed report over an empty slot range -> graceful empty message
    assert "No ownership-changing" in token_transfer_report(
        spark, min_slot=10**9, max_slot=10**9 + 1
    )
    # the report leaves the CacheManager as it found it
    assert cache_entries(spark) == cached


@pytest.mark.parametrize("bounded", [True, False])
def test_token_report_is_one_action(spark, sf_dir, monkeypatch, bounded):
    """A token report is one action over one uncached plan: at most 6
    jobs (broadcasts, the address-set shuffle, the rollup) in the
    caller's group, all of ONE SQL execution, so no count() gate, cache
    fill or second collect.  Without a manifest row bound no count() job
    runs either: AQE decides the joins at runtime."""
    from cardano_analytics_duckdb_spark.lake import manifest

    if not bounded:
        pruned = manifest.read_pruned_box_with_bound
        monkeypatch.setattr(
            manifest,
            "read_pruned_box_with_bound",
            lambda *a: (pruned(*a)[0], None),
        )
    want = token_transfer_report(spark)  # first touch builds the manifest
    cached = cache_entries(spark)
    with Jobs(spark, f"token-report-{bounded}") as jobs:
        assert token_transfer_report(spark) == want
    assert 0 < len(jobs.ids) <= 6, jobs.ids
    assert len(jobs.executions) == 1, jobs.executions
    assert cache_entries(spark) == cached


def _oracle_report(con, sql: str) -> str:
    """token_transfer_report's text, computed by DuckDB over ``sql``."""
    n, fee, avg, lo, hi = con.execute(
        f"WITH t AS ({sql}) SELECT count(*),"
        " floor(sum(tx_fee) / 1e6 * 1e6 + 0.5) / 1e6,"
        " floor(avg(tx_fee) / 1e6 * 1e6 + 0.5) / 1e6, min(slot), max(slot)"
        " FROM t"
    ).fetchone()
    if n == 0:
        return "No ownership-changing token transfers found."
    by_type = con.execute(
        f"WITH t AS ({sql}) SELECT {_TTYPE_SQL} AS k, count(*),"
        " floor(avg(tx_fee) / 1e6 * 1e6 + 0.5) / 1e6 FROM t"
        " GROUP BY k ORDER BY k"
    ).fetchall()
    return "\n".join(
        [
            "TOKEN TRANSFER FEE ANALYSIS",
            "=" * 40,
            f"Ownership-changing transfers: {n}",
            f"Total fees: {fee} ADA",
            f"Average fee: {avg} ADA",
            f"Slot range: {lo} - {hi}",
            "",
            "By transfer type:",
        ]
        + [f"  {k}: n={c} avg_fee={a} ADA" for k, c, a in by_type]
    )


def test_flagship_keeps_replayed_tx_rows(spark, tmp_path):
    """The reference keeps duplicate tx rows: a replayed extract without
    reconciliation appends every block twice, and each ownership change
    then reports twice.  On such a lake the flagship's rows (as a
    multiset) and the report text equal DuckDB's over the same files."""
    from collections import Counter

    import duckdb

    from cardano_analytics_duckdb_spark.streaming.ingest import ingest_blocks

    lake = str(tmp_path / "replayed")
    for _ in range(2):
        ingest_blocks(spark, fixture_blocks(), lake, batch_size=500)
    con = duckdb.connect()
    try:
        for lo, hi in ((None, None), (100_000, 199_999)):
            sql = _token_transfers_sql(lo, hi).replace(DEFAULT_LAKE_ROOT, lake)
            want = Counter(con.execute(sql).fetchall())
            rows = _token_transfers(spark, lo, hi, root=lake).collect()
            got = Counter(tuple(r) for r in rows)
            assert got == want
            assert set(want.values()) == {2}  # every row is duplicated
            assert token_transfer_report(
                spark, lo, hi, root=lake
            ) == _oracle_report(con, sql)
    finally:
        con.close()
