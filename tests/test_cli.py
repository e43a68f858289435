"""CLI parity tests — the reference's three entry points (SURVEY §3) driven
through ``cli.main`` with an injected session."""

from __future__ import annotations

import json
import os

from cardano_analytics_duckdb_spark.cli import main


def test_extract_then_query_roundtrip(spark, tmp_path, capsys):
    dest = str(tmp_path / "lake")
    rc = main(
        ["extract", "--blocks", "fixture", "--dest", dest, "--compact"],
        spark=spark,
    )
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["blocks"] > 0 and stats["transactions"] > 0
    assert stats["compacted"] == 1
    assert os.path.isdir(os.path.join(dest, "tx"))

    rc = main(["query", "--lake", dest, "--min-fee", "0"], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "transactions by fee" in out and "Summary: n=" in out


def test_analyze_token_fixture(spark, capsys, tmp_path):
    csv_path = str(tmp_path / "transfers_csv")
    rc = main(
        ["analyze-token", "fixture-token", "--csv", csv_path], spark=spark
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "TOKEN TRANSFER FEE ANALYSIS" in out
    assert "Ownership-changing transfers:" in out
    assert os.path.isdir(csv_path)


def test_analyze_token_raw_hex_and_unknown(spark, capsys):
    from cardano_analytics_duckdb_spark.lake.fixtures import (
        TOKEN_NAME,
        TOKEN_POLICY,
    )

    raw = f"{TOKEN_POLICY.hex()}.{TOKEN_NAME.hex()}"
    rc = main(["analyze-token", raw], spark=spark)
    assert rc == 0
    assert "TOKEN TRANSFER FEE ANALYSIS" in capsys.readouterr().out

    import pytest

    with pytest.raises(SystemExit):
        main(["analyze-token", "no-such-token"], spark=spark)


def test_extract_respects_stop_slot(spark, tmp_path, capsys):
    dest = str(tmp_path / "lake2")
    rc = main(
        ["extract", "--dest", dest, "--stop-slot", "150000"], spark=spark
    )
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    full_dest = str(tmp_path / "lake3")
    main(["extract", "--dest", full_dest], spark=spark)
    full = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["blocks"] < full["blocks"]


def test_curate_writes_stratified_parquet(spark, tmp_path, capsys):
    import duckdb

    dest = str(tmp_path / "curated")
    rc = main(
        ["curate", "--data", "/root/testdata/sf0.001", "--dest", dest],
        spark=spark,
    )
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["curated_docs"] > 0
    assert stats["sources"] > 1
    # source strata are physical partition directories
    strata = [d for d in os.listdir(dest) if d.startswith("source=")]
    assert len(strata) == stats["sources"]
    # membership matches the oracle pipeline exactly (deterministic sample)
    expected = duckdb.sql(
        """
        WITH scored AS (
          SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
                 len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')) AS ttr, text
          FROM read_parquet('/root/testdata/sf0.001/documents.parquet')
        ), quality AS (
          SELECT * FROM scored WHERE n_tokens >= 5 AND ttr >= 0.3
        ), canon AS (
          SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS canon_id
          FROM quality
        )
        SELECT count(*) FROM canon
        WHERE doc_id = canon_id AND (doc_id * 2654435761) % 100 < 30
        """
    ).fetchone()[0]
    assert stats["curated_docs"] == expected


def test_start_presets_match_reference_chain_points():
    """All ten named chain points carry the reference's exact
    (slot, block-header-hash) values (reference config.py:32-73), plus
    'origin' for from-genesis replay."""
    from cardano_analytics_duckdb_spark.cli import START_PRESETS

    expected = {
        "origin": (0, None),
        "last_byron": (4492799, "f8084c61b6a238acec985b59310b6ecec49c0ab8352249afd7268da5cff2a457"),
        "last_shelley": (16588737, "4e9bbbb67e3ae262133d94c3da5bffce7b1127fc436e7433b87668dba34c354a"),
        "last_allegra": (23068793, "69c44ac1dda2ec74646e4223bc804d9126f719b1c245dadc2ad65e8de1b276d7"),
        "last_mary": (39916796, "e72579ff89dc9ed325b723a33624b596c08141c7bd573ecfff56a1f7229e4d09"),
        "last_alonzo": (72316796, "c58a24ba8203e7629422a24d9dc68ce2ed495420bf40d9dab124373655161a20"),
        "snek_mint": (90914081, "2f7784ab8eee0e3d81223b9bd482195617cbee662ed6c412b123568251aac67a"),
        "snek_mint_plus_100K_blocks": (92961183, "055d7e5660fcfb8bede7eee40d55456030ba51a41d57d85fcea9a820644991b2"),
        "last_babbage": (133660799, "e757d57eb8dc9500a61c60a39fadb63d9be6973ba96ae337fd24453d4d15c343"),
        "last_babbage_plus_200K_blocks": (137747713, "1a599f87191e73b43e71751ece3666ede768c07fd664b85056306d656b022bcc"),
        "block_2025_10_28": (170099400, "a603a4b4ac4b077596bfa551648ba1f3fd3f8fd4f8f7818cea8dc917ea1cfd4c"),
    }
    assert START_PRESETS == expected
    # every block hash is a 32-byte hex digest
    for slot, block_id in START_PRESETS.values():
        assert slot >= 0
        if block_id is not None:
            assert len(bytes.fromhex(block_id)) == 32


def test_known_tokens_match_reference_registry():
    """snek/hosky resolve (case-insensitively) to the reference's policy id
    + hex asset name (token_fee_analysis.py:94-103); known addresses mirror
    config.py:77-82."""
    from cardano_analytics_duckdb_spark.cli import (
        KNOWN_ADDRESSES,
        _resolve_token,
    )

    policy, name = _resolve_token("snek")
    assert policy.hex() == "279c909f348e533da5808898f87f9a14bb2c3dfbbacccd631d927a3f"
    assert name == b"SNEK"
    policy, name = _resolve_token("HOSKY")  # case-insensitive like reference
    assert policy.hex() == "a0028f350aaabe0545fdcb56b039bfb08e4bb4d8c4d7c3c7d481c235"
    assert name == b"HOSKY"
    # the three remaining reference KNOWN_ASSETS (config.py:87-92): each
    # resolves to the exact concatenated policy+name hex the reference lists
    assert _resolve_token("ada") == (b"", b"")
    for token, ref_hex in [
        ("min", "29d222ce763455e3d7a09a665ce554f00ac89d2e99a1a83d267170c6"),
        ("sundae", "9a9693a9a37912a5097918f97918d15240c92ab729a0b7c4aa144d77"),
        (
            "snek",
            "279c909f348e533da5808898f87f9a14bb2c3dfbbacccd631d927a3f534e454b",
        ),
        (
            "hosky",
            "a0028f350aaabe0545fdcb56b039bfb08e4bb4d8c4d7c3c7d481c235484f534b59",
        ),
    ]:
        policy, name = _resolve_token(token)
        assert (policy + name).hex() == ref_hex
    assert set(KNOWN_ADDRESSES) == {
        "minswap_v1", "sundaeswap_v1", "wingriders_v1", "snek_mint"
    }
    for addr in KNOWN_ADDRESSES.values():
        assert addr.startswith("addr1")


def test_curate_split_writes_partitioned_splits(spark, tmp_path, capsys):
    import glob
    import json

    from cardano_analytics_duckdb_spark.cli import main

    dest = str(tmp_path / "curated_split")
    rc = main(
        ["curate", "--data", "/root/testdata/sf0.001", "--dest", dest, "--split"],
        spark=spark,
    )
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sum(stats["splits"].values()) == stats["curated_docs"]
    # split is a physical partition directory, and assignment is the
    # documented md5-nibble function of doc_id
    split_dirs = {os.path.basename(p) for p in glob.glob(f"{dest}/split=*")}
    assert split_dirs <= {"split=train", "split=val", "split=test"}
    assert "split=train" in split_dirs
    import hashlib

    for r in spark.read.parquet(dest).select("doc_id", "split").collect():
        nib = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[0]
        want = "train" if nib < "c" else ("val" if nib < "e" else "test")
        assert r["split"] == want


def test_vacuum_cli_reports_then_applies(spark, tmp_path, capsys):
    import os

    from cardano_analytics_duckdb_spark.cli import main

    dest = str(tmp_path / "lake")
    assert main(["extract", "--dest", dest, "--batch-size", "3"], spark) == 0
    capsys.readouterr()
    # a compaction that died before its first pointer publish
    orphan = os.path.join(dest, "tx", "_gen__slot_group_0__g00001")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "w").write("junk")

    assert main(["vacuum", "--lake", dest], spark) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {
        "applied": False, "tmp_dirs": ["tx/_gen__slot_group_0__g00001"],
    }
    assert os.path.isdir(orphan)  # report-only by default

    assert main(["vacuum", "--lake", dest, "--apply"], spark) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["applied"] is True
    assert out["tmp_dirs"] == ["tx/_gen__slot_group_0__g00001"]
    assert not os.path.exists(orphan)


def test_manifest_cli_build_then_probe(spark, sf_dir, tmp_path, capsys):
    import pyspark.sql.functions as F

    from cardano_analytics_duckdb_spark.lake.tables import load_table

    table = str(tmp_path / "orders_m")
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    src.repartitionByRange(4, "o_totalprice").write.parquet(table)

    rc = main(["manifest", "--table", table], spark=spark)
    assert rc == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["n_files"] == 4

    lo = src.agg(F.min("o_totalprice")).first()[0]
    rc = main(
        [
            "manifest",
            "--table",
            table,
            "--probe-column",
            "o_totalprice",
            "--lo",
            str(lo),
            "--hi",
            str(lo + 1.0),
        ],
        spark=spark,
    )
    assert rc == 0
    probe = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < probe["kept_files"] < 4


def test_rollback_cli_drops_rows_above_slot(spark, tmp_path, capsys):
    import pyspark.sql.functions as F

    from cardano_analytics_duckdb_spark.cli import main
    from cardano_analytics_duckdb_spark.lake.generations import read_table

    dest = str(tmp_path / "lake")
    assert main(["extract", "--dest", dest], spark) == 0
    capsys.readouterr()
    tx = read_table(spark, os.path.join(dest, "tx"))
    slots = sorted(r["slot"] for r in tx.select("slot").distinct().collect())
    assert len(slots) >= 2
    cut = slots[len(slots) // 2]

    rc = main(["rollback", "--lake", dest, "--to-slot", str(cut)], spark)
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["to_slot"] == cut and out["rows_dropped"] > 0

    after = read_table(spark, os.path.join(dest, "tx"))
    assert after.filter(F.col("slot") > cut).count() == 0
    assert after.filter(F.col("slot") <= cut).count() > 0


def test_cluster_cli_zorders_and_probes_binary_equality(
    spark, tmp_path, capsys
):
    """r9: the `cluster` maintenance command z-orders a table copy on
    (binary, numeric) columns and builds its manifest; `manifest
    --probe-column --eq-hex` then reports the skipped-file count for a
    policy-equality probe — the deployable loop behind the flagship's
    box pruning."""
    import pyspark.sql.functions as F

    src_dir = str(tmp_path / "asset_src")
    (
        spark.range(2048)
        .withColumn(
            "policy_id",
            F.unhex(F.rpad(F.hex(F.col("id") % 8 + 1), 64, "0")),
        )
        .withColumn("slot", F.col("id"))
        .select("policy_id", "slot")
        .write.parquet(src_dir)
    )
    out_dir = str(tmp_path / "asset_z")
    rc = main(
        [
            "cluster", "--table", src_dir, "--out", out_dir,
            "--by", "policy_id,slot", "--files", "8",
        ],
        spark=spark,
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["by"] == ["policy_id", "slot"] and res["n_files"] == 8

    target_hex = "3" + "0" * 63
    rc = main(
        [
            "manifest", "--table", out_dir,
            "--probe-column", "policy_id", "--eq-hex", target_hex,
        ],
        spark=spark,
    )
    assert rc == 0
    probe = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < probe["kept_files"] < 8
    # the clustered copy holds every source row
    assert (
        spark.read.parquet(out_dir).count()
        == spark.read.parquet(src_dir).count()
    )
