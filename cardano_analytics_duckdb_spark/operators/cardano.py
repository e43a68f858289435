"""The reference's own query workloads, Spark-first, over the Cardano lake.

These are the parity targets from SURVEY §2/§3:

- high-fee report + summary stats ≙ /root/reference/main.py:24-53
- token-transfer flagship (semi-join → unnest → 2-key join → sorted distinct
  address sets → null-safe inequality) ≙ token_fee_analysis.py:107-249
- mint/utxo/cert/datum inventories over the remaining lake tables

The queries run on the deterministic fixture lake (lake/fixtures.py) — the
``sf_dir`` argument is accepted for driver-contract compatibility but the
lake is fixed-size; oracle SQL reads the identical files via
``read_parquet(..., hive_partitioning=1)``.

Binary columns are exposed as lowercase hex (identical in both engines) so
result hashing never depends on BLOB rendering.

Scale notes (100 TB posture): slot predicates prune `slot_group=N/`
directories on both engines; the token-UTxO side of the flagship is tiny
after the policy/asset filter → broadcast into the explode-join and the
semi-join (no shuffle of the big tx table) — but SIZE-GATED on the
manifest's row bound for the pruned token files, because a popular token
over years of history is millions of rows and a forced broadcast would
trade the shuffle for a driver OOM; over the gate every site falls back
to shuffle_hash, and with no bound AQE's runtime statistics decide.  Both
address sets come out of ONE shuffle and join back to the tx rows once,
riding the same gate.  The flagship is one uncached plan, built from one
SQL text: a report over it is one action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import rnd
from ..functions.slots import slot_posix_ms, slot_posix_ms_sql
from ..lake.fixtures import (
    DEFAULT_LAKE_ROOT,
    TOKEN_NAME,
    TOKEN_POLICY,
    ensure_fixture_lake,
)

_hex = lambda c: F.lower(F.hex(F.col(c)))  # noqa: E731


def _lake(
    spark: SparkSession, table: str, root: str | None = None
) -> DataFrame:
    from ..lake.generations import read_table

    root = root or ensure_fixture_lake(spark)
    # Generation-resolving read (lake/generations.py): identical plain
    # parquet scan for a never-maintained lake (the fixture case), and the
    # only correct read once compaction/rollback has swapped partitions.
    return read_table(spark, f"{root}/{table}")


def _scan(table: str) -> str:
    return (
        f"read_parquet('{DEFAULT_LAKE_ROOT}/{table}/slot_group=*/*.parquet',"
        " hive_partitioning=1)"
    )


# -- high-fee report ≙ main.py:24-35 ------------------------------------------


def _lake_pruned(
    spark: SparkSession,
    table: str,
    preds: list[tuple],
    root: str | None = None,
) -> tuple[DataFrame, int | None]:
    """Predicate read with file-level data skipping: equals
    ``_lake(table).filter(AND_i(lo_i <= col_i <= hi_i))``, but routed
    through the stats manifest (``lake/manifest.py``) so files whose
    footer [min, max] provably miss ANY predicate are never opened.
    Bounds may be numeric, string, or bytes (binary columns — equality
    as ``lo == hi``).  Builds the table's manifest on first use (one
    footer-stats pass, maintained thereafter by compaction's refresh /
    ``update_manifest``); post-build appends are always kept, so the
    read is exact regardless of manifest staleness.  On a z-ordered or
    clustered layout this converts predicates into skipped IO (measured
    11/64 files at 10x bench scale, SCALE_PROBE.json); on the fixture
    lake's slot-ordered files it degrades gracefully to a full read.

    Returns the frame plus the manifest's upper bound on the surviving
    rows (None when unknowable: no bounded predicate, fallback path, no
    manifest, or un-stat'd appends) — from the SAME prune pass, so a
    caller gating a broadcast on it pays no extra listing traffic (r11
    verdict #2).

    The lazy build is the ONE lake write a read query can trigger, so it
    follows the same single-writer discipline as every other mutation:
    taken under the lake's ``_maintenance.lock`` with a double-check
    inside (two sessions issuing their first range read can't race the
    overwrite-mode manifest write).  If the lock is held by a running
    maintenance job, or the mount is read-only, the query falls back to
    the plain unpruned scan + row predicates — exact, just without the
    IO skipping — and leaves manifest building to a later maintenance
    pass."""
    import os

    from ..lake.fsutil import LakeFs
    from ..lake.lock import maintenance_lock
    from ..lake.manifest import (
        MANIFEST_DIR,
        box_predicate_sql,
        build_manifest,
        read_pruned_box_with_bound,
    )

    preds = [(c, lo, hi) for c, lo, hi in preds
             if lo is not None or hi is not None]
    root = root or ensure_fixture_lake(spark)
    table_dir = f"{root}/{table}"
    if not preds:
        return _lake(spark, table, root=root), None
    lfs = LakeFs(spark, table_dir)
    manifest_path = os.path.join(table_dir, MANIFEST_DIR)
    if not lfs.exists(manifest_path):
        built = False
        try:
            with maintenance_lock(
                spark, root, owner=f"build_manifest({table}, lazy)"
            ):
                # Exceptions stay INSIDE the with body: maintenance_lock
                # keeps the lock on a raising body (crashed-rewrite
                # forensics), which would be wrong for a read query's
                # best-effort build.
                try:
                    if not lfs.exists(manifest_path):
                        build_manifest(spark, table_dir)
                    built = True
                except Exception:
                    built = False
        except (RuntimeError, OSError):
            built = False  # lock held elsewhere, or root unwritable
        if not built:
            return _lake(spark, table, root=root).filter(box_predicate_sql(preds)), None
    return read_pruned_box_with_bound(spark, table_dir, preds, lfs)


def cardano_high_fee_txs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fees are integral lovelace, so the strict > 2_000_000 of the
    # reference (main.py:24-35) is exactly the closed bound >= 2_000_001
    # the manifest prune understands
    tx, _ = _lake_pruned(spark, "tx", [("tx_fee", 2_000_001, None)])
    return (
        tx.filter(F.col("tx_fee") > 2_000_000)
        .select(
            "slot",
            _hex("tx_id").alias("tx_id_hex"),
            "tx_fee",
            "input_count",
            "output_count",
        )
        .orderBy(F.col("tx_fee").desc(), F.col("tx_id_hex"))
        .limit(100)
    )


_HIGH_FEE_SQL = f"""
SELECT slot, lower(hex(tx_id)) AS tx_id_hex, tx_fee, input_count, output_count
FROM {_scan("tx")}
WHERE tx_fee > 2000000
ORDER BY tx_fee DESC, tx_id_hex
LIMIT 100
"""

# -- summary statistics ≙ main.py:45-53 ---------------------------------------


def cardano_tx_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = _lake(spark, "tx")
    return tx.agg(
        F.count("*").alias("total_transactions"),
        rnd(F.avg("tx_fee"), 2).alias("avg_fee"),
        F.max("tx_fee").alias("max_fee"),
        F.min("tx_fee").alias("min_fee"),
        F.sum(F.col("tx_fee")).alias("total_fees"),
    )


_TX_SUMMARY_SQL = f"""
SELECT count(*) AS total_transactions,
       floor((avg(tx_fee)) * 100.0 + 0.5) / 100.0 AS avg_fee,
       max(tx_fee) AS max_fee,
       min(tx_fee) AS min_fee,
       CAST(sum(tx_fee) AS BIGINT) AS total_fees
FROM {_scan("tx")}
"""

# -- flagship: ownership-changing token transfers ≙ token_fee_analysis.py:107-249

# Forced-broadcast ceiling for the flagship's token-derived join sides,
# in ROWS of (tx_id 32 B, output_index, address ~29-57 B) ≈ 100 B/row:
# 500k rows ≈ 50 MB serialized — comfortably inside executor broadcast
# budgets, far above any fixture/probe token, while a popular mainnet
# token's multi-million-row history correctly falls back to shuffle_hash
# instead of OOMing the driver.
_FLAGSHIP_BROADCAST_ROW_GATE = 500_000


def _transfers_sql(hint: str | None) -> str:
    """The flagship as one SQL text over the DataFrame parameters ``tx``
    and ``tu`` (the token UTxOs: the asset rows of the token, already
    filtered), with ``hint`` (a join strategy hint name, or None) on its
    three join sites."""
    def on(name: str) -> str:
        return f"/*+ {hint}({name}) */ " if hint else ""

    # semi-join: txs that create a token UTxO … the reference pre-filters
    # only on *creating* txs (token_fee_analysis.py:212) and relies on the
    # output/input set joins for the rest — reproduce exactly that.
    # `relevant` stays rows (not grouped by tx_id): the reference keeps
    # duplicate tx rows, which a replayed ingest without reconciliation
    # makes.  Both address sets come from ONE shuffle — the consumed
    # (tx_id, input address) rows UNION ALL the produced (tx_id, output
    # address) rows, grouped by tx_id — and are joined back once.  Every
    # group holds produced rows (consuming txs are relevant, so they
    # create a token UTxO), so only the input set can be NULL: no token-
    # holding input.  Each set is the sorted distinct hex addresses,
    # '|'-joined, so the output column is a scalar string (the driver
    # canonicalizer can't hash list cells).
    return f"""
WITH relevant AS (
  SELECT {on("tu")}tx.* FROM {{tx}} tx LEFT SEMI JOIN {{tu}} tu
  ON tx.tx_id = tu.tx_id
), moves AS (
  SELECT {on("tu")}c.tx_id, tu.address, true AS consumed
  FROM (SELECT tx_id, explode(inputs) AS r FROM relevant) c
  JOIN {{tu}} tu ON tu.tx_id = c.r.tx_id AND tu.output_index = c.r.output_index
  UNION ALL
  SELECT tx_id, address, false FROM {{tu}}
), sets AS (
  SELECT tx_id,
         IF(bool_or(consumed), concat_ws('|', array_sort(collect_set(
           IF(consumed, lower(hex(address)), NULL)))), NULL) AS input_addr_set,
         concat_ws('|', array_sort(collect_set(
           IF(consumed, NULL, lower(hex(address)))))) AS output_addr_set
  FROM moves GROUP BY tx_id
)
SELECT {on("s")}r.slot, lower(hex(r.tx_id)) AS tx_id_hex, r.tx_fee,
       r.input_count, r.output_count, s.input_addr_set, s.output_addr_set
FROM relevant r LEFT JOIN sets s ON r.tx_id = s.tx_id
WHERE NOT (s.input_addr_set <=> s.output_addr_set)
SORT BY slot, tx_id_hex
"""


def _token_transfers(
    spark: SparkSession,
    min_slot: int | None,
    max_slot: int | None,
    root: str | None = None,
    policy: bytes = TOKEN_POLICY,
    asset_name: bytes = TOKEN_NAME,
) -> DataFrame:
    # Box-pruned read (r8 verdict #4+#8): the policy/name equality prunes
    # as a [v, v] range over the manifest's hex-encoded BINARY bounds, the
    # slot window over the numeric bounds — on a policy-clustered or
    # z-ordered asset layout the conjunction skips files before any data
    # page is read.  The pruned read re-applies the same predicates
    # row-level, so `tu` is exactly the token UTxOs whatever the layout
    # or manifest staleness.
    root = root or ensure_fixture_lake(spark)
    preds = [
        ("policy_id", policy, policy),
        ("asset_name", asset_name, asset_name),
        ("slot", min_slot, max_slot),
    ]
    asset, bound = _lake_pruned(spark, "asset", preds, root)

    # SIZE-GATED broadcasts (r11 verdict #2): the token UTxOs grow with
    # token popularity x chain history — a top token over years of
    # mainnet is millions of rows, and a forced broadcast would be a
    # driver/executor OOM instead of a plan fallback.  Every join side
    # (the token UTxOs, the per-tx address sets) is <= |token UTxOs|
    # rows, so the manifest's row bound on the box-pruned files gates all
    # three sites: at or under the gate they broadcast, over it they
    # shuffle_hash.  With no bound (no manifest, un-stat'd appends) the
    # plan carries no hint and AQE's runtime broadcast conversion decides
    # from the real sizes — no count() job to find out first.
    hint = None
    if bound is not None:
        small = bound <= _FLAGSHIP_BROADCAST_ROW_GATE
        hint = "BROADCAST" if small else "SHUFFLE_HASH"
    # One SQL text, not a DataFrame-API chain: building it costs a handful
    # of py4j calls instead of hundreds.  Nothing is cached: the tx scan
    # and semi-join run twice (sets and rows), which measured no worse
    # than persisting them (SCALE_PROBE flagship_join_ab_10000x
    # broadcast_sets_no_relevant_persist), and the partition-local sort
    # keeps the r13 sort-drop (no range exchange; the driver/oracle
    # canonicalize row order).
    return spark.sql(
        _transfers_sql(hint),
        tx=_lake(spark, "tx", root),
        tu=asset,
    )


def cardano_token_transfers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _token_transfers(spark, None, None)


def cardano_token_transfers_windowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # window chosen to split the slot-boundary chain across partitions
    return _token_transfers(spark, 100_000, 199_999)


def _token_transfers_sql(min_slot: int | None, max_slot: int | None) -> str:
    policy_hex = TOKEN_POLICY.hex()
    name_hex = TOKEN_NAME.hex()
    slot_pred = ""
    if min_slot is not None:
        slot_pred += f" AND slot >= {min_slot}"
    if max_slot is not None:
        slot_pred += f" AND slot <= {max_slot}"
    return f"""
WITH token_utxos AS (
  SELECT tx_id, output_index, address
  FROM {_scan("asset")}
  WHERE policy_id = unhex('{policy_hex}')
    AND asset_name = unhex('{name_hex}'){slot_pred}
), relevant_txs AS (
  SELECT * FROM {_scan("tx")}
  WHERE tx_id IN (SELECT DISTINCT tx_id FROM token_utxos)
), input_addresses AS (
  SELECT t.tx_id,
         array_to_string(list_sort(list(DISTINCT lower(hex(tu.address)))), '|')
           AS input_addr_set
  FROM (
    SELECT tx.tx_id, unnest(tx.inputs) AS r FROM relevant_txs tx
  ) t
  JOIN token_utxos tu
    ON tu.tx_id = t.r.tx_id AND tu.output_index = t.r.output_index
  GROUP BY t.tx_id
), output_addresses AS (
  SELECT tx_id,
         array_to_string(list_sort(list(DISTINCT lower(hex(address)))), '|')
           AS output_addr_set
  FROM token_utxos GROUP BY tx_id
)
SELECT tx.slot, lower(hex(tx.tx_id)) AS tx_id_hex, tx.tx_fee,
       tx.input_count, tx.output_count,
       i.input_addr_set, o.output_addr_set
FROM relevant_txs tx
LEFT JOIN input_addresses i ON tx.tx_id = i.tx_id
LEFT JOIN output_addresses o ON tx.tx_id = o.tx_id
WHERE i.input_addr_set IS DISTINCT FROM o.output_addr_set
ORDER BY tx.slot, tx_id_hex
"""


# -- mint / burn totals per asset ---------------------------------------------


def cardano_mint_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    mint = _lake(spark, "mint")
    return (
        mint.groupBy(
            _hex("policy_id").alias("policy_hex"),
            _hex("asset_name").alias("asset_hex"),
        )
        .agg(
            F.sum("quantity").alias("net_quantity"),
            F.sum(F.when(F.col("quantity") > 0, F.col("quantity")).otherwise(0)
                  ).alias("minted"),
            F.sum(F.when(F.col("quantity") < 0, -F.col("quantity")).otherwise(0)
                  ).alias("burned"),
            F.count("*").alias("n_events"),
        )
        .orderBy("policy_hex", "asset_hex")
    )


_MINT_TOTALS_SQL = f"""
SELECT lower(hex(policy_id)) AS policy_hex,
       lower(hex(asset_name)) AS asset_hex,
       CAST(sum(quantity) AS BIGINT) AS net_quantity,
       CAST(sum(CASE WHEN quantity > 0 THEN quantity ELSE 0 END) AS BIGINT) AS minted,
       CAST(sum(CASE WHEN quantity < 0 THEN -quantity ELSE 0 END) AS BIGINT) AS burned,
       count(*) AS n_events
FROM {_scan("mint")}
GROUP BY policy_hex, asset_hex
ORDER BY policy_hex, asset_hex
"""

# -- UTxO per-address stats ---------------------------------------------------


def cardano_address_utxo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    utxo = _lake(spark, "utxo")
    return (
        utxo.groupBy("address")
        .agg(
            F.count("*").alias("n_utxos"),
            F.sum("lovelace").alias("total_lovelace"),
            F.sum(F.when(F.col("has_token"), 1).otherwise(0)).alias(
                "n_token_utxos"
            ),
            F.sum(F.when(F.col("has_datum"), 1).otherwise(0)).alias(
                "n_datum_utxos"
            ),
        )
        .orderBy("address")
    )


_ADDRESS_UTXO_SQL = f"""
SELECT address,
       count(*) AS n_utxos,
       CAST(sum(lovelace) AS BIGINT) AS total_lovelace,
       CAST(sum(CASE WHEN has_token THEN 1 ELSE 0 END) AS BIGINT) AS n_token_utxos,
       CAST(sum(CASE WHEN has_datum THEN 1 ELSE 0 END) AS BIGINT) AS n_datum_utxos
FROM {_scan("utxo")}
GROUP BY address
ORDER BY address
"""

# -- certificate inventory ----------------------------------------------------


def cardano_cert_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cert = _lake(spark, "cert")
    return (
        cert.groupBy("type")
        .agg(F.count("*").alias("n"), F.min("slot").alias("first_slot"))
        .orderBy("type")
    )


_CERT_COUNTS_SQL = f"""
SELECT type, count(*) AS n, min(slot) AS first_slot
FROM {_scan("cert")}
GROUP BY type
ORDER BY type
"""

# -- datum inventory ----------------------------------------------------------


def cardano_datum_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    datum = _lake(spark, "datum")
    return (
        datum.groupBy("is_inline")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct(_hex("datum_hash")).alias("n_distinct_hashes"),
        )
        .orderBy("is_inline")
    )


_DATUM_STATS_SQL = f"""
SELECT is_inline, count(*) AS n,
       count(DISTINCT lower(hex(datum_hash))) AS n_distinct_hashes
FROM {_scan("datum")}
GROUP BY is_inline
ORDER BY is_inline
"""

# -- fee timeline with slot→timestamp upgrade (SURVEY §1.3) -------------------


def cardano_fee_by_slot_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = _lake(spark, "tx")
    return (
        tx.withColumn("posix_ms", slot_posix_ms(F.col("slot")).cast("long"))
        .groupBy("slot_group")
        .agg(
            F.count("*").alias("n_txs"),
            F.sum("tx_fee").alias("total_fees"),
            F.min("posix_ms").alias("first_ms"),
            F.max("posix_ms").alias("last_ms"),
        )
        .orderBy("slot_group")
    )


_FEE_BY_GROUP_SQL = f"""
SELECT slot_group, count(*) AS n_txs, CAST(sum(tx_fee) AS BIGINT) AS total_fees,
       min({slot_posix_ms_sql("slot")}) AS first_ms,
       max({slot_posix_ms_sql("slot")}) AS last_ms
FROM {_scan("tx")}
GROUP BY slot_group
ORDER BY slot_group
"""


# -- governance: README-only stretch tables (README.md:75-105) ----------------


def cardano_governance_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Votes joined to their tx context, per voter — exercises the vote
    table and a broadcast-able join back to tx."""
    vote = _lake(spark, "vote")
    tx = _lake(spark, "tx").select("tx_id", "tx_fee")
    return (
        vote.join(tx, "tx_id")
        .groupBy("voter")
        .agg(
            F.count("*").alias("n_votes"),
            F.sum("vote").alias("n_yes"),
            F.countDistinct(_hex("action_id_tx")).alias("n_actions"),
            F.max("tx_fee").alias("max_tx_fee"),
        )
        .orderBy("voter")
    )


_GOVERNANCE_SQL = f"""
SELECT v.voter,
       count(*) AS n_votes,
       CAST(sum(v.vote) AS BIGINT) AS n_yes,
       count(DISTINCT lower(hex(v.action_id_tx))) AS n_actions,
       max(t.tx_fee) AS max_tx_fee
FROM {_scan("vote")} v
JOIN {_scan("tx")} t ON v.tx_id = t.tx_id
GROUP BY v.voter
ORDER BY v.voter
"""


def cardano_redeemer_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execution-unit totals per redeemer tag (mem/steps budgeting)."""
    red = _lake(spark, "redeemer")
    return (
        red.groupBy("tag")
        .agg(
            F.count("*").alias("n"),
            F.sum("mem").alias("total_mem"),
            F.sum("steps").alias("total_steps"),
            F.sum(F.when(F.col("data").isNotNull(), 1).otherwise(0)).alias(
                "n_with_data"
            ),
        )
        .orderBy("tag")
    )


_REDEEMER_SQL = f"""
SELECT tag, count(*) AS n, CAST(sum(mem) AS BIGINT) AS total_mem,
       CAST(sum(steps) AS BIGINT) AS total_steps,
       CAST(sum(CASE WHEN data IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_data
FROM {_scan("redeemer")}
GROUP BY tag
ORDER BY tag
"""


def cardano_proposal_deposits(spark: SparkSession, sf_dir: str) -> DataFrame:
    prop = _lake(spark, "proposal")
    return prop.select(
        _hex("tx_id").alias("tx_id_hex"),
        "proposal_index",
        "deposit",
        "return_account",
        F.col("type").alias("action_type"),
        "anchor",
    ).orderBy("tx_id_hex", "proposal_index")


_PROPOSAL_SQL = f"""
SELECT lower(hex(tx_id)) AS tx_id_hex, proposal_index, deposit,
       return_account, type AS action_type, anchor
FROM {_scan("proposal")}
ORDER BY tx_id_hex, proposal_index
"""


QUERIES = {
    "cardano_high_fee_txs": cardano_high_fee_txs,
    "cardano_tx_summary": cardano_tx_summary,
    "cardano_token_transfers": cardano_token_transfers,
    "cardano_token_transfers_windowed": cardano_token_transfers_windowed,
    "cardano_mint_totals": cardano_mint_totals,
    "cardano_address_utxo_stats": cardano_address_utxo_stats,
    "cardano_cert_counts": cardano_cert_counts,
    "cardano_datum_stats": cardano_datum_stats,
    "cardano_fee_by_slot_group": cardano_fee_by_slot_group,
    "cardano_governance_activity": cardano_governance_activity,
    "cardano_redeemer_costs": cardano_redeemer_costs,
    "cardano_proposal_deposits": cardano_proposal_deposits,
}

ORACLE = {
    "cardano_high_fee_txs": _HIGH_FEE_SQL,
    "cardano_tx_summary": _TX_SUMMARY_SQL,
    "cardano_token_transfers": _token_transfers_sql(None, None),
    "cardano_token_transfers_windowed": _token_transfers_sql(100_000, 199_999),
    "cardano_mint_totals": _MINT_TOTALS_SQL,
    "cardano_address_utxo_stats": _ADDRESS_UTXO_SQL,
    "cardano_cert_counts": _CERT_COUNTS_SQL,
    "cardano_datum_stats": _DATUM_STATS_SQL,
    "cardano_fee_by_slot_group": _FEE_BY_GROUP_SQL,
    "cardano_governance_activity": _GOVERNANCE_SQL,
    "cardano_redeemer_costs": _REDEEMER_SQL,
    "cardano_proposal_deposits": _PROPOSAL_SQL,
}
