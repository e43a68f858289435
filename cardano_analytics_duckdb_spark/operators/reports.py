"""Report layer ≙ the reference's pandas post-processing + CSV sink.

Covers SURVEY §2 items the query modules don't:

- A6 driver-side scalar stats (totals / averages / slot range,
  token_fee_analysis.py:310-329) — computed in Spark
  *before* anything is collected, instead of pandas math on a fetched
  frame.
- A7 grouped multi-agg by transfer type with rounding
  (token_fee_analysis.py:318-325).  In the reference this is a dead path
  (``transfer_type`` is never produced upstream, guard at :319); here the
  classification is derived live from the set-comparison columns: a NULL
  input set means no token-holding input (mint-like), a NULL output set
  means no token-holding output (burn-like), else a transfer.
- S10 CSV sink (token_fee_analysis.py:345-350) and the formatted text
  summary (:354-389).

Scale notes: the stat queries aggregate the (already small) transfer
result.  ``token_transfer_report`` collects the totals and the per-type
stats as ONE ``GROUP BY ROLLUP`` aggregate over the uncached flagship
plan, so a report is one action; the CSV sink is a second action over
the same plan and writes distributed part files via ``df.write.csv`` —
the reference's single-file ``to_csv`` is a driver-side bottleneck at any
real scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import rnd
from .cardano import _token_transfers, _token_transfers_sql


# NULL input set: no token-holding input (mint-like); NULL output set: no
# token-holding output (burn-like); else a transfer.  Shared by the Spark
# queries and their DuckDB oracle.
_TTYPE_SQL = (
    "CASE WHEN input_addr_set IS NULL THEN 'mint'"
    " WHEN output_addr_set IS NULL THEN 'burn' ELSE 'transfer' END"
)


def cardano_transfer_summary_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row totals ≙ token_fee_analysis.py:310-329, as a single agg pass."""
    return _token_transfers(spark, None, None).agg(
        F.count("*").alias("n_transfers"),
        F.sum("tx_fee").alias("total_fee_lovelace"),
        rnd(F.sum("tx_fee") / 1e6, 6).alias("total_fee_ada"),
        rnd(F.avg("tx_fee") / 1e6, 6).alias("avg_fee_ada"),
        F.min("slot").alias("min_slot"),
        F.max("slot").alias("max_slot"),
    )


_SUMMARY_STATS_SQL = f"""
WITH transfers AS ({_token_transfers_sql(None, None)})
SELECT count(*) AS n_transfers,
       CAST(sum(tx_fee) AS BIGINT) AS total_fee_lovelace,
       floor((sum(tx_fee) / 1e6) * 1000000.0 + 0.5) / 1000000.0 AS total_fee_ada,
       floor((avg(tx_fee) / 1e6) * 1000000.0 + 0.5) / 1000000.0 AS avg_fee_ada,
       min(slot) AS min_slot,
       max(slot) AS max_slot
FROM transfers
"""


def cardano_transfer_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped fee stats by mint/burn/transfer ≙ token_fee_analysis.py:318-325."""
    transfers = _token_transfers(spark, None, None)
    return (
        transfers.groupBy(F.expr(_TTYPE_SQL).alias("transfer_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum("tx_fee").alias("total_fee"),
            rnd(F.avg("tx_fee"), 2).alias("avg_fee"),
        )
        .orderBy("transfer_type")
    )


_TYPE_STATS_SQL = f"""
WITH transfers AS ({_token_transfers_sql(None, None)})
SELECT {_TTYPE_SQL} AS transfer_type,
       count(*) AS n,
       CAST(sum(tx_fee) AS BIGINT) AS total_fee,
       floor((avg(tx_fee)) * 100.0 + 0.5) / 100.0 AS avg_fee
FROM transfers
GROUP BY transfer_type
ORDER BY transfer_type
"""


def write_transfer_csv(transfers: DataFrame, path: str) -> None:
    """S10 CSV sink ≙ token_fee_analysis.py:345-350.

    Distributed part-file write; array columns are serialized to a '|'
    joined string first (CSV has no array type — the reference's pandas
    dump leans on repr() for the same problem).
    """
    out = transfers.withColumns(
        {
            "input_addr_set": F.concat_ws("|", "input_addr_set"),
            "output_addr_set": F.concat_ws("|", "output_addr_set"),
        }
    )
    out.write.mode("overwrite").option("header", True).csv(path)


# The report's one aggregate: ROLLUP gives the totals row (is_total = 1)
# and the per-type rows from a single pass.  Rounding is ``rnd``'s formula
# in double literals, so the digits equal the registered stats queries'.
_REPORT_SQL = f"""
SELECT grouping(transfer_type) AS is_total, transfer_type, count(*) AS n,
       floor(sum(tx_fee) / 1e6D * 1e6D + 0.5D) / 1e6D AS total_fee_ada,
       floor(avg(tx_fee) / 1e6D * 1e6D + 0.5D) / 1e6D AS avg_fee_ada,
       min(slot) AS min_slot, max(slot) AS max_slot
FROM (SELECT {_TTYPE_SQL} AS transfer_type, tx_fee, slot FROM {{t}})
GROUP BY ROLLUP(transfer_type)
"""


def token_transfer_report(
    spark: SparkSession,
    min_slot: int | None = None,
    max_slot: int | None = None,
    csv_path: str | None = None,
    root: str | None = None,
    policy: bytes | None = None,
    asset_name: bytes | None = None,
) -> str:
    """End-to-end analysis ≙ token_fee_analysis.py:263-352 + summary :354-389.

    Runs the flagship transfer query and collects ONE rollup aggregate
    over it (totals plus per-type stats, a handful of rows); the optional
    detailed CSV is its own action over the same uncached relation.
    Returns the formatted text summary.
    """
    from ..lake.fixtures import TOKEN_NAME, TOKEN_POLICY

    transfers = _token_transfers(
        spark,
        min_slot,
        max_slot,
        root=root,
        policy=policy if policy is not None else TOKEN_POLICY,
        asset_name=asset_name if asset_name is not None else TOKEN_NAME,
    )
    rows = spark.sql(_REPORT_SQL, t=transfers).collect()
    if csv_path is not None:
        write_transfer_csv(transfers, csv_path)
    # an empty input gives no rows, or a totals row with n = 0
    stats = next((r for r in rows if r["is_total"]), None)
    if stats is None or stats["n"] == 0:
        return "No ownership-changing token transfers found."
    lines = [
        "TOKEN TRANSFER FEE ANALYSIS",
        "=" * 40,
        f"Ownership-changing transfers: {stats['n']}",
        f"Total fees: {stats['total_fee_ada']} ADA",
        f"Average fee: {stats['avg_fee_ada']} ADA",
        f"Slot range: {stats['min_slot']} - {stats['max_slot']}",
        "",
        "By transfer type:",
    ]
    by_type = [r for r in rows if not r["is_total"]]
    for row in sorted(by_type, key=lambda r: r["transfer_type"]):
        lines.append(
            f"  {row['transfer_type']}: n={row['n']}"
            f" avg_fee={row['avg_fee_ada']} ADA"
        )
    return "\n".join(lines)


QUERIES = {
    "cardano_transfer_summary_stats": cardano_transfer_summary_stats,
    "cardano_transfer_type_stats": cardano_transfer_type_stats,
}

ORACLE = {
    "cardano_transfer_summary_stats": _SUMMARY_STATS_SQL,
    "cardano_transfer_type_stats": _TYPE_STATS_SQL,
}
