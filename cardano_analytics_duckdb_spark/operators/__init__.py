"""Query library.  Each submodule exposes

- ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]``
- ``ORACLE:  dict[str, str]`` — DuckDB-runnable SQL with identical output
  columns (same names, same aliasing) for hash-comparison.

``all_queries()`` / ``all_oracles()`` merge every submodule for the driver
contract in ``__spark_entry__.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


# The driver hard-checks only the FIRST 50 queries in dict order, so
# registration order decides which operators get a driver correctness row.
# Rotation policy: pin the reference-parity cardano family; add every query
# whose code changed since it was last hard-checked; fill the rest
# oldest-first by the round it was last hard-checked green, preferring to
# displace a query whose shared code path keeps another entry in the
# window.  All 147 stay pytest-oracle-green every run regardless of window
# position.
_WINDOW = (
    # reference parity (pinned every round)
    "cardano_high_fee_txs",
    "cardano_tx_summary",
    "cardano_token_transfers",
    "cardano_token_transfers_windowed",
    "cardano_mint_totals",
    "cardano_address_utxo_stats",
    "cardano_cert_counts",
    "cardano_datum_stats",
    "cardano_fee_by_slot_group",
    "cardano_governance_activity",
    "cardano_redeemer_costs",
    "cardano_proposal_deposits",
    "cardano_transfer_summary_stats",
    "cardano_transfer_type_stats",
    "cardano_address_clusters",
    # changed since r13, not hard-checked yet
    "cross_source_dup_leakage",
    "bpe_token_counts",
    # changed in r13, hard-checked green since
    "gopher_quality_flags",
    "pii_redaction_stats",
    "lang_id_scores",
    "knn_join_topk",
    # oldest-first fill
    "alpha_token_stats",
    "brand_shipment_stats",
    "cardano_address_cluster_summary",
    "cheapest_supplier_per_part",
    "customers_with_high_value_orders",
    "customers_without_orders",
    "disjunctive_brand_revenue",
    "doc_quality_scores",
    "embedding_near_dup_pairs",
    "events_tumbling_5min",
    "first_half_only_custkeys",
    "high_value_orders",
    "image_dup_clusters",
    "kmeans_cluster_profile",
    "minhash_band_buckets",
    "minhash_recall_eval",
    "nation_market_share",
    "nation_pair_volume",
    "ngram_jaccard_pairs",
    "order_summary_stats",
    "packing_efficiency_eval",
    "pricing_summary",
    "shipping_priority",
    "streaming_click_purchase_join",
    "streaming_dedup_events",
    "streaming_session_windows",
    "streaming_stateful_sessions",
    "top_orders_per_customer",
    "user_sessions",
)
# Displaced: events_sliding_10min (events_tumbling_5min keeps the
# agg-first window path in the window) and distinct_supplier_part_counts
# (its r13 change was reverted).  Next-oldest outside the window: the four
# r9 carryovers (image_dup_cluster_summary, status_price_position,
# streaming_tumbling_counts, image_phash_near_dup_pairs), then the r10
# block.


def _ordered(pick) -> dict:
    merged = {}
    for mod in _modules():
        merged.update(pick(mod))
    out = {k: merged[k] for k in _WINDOW if k in merged}
    out.update(merged)  # existing keys keep their (front) position
    return out


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(lambda m: m.QUERIES)


def all_oracles() -> dict[str, str]:
    return _ordered(lambda m: m.ORACLE)


def _modules():
    from ..streaming import windows as stream_windows
    from . import (
        addresses,
        analytic,
        cardano,
        dedup,
        graph,
        mixing,
        multimodal,
        relational,
        reports,
        similarity,
        temporal,
        textops,
        windows,
    )

    return [
        cardano,
        reports,
        addresses,
        graph,
        dedup,
        similarity,
        textops,
        mixing,
        multimodal,
        stream_windows,
        windows,
        temporal,
        analytic,
        relational,
    ]
