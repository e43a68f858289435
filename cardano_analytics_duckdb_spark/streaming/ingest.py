"""Block-stream ingestion: Ogmios-shaped blocks → the 10-table lake.

The reference's hand-rolled micro-batch loop (SURVEY §2.9) re-expressed
Spark-first:

- T2 per-record fan-out: the six extractor functions
  (/root/reference/ogmios_parquet.py:218-486) become declarative
  ``explode``/``transform`` DataFrame derivations in ``extract_tables`` —
  JVM-side, no Python row loops; the single Python UDF is blake2b for
  inline datums (F3), which only touches datum rows.
- T3/T4 buffered flush + partitioned append: ``ingest_blocks`` writes each
  micro-batch with ``partitionBy("slot_group")`` appends (the reference's
  uncompressed chunk files ≙ Spark part-files, ogmios_parquet.py:489-520).
- T5 stop conditions: the replay iterable simply ends (``stop_slot`` bound
  supported).
- T6 rollback: ``direction == "backward"`` events are counted and skipped —
  the reference's append-only, no-retraction policy
  (ogmios_parquet.py:813-814); a transactional upgrade needs Delta.
- T8/S9 deferred compaction: ``compact_lake`` rewrites each table to one
  file per slot_group partition (≙ compress_final_files,
  ogmios_parquet.py:523-571; zstd instead of brotli — SURVEY R5).

``ingest_blocks`` is the only way blocks enter the lake: the CLI
``extract`` verb and the chain benchmark both drive it.  Lake
maintenance is exactly three jobs: ``ingest_blocks`` appends,
``compact_lake`` compacts, ``rollback_lake`` rolls back.  Reports
recompute per read; nothing is maintained alongside the tables.

Scale notes: extraction is narrow (block → rows, no shuffle); the append
write shuffles nothing; compaction writes one file per rewritten
partition, each in its own directory-scoped job.  At 100 TB the same
plan holds — a micro-batch is one flush and compaction is a
per-partition maintenance job.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashes import blake2b_256
from ..lake.fixtures import SLOT_GROUP_SIZE
from ..sources.blocks import blocks_to_dataframe

# The streaming lake's own join-key family: every flagship join site
# (semi, src-UTxO equi, final set-agg lefts) keys on tx_id.  Declaring
# this spec is deliberately OPT-IN: ingest never declares it; a caller
# who wants it calls ``declare_default_layout(spark, dest)``.  The A/B
# at the 2M-tx lake (SCALE_PROBE r13_cardano_layout_10000x) REJECTED
# default-on — the
# bucketed tx copy lost on every path, including the over-gate
# shuffle_hash shape it exists to serve (gate0 1.399 -> 2.377 s,
# flagship 1.511 -> 2.662 s, windowed 0.651 -> 2.004 s): at this
# per-partition volume the n_buckets x slot_group file fan-out turns a
# ~100-file scan into a few thousand small files, and the scan
# overhead swamps the elided exchange.  asset is NOT in the spec for a
# second, measured reason: its read path is the manifest box-prune on
# (policy, name, slot), and re-clustering by tx_id trades that file
# skipping for one small exchange over already-token-filtered rows
# (asset_aggpath 0.34 s box-pruned vs 1.54 s on the copy, same probe).
# The spec remains the right call on a lake whose per-partition volume
# makes per-bucket files parquet-sized (tens of MB) — a real mainnet
# history, not this probe's — which is exactly what the opt-in is for.
DEFAULT_CARDANO_SPEC: dict[str, list[list[str]]] = {"tx": [["tx_id"]]}

LAKE_TABLES = (
    "tx",
    "utxo",
    "mint",
    "asset",
    "datum",
    "cert",
    "cert_stake",
    "cert_pool",
    "cert_cc",
    "cert_drep",
    "vote",
    "proposal",
    "redeemer",
)

_STAKE_TYPES = (
    "stakeDelegation",
    "stakeCredentialRegistration",
    "stakeCredentialDeregistration",
)
_POOL_TYPES = ("stakePoolRegistration", "stakePoolRetirement")
_CC_TYPES = (
    "constitutionalCommitteeHotKeyRegistration",
    "constitutionalCommitteeRetirement",
)
_DREP_TYPES = (
    "delegateRepresentativeRegistration",
    "delegateRepresentativeDeregistration",
    "delegateRepresentativeUpdate",
)


def extract_tables(blocks_df: DataFrame) -> dict[str, DataFrame]:
    """Derive all 10 lake tables from a typed block DataFrame.

    ≙ extract_transaction_data / extract_utxo_data / extract_mint_data /
    extract_asset_data / extract_datum_data / extract_all_certificate_data
    (/root/reference/ogmios_parquet.py:227-486), as column expressions.
    """
    txs = blocks_df.select(
        "slot", F.explode("transactions").alias("t")
    ).select(
        "slot",
        F.unhex("t.id").alias("tx_id"),
        F.col("t.fee")["ada"]["lovelace"].alias("tx_fee"),
        F.col("t.inputs").alias("raw_inputs"),
        F.col("t.outputs").alias("outputs"),
        F.col("t.mint").alias("mint"),
        F.col("t.certificates").alias("certificates"),
        F.col("t.redeemers").alias("redeemers"),
        F.col("t.withdrawals").alias("withdrawals"),
        F.col("t.votes").alias("votes"),
        F.col("t.proposals").alias("proposals"),
    )

    tx = txs.select(
        "slot",
        "tx_id",
        "tx_fee",
        F.size("raw_inputs").cast("int").alias("input_count"),
        F.size("outputs").cast("int").alias("output_count"),
        F.size("redeemers").cast("int").alias("redeemer_count"),
        F.size(
            F.expr(
                "filter(outputs, o -> o.datumHash IS NOT NULL"
                " AND o.datum IS NULL)"
            )
        )
        .cast("int")
        .alias("witness_datum_count"),
        (F.size(F.map_keys("mint")) > 0).alias("has_mint"),
        (F.size(F.map_keys("withdrawals")) > 0).alias("has_withdrawal"),
        (F.size("certificates") > 0).alias("has_cert"),
        (F.size("votes") > 0).alias("has_vote"),
        (F.size("proposals") > 0).alias("has_proposal"),
        F.expr(
            "transform(raw_inputs, i -> struct("
            "unhex(i.transaction.id) AS tx_id,"
            " i.index AS output_index))"
        ).alias("inputs"),
    )

    outs = txs.select(
        "slot",
        "tx_id",
        F.posexplode("outputs").alias("output_index", "o"),
    ).select(
        "slot",
        "tx_id",
        F.col("output_index").cast("int").alias("output_index"),
        F.col("o.address").alias("address"),
        F.col("o.value").alias("value"),
        F.col("o.datumHash").alias("datum_hash_hex"),
        F.col("o.datum").alias("inline_datum_hex"),
        F.col("o.script").alias("out_script"),
    )

    utxo = outs.select(
        "slot",
        "tx_id",
        "output_index",
        "address",
        F.col("value")["ada"]["lovelace"].alias("lovelace"),
        (F.size(F.map_keys("value")) > 1).alias("has_token"),
        (
            F.col("datum_hash_hex").isNotNull()
            | F.col("inline_datum_hex").isNotNull()
        ).alias("has_datum"),
        F.col("out_script").isNotNull().alias("has_ref_script"),
    )

    asset = (
        outs.select(
            "slot",
            "tx_id",
            "output_index",
            "address",
            F.explode("value").alias("policy_hex", "assets"),
        )
        .filter(F.col("policy_hex") != "ada")
        .select(
            "slot",
            "tx_id",
            "output_index",
            "address",
            F.unhex("policy_hex").alias("policy_id"),
            F.explode("assets").alias("asset_hex", "amount"),
        )
        .select(
            "slot",
            "tx_id",
            "output_index",
            "address",
            "policy_id",
            F.unhex("asset_hex").alias("asset_name"),
            "amount",
        )
    )

    mint = (
        txs.select("slot", "tx_id", F.explode("mint").alias("policy_hex", "assets"))
        .select(
            "slot",
            "tx_id",
            F.unhex("policy_hex").alias("policy_id"),
            F.explode("assets").alias("asset_hex", "quantity"),
        )
        .select(
            "slot",
            "tx_id",
            "policy_id",
            F.unhex("asset_hex").alias("asset_name"),
            "quantity",
        )
    )

    datum = (
        outs.filter(
            F.col("datum_hash_hex").isNotNull()
            | F.col("inline_datum_hex").isNotNull()
        )
        .withColumn("inline_datum", F.unhex("inline_datum_hex"))
        .select(
            "slot",
            "tx_id",
            "output_index",
            F.coalesce(
                F.unhex("datum_hash_hex"), blake2b_256(F.col("inline_datum"))
            ).alias("datum_hash"),
            F.col("inline_datum_hex").isNotNull().alias("is_inline"),
            "inline_datum",
        )
    )

    certs = txs.select(
        "slot", "tx_id", F.explode("certificates").alias("c")
    )
    cert = certs.select("slot", "tx_id", F.col("c.type").alias("type"))
    cert_stake = certs.filter(F.col("c.type").isin(*_STAKE_TYPES)).select(
        "slot",
        "tx_id",
        F.col("c.type").alias("type"),
        F.unhex("c.credential").alias("credential"),
        F.col("c.pool_id").alias("pool_id"),
        F.col("c.drep_id").alias("drep_id"),
    )
    cert_pool = certs.filter(F.col("c.type").isin(*_POOL_TYPES)).select(
        "slot",
        "tx_id",
        F.col("c.type").alias("type"),
        F.col("c.pool_id").alias("pool_id"),
        F.col("c.reward_account").alias("reward_account"),
        F.col("c.pledge").alias("pledge"),
        # F6 fraction parsing: "3/100" → (3, 100), ≙ ogmios_parquet.py:432-435
        F.split("c.margin", "/").getItem(0).cast("long").alias(
            "margin_numerator"
        ),
        F.split("c.margin", "/").getItem(1).cast("long").alias(
            "margin_denominator"
        ),
        F.col("c.cost").alias("cost"),
        F.unhex("c.metadata_hash").alias("metadata_hash"),
        F.col("c.metadata_url").alias("metadata_url"),
        F.col("c.retirement_epoch").alias("retirement_epoch"),
    )
    cert_cc = certs.filter(F.col("c.type").isin(*_CC_TYPES)).select(
        "slot",
        "tx_id",
        F.col("c.type").alias("type"),
        F.unhex("c.member_id").alias("member_id"),
        F.unhex("c.delegate_id").alias("delegate_id"),
        F.unhex("c.metadata_hash").alias("metadata_hash"),
        F.col("c.metadata_url").alias("metadata_url"),
    )
    cert_drep = certs.filter(F.col("c.type").isin(*_DREP_TYPES)).select(
        "slot",
        "tx_id",
        F.col("c.type").alias("type"),
        F.unhex("c.drep_id").alias("drep_id"),
        F.col("c.drep_type").alias("drep_type"),
        F.unhex("c.metadata_hash").alias("metadata_hash"),
        F.col("c.metadata_url").alias("metadata_url"),
    )

    # README-only governance tables (≙ /root/reference/README.md:75-105;
    # the reference has no extraction code for these — schemas from spec)
    vote = txs.select("slot", "tx_id", F.explode("votes").alias("v")).select(
        "slot",
        "tx_id",
        F.col("v.voter").alias("voter"),
        F.unhex("v.action_id_tx").alias("action_id_tx"),
        F.col("v.action_id_index").alias("action_id_index"),
        F.col("v.vote").alias("vote"),
        F.col("v.anchor").alias("anchor"),
    )
    proposal = txs.select(
        "slot", "tx_id", F.explode("proposals").alias("p")
    ).select(
        "slot",
        "tx_id",
        F.col("p.proposal_index").alias("proposal_index"),
        F.col("p.deposit").alias("deposit"),
        F.col("p.return_account").alias("return_account"),
        F.col("p.type").alias("type"),
        F.col("p.anchor").alias("anchor"),
    )
    redeemer = txs.select(
        "slot", "tx_id", F.explode("redeemers").alias("r")
    ).select(
        "slot",
        "tx_id",
        F.col("r.tag").alias("tag"),
        F.col("r.redeemer_index").alias("redeemer_index"),
        F.unhex("r.data").alias("data"),
        F.col("r.mem").alias("mem"),
        F.col("r.steps").alias("steps"),
    )

    return {
        "tx": tx,
        "utxo": utxo,
        "mint": mint,
        "asset": asset,
        "datum": datum,
        "cert": cert,
        "cert_stake": cert_stake,
        "cert_pool": cert_pool,
        "cert_cc": cert_cc,
        "cert_drep": cert_drep,
        "vote": vote,
        "proposal": proposal,
        "redeemer": redeemer,
    }


def _batches(blocks: Iterable[dict], size: int) -> Iterator[list[dict]]:
    batch: list[dict] = []
    for b in blocks:
        batch.append(b)
        if len(batch) >= size:
            yield batch
            batch = []
    if batch:
        yield batch


def _rollback_point_slot(event: dict) -> int:
    """Slot of a backward event's rollback point.  Chain-sync events carry
    ``point`` ("origin" or ``{"slot", "id"}``, chainsync.py:280); bare
    ``{"slot": N}`` events (replay fixtures) are accepted too.  Origin
    means everything rolls back -> -1 (``slot > -1`` drops all rows).

    -1 is reserved for an EXPLICIT ``point == "origin"``: a rollback to -1
    drops every row in the lake, so defaulting to it on a malformed event
    would turn a node/decoder bug into a silent full-lake wipe under
    ``reconcile_rollbacks=True``.  Any backward event that is neither
    origin nor slot-carrying raises instead."""
    point = event.get("point")
    if point == "origin":
        return -1
    if isinstance(point, dict) and "slot" in point:
        return int(point["slot"])
    if point is None and "slot" in event:
        return int(event["slot"])
    raise ValueError(
        "backward event has no recognizable rollback point (expected "
        "point='origin', point={'slot': N, ...}, or a bare 'slot' key); "
        f"refusing to default to a full-lake rollback: {event!r}"
    )


def _write_tables_parallel(tables: dict[str, DataFrame], dest: str) -> None:
    """Partitioned appends for all extracted tables, fanned out on a
    thread pool: each table's append is an independent Spark job, and at
    micro-batch sizes per-job scheduling latency (not IO) dominates the
    flush — overlapping the 13 jobs is a measured 2.2x on top of the
    source-cache win (ingest_probe).  Thread-per-job is the standard
    Spark concurrency model (the scheduler interleaves them); the source
    frame must be persisted by the caller so the fan-out doesn't
    re-execute the parse per table."""
    from concurrent.futures import ThreadPoolExecutor

    def _write_one(item: tuple[str, DataFrame]) -> None:
        name, df = item
        with_group = df.withColumn(
            "slot_group",
            (F.floor(F.col("slot") / SLOT_GROUP_SIZE)
             * SLOT_GROUP_SIZE).cast("long"),
        )
        sparse = name.startswith("cert") or name in (
            "vote", "proposal", "redeemer"
        )
        if sparse and with_group.isEmpty():
            return  # avoid schemaless empty partition dirs
        (
            with_group.write.mode("append")
            .partitionBy("slot_group")
            .parquet(os.path.join(dest, name))
        )

    with ThreadPoolExecutor(max_workers=len(tables)) as ex:
        # list() re-raises the first worker exception (fail-loud)
        list(ex.map(_write_one, tables.items()))


def declare_default_layout(spark: SparkSession, dest: str) -> bool:
    """Declare :data:`DEFAULT_CARDANO_SPEC` on ``dest`` unless a spec
    already exists (a user's own spec is never overwritten).  Returns
    whether a spec was written.  Declaration is metadata-only; the
    copies build at the next ``compact_lake``/``bucketize``."""
    from ..lake import layout

    if layout.bucket_spec(spark, dest) is not None:
        return False
    layout.set_bucket_spec(spark, dest, DEFAULT_CARDANO_SPEC)
    return True


def ingest_blocks(
    spark: SparkSession,
    blocks: Iterable[dict],
    dest: str,
    batch_size: int = 100,
    stop_slot: int | None = None,
    reconcile_rollbacks: bool = False,
) -> dict[str, int]:
    """Micro-batch ingestion loop.  Returns counters (blocks, txs,
    rollbacks) ≙ the reference's progress telemetry (T7).

    ``reconcile_rollbacks=False`` (default) is reference parity: backward
    events are counted and skipped (T6, ogmios_parquet.py logs and keeps
    appending).  ``True`` upgrades to live reconciliation: on a backward
    event the blocks buffered so far flush, then :func:`rollback_lake`
    drops every row above the rollback point — partition-scoped, under
    the maintenance lock, and reader-atomic via the
    generation-pointer swap (``lake/generations.py``).  Rows appended
    after the event (the node re-sending the adopted fork) land normally,
    so the lake converges to the honest chain.

    Rows land in ``slot_group`` partitions of :data:`SLOT_GROUP_SIZE`
    slots, the same grid ``rollback_lake`` and ``compact_lake`` scope
    their rewrites to."""
    stats = {"blocks": 0, "transactions": 0, "rollbacks": 0, "batches": 0}
    if reconcile_rollbacks:
        stats["reconciled_rows"] = 0
    # Bootstrap hygiene: if a table dir this run will (re)create was
    # deleted since its schema was remembered, the remembered schema is
    # stale — drop it BEFORE the first write (lake/generations.py,
    # delete-and-recreate hazard).
    from ..lake.fsutil import LakeFs
    from ..lake.generations import reconcile_schema_cache

    reconcile_schema_cache(
        LakeFs(spark, dest), [os.path.join(dest, t) for t in LAKE_TABLES]
    )

    def _flush(forward: list[dict]) -> None:
        # Persist the typed block frame before fanning out: the 13 table
        # extractions (plus the sparse-table emptiness probes) each run a
        # full action, and without the cache every one re-deserializes the
        # Python-side block list from scratch — measured 3.1x slower on a
        # 500-block flush.  The fan-out itself runs on a thread pool: the
        # per-table appends are independent jobs whose scheduling latency
        # dominates at micro-batch sizes, and overlapping them is another
        # 2.2x (ingest_probe, SCALE_PROBE.json — 29 -> ~160 blocks/s
        # total).  Crash semantics are unchanged: a flush was never
        # atomic across tables (sequential appends could die midway too);
        # recovery is the same compact/rollback toolkit either way.
        #
        # The cache fills at full default parallelism (fast Python->JVM
        # deserialization), but the fan-out reads it COALESCED to ~500
        # blocks/task: 13 concurrent jobs x 32 micro-tasks each was ~400
        # task launches and ~800 dynamic-partition file commits per
        # flush, pure scheduling/commit overhead at micro-batch sizes —
        # the r11 job audit measured the coalesced fan-out at 4.2x
        # (12.3 -> 3.0 s per 2000-block flush; coalescing BEFORE the
        # cache fill gives half that win back, so fill wide, read
        # narrow).  Fewer, larger files per table also lightens
        # compaction.
        bdf = blocks_to_dataframe(spark, forward).persist()
        try:
            bdf.count()
            nparts = max(1, min(8, len(forward) // 500))
            _write_tables_parallel(extract_tables(bdf.coalesce(nparts)), dest)
        finally:
            bdf.unpersist()
        stats["blocks"] += len(forward)
        stats["transactions"] += sum(
            len(b["transactions"]) for b in forward
        )
        stats["batches"] += 1

    stopped = False
    for batch in _batches(blocks, batch_size):
        forward: list[dict] = []
        for b in batch:
            if b.get("direction") == "backward":
                stats["rollbacks"] += 1
                if reconcile_rollbacks:
                    # Blocks received BEFORE the event belong to the
                    # orphaned fork tip — they must be on disk so the
                    # rewrite can drop them (and any earlier appends).
                    if forward:
                        _flush(forward)
                        forward = []
                    dropped = rollback_lake(
                        spark, dest, _rollback_point_slot(b)
                    )
                    stats["reconciled_rows"] += sum(dropped.values())
                # else: T6 reference parity — acknowledge, don't reconcile
                continue
            if stop_slot is not None and b["slot"] > stop_slot:
                stopped = True
                continue
            forward.append(b)
        if forward:
            _flush(forward)
        if stopped:
            break
    return stats


def rollback_lake(
    spark: SparkSession,
    root: str,
    to_slot: int,
    vacuum: str = "end",
    tables: Iterable[str] = LAKE_TABLES,
) -> dict[str, int]:
    """Chain-rollback reconciliation: drop every row with ``slot > to_slot``.

    The upgrade the reference explicitly lacks (T6 — it logs rollbacks and
    leaves orphaned rows in place, ogmios_parquet.py:813-814).  With plain
    parquet the unit of atomic rewrite is the partition directory: only
    slot_groups that can contain affected rows (group > to_slot - size) are
    rewritten; earlier partitions are untouched.  A Delta/Iceberg sink would
    make this a transactional ``DELETE WHERE slot > to_slot``.

    Returns rows dropped per table.  Like ``compact_lake``, all
    filesystem traffic goes through ``LakeFs`` so the same code runs on
    ``hdfs://``/``s3a://``.  READER-ATOMIC since r8: rewrites land in
    hidden generation dirs and commit per-table as one atomic pointer
    flip (``lake/generations.py``) — a concurrent reader resolving via
    ``generations.read_table`` sees the pre- or post-rollback state of
    every touched partition, never a half-swapped table.
    ``vacuum="end"`` (default) reclaims superseded files before
    returning — safe when no reader overlaps the job; ``vacuum="defer"``
    leaves them for an explicit ``vacuum_superseded`` after readers
    drain (supersession is per-FILE, so re-ingestion after the rollback
    is correct either way).  The single-WRITER half of the contract is
    enforced: the job holds the lake's ``_maintenance.lock``
    (``lake/lock.py``) for its duration, so a second maintenance job
    fails fast instead of interleaving rewrites.
    """
    from ..lake.lock import maintenance_lock

    with maintenance_lock(spark, root, owner=f"rollback_lake(to_slot={to_slot})"):
        return _rollback_lake_locked(
            spark, root, to_slot, vacuum=vacuum, tables=tables
        )


def _rollback_lake_locked(
    spark: SparkSession,
    root: str,
    to_slot: int,
    vacuum: str = "end",
    tables: Iterable[str] = LAKE_TABLES,
) -> dict[str, int]:
    from ..lake.fsutil import LakeFs
    from ..lake.generations import commit_swaps, vacuum_superseded

    lfs = LakeFs(spark, root)
    dropped: dict[str, int] = {}
    boundary_group = (to_slot // SLOT_GROUP_SIZE) * SLOT_GROUP_SIZE
    for t in tables:
        src = os.path.join(root, t)
        n = 0
        swaps: dict[str, dict] = {}
        for entry, group, source, live, st in _partition_sources(
            spark, lfs, src
        ):
            if group < boundary_group:
                continue  # partition ends before the rollback point
            if source is None:
                continue  # already fully dropped
            keep = source.filter(F.col("slot") <= to_slot)
            n_before = source.count()
            n_keep = keep.count()
            if n_keep == n_before:
                continue
            new_st = {
                "gen": None,
                "superseded": st.get("superseded", [])
                + [f.rsplit("/", 1)[-1] for f in live],
            }
            if n_keep > 0:
                # Hidden generation dir, partition column injected into
                # the data (the dir name can't carry it): readers resolve
                # via the pointer, so the swap is invisible until the
                # single atomic commit below.
                from ..lake.generations import next_generation_dir

                gen = next_generation_dir(lfs, src, entry)
                (
                    keep.withColumn(
                        "slot_group", F.lit(group).cast("long")
                    )
                    .write.mode("overwrite")
                    .parquet(os.path.join(src, gen))
                )
                new_st["gen"] = gen
            swaps[entry] = new_st
            n += n_before - n_keep
        if swaps:
            # ONE pointer flip commits every touched partition of this
            # table together — a reader sees all swaps or none.
            commit_swaps(lfs, src, swaps)
            if vacuum == "end":
                vacuum_superseded(spark, src)
        if n:
            dropped[t] = n
    return dropped


def _partition_sources(spark: SparkSession, lfs, table_dir: str):
    """Yield ``(entry, group, source_df | None, live_files, state)`` per
    logical partition — the current data a maintenance rewrite must read:
    the generation dir (if any) plus non-superseded hive files (appends
    since the last swap).  The partition column is dropped from the
    source (generation files carry it in the data, hive files in the
    path; the rewriter re-injects it uniformly)."""
    from ..lake.generations import (
        current_generations,
        generation_files,
        live_partition_files,
        partition_entries,
    )

    gens = current_generations(lfs, table_dir)
    for entry in partition_entries(lfs, table_dir):
        group = int(entry.split("=", 1)[1])
        st = gens.get(entry) or {}
        live = live_partition_files(lfs, table_dir, entry, gens)
        parts = []
        gfiles = (
            generation_files(lfs, table_dir, st["gen"])
            if st.get("gen")
            else []
        )
        if gfiles:
            parts.append(
                spark.read.parquet(*gfiles).drop("slot_group")
            )
        if live:
            parts.append(spark.read.parquet(*live))
        if not parts:
            yield entry, group, None, live, st
            continue
        source = parts[0]
        for p in parts[1:]:
            source = source.unionByName(p)
        yield entry, group, source, live, st


def compact_lake(
    spark: SparkSession,
    root: str,
    tables: Iterable[str] = LAKE_TABLES,
    vacuum: str = "end",
) -> None:
    """Rewrite fragmented partitions to one file per slot_group.

    ≙ the reference's end-of-run compaction (ogmios_parquet.py:523-571):
    many small append chunks → a single compressed file per partition —
    but INCREMENTAL: partitions already at a single file are skipped and
    each fragmented partition is rewritten in its own directory-scoped
    job, so repeated compaction of a growing lake costs ∝ the freshly
    appended partitions, not the table.

    All filesystem traffic goes through ``LakeFs`` (scheme-agnostic).
    READER-ATOMIC since r8: rewrites land in hidden generation dirs and
    commit per-table as one atomic pointer flip (``lake/generations.py``)
    — a concurrent reader resolving via ``generations.read_table`` sees
    the pre- or post-compaction state of the whole table, never a
    half-swapped one.  ``vacuum="end"`` (default) reclaims superseded
    files before returning (a reader mid-query over the OLD snapshot can
    get a loud file-not-found, never silent partial data);
    ``vacuum="defer"`` leaves old data in place for zero reader impact,
    deferring reclaim to an explicit ``vacuum_superseded`` whenever
    convenient — supersession is per-FILE, so appends stay visible and
    correct either way.  The single-WRITER half is enforced via the
    lake's ``_maintenance.lock`` (``lake/lock.py``)."""
    from ..lake.lock import maintenance_lock

    with maintenance_lock(spark, root, owner="compact_lake"):
        _compact_lake_locked(spark, root, tables, vacuum=vacuum)


def _compact_lake_locked(
    spark: SparkSession,
    root: str,
    tables: Iterable[str],
    vacuum: str = "end",
) -> None:
    from ..lake.fsutil import LakeFs
    from ..lake.generations import (
        commit_swaps,
        next_generation_dir,
        vacuum_superseded,
    )

    lfs = LakeFs(spark, root)
    # INCREMENTAL: only partitions holding two or more files are
    # rewritten, each scoped to its own directory — cost ∝ fragmented
    # partitions, never table size.  Steady state (append a few chunks to
    # the newest slot_group, compact, repeat) touches one partition per
    # run where the old whole-table rewrite re-shuffled every byte.
    # Rewrites land in hidden generation dirs (``lake/generations.py``)
    # with the partition column injected into the data, and each table's
    # swaps commit as ONE atomic pointer flip — a concurrent reader
    # resolving through ``read_table`` sees the old or the new state of
    # every partition, never a half-swapped table.  ``vacuum="end"``
    # reclaims superseded dirs before returning (safe in a stop-the-world
    # window); ``vacuum="defer"`` leaves them for an explicit
    # ``vacuum_superseded`` after in-flight readers drain (zero reader
    # impact; ingest refuses to append until the vacuum runs).
    # coalesce(1) mirrors the reference's one-file-per-partition output;
    # partitions are slot_group-bounded, so a single file stays
    # row-group sized.
    for t in tables:
        src = os.path.join(root, t)
        swaps: dict[str, dict] = {}
        for entry, group, source, live, st in _partition_sources(
            spark, lfs, src
        ):
            n_parquet = len(live) + (
                sum(
                    f.endswith(".parquet")
                    for f in lfs.list_files(os.path.join(src, st["gen"]))
                )
                if st.get("gen")
                else 0
            )
            if n_parquet < 2:
                continue  # already compact (or empty-append _SUCCESS only)
            gen = next_generation_dir(lfs, src, entry)
            (
                source.withColumn("slot_group", F.lit(group).cast("long"))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(src, gen))
            )
            swaps[entry] = {
                "gen": gen,
                "superseded": st.get("superseded", [])
                + [f.rsplit("/", 1)[-1] for f in live],
            }
        rewrote = bool(swaps)
        if swaps:
            commit_swaps(lfs, src, swaps)
            if vacuum == "end":
                vacuum_superseded(spark, src)
        # A rewrite invalidates manifest entries (old files gone, new
        # files unknown -> pruning degrades to keep-everything).  Refresh
        # an EXISTING manifest in the same maintenance window so data
        # skipping stays tight; tables that never built one pay nothing.
        # refresh_manifest is O(delta) — only the rewrite's new files get
        # footer reads, keeping incremental compaction's cost ∝ the
        # fragmented partitions (a full stats rebuild only fires when
        # dead entries outnumber live ones).
        from ..lake.manifest import MANIFEST_DIR, refresh_manifest

        if rewrote and lfs.exists(os.path.join(src, MANIFEST_DIR)):
            refresh_manifest(spark, src)
    # A lake with a declared bucket layout (lake/layout.py) keeps it
    # current through the same maintenance window: the compaction just
    # changed the tables' content signatures, so readers already fell
    # back to the plain path — this rebuild is what restores the
    # optimized layout.  Lakes without a spec pay one existence probe.
    from ..lake.layout import refresh_layout

    refresh_layout(spark, root)
