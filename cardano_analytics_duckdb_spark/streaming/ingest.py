"""Block-stream ingestion: Ogmios-shaped blocks → the 13-table lake.

The reference's hand-rolled micro-batch loop (SURVEY §2.9) re-expressed
Spark-first:

- T2 per-record fan-out: the six extractor functions
  (the reference's ogmios_parquet.py:218-486) become one SQL text per
  table (``_EXTRACT_SQL``; ``extract_tables`` builds all 13), each a
  projection over ``LATERAL VIEW explode``s of the block frame —
  JVM-side, no Python UDF and no Python worker: the inline datums'
  blake2b (F3) is hashed by the source while it builds the frame.
- T3/T4 buffered flush + partitioned append: ``ingest_blocks`` writes each
  micro-batch with ``partitionBy("slot_group")`` appends (the reference's
  uncompressed chunk files ≙ Spark part-files, ogmios_parquet.py:489-520).
- T5 stop conditions: the replay iterable simply ends (``stop_slot`` bound
  supported).
- T6 rollback: with ``reconcile_rollbacks=True`` (what the chain benchmark
  drives) a ``direction == "backward"`` event flushes the buffer, then
  ``rollback_lake`` drops every row above the rollback point, committed
  reader-atomically through the generation pointer
  (``lake/generations.py``).  The default keeps the reference's
  append-only policy: backward events are counted and skipped
  (ogmios_parquet.py:813-814).
- T8/S9 deferred compaction: ``compact_lake`` rewrites each table to one
  file per slot_group partition (≙ compress_final_files,
  ogmios_parquet.py:523-571; zstd instead of brotli — SURVEY R5).

``ingest_blocks`` is the only way blocks enter the lake: the CLI
``extract`` verb and the chain benchmark both drive it.  Lake
maintenance is exactly three jobs: ``ingest_blocks`` appends,
``compact_lake`` compacts, ``rollback_lake`` rolls back.  Reports
recompute per read; nothing is maintained alongside the tables.

Scale notes: at micro-batch sizes each Spark job's fixed cost, not IO,
is what a write path pays, so each path runs on a job budget:

- a flush is 1 append per non-empty table;
- a rollback is 1 aggregate per table plus 1 write per partition that
  loses rows;
- compaction is 1 write per fragmented partition.

A table that rewrites a partition also pays one schema-inference job.
All three paths run their tables concurrently (``_per_table``).  A
rewrite finds each partition's current files through
``lake/generations.py::resolve_partitions``, the resolver every reader
uses, so it rewrites exactly the snapshot a reader would see.
Extraction is narrow (block → rows, no shuffle) and the appends shuffle
nothing.  At 100 TB the same plan holds — a micro-batch is one flush
and compaction is a per-partition maintenance job.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake.fixtures import SLOT_GROUP_SIZE
from ..sources.blocks import blocks_to_dataframe

# Lakes read plain: tx_id bucketing lost on every read path at the
# 2M-tx lake (SCALE_PROBE r13_cardano_layout_10000x), so bucketed layouts
# serve file-table sources only (lake/layout.py).

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


# One SQL text per lake table, ≙ extract_transaction_data /
# extract_utxo_data / extract_mint_data / extract_asset_data /
# extract_datum_data / extract_all_certificate_data
# (the reference's ogmios_parquet.py:227-486), over the typed block frame
# bound as ``{b}``.  Each text is one analysis: one row per transaction,
# then LATERAL VIEWs down to one row per output, certificate, asset and
# so on, with the partition column ``slot_group`` computed in the same
# projection.
_TXS = "FROM {b} LATERAL VIEW explode(transactions) txs AS t"
_OUTS = _TXS + " LATERAL VIEW posexplode(t.outputs) outs AS output_index, o"
_CERTS = _TXS + " LATERAL VIEW explode(t.certificates) certs AS c"


def _type_in(types: tuple[str, ...]) -> str:
    return "WHERE c.type IN (" + ", ".join(f"'{v}'" for v in types) + ")"


def _sql(columns: str, source: str) -> str:
    return (
        f"SELECT slot, unhex(t.id) AS tx_id, {columns},"
        f" CAST(floor(slot / {SLOT_GROUP_SIZE}) * {SLOT_GROUP_SIZE} AS BIGINT)"
        f" AS slot_group {source}"
    )


# A missing mint/withdrawals/value map reaches these texts as an empty
# map (Spark reads a null map nested in an Arrow struct as empty), so
# has_mint, has_withdrawal and has_token are false there, never null.  A
# missing list reads as null, and size(null) is null: the tx counts and
# flags coalesce it to 0, as the fixture lake's row builder counts an
# empty list (len(...), bool(...)).
_EXTRACT_SQL = {
    "tx": _sql(
        "t.fee['ada']['lovelace'] AS tx_fee,"
        " coalesce(size(t.inputs), 0) AS input_count,"
        " coalesce(size(t.outputs), 0) AS output_count,"
        " coalesce(size(t.redeemers), 0) AS redeemer_count,"
        " coalesce(size(filter(t.outputs, o -> o.datumHash IS NOT NULL"
        " AND o.datum IS NULL)), 0) AS witness_datum_count,"
        " size(map_keys(t.mint)) > 0 AS has_mint,"
        " size(map_keys(t.withdrawals)) > 0 AS has_withdrawal,"
        " coalesce(size(t.certificates), 0) > 0 AS has_cert,"
        " coalesce(size(t.votes), 0) > 0 AS has_vote,"
        " coalesce(size(t.proposals), 0) > 0 AS has_proposal,"
        " transform(t.inputs, i -> struct(unhex(i.transaction.id) AS tx_id,"
        " i.index AS output_index)) AS inputs",
        _TXS,
    ),
    "utxo": _sql(
        "output_index, o.address AS address,"
        " o.value['ada']['lovelace'] AS lovelace,"
        " size(map_keys(o.value)) > 1 AS has_token,"
        " o.datumHash IS NOT NULL OR o.datum IS NOT NULL AS has_datum,"
        " o.script IS NOT NULL AS has_ref_script",
        _OUTS,
    ),
    "mint": _sql(
        "unhex(policy_hex) AS policy_id, unhex(asset_hex) AS asset_name,"
        " quantity",
        _TXS + " LATERAL VIEW explode(t.mint) mint AS policy_hex, assets"
        " LATERAL VIEW explode(assets) asset AS asset_hex, quantity",
    ),
    "asset": _sql(
        "output_index, o.address AS address, unhex(policy_hex) AS policy_id,"
        " unhex(asset_hex) AS asset_name, amount",
        _OUTS + " LATERAL VIEW explode(o.value) value AS policy_hex, assets"
        " LATERAL VIEW explode(assets) asset AS asset_hex, amount"
        " WHERE policy_hex != 'ada'",
    ),
    # datumBlake2b is the inline datum's blake2b-256, computed while the
    # source built the block frame (F3, sources/blocks.py)
    "datum": _sql(
        "output_index,"
        " coalesce(unhex(o.datumHash), o.datumBlake2b) AS datum_hash,"
        " o.datum IS NOT NULL AS is_inline, unhex(o.datum) AS inline_datum",
        _OUTS + " WHERE o.datumHash IS NOT NULL OR o.datum IS NOT NULL",
    ),
    "cert": _sql("c.type AS type", _CERTS),
    "cert_stake": _sql(
        "c.type AS type, unhex(c.credential) AS credential,"
        " c.pool_id AS pool_id, c.drep_id AS drep_id",
        f"{_CERTS} {_type_in(_STAKE_TYPES)}",
    ),
    # F6 fraction parsing: "3/100" → (3, 100), ≙ ogmios_parquet.py:432-435
    "cert_pool": _sql(
        "c.type AS type, c.pool_id AS pool_id,"
        " c.reward_account AS reward_account, c.pledge AS pledge,"
        " CAST(split(c.margin, '/')[0] AS BIGINT) AS margin_numerator,"
        " CAST(split(c.margin, '/')[1] AS BIGINT) AS margin_denominator,"
        " c.cost AS cost, unhex(c.metadata_hash) AS metadata_hash,"
        " c.metadata_url AS metadata_url,"
        " c.retirement_epoch AS retirement_epoch",
        f"{_CERTS} {_type_in(_POOL_TYPES)}",
    ),
    "cert_cc": _sql(
        "c.type AS type, unhex(c.member_id) AS member_id,"
        " unhex(c.delegate_id) AS delegate_id,"
        " unhex(c.metadata_hash) AS metadata_hash,"
        " c.metadata_url AS metadata_url",
        f"{_CERTS} {_type_in(_CC_TYPES)}",
    ),
    "cert_drep": _sql(
        "c.type AS type, unhex(c.drep_id) AS drep_id,"
        " c.drep_type AS drep_type, unhex(c.metadata_hash) AS metadata_hash,"
        " c.metadata_url AS metadata_url",
        f"{_CERTS} {_type_in(_DREP_TYPES)}",
    ),
    # README-only governance tables (≙ the reference's README.md:75-105;
    # the reference has no extraction code for these — schemas from spec)
    "vote": _sql(
        "v.voter AS voter, unhex(v.action_id_tx) AS action_id_tx,"
        " v.action_id_index AS action_id_index, v.vote AS vote,"
        " v.anchor AS anchor",
        _TXS + " LATERAL VIEW explode(t.votes) votes AS v",
    ),
    "proposal": _sql(
        "p.proposal_index AS proposal_index, p.deposit AS deposit,"
        " p.return_account AS return_account, p.type AS type,"
        " p.anchor AS anchor",
        _TXS + " LATERAL VIEW explode(t.proposals) proposals AS p",
    ),
    "redeemer": _sql(
        "r.tag AS tag, r.redeemer_index AS redeemer_index,"
        " unhex(r.data) AS data, r.mem AS mem, r.steps AS steps",
        _TXS + " LATERAL VIEW explode(t.redeemers) redeemers AS r",
    ),
}
LAKE_TABLES = tuple(_EXTRACT_SQL)

# The sparse tables: a flush holding none of their rows skips them, so no
# schemaless empty partition dir is created.
_CERT_SUBTABLES = {
    **dict.fromkeys(_STAKE_TYPES, "cert_stake"),
    **dict.fromkeys(_POOL_TYPES, "cert_pool"),
    **dict.fromkeys(_CC_TYPES, "cert_cc"),
    **dict.fromkeys(_DREP_TYPES, "cert_drep"),
}
_TX_LIST_TABLES = {
    "certificates": "cert",
    "votes": "vote",
    "proposals": "proposal",
    "redeemers": "redeemer",
}
_SPARSE_TABLES = frozenset(_CERT_SUBTABLES.values()) | frozenset(
    _TX_LIST_TABLES.values()
)


def extract_tables(blocks_df: DataFrame) -> dict[str, DataFrame]:
    """Derive all 13 lake tables, ``slot_group`` included, from a typed
    block DataFrame."""
    return {name: _extract(blocks_df, name) for name in LAKE_TABLES}


def _extract(blocks_df: DataFrame, name: str) -> DataFrame:
    # spark.sql binds the frame under a generated temp view name and
    # drops the view once the text is analysed.
    return blocks_df.sparkSession.sql(_EXTRACT_SQL[name], b=blocks_df)


def _sparse_tables_present(blocks: Iterable[dict]) -> set[str]:
    """The sparse tables holding at least one row of ``blocks``, decided
    from the block dicts the driver already holds, with no Spark job.
    Mirrors the extractors: exploding a missing or None list yields no
    row, a None element still yields one (all-null) row, and each cert
    subtype table keeps only its own ``type`` values."""
    present: set[str] = set()
    for b in blocks:
        for t in b.get("transactions") or ():
            if not t:
                continue  # a None or empty tx carries no list field
            for field, table in _TX_LIST_TABLES.items():
                if t.get(field):
                    present.add(table)
            for c in t.get("certificates") or ():
                sub = _CERT_SUBTABLES.get((c or {}).get("type"))
                if sub is not None:
                    present.add(sub)
    return present


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


def _per_table(spark: SparkSession, fn, tables: Iterable[str]) -> list:
    """``[fn(t) for t in tables]``, run concurrently, one thread per table.

    The write paths' per-table jobs are independent, and at micro-batch
    sizes a job's scheduling latency, not its IO, is the cost, so Spark
    (which interleaves jobs submitted from different threads) overlaps
    them.  Each worker runs through ``inheritable_thread_target``, so its
    jobs keep the caller's job group and description; it is wrapped per
    table, so no two workers share one copy of those properties.  Fails
    loud: the first worker exception re-raises here, after every worker
    has finished."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    tables = list(tables)
    if not tables:
        return []
    with ThreadPoolExecutor(max_workers=len(tables)) as ex:
        futures = [
            ex.submit(inheritable_thread_target(spark)(fn), t) for t in tables
        ]
        return [f.result() for f in futures]


def _write_tables_parallel(
    spark: SparkSession, blocks_df: DataFrame, tables: Iterable[str], dest: str
) -> None:
    """Partitioned appends of ``tables``, extracted from ``blocks_df``:
    one job per table, all fanned out at once by :func:`_per_table`.
    Each worker also analyses its own table's SQL text, so the
    driver-side analysis overlaps the other tables' writes.  Every job
    reads ``blocks_df``'s local relation afresh, so nothing is cached."""

    def _append(name: str) -> None:
        (
            _extract(blocks_df, name)
            .write.mode("append")
            .partitionBy("slot_group")
            .parquet(os.path.join(dest, name))
        )

    _per_table(spark, _append, tables)


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
        # The job budget of a flush is one append per non-empty table,
        # all fanned out at once (_write_tables_parallel): overlapping
        # them is a measured 2.2x (ingest_probe, SCALE_PROBE.json — 29 ->
        # ~160 blocks/s total).  A sparse table holding no row of this
        # flush is skipped, and the driver decides that from the block
        # dicts it holds — no emptiness job (_sparse_tables_present).
        # The block frame is a local relation of one Arrow table, so no
        # job fills a cache and no Python worker starts.
        # Crash semantics are unchanged: a flush was never atomic across
        # tables (sequential appends could die midway too); recovery is
        # the same compact/rollback toolkit either way.
        #
        # The fan-out reads the blocks COALESCED to ~500 blocks/task:
        # 13 concurrent jobs x one task per core was hundreds of task
        # launches and dynamic-partition file commits per flush, pure
        # scheduling/commit overhead at micro-batch sizes (the r11 job
        # audit measured 4.2x on a 2000-block flush; re-measured on the
        # local relation, a 100-block flush took 1.23 s coalesced to one
        # task against 1.68 s over its 4 partitions, medians of 7
        # interleaved runs on a 4-core host).  Fewer, larger files per
        # table also lighten compaction.
        present = _sparse_tables_present(forward)
        tables = [
            t for t in LAKE_TABLES if t not in _SPARSE_TABLES or t in present
        ]
        nparts = max(1, min(8, len(forward) // 500))
        _write_tables_parallel(
            spark,
            blocks_to_dataframe(spark, forward).coalesce(nparts),
            tables,
            dest,
        )
        stats["blocks"] += len(forward)
        stats["transactions"] += sum(
            len(b.get("transactions") or ()) for b in forward
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

    Returns rows dropped per table.  The tables roll back concurrently,
    each with one aggregate that counts its touched partitions' rows and
    one write per partition that loses rows.  Like ``compact_lake``, all
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

    lfs = LakeFs(spark, root)
    # Only slot_groups ending after the rollback point can lose rows.
    boundary_group = (to_slot // SLOT_GROUP_SIZE) * SLOT_GROUP_SIZE
    tables = list(tables)
    dropped = _per_table(
        spark,
        lambda t: _rollback_table(
            spark, lfs, os.path.join(root, t), to_slot, boundary_group, vacuum
        ),
        tables,
    )
    return {t: n for t, n in zip(tables, dropped) if n}


def _rollback_table(
    spark: SparkSession,
    lfs,
    src: str,
    to_slot: int,
    boundary_group: int,
    vacuum: str,
) -> int:
    """Roll one table back; returns the rows it dropped.

    ONE aggregate counts each touched partition's rows and the rows it
    keeps.  It reads the slot column alone, with a given schema, so no
    inference job, and runs in one task, so no shuffle: a chain rollback
    touches the newest one or two slot_groups (Cardano's rollback bound,
    k = 2160 blocks, is about 43,200 slots against 200,000-slot groups).
    Only a partition that loses rows is read in full and rewritten."""
    from ..lake.generations import (
        commit_swaps,
        next_generation_dir,
        vacuum_superseded,
    )

    parts = [
        (group, part, branches)
        for group, part, branches in _partitions(lfs, src, boundary_group)
        if branches  # no branch: already fully dropped
    ]
    if not parts:
        return 0
    counts = {
        entry: (n, n_keep)
        for entry, n, n_keep in reduce(
            DataFrame.unionByName,
            [
                _read(spark, branches, "slot LONG").select(
                    F.lit(part.entry).alias("entry"), "slot"
                )
                for _, part, branches in parts
            ],
        )
        .coalesce(1)
        .groupBy("entry")
        .agg(F.count(F.lit(1)), F.count_if(F.col("slot") <= to_slot))
        .collect()
    }
    n_dropped = 0
    schema = None
    swaps: dict[str, dict] = {}
    for group, part, branches in parts:
        entry = part.entry
        n, n_keep = counts.get(entry, (0, 0))
        if n_keep == n:
            continue
        gen = None
        if n_keep > 0:
            # Hidden generation dir, partition column injected into the
            # data (the dir name can't carry it): readers resolve via the
            # pointer, so the swap is invisible until the single atomic
            # commit below.
            source = _read(spark, branches, schema)
            schema = source.schema
            gen = next_generation_dir(lfs, src, entry)
            (
                source.filter(F.col("slot") <= to_slot)
                .withColumn("slot_group", F.lit(group).cast("long"))
                .write.mode("overwrite")
                .parquet(os.path.join(src, gen))
            )
        swaps[entry] = part.swapped(gen)
        n_dropped += n - n_keep
    if swaps:
        # ONE pointer flip commits every touched partition of this
        # table together — a reader sees all swaps or none.
        commit_swaps(lfs, src, swaps)
        if vacuum == "end":
            vacuum_superseded(spark, src)
    return n_dropped


def _partitions(lfs, table_dir: str, min_group: int | None = None):
    """Yield ``(group, part, branches)`` per logical partition from
    ``min_group`` on, as one pointer read resolves them
    (``generations.resolve_partitions``).  ``branches`` are the file
    lists holding the partition's current data, the ones a maintenance
    rewrite must read: the generation dir's files (if any), then the
    non-superseded hive files (appends since the last swap).  A
    partition already fully dropped has none."""
    from ..lake.generations import resolve_partitions

    for part in resolve_partitions(lfs, table_dir):
        group = int(part.entry.split("=", 1)[1])
        if min_group is None or group >= min_group:
            branches = [b for b in (part.gen_files, part.live) if b]
            yield group, part, branches


def _read(spark: SparkSession, branches: list[list[str]], schema=None):
    """One partition's current data: the union of its ``branches``, the
    partition column dropped (generation files carry it in the data,
    hive files in the path; the rewriter re-injects it uniformly).
    Every branch of a table holds the same columns, so the schema is
    inferred at most once (a Spark job per inferring read), and not at
    all when ``schema`` is given."""
    frames = []
    for files in branches:
        reader = spark.read if schema is None else spark.read.schema(schema)
        frames.append(reader.parquet(*files).drop("slot_group"))
        schema = frames[-1].schema
    return reduce(DataFrame.unionByName, frames)


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
    appended partitions, not the table.  The tables compact
    concurrently.

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

    lfs = LakeFs(spark, root)
    _per_table(
        spark,
        lambda t: _compact_table(spark, lfs, os.path.join(root, t), vacuum),
        tables,
    )


def _compact_table(spark: SparkSession, lfs, src: str, vacuum: str) -> None:
    from ..lake.generations import (
        commit_swaps,
        next_generation_dir,
        vacuum_superseded,
    )
    from ..lake.manifest import MANIFEST_DIR, refresh_manifest

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
    # impact).  Appends need not wait for that vacuum: supersession is
    # per-file and an append always writes fresh file names, so rows
    # appended before or after it are read correctly.
    # coalesce(1) mirrors the reference's one-file-per-partition output;
    # partitions are slot_group-bounded, so a single file stays
    # row-group sized.
    schema = None
    swaps: dict[str, dict] = {}
    for group, part, branches in _partitions(lfs, src):
        if sum(map(len, branches)) < 2:
            continue  # already compact (or empty-append _SUCCESS only)
        source = _read(spark, branches, schema)
        schema = source.schema
        gen = next_generation_dir(lfs, src, part.entry)
        (
            source.withColumn("slot_group", F.lit(group).cast("long"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(src, gen))
        )
        swaps[part.entry] = part.swapped(gen)
    if not swaps:
        return
    commit_swaps(lfs, src, swaps)
    if vacuum == "end":
        vacuum_superseded(spark, src)
    # A rewrite invalidates manifest entries (old files gone, new files
    # unknown -> pruning degrades to keep-everything).  Refresh an
    # EXISTING manifest in the same maintenance window so data skipping
    # stays tight; tables that never built one pay nothing.
    # refresh_manifest is O(delta) — only the rewrite's new files get
    # footer reads, keeping incremental compaction's cost ∝ the
    # fragmented partitions (a full stats rebuild only fires when dead
    # entries outnumber live ones).
    if lfs.exists(os.path.join(src, MANIFEST_DIR)):
        refresh_manifest(spark, src)
