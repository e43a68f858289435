"""Incrementally-maintained materialized aggregate (streaming + merge).

The 100 TB pattern this demonstrates: a per-key aggregate table kept
current by a stream, where each micro-batch only touches the key-bucket
partitions its delta hits — never a full recompute, never a full rewrite.
``foreachBatch`` composes the batch engine's merge machinery (the same
dynamic partition-overwrite as ``lake.upsert``) with Structured Streaming's
epoch replay protocol.

Exactly-once despite at-least-once foreachBatch: every committed bucket
row carries ``_applied_epoch`` — the epoch whose fold last rewrote that
bucket.  foreachBatch may re-deliver an epoch after a crash (write
committed, checkpoint not), so before folding, each touched bucket's
stored high-water epoch is compared with the incoming ``epoch_id`` and
already-folded buckets are skipped.  Replay is deterministic (same source
offsets → same delta), so per-bucket skip is sufficient; the guard assumes
the job-level parquet commit is atomic (Spark's default committer) and the
checkpoint and table live and die together (both under ``dest`` — deleting
one without the other resets epoch numbering and breaks the marker).

Aggregate contract: every expression in ``agg_exprs`` must be mergeable
over partial results by the ``combine`` re-aggregation (default SUM —
count/sum qualify, avg decomposes into a sum+count pair; pass e.g.
``F.max`` for high-water marks or ``hll_union_agg`` for mergeable
DataSketches HLL state, the pattern every cluster-scale approx-distinct
rollup uses).

Scale posture: the per-epoch work is (delta hash-agg) + (read ONLY the
touched buckets) + (bucket-scoped rewrite) — cost ∝ delta size and bucket
fan-out, not table size.  Buckets are hash partitions of the key space, so
skewed deltas spread; raise ``n_buckets`` with key cardinality.  The only
driver-side actions are the touched-bucket list and the per-bucket epoch
high-water collect, both bounded by the delta's bucket fan-out (≤
``n_buckets``).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.fsutil import LakeFs
from .runner import run_available_now

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def materialize_aggregate(
    spark: SparkSession,
    src_glob: str,
    dest: str,
    *,
    table_name: str,
    schema: T.StructType,
    key_cols: list[str],
    agg_exprs: Callable[[], dict[str, Column]],
    bucket_expr: Callable[[], Column] | None = None,
    n_buckets: int = 16,
    combine: Callable[[str], Column] | None = None,
) -> str:
    """Fold every unseen file under ``src_glob`` into the per-key aggregate
    table ``dest/table_name``; returns the table path.

    ``agg_exprs`` builds ``{out_col: aggregate Column}`` (mergeable by
    ``combine`` — see module docstring); ``bucket_expr`` builds the int
    bucket column from the key columns (default:
    ``pmod(xxhash64(*key_cols), n_buckets)``).  Both are thunks so one
    definition can serve many streams.

    ``combine(col_name)`` re-aggregates a partial-result column when a
    delta folds into stored bucket state (default ``F.sum`` — right for
    count/sum and decomposed avg).  Any associative, commutative,
    duplicate-state-free merge works: ``hll_union_agg`` for DataSketches
    HLL columns (see :func:`materialize_distinct_approx`), ``F.max``/
    ``F.min`` for high-water marks.  NOT ``F.avg`` or anything weighted —
    partials must carry their own weights.
    """
    table = os.path.join(dest, table_name)
    lfs = LakeFs(spark, dest)
    checkpoint = os.path.join(dest, f"_checkpoint_{table_name}")
    legacy_checkpoint = os.path.join(dest, "_checkpoint")
    if lfs.exists(legacy_checkpoint) and not lfs.exists(checkpoint):
        # Pre-r6 materializers checkpointed at dest/_checkpoint (unscoped).
        # Starting a FRESH checkpoint over an already-populated table would
        # restart at epoch 0, re-read every source file, and fold all
        # history into existing rows — silent double-counting.  Refuse and
        # tell the operator how to migrate (rename preserves epoch
        # numbering; checkpoint contents are table-name-independent).
        raise RuntimeError(
            f"{legacy_checkpoint} exists but {checkpoint} does not: this "
            "looks like a pre-upgrade materializer deployment.  Rename "
            f"_checkpoint to _checkpoint_{table_name} to keep its stream "
            "progress, or choose a fresh dest — starting a new checkpoint "
            "over the existing table would re-fold all history."
        )
    from ..lake.generations import current_generations

    baseline_marker = os.path.join(
        dest, f"_batch_baseline_{table_name}.json"
    )
    if (
        not lfs.exists(checkpoint)
        and not lfs.exists(baseline_marker)
        and current_generations(LakeFs(spark, src_glob), src_glob)
    ):
        # The file stream below only sees hive-layout files; a compacted
        # (generation-managed) source keeps its base data in hidden
        # generation dirs, so a BOOTSTRAP fold here would silently start
        # from post-compaction appends only.  An established checkpoint is
        # fine for COMPACTION — it folded the superseded files before the
        # swap, and a compaction swap preserves their aggregate
        # contribution row-for-row.  Row-CHANGING maintenance (rollback_
        # lake, upsert_partitioned) is outside the maintained-aggregate
        # contract entirely: a file-source fold can never observe rewritten
        # rows, checkpoint or not — after those ops, recompute the
        # aggregate in batch (their docstrings say the same).
        raise RuntimeError(
            f"source {src_glob} is generation-managed (compacted) but no "
            f"checkpoint exists at {checkpoint}: a fresh fold cannot see "
            "generation dirs.  Materialize before the first compaction, "
            "or bootstrap from a batch recompute "
            "(rebuild_lake_materialization)."
        )
    stream = spark.readStream.schema(schema).parquet(src_glob)
    aggs = agg_exprs()
    agg_cols = list(aggs)
    bucket = (
        bucket_expr()
        if bucket_expr is not None
        else F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))
    ).cast("int")

    def upsert_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        delta = (
            batch_df.groupBy(*key_cols)
            .agg(*[c.alias(name) for name, c in aggs.items()])
            .withColumn("bucket", bucket)
        )
        # Merge-vs-bootstrap probe through the Hadoop FS (NOT local glob):
        # on an s3a://or hdfs:// dest a driver-local glob returns [] for a
        # populated table, skipping the merge branch and overwriting the
        # touched buckets without folding prior state — silent data loss.
        has_buckets = any(
            d.startswith("bucket=") for d in lfs.list_dirs(table)
        )
        if has_buckets:
            touched = [
                r[0] for r in delta.select("bucket").distinct().collect()
            ]
            prev = spark.read.parquet(table).filter(
                F.col("bucket").isin(touched)
            )
            if "_applied_epoch" not in prev.columns:
                # table predates the epoch marker (or was built by a batch
                # backfill): treat every bucket as folded-through epoch -1
                prev = prev.withColumn("_applied_epoch", F.lit(-1))
            # Replay guard: a bucket whose committed high-water epoch is
            # >= this epoch already folded this exact delta in (foreachBatch
            # retries a failed epoch under the SAME epoch_id with the same
            # source offsets) — skip it, or the retry double-counts.
            applied = {
                r["bucket"]: r["hw"]
                for r in prev.groupBy("bucket")
                .agg(F.max("_applied_epoch").alias("hw"))
                .collect()
            }
            fresh = [b for b in touched if applied.get(b, -1) < epoch_id]
            if not fresh:
                return
            delta = delta.filter(F.col("bucket").isin(fresh))
            prev = prev.filter(F.col("bucket").isin(fresh))
            # prev covers EVERY key of the fresh buckets, so the additive
            # combine is a complete replacement for exactly those buckets
            merge = combine if combine is not None else F.sum
            combined = (
                prev.drop("_applied_epoch")
                .unionByName(delta)
                .groupBy(*key_cols, "bucket")
                .agg(*[merge(c).alias(c) for c in agg_cols])
            )
        else:
            combined = delta
        (
            combined.withColumn("_applied_epoch", F.lit(epoch_id))
            .localCheckpoint()
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(table)
        )

    _register_materialization(spark, src_glob, table_name, dest)
    run_available_now(stream, checkpoint, upsert_epoch)
    # The rebuild breadcrumb is a SINGLE-USE waiver: it authorizes the one
    # fresh-checkpoint bootstrap right after a batch rebuild (when the
    # table carries the generation-dir contribution and hive files are
    # exactly the not-yet-folded remainder).  Left standing, it would also
    # authorize a bootstrap after someone deletes an ESTABLISHED
    # checkpoint — whose folds ARE in the table — and the refold would
    # double-count them.  Consume it once the checkpoint exists.
    if lfs.exists(baseline_marker):
        lfs.delete(baseline_marker)
    return table


MATERIALIZED_BY_DIR = "_materialized_by"


def _register_materialization(
    spark: SparkSession, src_glob: str, table_name: str, dest: str
) -> None:
    """Leave a marker AT THE SOURCE (``src/_materialized_by/<name>.json``)
    so row-CHANGING maintenance over the source can fail loud instead of
    silently diverging the fold (a file-source stream can never observe a
    rewrite — see :func:`require_no_materializations`).  Registered just
    before the first fold; idempotent (atomic overwrite of same content).
    A wildcard source can't host a marker — those folds stay on the
    documented-contract honor system."""
    import json

    lfs = LakeFs(spark, src_glob)
    if any(ch in src_glob for ch in "*?[") or not lfs.exists(src_glob):
        return
    lfs.mkdirs(os.path.join(src_glob, MATERIALIZED_BY_DIR))
    lfs.write_text(
        os.path.join(src_glob, MATERIALIZED_BY_DIR, f"{table_name}.json"),
        json.dumps({"table_name": table_name, "dest": dest}),
    )


def registered_materializations(
    spark: SparkSession, table_dir: str
) -> dict[str, dict]:
    """``{table_name: marker}`` for every maintained aggregate registered
    over ``table_dir``."""
    import json

    lfs = LakeFs(spark, table_dir)
    out: dict[str, dict] = {}
    for f in lfs.list_files(os.path.join(table_dir, MATERIALIZED_BY_DIR)):
        name = f.rsplit("/", 1)[-1]
        if name.endswith(".json"):
            out[name[: -len(".json")]] = json.loads(lfs.read_text(f))
    return out


def deregister_materialization(
    spark: SparkSession, table_dir: str, table_name: str
) -> None:
    """Remove a marker — the operator's statement that the aggregate was
    (or will be) recomputed in batch, or decommissioned."""
    lfs = LakeFs(spark, table_dir)
    lfs.delete(
        os.path.join(table_dir, MATERIALIZED_BY_DIR, f"{table_name}.json")
    )


def unfolded_source_files(
    spark: SparkSession, table_dir: str, marker: dict
) -> list[str]:
    """Hive-visible data files under ``table_dir`` that ``marker``'s
    materializer has NOT folded yet — live files absent from its
    checkpoint's FileStreamSource seen-files log.

    Why this exists: compaction swaps hive files into hidden generation
    dirs the file stream can never list.  Files whose fold is COMMITTED
    are safe (their contribution is in the aggregate; the swap preserves
    it row-for-row) — but an append the stream has not folded yet would
    vanish into a generation dir unseen, silently losing its rows from
    the aggregate forever.  ``compact_lake`` refuses while this list is
    non-empty (the fix is one materializer run).

    "Folded" means the file's batch has a checkpoint COMMIT, not merely a
    sources-log entry: a crash between the table commit and the
    checkpoint commit leaves the newest batch's files seen-but-pending —
    Structured Streaming will re-plan that batch and re-READ those exact
    paths on resume, so compacting (and vacuuming) them away would wedge
    the stream on FileNotFound forever.  The ``_applied_epoch`` guard
    makes the replay a table-side no-op, but the replay still has to
    physically run.

    Fail-safe direction: a missing/unreadable checkpoint means NOTHING is
    provably folded, so every live file counts as unfolded."""
    import json

    from ..lake.manifest import _norm_uri, _walk_files

    lfs = LakeFs(spark, table_dir)
    live = _walk_files(lfs, table_dir)
    name = marker.get("table_name", "")
    dest = marker.get("dest", "")
    if not dest:
        return sorted(live)
    checkpoint = os.path.join(dest, f"_checkpoint_{name}")
    # The checkpoint lives under DEST, which may be on a different
    # filesystem scheme than the source table (s3a lake, local dest):
    # Hadoop FileSystem handles are per-scheme, so listing/reading the
    # checkpoint through the source-bound LakeFs throws Wrong-FS there.
    dlfs = LakeFs(spark, dest)
    last_committed = -1
    for f in dlfs.list_files(os.path.join(checkpoint, "commits")):
        base = f.rsplit("/", 1)[-1]
        if base.isdigit():
            last_committed = max(last_committed, int(base))
    seen: set[str] = set()
    for f in dlfs.list_files(os.path.join(checkpoint, "sources", "0")):
        if f.endswith((".tmp", ".crc")):
            continue
        for line in dlfs.read_text(f).splitlines():
            line = line.strip()
            if not line.startswith("{"):
                continue  # the "v1" version header
            try:
                entry = json.loads(line)
            except ValueError:
                continue
            if "path" in entry and entry.get("batchId", -1) <= last_committed:
                seen.add(_norm_uri(entry["path"]))
    return sorted(f for f in live if _norm_uri(f) not in seen)


def require_folded_before_compaction(
    spark: SparkSession, table_dir: str, override: bool
) -> None:
    """Fail-loud gate for COMPACTION under a maintained aggregate.

    Compaction is row-preserving, so it is exempt from the row-changing
    gate — but only files the stream has already folded are protected by
    that argument.  An unfolded hive append swapped into a hidden
    generation dir is invisible to the file stream forever: the aggregate
    silently loses those rows (found by the seeded streaming walk,
    tests/test_materialize.py).  The fix is cheap and stated in the
    error: run the materializer (folds the backlog), then compact."""
    if override:
        return
    for name, marker in sorted(
        registered_materializations(spark, table_dir).items()
    ):
        missing = unfolded_source_files(spark, table_dir, marker)
        if missing:
            raise RuntimeError(
                f"compact_lake on {table_dir} would hide {len(missing)} "
                f"not-yet-folded file(s) from maintained aggregate "
                f"{name!r} (-> {marker.get('dest', '?')}) inside "
                "generation dirs its file stream can never list — the "
                "aggregate would silently lose those rows.  Run the "
                "materializer first (one fold drains the backlog), "
                "deregister_materialization(), or pass "
                "allow_stale_materializations=True and recompute in "
                "batch afterwards."
            )


def require_no_materializations(
    spark: SparkSession, table_dir: str, op: str, override: bool
) -> None:
    """Fail-loud gate for row-CHANGING maintenance (rollback, upsert).

    A maintained aggregate folds each source file exactly once; a rewrite
    that drops or replaces rows is invisible to the file stream, so the
    aggregate silently diverges from the table.  Compaction is exempt
    from THIS gate (row-preserving: the swap keeps every folded row's
    contribution) but carries its own weaker one —
    :func:`require_folded_before_compaction`.  With ``override`` the
    caller asserts the divergence is handled — recompute the aggregate in
    batch afterwards, or ``deregister_materialization`` first."""
    if override:
        return
    regs = registered_materializations(spark, table_dir)
    if regs:
        names = ", ".join(
            f"{n} -> {m.get('dest', '?')}" for n, m in sorted(regs.items())
        )
        raise RuntimeError(
            f"{op} on {table_dir} would silently diverge maintained "
            f"aggregate(s) registered over it: {names}.  A file-source "
            "fold can never observe rewritten rows.  Either recompute "
            "those aggregates in batch afterwards and pass "
            "allow_stale_materializations=True, or "
            "deregister_materialization() first."
        )


def materialize_user_counts(
    spark: SparkSession, src_dir: str, dest: str, n_buckets: int = 16
) -> str:
    """Maintained (user_id, n_events, total_value) over an events stream."""
    return materialize_aggregate(
        spark,
        src_dir,
        dest,
        table_name="user_counts",
        schema=EVENTS_SCHEMA,
        key_cols=["user_id"],
        agg_exprs=lambda: {
            "n_events": F.count(F.lit(1)),
            "total_value": F.sum("value"),
        },
        bucket_expr=lambda: F.col("user_id") % n_buckets,
        n_buckets=n_buckets,
    )


def rebuild_lake_materialization(
    spark: SparkSession,
    root: str,
    table: str,
    dest: str,
    *,
    table_name: str,
    key_cols: list[str],
    agg_exprs: Callable[[], dict[str, Column]],
    bucket_expr: Callable[[], Column] | None = None,
    n_buckets: int = 16,
) -> str:
    """The batch recovery every maintenance gate prescribes — previously
    a procedure named in error messages with no tool behind it.  After
    row-changing maintenance (rollback/upsert with the override), or to
    bootstrap an aggregate over an already-compacted source, this
    rebuilds the maintained table from the CURRENT generation-resolved
    truth and resets the stream so future folds stay exactly-once.

    How the exactly-once baseline is drawn — the crux is that a fresh
    checkpoint's first fold re-reads every hive-visible file, so "what
    the batch recompute counted" and "what the new stream will fold"
    must be DISJOINT:

    1. Full-sweep compaction (``compact_lake(min_files=1)``): every
       partition's rows move into generation dirs; the hive layout
       empties.  Rewrites read explicit pinned file lists, so an append
       racing the sweep is neither absorbed nor superseded — it stays a
       hive file.
    2. The batch aggregate reads GENERATION FILES ONLY (the swept
       snapshot).  Any hive file that exists afterwards — including
       racing appends — belongs to the new stream.
    3. The old checkpoint and table are dropped; the rebuilt table is
       written with ``_applied_epoch = -1`` (the batch-backfill sentinel
       the merge path already honors), so the fresh stream's epoch 0
       folds on top rather than being mistaken for a replay.
    4. A ``_batch_baseline_<name>.json`` breadcrumb in ``dest`` records
       the rebuild and authorizes the otherwise-refused fresh-checkpoint
       bootstrap over a generation-managed source.

    With several aggregates registered over the same source, rebuild ALL
    of them in one maintenance window: the sweep passes
    ``allow_stale_materializations=True``, which waives the sibling
    aggregates' unfolded-appends gate — sweeping an unfolded append into
    a generation dir makes it invisible to THEIR streams too, so a
    sibling left unrebuilt diverges exactly the way the gate exists to
    prevent."""
    import json

    from ..lake.generations import current_generations, generation_files
    from .ingest import compact_lake

    src = os.path.join(root, table)
    table_path = os.path.join(dest, table_name)
    checkpoint = os.path.join(dest, f"_checkpoint_{table_name}")
    dlfs = LakeFs(spark, dest)
    compact_lake(
        spark,
        root,
        tables=[table],
        vacuum="end",
        allow_stale_materializations=True,
        min_files=1,
    )
    slfs = LakeFs(spark, src)
    gfiles: list[str] = []
    for st in current_generations(slfs, src).values():
        if st.get("gen"):
            gfiles.extend(generation_files(slfs, src, st["gen"]))
    dlfs.delete_recursive(checkpoint)
    dlfs.delete_recursive(table_path)
    if gfiles:
        aggs = agg_exprs()
        bucket = (
            bucket_expr()
            if bucket_expr is not None
            else F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))
        ).cast("int")
        (
            spark.read.parquet(*gfiles)
            .groupBy(*key_cols)
            .agg(*[c.alias(name) for name, c in aggs.items()])
            .withColumn("bucket", bucket)
            .withColumn("_applied_epoch", F.lit(-1))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(table_path)
        )
    dlfs.mkdirs(dest)
    dlfs.write_text(
        os.path.join(dest, f"_batch_baseline_{table_name}.json"),
        json.dumps({"table_name": table_name, "src": src}),
    )
    _register_materialization(spark, src, table_name, dest)
    return table_path


def _fees_spec(n_buckets: int) -> dict:
    """The fees-by-slot-group aggregate definition, shared by the
    incremental materializer and its batch rebuild so the two can never
    drift."""
    return dict(
        table_name="fees_by_slot_group",
        key_cols=["slot_group"],
        agg_exprs=lambda: {
            "n_txs": F.count(F.lit(1)),
            "total_fees": F.sum("tx_fee"),
        },
        bucket_expr=lambda: F.pmod(F.col("slot_group"), F.lit(n_buckets)),
        n_buckets=n_buckets,
    )


def rebuild_fees_by_slot_group(
    spark: SparkSession, lake_dir: str, dest: str, n_buckets: int = 16
) -> str:
    """Batch rebuild of the fees-by-slot-group maintained aggregate —
    the recovery move after ``rollback_lake`` / ``upsert_partitioned``
    ran with ``allow_stale_materializations=True``."""
    return rebuild_lake_materialization(
        spark, lake_dir, "tx", dest, **_fees_spec(n_buckets)
    )


def materialize_fees_by_slot_group(
    spark: SparkSession, lake_dir: str, dest: str, n_buckets: int = 16
) -> str:
    """Maintained (slot_group, n_txs, total_fees) over a cardano lake's
    ``tx`` table as ingestion appends to it — the reference's
    fee-by-slot-group report (token_fee_analysis.py aggregate shape) kept
    current incrementally instead of recomputed per run.

    The stream schema is the lake's own tx schema (one footer probe of the
    already-ingested table — ``ingest_blocks`` must have run at least
    once), so ingest-side schema evolution flows through without a second
    schema definition here.
    """
    from ..lake.generations import read_table

    tx_path = os.path.join(lake_dir, "tx")
    schema = read_table(spark, tx_path).schema
    return materialize_aggregate(
        spark, tx_path, dest, schema=schema, **_fees_spec(n_buckets)
    )


def materialize_distinct_approx(
    spark: SparkSession,
    src_dir: str,
    dest: str,
    *,
    table_name: str = "distinct_users_by_type",
    key_cols: list[str] | None = None,
    distinct_col: str = "user_id",
    n_buckets: int = 16,
) -> str:
    """Incrementally-maintained approximate-distinct table: per key, a
    DataSketches HLL sketch of ``distinct_col``, kept current by folding
    each epoch's delta sketch into stored state with ``hll_union_agg``.

    This is the rollup COUNT DISTINCT cannot give you at 100 TB: exact
    distinct state is unbounded and non-mergeable across partial results,
    while HLL sketches are fixed-size (~1.5 KB at lgK=12), associative,
    commutative, and duplicate-insensitive — re-observing the same user in
    ten epochs cannot inflate the union, which is what makes the fold
    idempotent-per-element on top of the epoch replay guard.  Read
    estimates back with :func:`read_distinct_estimates`.
    """
    keys = key_cols if key_cols is not None else ["event_type"]
    return materialize_aggregate(
        spark,
        src_dir,
        dest,
        table_name=table_name,
        schema=EVENTS_SCHEMA,
        key_cols=keys,
        agg_exprs=lambda: {
            "users_hll": F.hll_sketch_agg(F.col(distinct_col)),
            "n_rows": F.count(F.lit(1)),
        },
        combine=lambda c: (
            F.hll_union_agg(F.col(c)) if c == "users_hll" else F.sum(F.col(c))
        ),
        n_buckets=n_buckets,
    )


def read_distinct_estimates(
    spark: SparkSession, dest: str, table_name: str = "distinct_users_by_type"
) -> DataFrame:
    """(keys..., n_rows, approx_distinct) from a maintained sketch table."""
    tbl = spark.read.parquet(os.path.join(dest, table_name))
    return tbl.select(
        *[c for c in tbl.columns if c not in ("users_hll", "bucket", "_applied_epoch")],
        F.hll_sketch_estimate(F.col("users_hll")).alias("approx_distinct"),
    )
