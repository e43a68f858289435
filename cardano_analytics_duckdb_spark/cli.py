"""Command-line surface — parity with the reference's three entry points
(SURVEY §3):

- ``extract``       ≙ ``python main.py extract`` (main.py:69-131): stream
  blocks (a live Ogmios node, a JSON-lines file or the built-in fixture
  chain) into a slot-group-partitioned parquet lake, with named start
  presets, a stop slot, micro-batch sizing, and optional final
  compaction.
- ``query``         ≙ ``python main.py query`` (main.py:14-63): the
  high-fee report — top-N transactions by fee plus a 4-way summary
  aggregate — over any lake directory.
- ``analyze-token`` ≙ ``python token_fee_analysis.py <data_dir> <token>``
  (token_fee_analysis.py:396-430): the flagship ownership-changing
  transfer analysis with optional slot window and CSV dump.

All subcommands accept ``--lake`` so they run against any compatible lake,
not just the bundled fixture.  ``main(argv, spark=...)`` takes an existing
SparkSession for tests/embedding; standalone invocation builds the tuned
session from ``plans.session``.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# Named chain points ≙ the reference's start-point presets — all ten of
# PRESET_STARTING_POINTS (config.py:32-73), (slot, block-header-hash) pairs
# ("last block before each era" plus the SNEK case-study anchors), plus
# 'origin' for a from-genesis replay (the reference's start_point=None).
# Every source starts right after a preset's block: a live Ogmios source
# intersects at the pair itself (findIntersection), file and fixture
# replays keep slots above the preset's.
START_PRESETS: dict[str, tuple[int, str | None]] = {
    "origin": (0, None),
    "last_byron": (
        4_492_799,
        "f8084c61b6a238acec985b59310b6ecec49c0ab8352249afd7268da5cff2a457",
    ),
    "last_shelley": (
        16_588_737,
        "4e9bbbb67e3ae262133d94c3da5bffce7b1127fc436e7433b87668dba34c354a",
    ),
    "last_allegra": (
        23_068_793,
        "69c44ac1dda2ec74646e4223bc804d9126f719b1c245dadc2ad65e8de1b276d7",
    ),
    "last_mary": (
        39_916_796,
        "e72579ff89dc9ed325b723a33624b596c08141c7bd573ecfff56a1f7229e4d09",
    ),
    "last_alonzo": (
        72_316_796,
        "c58a24ba8203e7629422a24d9dc68ce2ed495420bf40d9dab124373655161a20",
    ),
    "snek_mint": (
        90_914_081,
        "2f7784ab8eee0e3d81223b9bd482195617cbee662ed6c412b123568251aac67a",
    ),
    "snek_mint_plus_100K_blocks": (
        92_961_183,
        "055d7e5660fcfb8bede7eee40d55456030ba51a41d57d85fcea9a820644991b2",
    ),
    "last_babbage": (
        133_660_799,
        "e757d57eb8dc9500a61c60a39fadb63d9be6973ba96ae337fd24453d4d15c343",
    ),
    "last_babbage_plus_200K_blocks": (
        137_747_713,
        "1a599f87191e73b43e71751ece3666ede768c07fd664b85056306d656b022bcc",
    ),
    "block_2025_10_28": (
        170_099_400,
        "a603a4b4ac4b077596bfa551648ba1f3fd3f8fd4f8f7818cea8dc917ea1cfd4c",
    ),
}

# Well-known mainnet addresses ≙ the reference's KNOWN_ADDRESSES
# (config.py:77-82) — defined next to the decoder that consumes them
# (operators/addresses.py); re-exported here for CLI users and parity
# tests.  cli → operators is the package's import direction.
from .operators.addresses import KNOWN_ADDRESSES  # noqa: E402, F401


# name → (policy_id, asset_name) ≙ the reference's token info table
# (token_fee_analysis.py:94-103: SNEK and HOSKY with their mainnet policy
# ids and hex asset names).  Raw "policyhex.assethex" also accepted.
def _token_registry() -> dict[str, tuple[bytes, bytes]]:
    from .lake.fixtures import TOKEN_NAME, TOKEN_POLICY

    return {
        "fixture-token": (TOKEN_POLICY, TOKEN_NAME),
        "snek": (
            bytes.fromhex(
                "279c909f348e533da5808898f87f9a14bb2c3dfbbacccd631d927a3f"
            ),
            bytes.fromhex("534e454b"),  # 'SNEK'
        ),
        "hosky": (
            bytes.fromhex(
                "a0028f350aaabe0545fdcb56b039bfb08e4bb4d8c4d7c3c7d481c235"
            ),
            bytes.fromhex("484f534b59"),  # 'HOSKY'
        ),
        # the reference's remaining KNOWN_ASSETS entries (config.py:87-92):
        # ada is the empty policy/name; min and sundae list a bare policy id
        # (no asset-name suffix in the reference's concatenated hex string)
        "ada": (b"", b""),
        "min": (
            bytes.fromhex(
                "29d222ce763455e3d7a09a665ce554f00ac89d2e99a1a83d267170c6"
            ),
            b"",
        ),
        "sundae": (
            bytes.fromhex(
                "9a9693a9a37912a5097918f97918d15240c92ab729a0b7c4aa144d77"
            ),
            b"",
        ),
    }


def _resolve_token(token: str) -> tuple[bytes, bytes]:
    registry = _token_registry()
    # case-insensitive like the reference's get_token_info
    # (token_fee_analysis.py:107: token_name.lower())
    if token.lower() in registry:
        return registry[token.lower()]
    if "." in token:
        policy_hex, name_hex = token.split(".", 1)
        try:
            return bytes.fromhex(policy_hex), bytes.fromhex(name_hex)
        except ValueError:
            pass
    known = ", ".join(sorted(registry))
    raise SystemExit(
        f"unknown token {token!r}: use one of [{known}] or 'policyhex.assethex'"
    )


def _get_spark(spark: SparkSession | None) -> SparkSession:
    if spark is not None:
        return spark
    from .plans import get_session

    return get_session(app_name="cardano-analytics-cli")


def _chain_sync_blocks(url: str, point, stop_slot: int | None):
    """Blocks (and backward events) streamed from a live Ogmios node at
    ``ogmios://HOST:PORT``, read from ``point`` on (≙ the reference's
    websocket loop, ogmios_parquet.py:635-675).  The session closes when
    the stream reaches the node's tip or ``stop_slot``."""
    from urllib.parse import urlsplit

    from .sources.chainsync import ChainSyncClient

    u = urlsplit(url)
    with ChainSyncClient(u.hostname, u.port or 1337) as client:
        client.find_intersection([point])
        yield from client.stream(stop_slot=stop_slot)


def _cmd_extract(args: argparse.Namespace, spark: SparkSession) -> int:
    from .streaming.ingest import compact_lake, ingest_blocks

    preset = START_PRESETS.get(args.start_point)
    if args.blocks.startswith("ogmios://"):
        # Ogmios positions the stream by (slot, block id), so only a
        # preset, whose block id is known, can start it.
        if preset is None:
            raise SystemExit(
                f"--start-point {args.start_point!r}: a live node needs a "
                f"block id, so use a preset ({', '.join(START_PRESETS)})"
            )
        slot, block_id = preset
        point = (
            "origin" if block_id is None else {"slot": slot, "id": block_id}
        )
        blocks = _chain_sync_blocks(args.blocks, point, args.stop_slot)
    else:
        if args.blocks == "fixture":
            from .lake.fixtures import fixture_blocks

            blocks = iter(fixture_blocks())
        else:
            # stream the JSON-lines file lazily — the driver never holds
            # the full chain in memory (this replay path mirrors the
            # reference's websocket loop shape, which ingest_blocks
            # micro-batches)
            def _gen(path: str):
                with open(path) as f:
                    for line in f:
                        if line.strip():
                            yield json.loads(line)

            blocks = _gen(args.blocks)
        if preset is None:
            first = int(args.start_point)  # a bare slot is the first kept
        elif preset[1] is None:
            first = 0  # origin
        else:
            first = preset[0] + 1  # start after the preset's block
        if first:
            # backward events carry a point, not a slot, and pass through
            blocks = (
                b for b in blocks
                if b.get("direction") == "backward" or b["slot"] >= first
            )

    stats = ingest_blocks(
        spark,
        blocks,
        args.dest,
        batch_size=args.batch_size,
        stop_slot=args.stop_slot,
    )
    if args.compact:
        compact_lake(spark, args.dest)
        stats["compacted"] = 1
    print(json.dumps(stats))
    return 0


def _cmd_query(args: argparse.Namespace, spark: SparkSession) -> int:
    from .functions.rounding import rnd
    from .operators.cardano import _lake

    tx = _lake(spark, "tx", args.lake)
    top = (
        tx.filter(F.col("tx_fee") > args.min_fee)
        .select("slot", F.lower(F.hex("tx_id")).alias("tx_id"), "tx_fee")
        .orderBy(F.col("tx_fee").desc(), "tx_id")
        .limit(args.limit)
        .collect()
    )
    print(f"Top {len(top)} transactions by fee (> {args.min_fee} lovelace):")
    for r in top:
        print(f"  slot={r['slot']} tx={r['tx_id']} fee={r['tx_fee']}")
    s = tx.agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.avg("tx_fee") / 1e6, 6).alias("avg_ada"),
        rnd(F.max("tx_fee") / 1e6, 6).alias("max_ada"),
        rnd(F.min("tx_fee") / 1e6, 6).alias("min_ada"),
    ).first()
    print(
        f"Summary: n={s['n']} avg={s['avg_ada']} ADA"
        f" max={s['max_ada']} ADA min={s['min_ada']} ADA"
    )
    return 0


def _cmd_analyze_token(args: argparse.Namespace, spark: SparkSession) -> int:
    from .operators.reports import token_transfer_report

    policy, asset_name = _resolve_token(args.token)
    print(
        token_transfer_report(
            spark,
            min_slot=args.min_slot,
            max_slot=args.max_slot,
            csv_path=args.csv,
            root=args.lake,
            policy=policy,
            asset_name=asset_name,
        )
    )
    return 0


def _cmd_curate(args: argparse.Namespace, spark: SparkSession) -> int:
    from .lake.tables import load_table
    from .operators.textops import curated_documents

    docs = load_table(spark, args.data, "documents")
    kept = curated_documents(docs, sample_pct=args.sample_pct)
    # one partitioned parquet sink per source: downstream training jobs pick
    # strata by directory, and the write parallelism follows the pipeline's
    part_cols = ["source"]
    if args.split:
        from .operators.mixing import _split_col

        kept = kept.withColumn("split", _split_col(F.col("doc_id")))
        part_cols = ["split", "source"]
    kept.write.mode("overwrite").partitionBy(*part_cols).parquet(args.dest)
    out = spark.read.parquet(args.dest)
    stats = {
        "curated_docs": out.count(),
        "sources": out.select("source").distinct().count(),
        "dest": args.dest,
    }
    if args.split:
        stats["splits"] = {
            r["split"]: r["n"]
            for r in out.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    print(json.dumps(stats))
    return 0


def _cmd_bucketize(args, spark: SparkSession) -> int:
    """Declare (optional) and build/refresh the bucketed layout of a
    file-table source (lake/layout.py).  Without --spec, refreshes the
    existing spec's copies — the verb a scheduler runs after the source
    changes."""
    from .lake.layout import bucket_spec, bucketize, set_bucket_spec

    if args.recommend:
        from .lake.advisor import recommend_bucket_spec
        from .operators import all_queries

        spec = recommend_bucket_spec(
            spark, args.lake, all_queries(), min_votes=args.min_votes
        )
        print(json.dumps({"recommended_spec": spec}))
        return 0
    if args.spec:
        try:
            set_bucket_spec(
                spark, args.lake, json.loads(args.spec), n_buckets=args.buckets
            )
        except ValueError as e:
            raise SystemExit(str(e)) from None
    elif bucket_spec(spark, args.lake) is None:
        raise SystemExit(
            f"no bucket spec declared for {args.lake} — pass --spec "
            '\'{"table": [["key_col"]], ...}\' once to declare one'
        )
    built = bucketize(spark, args.lake)
    print(json.dumps({"lake": args.lake, "copies": built}))
    return 0


def _cmd_vacuum(args, spark: SparkSession) -> int:
    from .lake.vacuum import find_orphans, vacuum_lake

    report = (
        vacuum_lake(spark, args.lake)
        if args.apply
        else find_orphans(spark, args.lake)
    )
    print(json.dumps({"applied": bool(args.apply), **report}))
    return 0


def _cmd_rollback(args, spark: SparkSession) -> int:
    """Reconcile a chain rollback after the fact: drop every lake row
    above the slot (the upgrade the reference's count-and-skip policy
    leaves manual — its lake keeps orphaned rows, ogmios_parquet.py
    logs rollbacks only).  Partition-scoped, maintenance-locked, and
    reader-atomic via the generation pointer."""
    from .streaming.ingest import rollback_lake

    dropped = rollback_lake(
        spark,
        args.lake,
        args.to_slot,
        vacuum="defer" if args.defer_vacuum else "end",
    )
    print(
        json.dumps(
            {
                "to_slot": args.to_slot,
                "rows_dropped": sum(dropped.values()),
                "tables": dropped,
            }
        )
    )
    return 0


def _cmd_manifest(args, spark: SparkSession) -> int:
    from .lake.manifest import build_manifest, prune_files_box, update_manifest

    if args.probe_column is None:
        if args.update:
            n_new = update_manifest(spark, args.table)
            print(json.dumps({"updated": True, "n_new_files": n_new}))
            return 0
        dest = build_manifest(spark, args.table)
        n = spark.read.parquet(dest).select("file").distinct().count()
        print(json.dumps({"manifest": dest, "n_files": n}))
        return 0
    lo, hi = args.lo, args.hi
    if args.eq_hex is not None:
        lo = hi = bytes.fromhex(args.eq_hex)
    kept = prune_files_box(spark, args.table, [(args.probe_column, lo, hi)])
    print(
        json.dumps(
            {"probe_column": args.probe_column, "kept_files": len(kept)}
        )
    )
    return 0


def _cmd_cluster(args, spark: SparkSession) -> int:
    from .lake.generations import read_table
    from .lake.manifest import build_manifest
    from .lake.zorder import zorder_write

    cols = [c.strip() for c in args.by.split(",") if c.strip()]
    df = read_table(spark, args.table)
    zorder_write(df, args.out, cols, out_files=args.files)
    dest = build_manifest(spark, args.out)
    n = spark.read.parquet(dest).select("file").distinct().count()
    print(
        json.dumps(
            {"clustered": args.out, "by": cols, "n_files": n,
             "manifest": dest}
        )
    )
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="cardano-analytics-spark",
        description="PySpark Cardano analytics engine",
    )
    sub = p.add_subparsers(dest="command", required=True)

    ex = sub.add_parser(
        "extract",
        help="stream blocks (file, fixture or live node) into a parquet lake",
    )
    ex.add_argument(
        "--blocks",
        default="fixture",
        help="JSON-lines block file, 'fixture' for the built-in chain, or"
        " ogmios://HOST:PORT to stream from a live Ogmios node",
    )
    ex.add_argument("--dest", required=True, help="lake output directory")
    ex.add_argument(
        "--start-point",
        default="origin",
        help=f"preset ({', '.join(START_PRESETS)}): start after its block;"
        " or, for file and fixture sources, a slot number: the first slot"
        " kept",
    )
    ex.add_argument("--stop-slot", type=int, default=None)
    ex.add_argument("--batch-size", type=int, default=100)
    ex.add_argument(
        "--compact",
        action="store_true",
        help="merge chunk files per partition after ingest",
    )
    ex.set_defaults(func=_cmd_extract)

    q = sub.add_parser("query", help="high-fee transaction report")
    q.add_argument("--lake", default=None, help="lake root (default: fixture)")
    q.add_argument("--min-fee", type=int, default=2_000_000)
    q.add_argument("--limit", type=int, default=100)
    q.set_defaults(func=_cmd_query)

    an = sub.add_parser(
        "analyze-token", help="ownership-changing token transfer analysis"
    )
    an.add_argument("token", help="registered name or 'policyhex.assethex'")
    an.add_argument("--lake", default=None, help="lake root (default: fixture)")
    an.add_argument("--min-slot", type=int, default=None)
    an.add_argument("--max-slot", type=int, default=None)
    an.add_argument("--csv", default=None, help="write detail CSV here")
    an.set_defaults(func=_cmd_analyze_token)

    cu = sub.add_parser(
        "curate",
        help="quality-filter + dedup + stratified-sample a document corpus",
    )
    cu.add_argument("--data", required=True, help="dir containing documents.parquet")
    cu.add_argument("--dest", required=True, help="curated parquet output dir")
    cu.add_argument(
        "--sample-pct",
        type=int,
        default=30,
        help="deterministic sample percentage (multiplicative-hash split)",
    )
    cu.add_argument(
        "--split",
        action="store_true",
        help="also partition the output into deterministic train/val/test"
        " splits (md5-nibble assignment, reproducible on any engine)",
    )
    cu.set_defaults(func=_cmd_curate)

    bz = sub.add_parser(
        "bucketize",
        help="declare (--spec, once) and build/refresh the bucketed join"
        " layout of a dir of <table>.parquet files (lake/layout.py);"
        " incremental — only tables whose content changed since the last"
        " build rewrite",
    )
    bz.add_argument(
        "--lake", required=True, help="sf dir of <table>.parquet files"
    )
    bz.add_argument(
        "--spec",
        default=None,
        help="JSON {table: [[key cols], ...]}, e.g."
        ' \'{"orders": [["o_orderkey"]]}\'',
    )
    bz.add_argument("--buckets", type=int, default=64)
    bz.add_argument(
        "--recommend",
        action="store_true",
        help="print a workload-derived spec instead of building: walks"
        " every registered query's optimized plan for equi-join keys over"
        " this source's tables (lake/advisor.py) — review, then pass the"
        " result back via --spec",
    )
    bz.add_argument(
        "--min-votes",
        type=int,
        default=2,
        help="keep keys joined on by at least this many queries",
    )
    bz.set_defaults(func=_cmd_bucketize)

    va = sub.add_parser(
        "vacuum",
        help="report (default) or remove crash leftovers in a lake",
    )
    va.add_argument("--lake", required=True, help="lake root")
    va.add_argument(
        "--apply",
        action="store_true",
        help="remove the reported orphans (takes the maintenance lock;"
        " refuses while another maintenance job holds it)",
    )
    va.set_defaults(func=_cmd_vacuum)

    rb = sub.add_parser(
        "rollback",
        help="drop every lake row above a slot (chain-rollback"
        " reconciliation; maintenance-locked, reader-atomic)",
    )
    rb.add_argument("--lake", required=True, help="lake root")
    rb.add_argument(
        "--to-slot", type=int, required=True, help="last slot to keep"
    )
    rb.add_argument(
        "--defer-vacuum",
        action="store_true",
        help="leave superseded files for in-flight readers; reclaim"
        " later with an explicit vacuum",
    )
    rb.set_defaults(func=_cmd_rollback)

    ma = sub.add_parser(
        "manifest",
        help="build a file-level min/max stats manifest (default) or"
        " probe how many files a range predicate would read",
    )
    ma.add_argument("--table", required=True, help="parquet table dir")
    ma.add_argument(
        "--probe-column",
        default=None,
        help="probe instead of build: report surviving file count for"
        " a range on this column",
    )
    ma.add_argument("--lo", type=float, default=None)
    ma.add_argument("--hi", type=float, default=None)
    ma.add_argument(
        "--eq-hex",
        default=None,
        help="probe a BINARY equality instead: hex-encoded value"
        " (e.g. a policy id); overrides --lo/--hi",
    )
    ma.add_argument(
        "--update",
        action="store_true",
        help="incremental: stat only files without a manifest entry"
        " (O(new files) instead of a full rebuild)",
    )
    ma.set_defaults(func=_cmd_manifest)

    cl = sub.add_parser(
        "cluster",
        help="write a z-order-clustered copy of a table (numeric AND"
        " binary cluster columns) and build its stats manifest — the"
        " maintenance job that turns selective predicates into skipped"
        " files",
    )
    cl.add_argument("--table", required=True, help="source table dir")
    cl.add_argument("--out", required=True, help="clustered output dir")
    cl.add_argument(
        "--by", required=True, help="comma-separated cluster columns"
    )
    cl.add_argument("--files", type=int, default=64)
    cl.set_defaults(func=_cmd_cluster)
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.func(args, _get_spark(spark))


if __name__ == "__main__":
    sys.exit(main())
