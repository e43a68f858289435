"""Ogmios-shaped block ingestion source (offline replay).

The reference consumes a chain-sync websocket (find_intersection +
pipelined next_block, /root/reference/ogmios_parquet.py:635-675).  We keep
the same payload *shape* — Ogmios 6 block JSON: transactions with
``value``/``mint`` as ``{policy: {asset: qty}}`` maps (with the ``ada``
pseudo-policy), ``datumHash``/``datum`` hex fields, certificate objects —
but decouple transport: any iterable of block dicts (fixture replay, JSON
files, or a live websocket adapter) becomes a typed DataFrame.

The frame is a JVM-side local relation built from one Arrow table, so no
Python worker ever reads the blocks and a flush needs no cache.  The one
value Spark has no builtin for, an inline datum's blake2b-256
(≙ the reference's ogmios_parquet.py:333-343), is computed here with
``hashlib`` while the Arrow table is built.

Live connectivity is out of scope for CI (SURVEY §7.5); the websocket
adapter slot is marked below.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterable
from functools import cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_CERT = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("credential", T.StringType()),
        T.StructField("pool_id", T.StringType()),
        T.StructField("drep_id", T.StringType()),
        T.StructField("reward_account", T.StringType()),
        T.StructField("pledge", T.LongType()),
        # Ogmios renders pool margin as a "num/denom" fraction string; the
        # split happens at ingestion (F6, ≙ ogmios_parquet.py:432-435)
        T.StructField("margin", T.StringType()),
        T.StructField("cost", T.LongType()),
        T.StructField("metadata_hash", T.StringType()),
        T.StructField("metadata_url", T.StringType()),
        T.StructField("retirement_epoch", T.LongType()),
        T.StructField("member_id", T.StringType()),
        T.StructField("delegate_id", T.StringType()),
        T.StructField("drep_type", T.StringType()),
    ]
)

_VOTE = T.StructType(
    [
        T.StructField("voter", T.StringType()),
        T.StructField("action_id_tx", T.StringType()),  # hex
        T.StructField("action_id_index", T.IntegerType()),
        T.StructField("vote", T.IntegerType()),
        T.StructField("anchor", T.StringType()),
    ]
)

_PROPOSAL = T.StructType(
    [
        T.StructField("proposal_index", T.IntegerType()),
        T.StructField("deposit", T.LongType()),
        T.StructField("return_account", T.StringType()),
        T.StructField("type", T.IntegerType()),
        T.StructField("anchor", T.StringType()),
    ]
)

_REDEEMER = T.StructType(
    [
        T.StructField("tag", T.IntegerType()),
        T.StructField("redeemer_index", T.IntegerType()),
        T.StructField("data", T.StringType()),  # hex
        T.StructField("mem", T.LongType()),
        T.StructField("steps", T.LongType()),
    ]
)

_AMOUNTS = T.MapType(T.StringType(), T.MapType(T.StringType(), T.LongType()))

_TX = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField(
            "fee",
            T.MapType(T.StringType(), T.MapType(T.StringType(), T.LongType())),
        ),
        T.StructField(
            "inputs",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "transaction",
                            T.StructType([T.StructField("id", T.StringType())]),
                        ),
                        T.StructField("index", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "outputs",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("address", T.StringType()),
                        T.StructField("value", _AMOUNTS),
                        T.StructField("datumHash", T.StringType()),
                        T.StructField("datum", T.StringType()),
                        # Not an Ogmios field: blake2b-256 of the inline
                        # datum's bytes, set by blocks_to_dataframe
                        T.StructField("datumBlake2b", T.BinaryType()),
                        # reference script (ogmios_parquet.py:278 derives
                        # has_ref_script from output.get('script'))
                        T.StructField(
                            "script",
                            T.StructType(
                                [
                                    T.StructField("language", T.StringType()),
                                    T.StructField("cbor", T.StringType()),
                                ]
                            ),
                        ),
                    ]
                )
            ),
        ),
        T.StructField("mint", _AMOUNTS),
        T.StructField("certificates", T.ArrayType(_CERT)),
        T.StructField("redeemers", T.ArrayType(_REDEEMER)),
        T.StructField(
            "withdrawals",
            T.MapType(T.StringType(), T.MapType(T.StringType(), T.LongType())),
        ),
        T.StructField("votes", T.ArrayType(_VOTE)),
        T.StructField("proposals", T.ArrayType(_PROPOSAL)),
    ]
)

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("slot", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("transactions", T.ArrayType(_TX)),
    ]
)


_HEX = re.compile(r"[0-9A-Fa-f]*")


def unhex_blake2b_256(text: str | None) -> bytes | None:
    """blake2b-256 of Spark's ``unhex(text)``: None where ``unhex`` gives
    null (a non-hex character, whitespace included, which
    ``bytes.fromhex`` would skip), and an odd-length text read with a
    leading ``0`` nibble, as ``unhex`` reads it."""
    if text is None or not _HEX.fullmatch(text):
        return None
    data = bytes.fromhex(text if len(text) % 2 == 0 else "0" + text)
    return hashlib.blake2b(data, digest_size=32).digest()


def _hashed(block: dict) -> dict:
    """``block`` with ``datumBlake2b`` set on every output that carries
    an inline datum; the caller's dicts are left as they are."""
    txs = block.get("transactions")
    if not txs:
        return block
    return {
        **block,
        "transactions": [
            {**t, "outputs": [_hashed_output(o) for o in t["outputs"]]}
            if t and t.get("outputs") else t
            for t in txs
        ],
    }


def _hashed_output(output: dict | None) -> dict | None:
    if not output or output.get("datum") is None:
        return output
    return {**output, "datumBlake2b": unhex_blake2b_256(output["datum"])}


@cache
def _arrow_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(BLOCK_SCHEMA)


def blocks_to_dataframe(
    spark: SparkSession, blocks: Iterable[dict]
) -> DataFrame:
    """Typed DataFrame of blocks (one row per block), planned as a
    ``LocalTableScan`` of one Arrow table; above
    ``spark.sql.execution.arrow.localRelationThreshold`` bytes of Arrow
    batches, Spark parallelises the batches as a JVM-side RDD instead."""
    import pyarrow as pa

    table = pa.Table.from_pylist(
        [_hashed(b) for b in blocks], schema=_arrow_schema()
    )
    return spark.createDataFrame(table, schema=BLOCK_SCHEMA)


# Live chain-sync adapter: sources/chainsync.py (ChainSyncClient, driven
# by ``extract --blocks ogmios://HOST:PORT``) — findIntersection +
# pipelined nextBlock over a stdlib RFC 6455 websocket, yielding this
# same dict shape.  CI exercises it against an in-process fake node
# (tests/test_chainsync.py), staying offline per SURVEY §7.5.
