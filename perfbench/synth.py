"""Benchmark inputs, generated in-process.

Two families, both deterministic:

- ``write_star_tables``: the ten TPC-H-like tables the headline queries
  read (``region`` ... ``embeddings``), one single-row-group Parquet file
  each, with the schemas and value ranges of the engine's test data.  The
  tables come from a fixed generator seed, so every run of every seed
  reads the same bytes; the workload seed only permutes query order.
- ``BlockStream``: an Ogmios block stream made by replaying the package's
  198-block Cardano fixture.  Each replica gets its own 4-byte tx-id
  prefix (drawn from the workload seed), inputs are remapped with it, and
  blocks are re-slotted onto an increasing slot line, ``SLOT_STEP`` slots
  apart, so replicas never collide and rollbacks have a well-defined
  order.  The same replication applied to the fixture's own row tables
  gives the expected lake (``expected_rows``), which the correctness
  checks read with DuckDB.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_SEED = 42

# One block every 200 slots puts 1,000 blocks in each 200,000-slot
# partition, so a stream of a few thousand blocks spans several partitions.
SLOT_STEP = 200
FIRST_SLOT = 100_000

_WORDS = (
    "a the query row stream spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan slow agg key "
    "window table merge vector join"
).split()


def _ts_us(start: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (days * 86_400_000_000).astype("timedelta64[us]"))


def star_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(STAR_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = int(50_000 * sf)
    n_vec = int(20_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(options, n):
        return pa.array(np.array(options, dtype=object)[rng.integers(0, len(options), n)])

    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731

    region = pa.table({
        "r_regionkey": i32(np.arange(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5),
    })
    customer = pa.table({
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    supplier = pa.table({
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adjectives = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
    nouns = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut"]
    part = pa.table({
        "p_partkey": i64(np.arange(n_part)),
        "p_name": pick([f"{a} {b}" for a in adjectives for b in nouns], n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    orders = pa.table({
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": pick(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    lineitem = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2498, n_li)),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    events = pa.table({
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.gamma(2.0, 40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), k)])
        for k in rng.integers(8, 100, n_docs)
    ]
    for j in range(8):  # a few exact duplicates for the dedup queries
        texts[n_docs - 1 - j] = texts[j * 7]
    documents = pa.table({
        "doc_id": i64(np.arange(n_docs)),
        "text": texts,
        "lang": pick(["de", "en", "es", "fr", "zh"], n_docs),
        "source": pick([f"src{i}" for i in range(20)], n_docs),
        "n_chars": i64([len(t) for t in texts]),
    })
    vecs = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": i64(np.arange(n_vec)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vec)),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_star_tables(out_dir: str, sf: float) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(sf).items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=1 << 30,
        )
    return out_dir


def _fixture():
    from cardano_analytics_duckdb_spark.lake.fixtures import (
        _ARROW_SCHEMAS,
        _build_rows,
        fixture_blocks,
        tx_specs,
    )

    specs = tx_specs()
    return fixture_blocks(specs), _build_rows(specs), _ARROW_SCHEMAS


class BlockStream:
    """A replicated fixture block stream of ``n_blocks`` forward blocks.

    ``rollback_at`` (a forward-block index) inserts one backward event
    there: the chain rolls back ``rollback_depth`` blocks and the node
    re-sends them, as a fork switch does.  ``blocks()`` yields the events;
    the lake that results is the plain forward stream.
    """

    def __init__(self, seed: int, n_blocks: int, rollback_at: int | None = None,
                 rollback_depth: int = 20):
        self.base_blocks, self.base_rows, self.schemas = _fixture()
        n_base = len(self.base_blocks)
        rng = random.Random(seed)
        n_rep = -(-n_blocks // n_base)
        self.prefixes = [bytes(rng.getrandbits(8) for _ in range(4)) for _ in range(n_rep)]
        if len(set(self.prefixes)) != n_rep:
            raise ValueError("replica prefixes collide; pick another seed")
        self.n_blocks = n_blocks
        self.rollback_at = rollback_at
        self.rollback_depth = rollback_depth
        self._slot_of = {b["slot"]: i for i, b in enumerate(self.base_blocks)}

    def slot(self, index: int) -> int:
        return FIRST_SLOT + index * SLOT_STEP

    def block(self, index: int) -> dict:
        """Forward block ``index`` of the stream."""
        n_base = len(self.base_blocks)
        rep, pos = divmod(index, n_base)
        prefix = self.prefixes[rep].hex()
        b = self.base_blocks[pos]
        txs = []
        for t in b["transactions"]:
            t2 = dict(t)
            t2["id"] = prefix + t["id"][8:]
            t2["inputs"] = [
                {"transaction": {"id": prefix + i["transaction"]["id"][8:]},
                 "index": i["index"]}
                for i in t["inputs"]
            ]
            txs.append(t2)
        return {**b, "slot": self.slot(index), "height": index, "transactions": txs}

    def blocks(self):
        for i in range(self.n_blocks):
            if i == self.rollback_at:
                back = max(0, i - self.rollback_depth)
                yield {"direction": "backward", "point": {"slot": self.slot(back - 1)}}
                for j in range(back, i):
                    yield self.block(j)
            yield self.block(i)

    def blocks_with(self, table: str) -> list[int]:
        """Forward-block indexes whose transactions have rows in ``table``."""
        rows = self.expected_rows()[table]
        return sorted({(r["slot"] - FIRST_SLOT) // SLOT_STEP for r in rows})

    def expected_rows(self, n_blocks: int | None = None) -> dict[str, list[dict]]:
        """Lake rows for the first ``n_blocks`` forward blocks."""
        n = self.n_blocks if n_blocks is None else n_blocks
        n_base = len(self.base_blocks)
        out: dict[str, list[dict]] = {t: [] for t in self.base_rows}
        for rep in range(-(-n // n_base)):
            prefix = self.prefixes[rep]
            for table, rows in self.base_rows.items():
                for r in rows:
                    index = rep * n_base + self._slot_of[r["slot"]]
                    if index >= n:
                        continue
                    r2 = dict(r, slot=self.slot(index), tx_id=prefix + r["tx_id"][4:])
                    if "inputs" in r2:
                        r2["inputs"] = [
                            dict(i, tx_id=prefix + i["tx_id"][4:]) for i in r["inputs"]
                        ]
                    out[table].append(r2)
        return out

    def write_expected_lake(self, root: str, n_blocks: int | None = None) -> str:
        """The expected lake as plain hive-partitioned Parquet, the layout the
        package's oracle SQL scans."""
        from cardano_analytics_duckdb_spark.lake.fixtures import SLOT_GROUP_SIZE

        for table, rows in self.expected_rows(n_blocks).items():
            by_group: dict[int, list[dict]] = {}
            for r in rows:
                by_group.setdefault(r["slot"] // SLOT_GROUP_SIZE * SLOT_GROUP_SIZE, []).append(r)
            for g, grp in by_group.items():
                d = os.path.join(root, table, f"slot_group={g}")
                os.makedirs(d, exist_ok=True)
                pq.write_table(
                    pa.Table.from_pylist(grp, schema=self.schemas[table]),
                    os.path.join(d, "part-0.parquet"),
                )
        return root
