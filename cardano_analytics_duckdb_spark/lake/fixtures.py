"""Deterministic Cardano fixture lake generator (pure PyArrow — no Spark
session needed, so the lake can be materialized at import time before either
engine queries it).

Single source of truth: ``tx_specs()`` — a deterministic list of transaction
specifications covering every edge case the flagship token-transfer query
needs (FIXTURES.md §B) plus seeded filler volume.  Two derivations:

- ``ensure_fixture_lake()`` → the 10-table slot-partitioned parquet lake
  (≙ the reference's extracted lake, /root/reference/README.md:5-16);
- ``fixture_blocks()`` → Ogmios-shaped block JSON (the chain-sync payload
  shape: output ``value`` as {policy: {asset: qty}} maps with the ada
  pseudo-policy, datumHash/datum fields, certificate objects).

``streaming/ingest.py`` replaying ``fixture_blocks()`` must reproduce the
lake tables exactly — that equivalence is the extraction-parity test.

Layout: ``{root}/{table}/slot_group=N/part-0.parquet`` — Spark gets
partition pruning on slot predicates; DuckDB reads the same files with
``read_parquet(..., hive_partitioning=1)``.

``tx_raw`` is not materialized — its extraction is disabled in the
reference too (ogmios_parquet.py:693-695).
"""

from __future__ import annotations

import functools
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SLOT_GROUP_SIZE = 200_000  # ≙ /root/reference/config.py:25-26

DEFAULT_LAKE_ROOT = "/root/repo/.lake/cardano_fixture"

TOKEN_POLICY = bytes([0x01]) * 27 + bytes([0x2A])  # the analyzed token
TOKEN_NAME = b"SNEK"
NOISE_POLICY = bytes([0x02]) * 28  # must be filtered out (FIXTURES §B.7)
NOISE_NAME = b"HOSKY"

ADDRS = [f"addr_test_{c}" for c in "abcdef"]

# PyArrow schemas ≙ get_parquet_schema (/root/reference/ogmios_parquet.py:14-173),
# with the SURVEY §1.3 type mapping (uint→signed, dictionary→string).
_ARROW_SCHEMAS: dict[str, pa.Schema] = {
    "tx": pa.schema(
        [
            ("slot", pa.int64()),
            ("tx_id", pa.binary()),
            ("tx_fee", pa.int64()),
            ("input_count", pa.int32()),
            ("output_count", pa.int32()),
            ("redeemer_count", pa.int32()),
            ("witness_datum_count", pa.int32()),
            ("has_mint", pa.bool_()),
            ("has_withdrawal", pa.bool_()),
            ("has_cert", pa.bool_()),
            ("has_vote", pa.bool_()),
            ("has_proposal", pa.bool_()),
            (
                "inputs",
                pa.list_(
                    pa.struct(
                        [("tx_id", pa.binary()), ("output_index", pa.int32())]
                    )
                ),
            ),
        ]
    ),
    "utxo": pa.schema(
        [
            ("slot", pa.int64()),
            ("tx_id", pa.binary()),
            ("output_index", pa.int32()),
            ("address", pa.string()),
            ("lovelace", pa.int64()),
            ("has_token", pa.bool_()),
            ("has_datum", pa.bool_()),
            ("has_ref_script", pa.bool_()),
        ]
    ),
    "mint": pa.schema(
        [
            ("slot", pa.int64()),
            ("tx_id", pa.binary()),
            ("policy_id", pa.binary()),
            ("asset_name", pa.binary()),
            ("quantity", pa.int64()),
        ]
    ),
    "asset": pa.schema(
        [
            ("slot", pa.int64()),
            ("tx_id", pa.binary()),
            ("output_index", pa.int32()),
            ("address", pa.string()),
            ("policy_id", pa.binary()),
            ("asset_name", pa.binary()),
            ("amount", pa.int64()),
        ]
    ),
    "datum": pa.schema(
        [
            ("slot", pa.int64()),
            ("tx_id", pa.binary()),
            ("output_index", pa.int32()),
            ("datum_hash", pa.binary()),
            ("is_inline", pa.bool_()),
            ("inline_datum", pa.binary()),
        ]
    ),
    "cert": pa.schema(
        [("slot", pa.int64()), ("tx_id", pa.binary()), ("type", pa.string())]
    ),
    "cert_stake": pa.schema(
        [
            ("slot", pa.int64()),
            ("tx_id", pa.binary()),
            ("type", pa.string()),
            ("credential", pa.binary()),
            ("pool_id", pa.string()),
            ("drep_id", pa.string()),
        ]
    ),
    "cert_pool": pa.schema(
        [
            ("slot", pa.int64()),
            ("tx_id", pa.binary()),
            ("type", pa.string()),
            ("pool_id", pa.string()),
            ("reward_account", pa.string()),
            ("pledge", pa.int64()),
            ("margin_numerator", pa.int64()),
            ("margin_denominator", pa.int64()),
            ("cost", pa.int64()),
            ("metadata_hash", pa.binary()),
            ("metadata_url", pa.string()),
            ("retirement_epoch", pa.int64()),
        ]
    ),
    "cert_cc": pa.schema(
        [
            ("slot", pa.int64()),
            ("tx_id", pa.binary()),
            ("type", pa.string()),
            ("member_id", pa.binary()),
            ("delegate_id", pa.binary()),
            ("metadata_hash", pa.binary()),
            ("metadata_url", pa.string()),
        ]
    ),
    "cert_drep": pa.schema(
        [
            ("slot", pa.int64()),
            ("tx_id", pa.binary()),
            ("type", pa.string()),
            ("drep_id", pa.binary()),
            ("drep_type", pa.string()),
            ("metadata_hash", pa.binary()),
            ("metadata_url", pa.string()),
        ]
    ),
    # README-only stretch tables (≙ /root/reference/README.md:75-105)
    "vote": pa.schema(
        [
            ("slot", pa.int64()),
            ("tx_id", pa.binary()),
            ("voter", pa.string()),
            ("action_id_tx", pa.binary()),
            ("action_id_index", pa.int32()),
            ("vote", pa.int32()),
            ("anchor", pa.string()),
        ]
    ),
    "proposal": pa.schema(
        [
            ("slot", pa.int64()),
            ("tx_id", pa.binary()),
            ("proposal_index", pa.int32()),
            ("deposit", pa.int64()),
            ("return_account", pa.string()),
            ("type", pa.int32()),
            ("anchor", pa.string()),
        ]
    ),
    "redeemer": pa.schema(
        [
            ("slot", pa.int64()),
            ("tx_id", pa.binary()),
            ("tag", pa.int32()),
            ("redeemer_index", pa.int32()),
            ("data", pa.binary()),
            ("mem", pa.int64()),
            ("steps", pa.int64()),
        ]
    ),
}

# certificate type → specialized table (≙ the reference's dispatch in
# extract_all_certificate_data, ogmios_parquet.py:370-486)
CERT_TABLE_BY_TYPE: dict[str, str] = {
    "stakeDelegation": "cert_stake",
    "stakeCredentialRegistration": "cert_stake",
    "stakeCredentialDeregistration": "cert_stake",
    "stakePoolRegistration": "cert_pool",
    "stakePoolRetirement": "cert_pool",
    "constitutionalCommitteeHotKeyRegistration": "cert_cc",
    "constitutionalCommitteeRetirement": "cert_cc",
    "delegateRepresentativeRegistration": "cert_drep",
    "delegateRepresentativeDeregistration": "cert_drep",
    "delegateRepresentativeUpdate": "cert_drep",
}

_CERT_FIELDS = {
    "cert_stake": ("credential", "pool_id", "drep_id"),
    "cert_pool": (
        "pool_id", "reward_account", "pledge", "margin_numerator",
        "margin_denominator", "cost", "metadata_hash", "metadata_url",
        "retirement_epoch",
    ),
    "cert_cc": ("member_id", "delegate_id", "metadata_hash", "metadata_url"),
    "cert_drep": ("drep_id", "drep_type", "metadata_hash", "metadata_url"),
}


def _txid(i: int) -> bytes:
    return hashlib.sha256(f"fixture_tx_{i}".encode()).digest()


def _blake2b_256(data: bytes) -> bytes:
    # ≙ the reference's inline-datum hashing (ogmios_parquet.py:333-343)
    return hashlib.blake2b(data, digest_size=32).digest()


def _out(
    address: str,
    lovelace: int,
    assets: list[tuple[bytes, bytes, int]] = (),
    datum_hash: bytes | None = None,
    inline_datum: bytes | None = None,
    script: dict | None = None,
) -> dict:
    # ``script``: Ogmios reference-script object ({"language": ..,
    # "cbor": ..}); the lake records only its presence (has_ref_script),
    # mirroring ogmios_parquet.py:278 `bool(output.get('script'))`.
    return dict(
        address=address,
        lovelace=lovelace,
        assets=list(assets),
        datum_hash=datum_hash,
        inline_datum=inline_datum,
        script=script,
    )


def tx_specs() -> list[dict]:
    """The deterministic transaction specifications (shared intermediate)."""
    rng = random.Random(42)
    specs: list[dict] = []

    def add(i, slot, fee, inputs, outputs, mints=(), certs=(),
            votes=(), proposals=(), redeemers=()):
        specs.append(
            dict(
                index=i,
                slot=slot,
                fee=fee,
                inputs=list(inputs),
                outputs=list(outputs),
                mints=list(mints),
                certs=list(certs),
                votes=list(votes),
                proposals=list(proposals),
                redeemers=list(redeemers),
            )
        )
        return _txid(i)

    tok = [(TOKEN_POLICY, TOKEN_NAME, 1000)]
    noise = [(NOISE_POLICY, NOISE_NAME, 500)]

    # B.3 mint: token only in outputs -> input set NULL -> included
    t_mint = add(0, 100_000, 180_000, [], [_out(ADDRS[0], 2_000_000, tok)],
                 mints=[(TOKEN_POLICY, TOKEN_NAME, 1000)])
    # B.1 plain transfer A -> B
    t_xfer = add(1, 100_010, 210_000, [(t_mint, 0)],
                 [_out(ADDRS[1], 1_900_000, tok)])
    # B.2 self-send B -> B (sets equal -> excluded)
    t_self = add(2, 100_020, 2_100_000, [(t_xfer, 0)],
                 [_out(ADDRS[1], 1_800_000, tok)])
    # B.6 multi-address fan-in/out with duplicates
    m1 = add(3, 100_030, 190_000, [],
             [_out(ADDRS[2], 1_000_000, tok), _out(ADDRS[3], 1_000_000, tok)],
             mints=[(TOKEN_POLICY, TOKEN_NAME, 2000)])
    add(4, 100_040, 2_500_000, [(m1, 0), (m1, 1), (t_self, 0)],
        [
            _out(ADDRS[4], 900_000, tok),
            _out(ADDRS[4], 900_000, tok),  # duplicate output address
            _out(ADDRS[5], 900_000, tok),
        ])
    # B.4 burn-shaped: consumes token UTxO, produces none
    t_for_burn = add(5, 100_050, 175_000, [], [_out(ADDRS[0], 1_500_000, tok)],
                     mints=[(TOKEN_POLICY, TOKEN_NAME, 1000)])
    add(6, 100_060, 2_050_000, [(t_for_burn, 0)],
        [_out(ADDRS[0], 1_400_000)],
        mints=[(TOKEN_POLICY, TOKEN_NAME, -1000)])
    # B.5 missing-input: references a tx_id absent from the lake
    ghost = hashlib.sha256(b"not_in_dataset").digest()
    add(7, 100_070, 1_999_999, [(ghost, 0)], [_out(ADDRS[2], 1_200_000, tok)])
    # B.7 noise token activity (other policy id -> filtered out)
    n1 = add(8, 100_080, 160_000, [], [_out(ADDRS[3], 1_000_000, noise)],
             mints=[(NOISE_POLICY, NOISE_NAME, 500)])
    add(9, 100_090, 2_200_000, [(n1, 0)], [_out(ADDRS[4], 950_000, noise)])
    # B.8 slot-boundary token rows across two slot_group partitions
    b1 = add(10, SLOT_GROUP_SIZE - 10, 185_000, [],
             [_out(ADDRS[0], 1_100_000, tok)],
             mints=[(TOKEN_POLICY, TOKEN_NAME, 100)])
    b2 = add(11, SLOT_GROUP_SIZE - 1, 186_000, [(b1, 0)],
             [_out(ADDRS[1], 1_050_000, tok)])
    b3 = add(12, SLOT_GROUP_SIZE, 187_000, [(b2, 0)],
             [_out(ADDRS[2], 1_000_000, tok)])
    add(13, SLOT_GROUP_SIZE + 10, 188_000, [(b3, 0)],
        [_out(ADDRS[3], 950_000, tok)])
    # B.10 datum rows: one hash-only output, one inline output (blake2b)
    add(14, 100_100, 170_000, [],
        [
            _out(ADDRS[5], 1_000_000,
                 datum_hash=hashlib.sha256(b"external_datum").digest()),
            _out(ADDRS[5], 1_000_000, inline_datum=b"\xd8\x79\x80"),
        ])
    # certificates: one of each specialized type
    add(15, 100_110, 172_000, [], [_out(ADDRS[0], 5_000_000)],
        certs=[
            dict(type="stakeDelegation",
                 credential=hashlib.sha256(b"cred").digest()[:28],
                 pool_id="pool1xyz", drep_id=None),
            dict(type="stakePoolRegistration",
                 pool_id="pool1xyz", reward_account="stake1abc",
                 pledge=100_000_000, margin_numerator=3,
                 margin_denominator=100, cost=340_000_000,
                 metadata_hash=hashlib.sha256(b"meta").digest(),
                 metadata_url="https://pool.example/meta.json",
                 retirement_epoch=None),
            dict(type="constitutionalCommitteeHotKeyRegistration",
                 member_id=hashlib.sha256(b"member").digest()[:28],
                 delegate_id=hashlib.sha256(b"delegate").digest()[:28],
                 metadata_hash=None, metadata_url=None),
            dict(type="delegateRepresentativeRegistration",
                 drep_id=hashlib.sha256(b"drep").digest()[:29],
                 drep_type="registered", metadata_hash=None,
                 metadata_url=None),
        ])

    # B.9 + filler: 180 seeded lovelace-only txs, fees straddling 2M
    prev = None
    for j in range(16, 196):
        slot = rng.choice(
            [rng.randrange(100_000, 199_999), rng.randrange(200_000, 299_999)]
        )
        fee = rng.choice(
            [rng.randrange(150_000, 400_000),
             rng.randrange(1_990_000, 2_010_000),
             rng.randrange(2_000_001, 9_000_000)]
        )
        ins = [(prev, 0)] if prev is not None and rng.random() < 0.6 else []
        prev = add(
            j, slot, fee, ins,
            [_out(rng.choice(ADDRS), rng.randrange(1_000_000, 50_000_000))],
        )

    # governance (README-only stretch tables): votes + a proposal, and a
    # script tx with redeemers
    add(196, 100_120, 195_000, [],
        [_out(ADDRS[0], 3_000_000,
              script={"language": "plutus:v3", "cbor": "49480100002221200101"})],
        votes=[
            dict(voter="drep1gov", action_id_tx=_txid(15),
                 action_id_index=0, vote=1,
                 anchor="https://gov.example/rationale.json"),
            dict(voter="pool1xyz", action_id_tx=_txid(15),
                 action_id_index=0, vote=0, anchor=None),
        ],
        proposals=[
            dict(proposal_index=0, deposit=100_000_000_000,
                 return_account="stake1abc", type=3,
                 anchor="https://gov.example/action.json"),
        ])
    add(197, 100_130, 420_000, [(_txid(196), 0)],
        [_out(ADDRS[1], 2_500_000)],
        redeemers=[
            dict(tag=0, redeemer_index=0, data=b"\xd8\x79\x80",
                 mem=1_000_000, steps=500_000_000),
            dict(tag=2, redeemer_index=0, data=None,
                 mem=200_000, steps=80_000_000),
        ])
    return specs


def _build_rows(specs: list[dict]) -> dict[str, list[dict]]:
    rows: dict[str, list[dict]] = {t: [] for t in _ARROW_SCHEMAS}
    for s in specs:
        tid = _txid(s["index"])
        slot = s["slot"]
        rows["tx"].append(
            dict(
                slot=slot,
                tx_id=tid,
                tx_fee=s["fee"],
                input_count=len(s["inputs"]),
                output_count=len(s["outputs"]),
                redeemer_count=len(s["redeemers"]),
                witness_datum_count=sum(
                    1
                    for o in s["outputs"]
                    if o["datum_hash"] is not None and o["inline_datum"] is None
                ),
                has_mint=bool(s["mints"]),
                has_withdrawal=False,
                has_cert=bool(s["certs"]),
                has_vote=bool(s["votes"]),
                has_proposal=bool(s["proposals"]),
                inputs=[
                    {"tx_id": itid, "output_index": oi}
                    for itid, oi in s["inputs"]
                ],
            )
        )
        for oi, o in enumerate(s["outputs"]):
            has_datum = (
                o["datum_hash"] is not None or o["inline_datum"] is not None
            )
            rows["utxo"].append(
                dict(
                    slot=slot,
                    tx_id=tid,
                    output_index=oi,
                    address=o["address"],
                    lovelace=o["lovelace"],
                    has_token=bool(o["assets"]),
                    has_datum=has_datum,
                    has_ref_script=bool(o.get("script")),
                )
            )
            for policy, name, amt in o["assets"]:
                rows["asset"].append(
                    dict(
                        slot=slot,
                        tx_id=tid,
                        output_index=oi,
                        address=o["address"],
                        policy_id=policy,
                        asset_name=name,
                        amount=amt,
                    )
                )
            if has_datum:
                inline = o["inline_datum"]
                rows["datum"].append(
                    dict(
                        slot=slot,
                        tx_id=tid,
                        output_index=oi,
                        datum_hash=(
                            o["datum_hash"]
                            if o["datum_hash"] is not None
                            else _blake2b_256(inline)
                        ),
                        is_inline=inline is not None,
                        inline_datum=inline,
                    )
                )
        for policy, name, qty in s["mints"]:
            rows["mint"].append(
                dict(slot=slot, tx_id=tid, policy_id=policy,
                     asset_name=name, quantity=qty)
            )
        for cert in s["certs"]:
            ctype = cert["type"]
            rows["cert"].append(dict(slot=slot, tx_id=tid, type=ctype))
            table = CERT_TABLE_BY_TYPE[ctype]
            detail = dict(slot=slot, tx_id=tid, type=ctype)
            for f in _CERT_FIELDS[table]:
                detail[f] = cert.get(f)
            rows[table].append(detail)
        for v in s["votes"]:
            rows["vote"].append(dict(slot=slot, tx_id=tid, **v))
        for p in s["proposals"]:
            rows["proposal"].append(dict(slot=slot, tx_id=tid, **p))
        for r in s["redeemers"]:
            rows["redeemer"].append(dict(slot=slot, tx_id=tid, **r))
    return rows


def fixture_blocks(specs: list[dict] | None = None) -> list[dict]:
    """Ogmios-shaped block JSON derived from the same specs: one block per
    distinct slot, output values as {policy_hex: {asset_hex: qty}} maps with
    the ``ada`` pseudo-policy, datumHash/datum hex fields."""
    specs = tx_specs() if specs is None else specs
    by_slot: dict[int, list[dict]] = {}
    for s in specs:
        by_slot.setdefault(s["slot"], []).append(s)
    blocks = []
    for height, slot in enumerate(sorted(by_slot)):
        txs = []
        for s in by_slot[slot]:
            value_of = lambda o: {
                "ada": {"lovelace": o["lovelace"]},
                **{
                    p.hex(): {n.hex(): a}
                    for p, n, a in o["assets"]
                },
            }
            mint: dict[str, dict[str, int]] = {}
            for p, n, q in s["mints"]:
                mint.setdefault(p.hex(), {})[n.hex()] = q
            certs = []
            for c in s["certs"]:
                cj = {"type": c["type"]}
                for k, v in c.items():
                    if k in ("type", "margin_numerator", "margin_denominator"):
                        continue
                    cj[k] = v.hex() if isinstance(v, bytes) else v
                # Ogmios ships pool margin as a fraction string (F6)
                if c.get("margin_numerator") is not None:
                    cj["margin"] = (
                        f"{c['margin_numerator']}/{c['margin_denominator']}"
                    )
                certs.append(cj)
            txs.append(
                {
                    "id": _txid(s["index"]).hex(),
                    "fee": {"ada": {"lovelace": s["fee"]}},
                    "inputs": [
                        {"transaction": {"id": t.hex()}, "index": oi}
                        for t, oi in s["inputs"]
                    ],
                    "outputs": [
                        {
                            "address": o["address"],
                            "value": value_of(o),
                            "datumHash": (
                                o["datum_hash"].hex()
                                if o["datum_hash"] is not None
                                else None
                            ),
                            "datum": (
                                o["inline_datum"].hex()
                                if o["inline_datum"] is not None
                                else None
                            ),
                            "script": o.get("script"),
                        }
                        for o in s["outputs"]
                    ],
                    "mint": mint,
                    "certificates": certs,
                    "redeemers": [
                        {
                            **r,
                            "data": (
                                r["data"].hex()
                                if r["data"] is not None
                                else None
                            ),
                        }
                        for r in s["redeemers"]
                    ],
                    "withdrawals": {},
                    "votes": [
                        {**v, "action_id_tx": v["action_id_tx"].hex()}
                        for v in s["votes"]
                    ],
                    "proposals": list(s["proposals"]),
                }
            )
        blocks.append(
            {"type": "praos", "slot": slot, "height": height,
             "transactions": txs}
        )
    return blocks


@functools.cache
def _fixture_version() -> str:
    """The ready marker's content: a hash of the specs.  ``tx_specs()`` is
    deterministic, so one computation per process serves every call."""
    return hashlib.sha256(repr(tx_specs()).encode()).hexdigest()[:16]


def ensure_fixture_lake(spark=None, root: str = DEFAULT_LAKE_ROOT) -> str:
    """Generate the lake once (marker-file guarded); return its root.

    ``spark`` is accepted (and ignored) so call sites can pass their session;
    generation is pure PyArrow and needs no engine.
    """
    version = _fixture_version()
    marker = os.path.join(root, "_FIXTURE_READY")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == version:
                return root
        import shutil  # stale lake from an older spec: rebuild from scratch

        shutil.rmtree(root)
    all_rows = _build_rows(tx_specs())
    for table, schema in _ARROW_SCHEMAS.items():
        by_group: dict[int, list[dict]] = {}
        for r in all_rows[table]:
            g = (r["slot"] // SLOT_GROUP_SIZE) * SLOT_GROUP_SIZE
            by_group.setdefault(g, []).append(r)
        for g, rows in sorted(by_group.items()):
            out_dir = os.path.join(root, table, f"slot_group={g}")
            os.makedirs(out_dir, exist_ok=True)
            rows = sorted(rows, key=lambda r: (r["slot"], r["tx_id"]))
            tbl = pa.Table.from_pylist(rows, schema=schema)
            pq.write_table(
                tbl, os.path.join(out_dir, "part-0.parquet"),
                compression="zstd",
            )
    with open(marker, "w") as f:
        f.write(version + "\n")
    return root
