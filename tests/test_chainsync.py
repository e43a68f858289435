"""Live chain-sync client vs an in-process fake Ogmios node.

The fake server speaks real RFC 6455 (handshake, masked client frames,
fragmentation, ping) and the Ogmios 6 chain-sync JSON-RPC protocol
(findIntersection, then a backward roll to the intersection followed by
forward blocks — the standard session preamble), serving the deterministic
fixture chain.  CI stays offline (SURVEY §7.5) while exercising the exact
wire path of ogmios_parquet.py:635-675.
"""

from __future__ import annotations

import json
import socket
import threading

import pytest

from cardano_analytics_duckdb_spark.lake.fixtures import fixture_blocks
from cardano_analytics_duckdb_spark.sources.chainsync import (
    OP_CLOSE,
    OP_PING,
    OP_TEXT,
    ChainSyncClient,
    decode_frame,
    encode_frame,
    recv_message,
    ws_accept_key,
)


# ---------------------------------------------------------------------------
# Frame codec
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("size", [0, 5, 125, 126, 200, 65535, 70_000])
@pytest.mark.parametrize("mask", [True, False])
def test_frame_codec_roundtrip(size, mask):
    a, b = socket.socketpair()
    try:
        payload = bytes(i % 251 for i in range(size))
        a.sendall(encode_frame(payload, OP_TEXT, mask=mask))
        opcode, fin, got = decode_frame(b)
        assert (opcode, fin, got) == (OP_TEXT, True, payload)
    finally:
        a.close()
        b.close()


def test_fragmented_message_with_interleaved_ping():
    a, b = socket.socketpair()
    try:
        # server → client: TEXT(fin=0) + PING + CONT(fin=1)
        a.sendall(encode_frame(b"hello ", OP_TEXT, mask=False, fin=False))
        a.sendall(encode_frame(b"probe", OP_PING, mask=False))
        a.sendall(encode_frame(b"world", 0x0, mask=False, fin=True))
        opcode, msg = recv_message(b, pong_mask=True)
        assert (opcode, msg) == (OP_TEXT, b"hello world")
        # the client must have answered the ping with a masked pong
        op, fin, pong = decode_frame(a)
        assert (op, pong) == (0xA, b"probe")
    finally:
        a.close()
        b.close()


# ---------------------------------------------------------------------------
# Fake Ogmios node
# ---------------------------------------------------------------------------


def _point(block: dict) -> dict:
    return {"slot": block["slot"], "id": f"{block['height']:064x}"}


class FakeOgmios:
    """Single-session Ogmios chain-sync endpoint over real TCP."""

    def __init__(
        self,
        blocks: list[dict],
        *,
        rollback_after: int | None = None,
        script: list[dict] | None = None,
    ):
        self.blocks = blocks
        self.rollback_after = rollback_after
        # scripted mode: after the protocol preamble, serve exactly these
        # nextBlock results ({"direction": "forward", "block": ...} or
        # {"direction": "backward", "point": ...}) — lets a test replay a
        # FORK (orphaned blocks, then a rollback, then the adopted chain)
        self.script = list(script) if script is not None else None
        self.tip = _point(blocks[-1])
        srv = socket.socket()
        srv.bind(("127.0.0.1", 0))
        srv.listen(1)
        self.port = srv.getsockname()[1]
        self._srv = srv
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    def _handshake(self, conn: socket.socket) -> None:
        request = b""
        while b"\r\n\r\n" not in request:
            request += conn.recv(4096)
        key = next(
            line.split(b":", 1)[1].strip().decode()
            for line in request.split(b"\r\n")
            if line.lower().startswith(b"sec-websocket-key")
        )
        conn.sendall(
            (
                "HTTP/1.1 101 Switching Protocols\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Accept: {ws_accept_key(key)}\r\n\r\n"
            ).encode()
        )

    def _serve(self) -> None:
        conn, _ = self._srv.accept()
        try:
            self._handshake(conn)
            cursor = 0  # next block index; rollback-to-intersection first
            preamble_sent = False
            served = 0
            while True:
                opcode, payload = recv_message(conn, pong_mask=False)
                if opcode == OP_CLOSE:
                    return
                req = json.loads(payload)
                method, rid = req["method"], req["id"]
                if method == "findIntersection":
                    points = req["params"]["points"]
                    if "origin" in points:
                        intersection = "origin"
                    else:
                        slots = {p["slot"] for p in points if isinstance(p, dict)}
                        matches = [b for b in self.blocks if b["slot"] in slots]
                        if not matches:
                            self._reply(
                                conn, rid, method,
                                error={"code": 1000,
                                       "message": "intersection not found"},
                            )
                            continue
                        match = max(matches, key=lambda b: b["slot"])
                        intersection = _point(match)
                        cursor = self.blocks.index(match) + 1
                    self._reply(
                        conn, rid, method,
                        result={"intersection": intersection, "tip": self.tip},
                    )
                elif method == "nextBlock":
                    if not preamble_sent:
                        # protocol preamble: roll backward to the intersection
                        preamble_sent = True
                        point = (
                            "origin" if cursor == 0
                            else _point(self.blocks[cursor - 1])
                        )
                        result = {"direction": "backward", "point": point,
                                  "tip": self.tip}
                    elif self.script is not None:
                        if self.script:
                            item = self.script.pop(0)
                            result = dict(item, tip=self.tip)
                            if item.get("direction") != "backward":
                                result["direction"] = "forward"
                                served += 1
                        else:
                            result = {"direction": "backward",
                                      "point": self.tip, "tip": self.tip}
                    elif (
                        self.rollback_after is not None
                        and served == self.rollback_after
                    ):
                        self.rollback_after = None
                        result = {
                            "direction": "backward",
                            "point": _point(self.blocks[cursor - 1]),
                            "tip": self.tip,
                        }
                    elif cursor < len(self.blocks):
                        # occasionally fragment, to exercise reassembly
                        result = {"direction": "forward",
                                  "block": self.blocks[cursor],
                                  "tip": self.tip}
                        cursor += 1
                        served += 1
                    else:
                        result = {"direction": "backward", "point": self.tip,
                                  "tip": self.tip}
                    fragment = served % 50 == 25
                    self._reply(conn, rid, method, result=result,
                                fragment=fragment)
        except (ConnectionError, OSError):
            return
        finally:
            conn.close()
            self._srv.close()

    def _reply(self, conn, rid, method, *, result=None, error=None,
               fragment=False):
        msg = {"jsonrpc": "2.0", "method": method, "id": rid}
        if error is not None:
            msg["error"] = error
        else:
            msg["result"] = result
        data = json.dumps(msg).encode()
        if fragment and len(data) > 10:
            mid = len(data) // 2
            conn.sendall(encode_frame(data[:mid], OP_TEXT, mask=False,
                                      fin=False))
            conn.sendall(encode_frame(b"", OP_PING, mask=False))
            conn.sendall(encode_frame(data[mid:], 0x0, mask=False, fin=True))
        else:
            conn.sendall(encode_frame(data, OP_TEXT, mask=False))


# ---------------------------------------------------------------------------
# Chain-sync sessions
# ---------------------------------------------------------------------------


def test_stream_from_origin_replays_whole_chain():
    blocks = fixture_blocks()
    node = FakeOgmios(blocks)
    with ChainSyncClient("127.0.0.1", node.port) as client:
        intersection, tip = client.find_intersection(["origin"])
        assert intersection == "origin"
        assert tip["slot"] == blocks[-1]["slot"]
        events = list(client.stream(batch_size=100))
    rollbacks = [e for e in events if e.get("direction") == "backward"]
    forwards = [e for e in events if e.get("direction") != "backward"]
    assert len(rollbacks) == 1  # the roll-to-intersection preamble
    assert rollbacks[0]["point"] == "origin"
    assert forwards == blocks  # byte-identical replay, in order


def test_find_intersection_positions_mid_chain():
    blocks = fixture_blocks()
    node = FakeOgmios(blocks)
    mid = blocks[len(blocks) // 2]
    with ChainSyncClient("127.0.0.1", node.port) as client:
        intersection, _ = client.find_intersection(
            [{"slot": mid["slot"], "id": "ab"}]
        )
        assert intersection["slot"] == mid["slot"]
        forwards = [
            e for e in client.stream(batch_size=7)
            if e.get("direction") != "backward"
        ]
    assert forwards == blocks[len(blocks) // 2 + 1 :]


def test_stop_slot_bounds_stream():
    blocks = fixture_blocks()
    node = FakeOgmios(blocks)
    stop = blocks[9]["slot"]
    with ChainSyncClient("127.0.0.1", node.port) as client:
        client.find_intersection(["origin"])
        forwards = [
            e for e in client.stream(batch_size=4, stop_slot=stop)
            if e.get("direction") != "backward"
        ]
    assert forwards == [b for b in blocks if b["slot"] <= stop]


def test_mid_stream_rollback_is_surfaced_in_order():
    blocks = fixture_blocks()
    node = FakeOgmios(blocks, rollback_after=5)
    with ChainSyncClient("127.0.0.1", node.port) as client:
        client.find_intersection(["origin"])
        events = list(client.stream(batch_size=3))
    backward = [e for e in events if e.get("direction") == "backward"]
    assert len(backward) == 2  # preamble + injected mid-stream rollback
    assert events.index(backward[1]) == 6  # right after the 5th block
    forwards = [e for e in events if e.get("direction") != "backward"]
    assert forwards == blocks  # rollback does not drop or reorder blocks


def test_unknown_intersection_raises():
    from cardano_analytics_duckdb_spark.sources.chainsync import (
        ChainSyncError,
    )

    blocks = fixture_blocks()
    node = FakeOgmios(blocks)
    with ChainSyncClient("127.0.0.1", node.port) as client:
        with pytest.raises(ChainSyncError, match="1000"):
            client.find_intersection([{"slot": -5, "id": "00"}])


def test_chain_sync_feeds_ingestion(spark, tmp_path):
    """Full live path: websocket stream → ingest_blocks → lake tables.

    The stream (with its protocol-mandated rollback preamble) must produce
    the same tx table as a direct fixture replay, and the rollback must be
    counted, not ingested.
    """
    from cardano_analytics_duckdb_spark.streaming.ingest import ingest_blocks

    blocks = fixture_blocks()
    node = FakeOgmios(blocks)
    dest = str(tmp_path / "live_lake")
    with ChainSyncClient("127.0.0.1", node.port) as client:
        client.find_intersection(["origin"])
        stats = ingest_blocks(
            spark, client.stream(batch_size=50), dest, batch_size=100
        )
    assert stats["rollbacks"] == 1  # the roll-to-intersection preamble
    assert stats["transactions"] == sum(len(b["transactions"]) for b in blocks)
    got = spark.read.parquet(f"{dest}/tx")
    assert got.count() == stats["transactions"]


def test_reconciled_live_rollback_converges_to_honest_chain(spark, tmp_path):
    """ingest_blocks(reconcile_rollbacks=True) streaming past a fork:
    orphaned rows are gone after the backward event's partition-scoped
    rewrite, and the re-ingested (adopted-chain) rows survive — the lake
    converges to exactly a direct full replay.  Default (False) stays
    reference parity: count-and-skip (``test_chain_sync_feeds_ingestion``).
    """
    import copy

    from pyspark.sql import functions as F

    from cardano_analytics_duckdb_spark.lake.generations import read_table
    from cardano_analytics_duckdb_spark.streaming.ingest import ingest_blocks

    blocks = fixture_blocks()
    orphans = copy.deepcopy(blocks[5:7])
    orphan_id = "ff" * 20
    for b in orphans:
        for i, t in enumerate(b["transactions"]):
            t["id"] = f"{i:02x}" + orphan_id[2:]
    # the node serves 5 honest blocks, 2 orphans, rolls back to honest
    # block 5's point, then serves the adopted chain to the tip
    script = (
        [{"direction": "forward", "block": b} for b in blocks[:5] + orphans]
        + [{"direction": "backward", "point": _point(blocks[4])}]
        + [{"direction": "forward", "block": b} for b in blocks[5:]]
    )
    node = FakeOgmios(blocks, script=script)
    dest = str(tmp_path / "reconciled_lake")
    with ChainSyncClient("127.0.0.1", node.port) as client:
        client.find_intersection(["origin"])
        stats = ingest_blocks(
            spark,
            client.stream(batch_size=3),
            dest,
            batch_size=4,  # the backward event lands mid-batch
            reconcile_rollbacks=True,
        )
    assert stats["rollbacks"] == 2  # preamble (no-op on empty) + fork switch
    n_orphan_txs = sum(len(b["transactions"]) for b in orphans)
    assert stats["reconciled_rows"] >= n_orphan_txs
    tx = read_table(spark, f"{dest}/tx")
    # orphaned rows are gone (their tx ids exist nowhere on the honest chain)
    orphan_rows = tx.filter(
        F.hex(F.col("tx_id")).ilike("%" + orphan_id[2:])
    ).count()
    assert orphan_rows == 0
    # re-ingested rows survive: the lake equals a direct full replay
    assert tx.count() == sum(len(b["transactions"]) for b in blocks)


def _tx_rows(spark, lake):
    from cardano_analytics_duckdb_spark.lake.generations import read_table

    return sorted(map(tuple, read_table(spark, f"{lake}/tx").collect()))


def test_extract_streams_from_ogmios(spark, tmp_path, capsys):
    """``extract --blocks ogmios://HOST:PORT`` streams a live node into
    the same tx rows as the fixture replay; the one rollback it reports
    is the roll-to-intersection preamble."""
    from cardano_analytics_duckdb_spark.cli import main

    node = FakeOgmios(fixture_blocks())
    live, replay = str(tmp_path / "live"), str(tmp_path / "replay")
    assert main(
        ["extract", "--blocks", f"ogmios://127.0.0.1:{node.port}",
         "--dest", live],
        spark=spark,
    ) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rollbacks"] == 1
    assert main(
        ["extract", "--blocks", "fixture", "--dest", replay], spark=spark
    ) == 0
    assert _tx_rows(spark, live) == _tx_rows(spark, replay)


def test_extract_from_ogmios_starts_at_the_preset_point(
    spark, tmp_path, capsys, monkeypatch
):
    """A preset's (slot, hash) is the findIntersection point, so the
    stream starts right after that block, and a fixture replay with the
    same preset starts at the same block; a bare slot number has no
    block id and is refused before any connection is made."""
    from cardano_analytics_duckdb_spark import cli

    blocks = fixture_blocks()
    mid = blocks[len(blocks) // 2]
    node = FakeOgmios(blocks)
    dest, replay = str(tmp_path / "live"), str(tmp_path / "replay")
    monkeypatch.setitem(
        cli.START_PRESETS, "fixture_mid", (mid["slot"], "ab" * 32)
    )
    for source, lake in (
        (f"ogmios://127.0.0.1:{node.port}", dest),
        ("fixture", replay),
    ):
        assert cli.main(
            ["extract", "--blocks", source, "--start-point", "fixture_mid",
             "--dest", lake],
            spark=spark,
        ) == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["blocks"] == len(blocks) - len(blocks) // 2 - 1
    assert _tx_rows(spark, dest) == _tx_rows(spark, replay)
    with pytest.raises(SystemExit, match="preset"):
        cli.main(
            ["extract", "--blocks", "ogmios://127.0.0.1:1",
             "--start-point", str(mid["slot"]), "--dest", dest],
            spark=spark,
        )


def test_extract_file_with_a_point_only_backward_event(
    spark, tmp_path, capsys, monkeypatch
):
    """A chain-sync-shaped backward event (a point, no slot) in a
    JSON-lines file passes the start-point filter untouched; a bare slot
    number keeps the block at that slot."""
    from cardano_analytics_duckdb_spark import cli

    blocks = fixture_blocks()[:10]
    backward = {"direction": "backward", "point": _point(blocks[4])}
    path = tmp_path / "chain.jsonl"
    path.write_text(
        "".join(json.dumps(b) + "\n" for b in [*blocks[:6], backward,
                                               *blocks[6:]])
    )
    monkeypatch.setitem(
        cli.START_PRESETS, "fixture_b2", (blocks[2]["slot"], "ab" * 32)
    )
    for start, kept in (("fixture_b2", 7), (str(blocks[2]["slot"]), 8)):
        assert cli.main(
            ["extract", "--blocks", str(path), "--start-point", start,
             "--dest", str(tmp_path / f"lake_{start}")],
            spark=spark,
        ) == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert (stats["blocks"], stats["rollbacks"]) == (kept, 1)
