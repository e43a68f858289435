"""Live Ogmios chain-sync source (S11 — the websocket adapter slot).

Speaks the Ogmios 6 chain-synchronization protocol — JSON-RPC 2.0 over a
websocket: ``findIntersection`` once, then pipelined ``nextBlock`` requests
(≙ /root/reference/ogmios_parquet.py:635-675, which batches
``next_block.send()``/``receive()`` pairs for throughput).  Yielded items
use the exact dict shapes the offline replay path produces, so
``streaming.ingest.ingest_blocks(spark, client.stream(...), dest)`` works
unchanged on a live node, as ``extract --blocks ogmios://...`` does:

- forward: the Ogmios block JSON (``{"type": "praos", "slot": ...,
  "height": ..., "transactions": [...]}``)
- backward: ``{"direction": "backward", "point": ..., "tip": ...}``

No third-party websocket library exists in this environment, so the
transport is a minimal RFC 6455 client over :mod:`socket` (text frames,
fragmentation, ping/pong, 16/64-bit extended lengths, masked client
frames).  The same frame codec drives the in-process fake Ogmios server in
``tests/test_chainsync.py``, keeping CI fully offline (SURVEY §7.5).
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import socket
from collections.abc import Iterable, Iterator

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"  # RFC 6455 §1.3

OP_CONT, OP_TEXT, OP_CLOSE, OP_PING, OP_PONG = 0x0, 0x1, 0x8, 0x9, 0xA


# ---------------------------------------------------------------------------
# Frame codec (shared by client and the test server)
# ---------------------------------------------------------------------------


def ws_accept_key(client_key: str) -> str:
    """Server handshake digest: base64(sha1(key + GUID)) (RFC 6455 §4.2.2)."""
    digest = hashlib.sha1((client_key + _WS_GUID).encode()).digest()
    return base64.b64encode(digest).decode()


def encode_frame(
    payload: bytes, opcode: int = OP_TEXT, *, mask: bool, fin: bool = True
) -> bytes:
    """One websocket frame.  Clients MUST mask; servers MUST NOT."""
    head = bytearray([(0x80 if fin else 0) | opcode])
    n = len(payload)
    mask_bit = 0x80 if mask else 0
    if n < 126:
        head.append(mask_bit | n)
    elif n < 1 << 16:
        head.append(mask_bit | 126)
        head += n.to_bytes(2, "big")
    else:
        head.append(mask_bit | 127)
        head += n.to_bytes(8, "big")
    if mask:
        key = os.urandom(4)
        head += key
        payload = bytes(b ^ key[i % 4] for i, b in enumerate(payload))
    return bytes(head) + payload


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("websocket peer closed mid-frame")
        buf += chunk
    return bytes(buf)


def decode_frame(sock: socket.socket) -> tuple[int, bool, bytes]:
    """Read one frame → (opcode, fin, unmasked payload)."""
    b0, b1 = _recv_exact(sock, 2)
    fin, opcode = bool(b0 & 0x80), b0 & 0x0F
    masked, n = bool(b1 & 0x80), b1 & 0x7F
    if n == 126:
        n = int.from_bytes(_recv_exact(sock, 2), "big")
    elif n == 127:
        n = int.from_bytes(_recv_exact(sock, 8), "big")
    key = _recv_exact(sock, 4) if masked else None
    payload = _recv_exact(sock, n)
    if key:
        payload = bytes(b ^ key[i % 4] for i, b in enumerate(payload))
    return opcode, fin, payload


def recv_message(
    sock: socket.socket, *, pong_mask: bool
) -> tuple[int, bytes]:
    """Next complete message: reassembles continuations, answers pings.

    ``pong_mask`` is True on the client side (its pongs must be masked).
    """
    opcode, buf = None, bytearray()
    while True:
        op, fin, payload = decode_frame(sock)
        if op == OP_PING:
            sock.sendall(encode_frame(payload, OP_PONG, mask=pong_mask))
            continue
        if op == OP_PONG:
            continue
        if op == OP_CLOSE:
            return OP_CLOSE, bytes(payload)
        if op != OP_CONT:
            opcode = op
        buf += payload
        if fin:
            return opcode, bytes(buf)


# ---------------------------------------------------------------------------
# Chain-sync client
# ---------------------------------------------------------------------------


class ChainSyncError(RuntimeError):
    """JSON-RPC error response from the node."""


class ChainSyncClient:
    """Pipelined Ogmios chain-sync session.

    >>> with ChainSyncClient(host, port) as client:          # doctest: +SKIP
    ...     point, tip = client.find_intersection(["origin"])
    ...     for block in client.stream(stop_slot=1_000_000):
    ...         ...
    """

    def __init__(
        self,
        host: str,
        port: int = 1337,
        *,
        path: str = "/",
        timeout: float = 30.0,
    ) -> None:
        self.host, self.port, self.path = host, port, path
        self.timeout = timeout
        self._sock: socket.socket | None = None
        self._next_id = 0
        self._in_flight = 0

    # -- connection lifecycle ------------------------------------------------

    def connect(self) -> "ChainSyncClient":
        sock = socket.create_connection(
            (self.host, self.port), timeout=self.timeout
        )
        key = base64.b64encode(os.urandom(16)).decode()
        request = (
            f"GET {self.path} HTTP/1.1\r\n"
            f"Host: {self.host}:{self.port}\r\n"
            "Upgrade: websocket\r\n"
            "Connection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n"
        )
        sock.sendall(request.encode())
        response = b""
        while b"\r\n\r\n" not in response:
            chunk = sock.recv(4096)
            if not chunk:
                raise ConnectionError("handshake: peer closed")
            response += chunk
        status = response.split(b"\r\n", 1)[0]
        if b"101" not in status:
            raise ConnectionError(f"handshake rejected: {status!r}")
        accept = ws_accept_key(key).encode()
        if accept not in response:
            raise ConnectionError("handshake: bad Sec-WebSocket-Accept")
        self._sock = sock
        return self

    def close(self) -> None:
        if self._sock is not None:
            try:
                self._sock.sendall(encode_frame(b"", OP_CLOSE, mask=True))
            except OSError:
                pass
            self._sock.close()
            self._sock = None

    def __enter__(self) -> "ChainSyncClient":
        return self.connect()

    def __exit__(self, *exc) -> None:
        self.close()

    # -- JSON-RPC ------------------------------------------------------------

    def _send(self, method: str, params: dict | None = None) -> int:
        self._next_id += 1
        msg = {"jsonrpc": "2.0", "method": method, "id": self._next_id}
        if params is not None:
            msg["params"] = params
        self._sock.sendall(
            encode_frame(json.dumps(msg).encode(), OP_TEXT, mask=True)
        )
        return self._next_id

    def _receive(self) -> dict:
        opcode, payload = recv_message(self._sock, pong_mask=True)
        if opcode == OP_CLOSE:
            raise ConnectionError("node closed the chain-sync session")
        reply = json.loads(payload)
        if "error" in reply:
            err = reply["error"]
            raise ChainSyncError(
                f"{reply.get('method', '?')}: "
                f"[{err.get('code')}] {err.get('message')}"
            )
        return reply

    # -- chain-sync protocol -------------------------------------------------

    def find_intersection(
        self, points: Iterable[dict | str] = ("origin",)
    ) -> tuple[dict | str, dict]:
        """Position the read pointer; returns (intersection, tip).

        ``points`` entries are ``"origin"`` or ``{"slot": N, "id": hex}``
        (≙ ``client.find_intersection.execute([...])``,
        ogmios_parquet.py:639-645).
        """
        self._send("findIntersection", {"points": list(points)})
        result = self._receive()["result"]
        return result["intersection"], result["tip"]

    def next_block_send(self) -> None:
        """Fire one pipelined nextBlock request (≙ next_block.send())."""
        self._send("nextBlock")
        self._in_flight += 1

    def next_block_receive(self) -> tuple[str, dict, dict]:
        """Await one response → (direction, tip, block-or-point)."""
        result = self._receive()["result"]
        self._in_flight -= 1
        direction = result["direction"]
        payload = result["block"] if direction == "forward" else result["point"]
        return direction, result["tip"], payload

    def stream(
        self,
        *,
        batch_size: int = 100,
        stop_slot: int | None = None,
        stop_at_tip: bool = True,
    ) -> Iterator[dict]:
        """Yield ingestion-ready events, keeping ``batch_size`` requests in
        flight (≙ the reference's send-N-then-receive-N loop,
        ogmios_parquet.py:668-675).

        Forward blocks are yielded verbatim; backward results become
        ``{"direction": "backward", "point": ..., "tip": ...}`` events that
        ``ingest_blocks`` counts and ``rollback_lake`` can reconcile.
        Stops after ``stop_slot`` (inclusive upper bound on block slot: a
        block AT it is yielded, as ``ingest_blocks`` keeps it) or — with
        ``stop_at_tip`` — once a forward block reaches the tip reported
        alongside it (a live follower would keep iterating).
        """
        while self._in_flight < batch_size:
            self.next_block_send()
        while True:
            direction, tip, payload = self.next_block_receive()
            if direction == "forward":
                slot = payload.get("slot", 0)
                if stop_slot is not None and slot > stop_slot:
                    return
                yield payload
                if stop_at_tip and tip and slot >= tip.get("slot", 2**63):
                    return
            else:
                yield {"direction": "backward", "point": payload, "tip": tip}
            self.next_block_send()
