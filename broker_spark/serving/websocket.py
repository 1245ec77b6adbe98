"""WebSocket transport (RFC 6455) for the control-protocol surface (S1).

The reference serves the streamr control layer over uWS websockets
(src/websocket/WebsocketServer.ts:109-188); serving.tcp implements the
same request/response dispatch over newline-JSON.  This module completes
transport parity: a stdlib RFC 6455 server — HTTP Upgrade handshake,
frame codec (text/close/ping/pong, client-masked), one JSON control
message per text frame, each handled by ControlHandler.handle_message.

Liveness mirrors WebsocketServer.ts:92-94,305-325: the server pings every
`ping_interval` seconds; a connection that hasn't answered the previous
ping with a pong by the next sweep is force-closed (ping-pong.test.ts).
"""

from __future__ import annotations

import base64
import hashlib
import json
import socketserver
import struct
import threading
import time

from broker_spark.serving import adapter
from broker_spark.serving.tcp import ControlHandler
from broker_spark.storage.store import Storage
from broker_spark.streaming.fanout import SubscriptionRegistry

WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"  # RFC 6455 §1.3

OP_CONT, OP_TEXT, OP_BINARY = 0x0, 0x1, 0x2
OP_CLOSE, OP_PING, OP_PONG = 0x8, 0x9, 0xA

DEFAULT_PING_INTERVAL_S = 60.0  # WebsocketServer.ts:41


def accept_key(sec_websocket_key: str) -> str:
    """Sec-WebSocket-Accept for the 101 response (RFC 6455 §4.2.2)."""
    digest = hashlib.sha1((sec_websocket_key + WS_GUID).encode()).digest()
    return base64.b64encode(digest).decode()


def encode_frame(opcode: int, payload: bytes, mask: bool = False) -> bytes:
    """One unfragmented frame.  Servers send unmasked; clients MUST mask
    (RFC 6455 §5.3) — tests use mask=True for the client side."""
    head = bytearray([0x80 | opcode])
    n = len(payload)
    mask_bit = 0x80 if mask else 0
    if n < 126:
        head.append(mask_bit | n)
    elif n < 1 << 16:
        head.append(mask_bit | 126)
        head += struct.pack(">H", n)
    else:
        head.append(mask_bit | 127)
        head += struct.pack(">Q", n)
    if mask:
        key = struct.pack(">I", 0x12345678)  # deterministic is fine for tests
        head += key
        payload = bytes(b ^ key[i % 4] for i, b in enumerate(payload))
    return bytes(head) + payload


def read_frame(rfile) -> tuple[int, bytes] | None:
    """Read one frame; None on clean EOF.  Unmasks client frames."""
    head = rfile.read(2)
    if len(head) < 2:
        return None
    opcode = head[0] & 0x0F
    masked = bool(head[1] & 0x80)
    n = head[1] & 0x7F
    if n == 126:
        (n,) = struct.unpack(">H", rfile.read(2))
    elif n == 127:
        (n,) = struct.unpack(">Q", rfile.read(8))
    key = rfile.read(4) if masked else None
    payload = rfile.read(n) if n else b""
    if len(payload) < n:
        return None
    if key:
        payload = bytes(b ^ key[i % 4] for i, b in enumerate(payload))
    return opcode, payload


class WebSocketControlHandler(ControlHandler):
    """ControlHandler dispatch over WS frames: one JSON control message per
    text frame, in both directions; pings every `server.ping_interval_s`."""

    def _send_raw(self, frame: bytes) -> None:
        with self._write_lock:
            self.wfile.write(frame)
            self.wfile.flush()

    def _send(self, obj: dict) -> None:  # dispatch responses -> text frames
        self._send_raw(encode_frame(OP_TEXT, json.dumps(obj).encode()))

    def _handshake(self) -> bool:
        """HTTP/1.1 Upgrade -> 101 (WebsocketServer.ts connection open)."""
        request_line = self.rfile.readline()
        if not request_line:
            return False
        headers = {}
        while True:
            line = self.rfile.readline()
            if not line or line in (b"\r\n", b"\n"):
                break
            k, _, v = line.decode("latin-1").partition(":")
            headers[k.strip().lower()] = v.strip()
        key = headers.get("sec-websocket-key")
        if headers.get("upgrade", "").lower() != "websocket" or not key:
            self._send_raw(b"HTTP/1.1 400 Bad Request\r\nContent-Length: 0\r\n\r\n")
            return False
        self._send_raw(
            (
                "HTTP/1.1 101 Switching Protocols\r\n"
                "Upgrade: websocket\r\n"
                "Connection: Upgrade\r\n"
                f"Sec-WebSocket-Accept: {accept_key(key)}\r\n\r\n"
            ).encode()
        )
        return True

    def handle(self) -> None:
        if not self._handshake():
            return
        self.responded_pong: bool | None = None  # None = never pinged yet
        self._alive = True
        pinger = threading.Thread(target=self._ping_loop, daemon=True)
        pinger.start()
        try:
            while True:
                frame = read_frame(self.rfile)
                if frame is None:
                    return
                opcode, payload = frame
                if opcode == OP_TEXT:
                    self.handle_message(payload)
                elif opcode == OP_PING:  # must answer client pings (§5.5.2)
                    self._send_raw(encode_frame(OP_PONG, payload))
                elif opcode == OP_PONG:
                    self.responded_pong = True  # WebsocketServer.ts:229-234
                elif opcode == OP_CLOSE:
                    self._send_raw(encode_frame(OP_CLOSE, payload[:2]))
                    return
        except (ConnectionError, OSError):
            return
        finally:
            self._alive = False

    def _ping_loop(self) -> None:
        """_pingConnections (WebsocketServer.ts:305-325): ping every
        interval; no pong since the previous ping -> force close."""
        while self._alive:
            time.sleep(self.server.ping_interval_s)
            if not self._alive:
                return
            if self.responded_pong is False:  # pinged before, no pong back
                try:
                    self.connection.shutdown(2)  # forceClose
                except OSError:
                    pass
                return
            self.responded_pong = False
            try:
                self._send_raw(encode_frame(OP_PING, b""))
            except (ConnectionError, OSError):
                return


def serve_ws(
    storage: Storage,
    spool=None,
    registry: SubscriptionRegistry | None = None,
    host: str = "127.0.0.1",
    port: int = 0,
    ping_interval_s: float = DEFAULT_PING_INTERVAL_S,
) -> socketserver.ThreadingTCPServer:
    """Start the WS control server on a background thread (same contract
    as tcp.serve_control; `.registry` feeds streaming fan-out)."""
    return adapter.start(
        WebSocketControlHandler, host, port, storage=storage, spool=spool,
        registry=registry if registry is not None else SubscriptionRegistry(),
        ping_interval_s=ping_interval_s,
    )
