"""MQTT ingest/egress adapter (S3): a minimal MQTT 3.1.1 server over TCP.

Mirrors src/mqtt/MqttServer.ts:
- CONNECT must carry a password (the API key); missing password ->
  CONNACK return code 4 "bad user name or password"
  (MqttServer.ts:139-162, Connection.ts:50-52).
- PUBLISH: topic is the stream id; there is no way to express a partition
  over MQTT, so a RANDOM partition is chosen; the server assigns the
  timestamp (now) and a GLOBAL incrementing sequence number; publisher_id
  and msg_chain_id are the connection's client id; non-JSON payloads are
  wrapped as {"mqttPayload": ...} (MqttServer.ts:19,165-197,21-30).
- qos 1 PUBLISH is acknowledged with PUBACK (MqttServer.ts:186-190).
- A failed publish/subscribe authorization sends CONNACK return code 5
  "not authorized" (MqttServer.ts:193-196, Connection.ts:55-57).
- SUBSCRIBE registers the connection on partition 0's shelf but receives
  every broadcast of the stream regardless of the message's partition,
  exactly like the reference's `streams.get(streamId, 0)` lookup in
  broadcastMessage (MqttServer.ts:216-247, 281-302); delivery is a
  PUBLISH whose payload is the message content JSON.
- PINGREQ -> PINGRESP liveness.

Beyond the reference (which is qos-0, exact-topic only), standard MQTT
3.1.1 semantics the adapter also implements:
- wildcard topic filters `+` / `#` (§4.7), matched at broadcast time;
- retained messages (§3.3.1.3): retain-flagged publishes store the
  topic's last-known-good, delivered (retain=1) on matching subscribes,
  zero-byte retained payload clears;
- qos 1 subscriptions: granted qos = min(requested, 1), deliveries carry
  packet ids and are tracked until the subscriber PUBACKs (at-least-once).

The packet codec is a self-contained MQTT 3.1.1 subset (CONNECT/CONNACK/
PUBLISH/PUBACK/SUBSCRIBE/SUBACK/UNSUBSCRIBE/UNSUBACK/PINGREQ/PINGRESP/
DISCONNECT) — no external MQTT library in this container; any standard
client speaks it.
"""

from __future__ import annotations

import socketserver
import struct
import threading
import time
from collections import defaultdict

from broker_spark.serving import adapter
from broker_spark.serving.publish import (
    PublishError,
    PublishRequest,
    PublishSpool,
    wrap_mqtt_payload,
)

# -- packet types (MQTT 3.1.1 §2.2.1) ---------------------------------------
CONNECT, CONNACK, PUBLISH, PUBACK = 1, 2, 3, 4
SUBSCRIBE, SUBACK, UNSUBSCRIBE, UNSUBACK = 8, 9, 10, 11
PINGREQ, PINGRESP, DISCONNECT = 12, 13, 14

# CONNACK return codes (§3.2.2.3) — Connection.ts:45-62
RC_ACCEPTED = 0
RC_SERVER_UNAVAILABLE = 3
RC_BAD_USERNAME_OR_PASSWORD = 4
RC_NOT_AUTHORIZED = 5


# -- codec -------------------------------------------------------------------

def encode_varint(n: int) -> bytes:
    """Remaining-length varint (§2.2.3)."""
    out = bytearray()
    while True:
        byte = n % 128
        n //= 128
        out.append(byte | 0x80 if n else byte)
        if not n:
            return bytes(out)


def encode_utf8(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">H", len(b)) + b


def decode_utf8(buf: bytes, i: int) -> tuple[str, int]:
    (n,) = struct.unpack_from(">H", buf, i)
    return buf[i + 2 : i + 2 + n].decode("utf-8"), i + 2 + n


def encode_packet(ptype: int, flags: int, body: bytes) -> bytes:
    return bytes([(ptype << 4) | flags]) + encode_varint(len(body)) + body


def read_packet(rfile) -> tuple[int, int, bytes] | None:
    """Read one packet; None on clean EOF."""
    head = rfile.read(1)
    if not head:
        return None
    ptype, flags = head[0] >> 4, head[0] & 0x0F
    length, mult = 0, 1
    for _ in range(4):
        b = rfile.read(1)
        if not b:
            return None
        length += (b[0] & 0x7F) * mult
        if not b[0] & 0x80:
            break
        mult *= 128
    body = rfile.read(length) if length else b""
    if len(body) < length:
        return None
    return ptype, flags, body


def encode_connect(
    client_id: str,
    username: str | None = None,
    password: str | None = None,
    keepalive: int = 60,
) -> bytes:
    """Client-side CONNECT (used by tests and as the codec reference)."""
    flags = 0x02  # clean session
    tail = encode_utf8(client_id)
    if username is not None:
        flags |= 0x80
        tail += encode_utf8(username)
    if password is not None:
        flags |= 0x40
        tail += encode_utf8(password)
    body = encode_utf8("MQTT") + bytes([4, flags]) + struct.pack(">H", keepalive) + tail
    return encode_packet(CONNECT, 0, body)


def parse_connect(body: bytes) -> dict:
    proto, i = decode_utf8(body, 0)
    level = body[i]
    flags = body[i + 1]
    (keepalive,) = struct.unpack_from(">H", body, i + 2)
    i += 4
    client_id, i = decode_utf8(body, i)
    will_topic = will_message = None
    if flags & 0x04:  # will flag
        will_topic, i = decode_utf8(body, i)
        will_message, i = decode_utf8(body, i)
    username = password = None
    if flags & 0x80:
        username, i = decode_utf8(body, i)
    if flags & 0x40:
        password, i = decode_utf8(body, i)
    return {
        "protocol": proto,
        "level": level,
        "keepalive": keepalive,
        "client_id": client_id,
        "username": username,
        "password": password,
        "will_topic": will_topic,
        "will_message": will_message,
    }


def encode_publish(
    topic: str,
    payload: bytes,
    qos: int = 0,
    packet_id: int = 1,
    retain: bool = False,
    dup: bool = False,
) -> bytes:
    body = encode_utf8(topic)
    if qos:
        body += struct.pack(">H", packet_id)
    flags = (int(dup) << 3) | (qos << 1) | int(retain)
    return encode_packet(PUBLISH, flags, body + payload)


def parse_publish(flags: int, body: bytes) -> dict:
    qos = (flags >> 1) & 0x03
    topic, i = decode_utf8(body, 0)
    packet_id = None
    if qos:
        (packet_id,) = struct.unpack_from(">H", body, i)
        i += 2
    return {
        "topic": topic,
        "qos": qos,
        "packet_id": packet_id,
        "payload": body[i:],
        "retain": bool(flags & 0x01),
        "dup": bool((flags >> 3) & 0x01),
    }


def encode_subscribe(packet_id: int, topics: list[str], qos: int = 0) -> bytes:
    body = struct.pack(">H", packet_id)
    for t in topics:
        body += encode_utf8(t) + bytes([qos])
    return encode_packet(SUBSCRIBE, 0x02, body)


def parse_topic_list(body: bytes, with_qos: bool) -> tuple[int, list[str], list[int]]:
    """(packet_id, topic filters, requested qos per filter — empty for
    UNSUBSCRIBE packets)."""
    (packet_id,) = struct.unpack_from(">H", body, 0)
    i, topics, qoses = 2, [], []
    while i < len(body):
        t, i = decode_utf8(body, i)
        if with_qos:
            qoses.append(body[i])
            i += 1
        topics.append(t)
    return packet_id, topics, qoses


def topic_matches(filt: str, topic: str) -> bool:
    """MQTT 3.1.1 §4.7 topic-filter matching: `+` matches exactly one
    level, `#` (only as the last level) matches the remaining levels
    including the parent ("sport/#" matches "sport")."""
    fparts = filt.split("/")
    tparts = topic.split("/")
    for i, fp in enumerate(fparts):
        if fp == "#":
            return i == len(fparts) - 1
        if i >= len(tparts):
            return False
        if fp != "+" and fp != tparts[i]:
            return False
    return len(fparts) == len(tparts)


def encode_unsubscribe(packet_id: int, topics: list[str]) -> bytes:
    body = struct.pack(">H", packet_id)
    for t in topics:
        body += encode_utf8(t)
    return encode_packet(UNSUBSCRIBE, 0x02, body)


def encode_connack(return_code: int) -> bytes:
    return encode_packet(CONNACK, 0, bytes([0, return_code]))


# -- server ------------------------------------------------------------------

class MqttHandler(socketserver.StreamRequestHandler):
    """One MQTT connection — the reference's mqtt/Connection.ts lifecycle."""

    def setup(self) -> None:
        super().setup()
        # RLock: send_qos1 holds it across pid-allocate + inflight-add +
        # send (each of which also acquires it) so a qos-1 delivery is
        # atomic against concurrent broadcast threads and the reader
        # thread's PUBACK handling.
        self._write_lock = threading.RLock()
        self.client_id = ""
        self.token: str | None = None
        self.connected = False
        self._next_packet_id = 0
        self.inflight: set[int] = set()  # qos-1 deliveries awaiting PUBACK

    def next_packet_id(self) -> int:
        with self._write_lock:
            self._next_packet_id = (self._next_packet_id % 0xFFFF) + 1
            return self._next_packet_id

    def _send(self, packet: bytes) -> None:
        with self._write_lock:
            self.wfile.write(packet)
            self.wfile.flush()

    def send_qos1(self, topic: str, payload: bytes, retain: bool = False) -> int:
        """Atomic qos-1 delivery: pid allocation, inflight registration and
        the write happen under one lock, so interleaved broadcasts cannot
        reorder pid-allocate vs send or race the PUBACK discard."""
        with self._write_lock:
            pid = self.next_packet_id()
            self.inflight.add(pid)
            self._send(
                encode_publish(topic, payload, qos=1, packet_id=pid, retain=retain)
            )
            return pid

    def ack_inflight(self, pid: int) -> None:
        with self._write_lock:
            self.inflight.discard(pid)

    def finish(self) -> None:
        self.server.broker._drop_connection(self)  # type: ignore[attr-defined]
        super().finish()

    def handle(self) -> None:
        broker: MqttBroker = self.server.broker  # type: ignore[attr-defined]
        while True:
            try:
                pkt = read_packet(self.rfile)
            except (ConnectionError, OSError):
                return
            if pkt is None:
                return
            ptype, flags, body = pkt
            if ptype == CONNECT:
                self._on_connect(broker, parse_connect(body))
            elif ptype == PUBLISH:
                self._on_publish(broker, parse_publish(flags, body))
            elif ptype == SUBSCRIBE:
                self._on_subscribe(broker, *parse_topic_list(body, with_qos=True))
            elif ptype == PUBACK:
                (acked,) = struct.unpack_from(">H", body, 0)
                self.ack_inflight(acked)
            elif ptype == UNSUBSCRIBE:
                pid, topics, _ = parse_topic_list(body, with_qos=False)
                for t in topics:
                    broker.unsubscribe(self, t)
                self._send(encode_packet(UNSUBACK, 0, struct.pack(">H", pid)))
            elif ptype == PINGREQ:
                self._send(encode_packet(PINGRESP, 0, b""))
            elif ptype == DISCONNECT:
                return

    # MqttServer.ts:139-162 — password required, then token fetch
    def _on_connect(self, broker: MqttBroker, packet: dict) -> None:
        if packet["password"] is None:
            self._send(encode_connack(RC_BAD_USERNAME_OR_PASSWORD))
            return
        try:
            self.token = broker.get_token(packet["password"])
        except ValueError:
            self._send(encode_connack(RC_BAD_USERNAME_OR_PASSWORD))
            return
        except Exception:  # noqa: BLE001 — core API unreachable
            self._send(encode_connack(RC_SERVER_UNAVAILABLE))
            return
        self.client_id = packet["client_id"]
        self.connected = True
        self._send(encode_connack(RC_ACCEPTED))

    # MqttServer.ts:165-197
    def _on_publish(self, broker: MqttBroker, packet: dict) -> None:
        topic = packet["topic"]
        if not broker.authenticate(topic, self.token, "stream_publish"):
            self._send(encode_connack(RC_NOT_AUTHORIZED))
            return
        text = packet["payload"].decode("utf-8")
        content = wrap_mqtt_payload(text)
        req = PublishRequest(
            stream_id=topic,
            content=content,
            timestamp=int(time.time() * 1000),
            sequence_number=broker.next_sequence_number(),
            publisher_id=self.client_id,
            msg_chain_id=self.client_id,
            partition_key=None,  # random partition — MqttServer.ts:173-174
        )
        try:
            partition = broker.spool.publish(req)
        except PublishError:
            self._send(encode_connack(RC_NOT_AUTHORIZED))
            return
        if packet["retain"]:
            # MQTT 3.1.1 §3.3.1.3: retain stores the message as the topic's
            # last-known-good; a zero-byte retained payload clears it.
            # Stored BEFORE the PUBACK: at-least-once means the ack certifies
            # processing, so a subscriber arriving after the publisher sees
            # its PUBACK must observe the retained update.
            broker.set_retained(topic, packet["payload"])
        if packet["qos"]:
            # at-least-once: every (re)delivery PUBACKs, duplicates included
            self._send(encode_packet(PUBACK, 0, struct.pack(">H", packet["packet_id"])))
        # loopback fan-out: the reference's network node echoes the message
        # back through broadcastMessage (MqttServer.ts:67,281-302)
        broker.broadcast(topic, partition, content)

    # MqttServer.ts:216-247 — always partition 0's shelf
    def _on_subscribe(
        self,
        broker: MqttBroker,
        packet_id: int,
        topics: list[str],
        qoses: list[int],
    ) -> None:
        granted = []
        for topic, req_qos in zip(topics, qoses or [0] * len(topics)):
            if not broker.authenticate(topic, self.token, "stream_subscribe"):
                self._send(encode_connack(RC_NOT_AUTHORIZED))
                return
            qos = min(req_qos, 1)  # qos 2 not offered
            broker.subscribe(self, topic, qos)
            granted.append(qos)
        self._send(
            encode_packet(SUBACK, 0, struct.pack(">H", packet_id) + bytes(granted))
        )
        # §3.3.1.3: retained messages matching each new filter are delivered
        # with the retain flag set, at the granted qos
        for topic, qos in zip(topics, granted):
            for rtopic, payload in broker.matching_retained(topic):
                if qos:
                    self.send_qos1(rtopic, payload, retain=True)
                else:
                    self._send(
                        encode_publish(rtopic, payload, qos=0, packet_id=1, retain=True)
                    )


class MqttBroker:
    """Shared state across connections: the global sequence counter, the
    per-stream connection shelves, and the auth hooks."""

    def __init__(self, spool: PublishSpool):
        self.spool = spool
        self._lock = threading.Lock()
        self._sequence = 0  # `let sequenceNumber = 0` — MqttServer.ts:19
        #: exact-topic shelves (the reference's shape, O(1) fan-out lookup)
        self._shelves: dict[str, set] = defaultdict(set)
        #: wildcard filters: conn -> {filter: granted_qos}; scanned per
        #: publish — wildcard subscriber counts are small (a trie index is
        #: the swap-in if they ever are not)
        self._wildcards: dict[MqttHandler, dict[str, int]] = defaultdict(dict)
        #: granted qos per (conn, exact topic)
        self._qos: dict[tuple, int] = {}
        #: retained last-known-good payload per topic (§3.3.1.3)
        self._retained: dict[str, bytes] = {}

    # -- hooks (StreamFetcher analogs; default allow) -----------------------
    def get_token(self, password: str) -> str:
        """StreamFetcher.getToken — raise ValueError to refuse (rc 4), any
        other exception for server-unavailable (rc 3)."""
        return password

    def authenticate(self, stream_id: str, token: str | None, operation: str) -> bool:
        return True

    # -----------------------------------------------------------------------
    def next_sequence_number(self) -> int:
        with self._lock:
            self._sequence += 1
            return self._sequence

    def subscribe(self, conn: MqttHandler, filt: str, qos: int = 0) -> None:
        with self._lock:
            if "+" in filt or "#" in filt:
                self._wildcards[conn][filt] = qos
            else:
                self._shelves[filt].add(conn)
                self._qos[(conn, filt)] = qos

    def unsubscribe(self, conn: MqttHandler, filt: str) -> None:
        with self._lock:
            self._shelves[filt].discard(conn)
            self._qos.pop((conn, filt), None)
            self._wildcards.get(conn, {}).pop(filt, None)

    def _drop_connection(self, conn: MqttHandler) -> None:
        with self._lock:
            for shelf in self._shelves.values():
                shelf.discard(conn)
            self._wildcards.pop(conn, None)
            self._qos = {k: v for k, v in self._qos.items() if k[0] is not conn}

    def set_retained(self, topic: str, payload: bytes) -> None:
        with self._lock:
            if payload:
                self._retained[topic] = payload
            else:
                self._retained.pop(topic, None)

    def matching_retained(self, filt: str) -> list[tuple[str, bytes]]:
        with self._lock:
            return [
                (t, p)
                for t, p in sorted(self._retained.items())
                if topic_matches(filt, t)
            ]

    def broadcast(self, stream_id: str, partition: int, content: str) -> int:
        """Deliver to every subscriber of the stream (any partition —
        the reference looks up `streams.get(streamId, 0)` regardless of the
        message's partition, MqttServer.ts:281-302).  Payload is the content
        JSON; topic is the stream id (= name here).  A connection matching
        through several filters gets ONE delivery at the max granted qos."""
        with self._lock:
            qos_by_conn: dict[MqttHandler, int] = {}
            for conn in self._shelves.get(stream_id, ()):
                q = self._qos.get((conn, stream_id), 0)
                qos_by_conn[conn] = max(qos_by_conn.get(conn, 0), q)
            for conn, filters in self._wildcards.items():
                for filt, q in filters.items():
                    if topic_matches(filt, stream_id):
                        qos_by_conn[conn] = max(qos_by_conn.get(conn, 0), q)
        payload = content.encode("utf-8")
        sent = 0
        for conn, qos in qos_by_conn.items():
            try:
                if qos:
                    conn.send_qos1(stream_id, payload)
                else:
                    conn._send(encode_publish(stream_id, payload))
                sent += 1
            except (ConnectionError, OSError):
                self._drop_connection(conn)
        return sent

    def broadcast_row(self, row) -> int:
        """Adapter for streaming fan-out hooks: broadcast a stored message
        Row (e.g. from foreachBatch) to MQTT subscribers."""
        return self.broadcast(row["stream_id"], row["partition"], row["content"])


def serve_mqtt(
    spool: PublishSpool,
    broker: MqttBroker | None = None,
    host: str = "127.0.0.1",
    port: int = 0,
) -> socketserver.ThreadingTCPServer:
    """Start the MQTT server on a background thread.  Returns the server;
    `.server_address` has the bound port, `.broker` the shared state (attach
    `broker.broadcast_row` to a foreachBatch sink for streamed delivery)."""
    return adapter.start(
        MqttHandler, host, port, broker=broker if broker is not None else MqttBroker(spool)
    )
