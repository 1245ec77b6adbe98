"""Workload definitions: the seeded log each workload serves and the
request sequence each client sends.

Both processes build from here: the broker process writes the log, the
generator builds its answer model from the same generator, so they agree
without sharing files.  Everything is a pure function of the seed (and,
for `publish-mixed`, of the bucket the run starts in).
"""

from __future__ import annotations

import base64
import hashlib
import random
import struct
from collections import namedtuple
from dataclasses import dataclass
from urllib.parse import quote, urlencode

HOUR_MS = 3_600_000
#: bucket span of every workload's log (the broker's default, 1 h)
BUCKET_MS = HOUR_MS
#: history end of the read-only workloads: a fixed, bucket-aligned instant
FIXED_ANCHOR_MS = 1_700_000_000_000 // HOUR_MS * HOUR_MS
#: the broker's resend-last clamp (operators.resend.MAX_RESEND_LAST)
MAX_RESEND_LAST = 10_000
MAX_SEQ = 2_147_483_647
#: (publisher_id, msg_chain_id) of the history's message chains
CHAINS = (("pub-0", "chain-a"), ("pub-0", "chain-b"), ("pub-1", "chain-a"))
FORMATS = ("object", "protocol", "raw")
RANGE_WINDOW_MS = 600_000
#: client processes of a closed-loop workload
CLOSED_CLIENTS = 2
#: publish-mixed: keyed publishes per second, with margin below where the
#: spool falls behind (50-100 msgs/s)
PUBLISH_RATE = 20.0
#: publish-mixed: one read-your-write probe chain per period
PROBE_PERIOD_S = 1.0
#: publish-mixed: pause between reads
READ_THINK_S = 0.05
#: publish-mixed: pause between the tries of a read-your-write probe
PROBE_RETRY_S = 0.25

#: one stored message; `n` numbers it within its stream-partition
Msg = namedtuple("Msg", "ts seq pub chain prev_ts prev_seq n")


@dataclass(frozen=True)
class LogShape:
    streams: int
    partitions: int
    buckets: int
    msgs_per_bucket: int
    content_bytes: int = 300

    def stream_partitions(self) -> list[tuple[str, int]]:
        return [(stream_name(s), p) for s in range(self.streams) for p in range(self.partitions)]


@dataclass(frozen=True)
class Workload:
    name: str
    shape: LogShape
    #: "closed": CLOSED_CLIENTS loops, each sending its next request when
    #: the previous answer is in.  "open": publishes and visibility probes
    #: on fixed schedules, with one closed-loop reader beside them.
    loop: str

    def anchor(self, now_ms: int) -> int:
        """History ends here, on a bucket boundary.  Read-only workloads
        use a fixed instant; publish-mixed ends history at the start of the
        current bucket, since publishes carry wall-clock timestamps."""
        if self.loop == "open":
            return now_ms // BUCKET_MS * BUCKET_MS
        return FIXED_ANCHOR_MS

    def mix(self, seed: int, anchor: int):
        if self.name == "bulk-replay":
            return BulkMix(self.shape, seed, anchor)
        return TailMix(self.shape, seed, anchor)


WORKLOADS = {
    w.name: w
    for w in (
        Workload("tail-reads", LogShape(1, 4, 48, 20), "closed"),
        Workload("bulk-replay", LogShape(1, 4, 8, 1250), "closed"),
        Workload("publish-mixed", LogShape(1, 4, 24, 20), "open"),
    )
}


def stream_name(s: int) -> str:
    # real stream ids carry '/' and arrive percent-encoded in the path
    return f"perfbench.eth/stream-{s}"


def generate_log(shape: LogShape, seed: int, anchor: int) -> dict[tuple[str, int], list[Msg]]:
    """The history of every stream-partition, sorted by
    `(ts, sequence_no, publisher_id, msg_chain_id)`.  Buckets
    `anchor - buckets*H .. anchor - H` each hold exactly
    `msgs_per_bucket` messages; every seventh message repeats the previous
    timestamp so ties on `ts` are resolved by the rest of the key.
    Sequence numbers follow the protocol: 0 on a new timestamp, +1 on a
    repeated one within a chain."""
    out = {}
    for sp in shape.stream_partitions():
        rng = random.Random(f"log:{seed}:{sp[0]}:{sp[1]}")
        last = {c: (None, 0) for c in CHAINS}
        msgs = []
        for b in range(shape.buckets):
            start = anchor - (shape.buckets - b) * BUCKET_MS
            offsets = sorted(rng.randrange(BUCKET_MS) for _ in range(shape.msgs_per_bucket))
            for k in range(6, len(offsets), 7):
                offsets[k] = offsets[k - 1]
            for off in offsets:
                chain = CHAINS[rng.randrange(len(CHAINS))]
                ts = start + off
                prev_ts, prev_seq = last[chain]
                seq = prev_seq + 1 if prev_ts == ts else 0
                msgs.append(Msg(ts, seq, chain[0], chain[1], prev_ts, prev_seq, len(msgs)))
                last[chain] = (ts, seq)
        msgs.sort(key=order_key)
        out[sp] = msgs
    return out


def order_key(m) -> tuple:
    return (m.ts, m.seq, m.pub, m.chain)


def content(seed: int, tag: str, n: int, size: int) -> str:
    """A JSON object of exactly `size` ASCII bytes, fixed by its arguments."""
    head = '{"n":%d,"p":"' % n
    pad = size - len(head) - 2
    raw = random.Random(f"content:{seed}:{tag}:{n}").randbytes(pad)
    return head + base64.b64encode(raw).decode()[:pad] + '"}'


def partition_for_key(partition_count: int, key: str) -> int:
    """The protocol's keyed partitioner: abs(int32_le(md5(key))) % count."""
    if partition_count == 1:
        return 0
    (h,) = struct.unpack("<i", hashlib.md5(key.encode()).digest()[:4])
    return abs(h) % partition_count


def vdc(i: int) -> float:
    """Van der Corput sequence in base 2: every prefix is spread evenly
    over [0, 1), so short runs see the same parameter mix as long ones."""
    x, d = 0.0, 0.5
    while i:
        if i & 1:
            x += d
        i >>= 1
        d /= 2
    return x


@dataclass(frozen=True)
class Req:
    kind: str  # last | from | range | metadata
    stream: str
    partition: int
    count: int = 0
    from_ts: int = 0
    from_seq: int = 0
    to_ts: int = 0
    to_seq: int = MAX_SEQ
    publisher: str | None = None
    chain: str | None = None
    fmt: str = "object"

    def path(self) -> str:
        sid = quote(self.stream, safe="")
        if self.kind == "metadata":
            return f"/streams/{sid}/metadata/partitions/{self.partition}"
        q = {"format": self.fmt}
        if self.kind == "last":
            q["count"] = self.count
        else:
            q["fromTimestamp"] = self.from_ts
            q["fromSequenceNumber"] = self.from_seq
            if self.kind == "range":
                q["toTimestamp"] = self.to_ts
                q["toSequenceNumber"] = self.to_seq
            if self.publisher is not None:
                q["publisherId"] = self.publisher
            if self.chain is not None:
                q["msgChainId"] = self.chain
        return f"/streams/{sid}/data/partitions/{self.partition}/{self.kind}?{urlencode(q)}"


class TailMix:
    """tail-reads: resend-last(1-100), resend-from within the last hour, a
    10-minute resend-range on one publisher+msgChain, and metadata, in
    turn, spread evenly over the stream-partitions."""

    KINDS = ("last", "from", "range", "metadata")

    def __init__(self, shape: LogShape, seed: int, anchor: int) -> None:
        rng = random.Random(f"mix:{seed}")
        self.sps = shape.stream_partitions()
        self.rot = rng.random()
        self.sp_rot = rng.randrange(len(self.sps))
        self.anchor = anchor
        self.span_ms = shape.buckets * BUCKET_MS

    def __call__(self, i: int) -> Req:
        kind = self.KINDS[i % 4]
        j = i // 4
        u = (vdc(j + 1) + self.rot) % 1.0
        stream, partition = self.sps[(j + i % 4 + self.sp_rot) % len(self.sps)]
        if kind == "last":
            return Req("last", stream, partition, count=1 + int(u * 100))
        if kind == "from":
            return Req("from", stream, partition, from_ts=self.anchor - HOUR_MS + int(u * HOUR_MS))
        if kind == "range":
            start = self.anchor - self.span_ms + int(u * (self.span_ms - RANGE_WINDOW_MS))
            pub, chain = CHAINS[j % len(CHAINS)]
            return Req(
                "range", stream, partition, from_ts=start, to_ts=start + RANGE_WINDOW_MS,
                publisher=pub, chain=chain,
            )
        return Req("metadata", stream, partition)


class BulkMix:
    """bulk-replay: resend-last(10000), at the clamp, and full-history
    resend-range, alternating and cycling through the three formats; every
    eighth request is a metadata request."""

    def __init__(self, shape: LogShape, seed: int, anchor: int) -> None:
        rng = random.Random(f"mix:{seed}")
        self.sps = shape.stream_partitions()
        self.sp_rot = rng.randrange(len(self.sps))
        self.fmt_rot = rng.randrange(len(FORMATS))
        self.first = anchor - shape.buckets * BUCKET_MS
        self.anchor = anchor

    def __call__(self, i: int) -> Req:
        stream, partition = self.sps[(i + self.sp_rot) % len(self.sps)]
        slot = i % 8
        if slot == 7:
            return Req("metadata", stream, partition)
        j = i // 8 * 7 + slot
        fmt = FORMATS[(j + self.fmt_rot) % len(FORMATS)]
        if slot % 2 == 0:
            return Req("last", stream, partition, count=MAX_RESEND_LAST, fmt=fmt)
        return Req("range", stream, partition, from_ts=self.first, to_ts=self.anchor - 1, fmt=fmt)


@dataclass(frozen=True)
class Publish:
    """One keyed publish of publish-mixed; the timestamp is added when it
    is sent."""

    stream: str
    key: str
    publisher: str
    chain: str
    body: str


def publish_spec(shape: LogShape, seed: int, i: int, conn: int) -> Publish:
    return Publish(
        stream=stream_name(0),
        key=f"key-{(i * 7 + seed) % 64}",
        publisher=f"bench-pub-{conn}",
        chain=f"bench-chain-{conn}",
        body=content(seed, "publish", i, shape.content_bytes),
    )


def publish_path(p: Publish, ts: int, seq: int) -> str:
    q = {"ts": ts, "seq": seq, "address": p.publisher, "msgChainId": p.chain, "pkey": p.key}
    return f"/streams/{quote(p.stream, safe='')}/data?{urlencode(q)}"
