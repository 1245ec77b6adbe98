"""The generator's answer model: what every resend and metadata request
must return, and the parsers that pull message ids out of a response.

A message key is `(ts, sequence_no, publisher_id, msg_chain_id)`, the
broker's total order within a stream-partition.
"""

from __future__ import annotations

import bisect
import json

from workloads import MAX_RESEND_LAST, Req, order_key


class PartitionLog:
    """One stream-partition: sorted keys and each message's content bytes."""

    def __init__(self, keys: list[tuple], sizes: list[int]) -> None:
        self.keys = keys
        self.sizes = sizes
        self.ts = [k[0] for k in keys]

    @classmethod
    def of(cls, entries: list[tuple[tuple, int]]) -> PartitionLog:
        entries = sorted(entries)
        return cls([k for k, _ in entries], [s for _, s in entries])

    def resend(self, req: Req) -> list[tuple]:
        if req.kind == "last":
            n = max(0, min(req.count, MAX_RESEND_LAST))
            return self.keys[len(self.keys) - n :] if n else []
        lo = bisect.bisect_left(self.ts, req.from_ts)
        hi = bisect.bisect_right(self.ts, req.to_ts) if req.kind == "range" else len(self.ts)
        out = []
        for k in self.keys[lo:hi]:
            if k[0] == req.from_ts and k[1] < req.from_seq:
                continue
            if req.kind == "range" and k[0] == req.to_ts and k[1] > req.to_seq:
                continue
            if req.publisher is not None and k[2] != req.publisher:
                continue
            if req.chain is not None and k[3] != req.chain:
                continue
            out.append(k)
        return out

    def metadata(self) -> dict:
        return {
            "totalBytes": sum(self.sizes),
            "totalMessages": len(self.keys),
            "firstMessage": self.keys[0][0] if self.keys else None,
            "lastMessage": self.keys[-1][0] if self.keys else None,
        }


class Model:
    """The generated history of every stream-partition."""

    def __init__(self, log: dict, content_bytes: int) -> None:
        self.parts = {
            sp: PartitionLog([order_key(m) for m in msgs], [content_bytes] * len(msgs))
            for sp, msgs in log.items()
        }


class WrongAnswer(Exception):
    pass


def parse_ids(body: bytes, fmt: str) -> list[list]:
    """Message ids `[stream, partition, ts, seq, publisher, chain]` of a
    resend response, in response order."""
    if fmt == "object":
        return [arr[1] for arr in json.loads(body)]
    if fmt == "protocol":
        return [json.loads(s)[1] for s in json.loads(body)]
    text = body.decode()
    return [json.loads(line)[1] for line in text.split("\n") if line]


def response_keys(req: Req, body: bytes) -> list[tuple]:
    """Keys of a resend response; raises WrongAnswer if a message belongs
    to another stream-partition or the order is broken."""
    keys = []
    for sid, part, ts, seq, pub, chain in parse_ids(body, req.fmt):
        if sid != req.stream or part != req.partition:
            raise WrongAnswer(f"message of {sid}/{part} in a resend of {req.stream}/{req.partition}")
        keys.append((ts, seq, pub, chain))
    for a, b in zip(keys, keys[1:]):
        if not a < b:
            raise WrongAnswer(f"order broken: {a} then {b}")
    return keys


def check_resend(req: Req, keys: list[tuple], expected: list[tuple]) -> None:
    """Row count, then first and last message ids, then every id."""
    if len(keys) != len(expected):
        raise WrongAnswer(f"{req.kind}: {len(keys)} rows, expected {len(expected)}")
    if keys and (keys[0] != expected[0] or keys[-1] != expected[-1]):
        raise WrongAnswer(f"{req.kind}: first/last {keys[0]}/{keys[-1]}, expected "
                          f"{expected[0]}/{expected[-1]}")
    if keys != expected:
        raise WrongAnswer(f"{req.kind}: message ids differ from the model")


def check_metadata(got: dict, expected: dict) -> None:
    if got != expected:
        raise WrongAnswer(f"metadata {got}, expected {expected}")


def check_resend_live(req: Req, keys: list[tuple], history: PartitionLog,
                      sent: dict[tuple, int]) -> None:
    """A resend answered while publishes land.  Every message must be in
    the history or among the publishes sent to this stream-partition, and
    the answer must equal the model's answer over the history plus the
    publishes it returned: no history row missing or extra, no publish
    returned that the request's bounds exclude."""
    fresh = []
    hist_keys = set()
    for k in keys:
        if k in sent:
            fresh.append((k, sent[k]))
        else:
            hist_keys.add(k)
    for k in hist_keys:
        i = bisect.bisect_left(history.keys, k)
        if i == len(history.keys) or history.keys[i] != k:
            raise WrongAnswer(f"{req.kind}: unknown message {k}")
    merged = PartitionLog.of(list(zip(history.keys, history.sizes)) + fresh)
    check_resend(req, keys, merged.resend(req))


def check_metadata_live(got: dict, history: PartitionLog, sent: dict[tuple, int],
                        content_bytes: int) -> None:
    """Metadata answered while publishes land: the history plus some of
    the publishes sent to this stream-partition."""
    base = history.metadata()
    extra = got["totalMessages"] - base["totalMessages"]
    if not 0 <= extra <= len(sent):
        raise WrongAnswer(f"metadata totalMessages {got['totalMessages']}, history has "
                          f"{base['totalMessages']} and {len(sent)} publishes were sent")
    if got["totalBytes"] != base["totalBytes"] + extra * content_bytes:
        raise WrongAnswer(f"metadata totalBytes {got['totalBytes']} for {extra} publishes")
    if got["firstMessage"] != base["firstMessage"]:
        raise WrongAnswer(f"metadata firstMessage {got['firstMessage']}")
    last_ok = {k[0] for k in sent} | {base["lastMessage"]}
    if got["lastMessage"] not in last_ok or (extra == 0 and got["lastMessage"] != base["lastMessage"]):
        raise WrongAnswer(f"metadata lastMessage {got['lastMessage']}")
