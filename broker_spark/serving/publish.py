"""Publish (write) path for the gateway: request parsing, validation,
and a batch spool into the partitioned log.

Mirrors src/http/DataProduceEndpoints.ts (param parsing + error texts),
src/Publisher.ts (future-ts + JSON validation), src/mqtt/MqttServer.ts:21-30
(plaintext payload wrapping), and src/storage/BatchManager.ts:44-47 (batch
thresholds: 8000 msgs / 2.4 MB / 1 s).

The spool exists because one-row Spark writes are absurd; a real
deployment publishes to Kafka and lets `streaming.ingest` persist — the
spool gives the same batching semantics for a self-contained gateway.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import threading
import time
from dataclasses import dataclass, field
from typing import Any

from broker_spark.functions.partitioner import partition_for_key
from broker_spark.jobs.stream_metrics import (
    PUBLISHER_BYTES,
    PUBLISHER_MESSAGES,
    STORAGE_WRITE_BYTES,
    STORAGE_WRITE_MESSAGES,
)
from broker_spark.storage.store import Storage

# src/Publisher.ts:6 — +300 s future threshold
THRESHOLD_FOR_FUTURE_MESSAGES_IN_MS = 300 * 1000
# src/storage/BatchManager.ts:44-47
BATCH_MAX_RECORDS = 8000
BATCH_MAX_BYTES = 8000 * 300
BATCH_CLOSE_TIMEOUT_S = 1.0
# src/http/DataProduceEndpoints.ts:58-60
MAX_BODY_BYTES = 1024 * 1024

ENVELOPE_DDL = (
    "stream_id string, partition int, ts timestamp, sequence_no int,"
    " publisher_id string, msg_chain_id string, prev_ts timestamp,"
    " prev_sequence_no int, signature_type int, signature string,"
    " encryption_type int, content string"
)


class PublishError(ValueError):
    """400-level request error; `.message` is the response text."""


def parse_positive_integer(n: str) -> int:
    """DataProduceEndpoints.ts:17-23."""
    m = re.match(r"^[+-]?\d+$", n.strip()) if isinstance(n, str) else None
    parsed = int(m.group(0)) if m else None
    if parsed is None or parsed < 0:
        raise PublishError(f"{n} is not a valid positive integer")
    return parsed


def parse_timestamp(millis_or_string: Any) -> int:
    """DataProduceEndpoints.ts:25-40 — epoch ms number, numeric string, or
    ISO date string."""
    if isinstance(millis_or_string, (int, float)) and not isinstance(millis_or_string, bool):
        return int(millis_or_string)
    if isinstance(millis_or_string, str):
        try:
            return int(float(millis_or_string))
        except ValueError:
            pass
        try:
            d = dt.datetime.fromisoformat(millis_or_string.replace("Z", "+00:00"))
            if d.tzinfo is None:
                d = d.replace(tzinfo=dt.timezone.utc)
            return int(d.timestamp() * 1000)
        except ValueError:
            raise PublishError(f"Invalid timestamp: {millis_or_string}") from None
    raise PublishError(f"Invalid timestamp: {millis_or_string}")


def wrap_mqtt_payload(payload: str) -> str:
    """MQTT plaintext -> JSON content (src/mqtt/MqttServer.ts:21-30)."""
    try:
        json.loads(payload)
        return payload
    except ValueError:
        return json.dumps({"mqttPayload": payload})


def validate_message(ts_ms: int, content: str, now_ms: int | None = None) -> None:
    """Publisher.validateAndPublish (src/Publisher.ts:34-51): future-ts
    guard + content-must-be-JSON."""
    now = int(time.time() * 1000) if now_ms is None else now_ms
    if ts_ms > now + THRESHOLD_FOR_FUTURE_MESSAGES_IN_MS:
        raise PublishError(
            "future timestamps are not allowed, max allowed"
            f" +{THRESHOLD_FOR_FUTURE_MESSAGES_IN_MS} ms"
        )
    try:
        json.loads(content)
    except ValueError:
        raise PublishError(f"Invalid JSON: {content[:100]}") from None


@dataclass
class PublishRequest:
    """Parsed POST /streams/:id/data — DataProduceEndpoints.ts:101-114."""

    stream_id: str
    content: str
    timestamp: int
    sequence_number: int = 0
    prev_ts: int | None = None
    prev_seq: int = 0
    publisher_id: str = ""
    msg_chain_id: str = ""
    signature_type: int = 0
    signature: str | None = None
    partition_key: str | None = None


def parse_publish_query(stream_id: str, body: bytes, qs: dict) -> PublishRequest:
    """Build the request from query params, with the reference's parse
    order and error texts."""

    def first(key: str) -> str | None:
        return qs[key][0] if key in qs else None

    ts = first("ts")
    timestamp = parse_timestamp(ts) if ts else int(time.time() * 1000)
    seq = first("seq")
    sequence_number = parse_positive_integer(seq) if seq else 0
    prev_ts_raw = first("prev_ts")
    prev_ts = None
    prev_seq = 0
    if prev_ts_raw:
        prev_seq_raw = first("prev_seq")
        prev_seq = parse_positive_integer(prev_seq_raw) if prev_seq_raw else 0
        prev_ts = parse_positive_integer(prev_ts_raw)
    sig_type_raw = first("signatureType")
    signature_type = parse_positive_integer(sig_type_raw) if sig_type_raw else 0
    return PublishRequest(
        stream_id=stream_id,
        content=body.decode("utf-8"),
        timestamp=timestamp,
        sequence_number=sequence_number,
        prev_ts=prev_ts,
        prev_seq=prev_seq,
        publisher_id=first("address") or "",
        msg_chain_id=first("msgChainId") or "",
        signature_type=signature_type,
        signature=first("signature"),
        partition_key=first("pkey"),
    )


@dataclass
class PublishSpool:
    """Batch buffer in front of `Storage.store` with the reference's
    flush thresholds (BatchManager.ts:44-47).  Thread-safe; a background
    timer enforces the close timeout."""

    storage: Storage
    partition_count: int = 1
    max_records: int = BATCH_MAX_RECORDS
    max_bytes: int = BATCH_MAX_BYTES
    close_timeout_s: float = BATCH_CLOSE_TIMEOUT_S
    metrics: object | None = None  # stream_metrics.MetricsContext (optional)
    #: optional StreamMessageValidator (src/broker.ts:135-139 wires one into
    #: Publisher); validate() raising rejects the message pre-spool.
    validator: object | None = None
    _rows: list = field(default_factory=list)
    _bytes: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _timer: threading.Timer | None = None

    def publish(self, req: PublishRequest, now_ms: int | None = None) -> int:
        """Validate + enqueue; returns the assigned partition."""
        validate_message(req.timestamp, req.content, now_ms)
        partition = partition_for_key(self.partition_count, req.partition_key)
        if self.validator is not None:
            # Publisher.ts:43 — validate after the future-ts guard, before
            # propagation/storage; ValidationError propagates to the caller.
            from broker_spark.serving.validator import MessageToValidate

            self.validator.validate(
                MessageToValidate(
                    stream_id=req.stream_id,
                    partition=partition,
                    ts_ms=req.timestamp,
                    sequence_no=req.sequence_number,
                    publisher_id=req.publisher_id,
                    msg_chain_id=req.msg_chain_id,
                    content=req.content,
                    signature_type=req.signature_type,
                    signature=req.signature,
                )
            )
        if self.metrics is not None:  # VolumeLogger eventsIn / kbIn counters
            self.metrics.record(PUBLISHER_MESSAGES, 1)
            self.metrics.record(PUBLISHER_BYTES, len(req.content))
        # tz-aware datetimes: naive ones go through time.mktime (driver-OS
        # local tz) in non-Arrow createDataFrame, shifting every stored ts
        # on non-UTC hosts; aware UTC datetimes convert offset-free.
        row = (
            req.stream_id,
            partition,
            dt.datetime.fromtimestamp(req.timestamp / 1000.0, dt.timezone.utc),
            req.sequence_number,
            req.publisher_id,
            req.msg_chain_id,
            dt.datetime.fromtimestamp(req.prev_ts / 1000.0, dt.timezone.utc)
            if req.prev_ts
            else None,
            req.prev_seq if req.prev_ts else None,
            req.signature_type,
            req.signature,
            0,
            req.content,
        )
        with self._lock:
            self._rows.append(row)
            self._bytes += len(req.content)
            if len(self._rows) >= self.max_records or self._bytes >= self.max_bytes:
                self._flush_locked()
            elif self._timer is None:
                self._timer = threading.Timer(self.close_timeout_s, self.flush)
                self._timer.daemon = True
                self._timer.start()
        return partition

    def flush(self) -> None:
        with self._lock:
            self._flush_locked()

    def close(self) -> None:
        """Flush and cancel the pending timer (call before teardown so no
        flush fires during interpreter shutdown)."""
        with self._lock:
            if self._timer is not None:
                self._timer.cancel()
                self._timer = None
            self._flush_locked()

    def _flush_locked(self) -> None:
        if self._timer is not None:
            self._timer.cancel()
            self._timer = None
        if not self._rows:
            return
        rows, self._rows, self._bytes = self._rows, [], 0
        df = self.storage.spark.createDataFrame(rows, ENVELOPE_DDL)
        self.storage.store(df)
        if self.metrics is not None:  # storageWrite counters (VolumeLogger)
            self.metrics.record(STORAGE_WRITE_MESSAGES, len(rows))
            self.metrics.record(STORAGE_WRITE_BYTES, sum(len(r[-1]) for r in rows))
