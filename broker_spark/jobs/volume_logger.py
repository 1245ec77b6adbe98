"""Legacy volume reporting loop (the reference's VolumeLogger).

Mirrors src/VolumeLogger.ts:
- every `reporting_interval_s`, take a destructive rate sample of the
  node's MetricsContext and publish the full report to the configured
  legacy metrics stream (VolumeLogger.ts:107-124,168-177);
- derive the human summary numbers — broker in/out events+kb per second,
  storage read/write rates — from the sampled counters
  (VolumeLogger.ts:179-230);
- the per-interval StreamMetrics cascade (jobs/stream_metrics.py) is the
  `perStreamMetrics` half of the same class (VolumeLogger.ts:126-166).

Spark-first: the published report is an ordinary StreamMessage through the
normal spool path, so it lands in the partitioned log and is queryable by
every resend/rollup operator — no side metrics store.
"""

from __future__ import annotations

import json
import threading
import time

from broker_spark.jobs.stream_metrics import (
    GATEWAY_OUT_BYTES,
    GATEWAY_OUT_MESSAGES,
    PUBLISHER_BYTES,
    PUBLISHER_MESSAGES,
    STORAGE_READ_BYTES,
    STORAGE_READ_MESSAGES,
    STORAGE_WRITE_BYTES,
    STORAGE_WRITE_MESSAGES,
    MetricsContext,
)
from broker_spark.serving.publish import PublishRequest, PublishSpool

#: counter -> summary field (events/s); kb/s fields divide the byte
#: counters by 1000 exactly like VolumeLogger.ts:181-192
_SUMMARY_RATES = {
    "inPerSecond": PUBLISHER_MESSAGES,
    "outPerSecond": GATEWAY_OUT_MESSAGES,
    "storageReadPerSecond": STORAGE_READ_MESSAGES,
    "storageWritePerSecond": STORAGE_WRITE_MESSAGES,
}
_SUMMARY_KB = {
    "kbInPerSecond": PUBLISHER_BYTES,
    "kbOutPerSecond": GATEWAY_OUT_BYTES,
    "storageReadKbPerSecond": STORAGE_READ_BYTES,
    "storageWriteKbPerSecond": STORAGE_WRITE_BYTES,
}


class VolumeLogger:
    """Periodic publisher of the node's sampled counter rates.

    `report_and_reset()` is one deterministic iteration (publishes when a
    legacy stream is configured, returns the summary); `start()` loops it
    on a daemon timer like the reference's setTimeout chain
    (VolumeLogger.ts:112-124)."""

    def __init__(
        self,
        metrics: MetricsContext,
        spool: PublishSpool | None = None,
        legacy_stream_id: str | None = None,
        reporting_interval_s: float = 60.0,
        node_address: str = "node",
    ):
        self.metrics = metrics
        self.spool = spool
        self.legacy_stream_id = legacy_stream_id
        self.reporting_interval_s = reporting_interval_s
        self.node_address = node_address
        self._timer: threading.Timer | None = None
        self._stopped = False

    def report_and_reset(self, now_ms: int | None = None) -> dict:
        """One reporting iteration: destructive sample -> summary (+ legacy
        publish when configured).  VolumeLogger.ts:168-230."""
        now = int(time.time() * 1000) if now_ms is None else now_ms
        rates = self.metrics.sample()
        summary: dict = {"peerId": self.node_address, "timestamp": now}
        for field_name, counter in _SUMMARY_RATES.items():
            summary[field_name] = rates.get(counter, 0.0)
        for field_name, counter in _SUMMARY_KB.items():
            summary[field_name] = rates.get(counter, 0.0) / 1000.0
        if self.spool is not None and self.legacy_stream_id is not None:
            report = {
                "peerId": self.node_address,
                "startTime": self.metrics.start_time,
                "currentTime": now,
                "timestamp": now,
                "rates": rates,
            }
            self.spool.publish(
                PublishRequest(
                    stream_id=self.legacy_stream_id,
                    content=json.dumps(report),
                    timestamp=now,
                    publisher_id=self.node_address,
                    msg_chain_id="volume",
                ),
                now_ms=now,
            )
        return summary

    # -- timer loop ---------------------------------------------------------
    def start(self) -> None:
        if self.reporting_interval_s <= 0:  # VolumeLogger.ts:112
            return
        self._stopped = False
        self._schedule()

    def _schedule(self) -> None:
        if self._stopped:
            return
        self._timer = threading.Timer(self.reporting_interval_s, self._tick)
        self._timer.daemon = True
        self._timer.start()

    def _tick(self) -> None:
        try:
            self.report_and_reset()
        except Exception:  # noqa: BLE001 — loop must survive (ts:114-118)
            pass
        self._schedule()

    def stop(self) -> None:
        self._stopped = True
        if self._timer is not None:
            self._timer.cancel()
            self._timer = None
