"""Per-node metrics publish-back loop (the reference's StreamMetrics):
sec-interval reports are EWMA-smoothed samples of the node's own counters;
min/hour/day reports are averages of the previous tier read back from the
metrics stream — a sec -> min -> hour -> day rollup cascade published into
the log itself.

Mirrors src/StreamMetrics.ts:
- target stream id is `{node_address}/streamr/node/metrics/{interval}`
  (StreamMetrics.ts:47,227-233);
- sec tier: `throttledAvg = 0.8*avg + 0.2*new` smoothing of the sampled
  rates (StreamMetrics.ts:7-9,133-147);
- min/hour/day tiers resend the last 60/60/24 messages of the source tier,
  average every numeric field, and publish — unless the newest target
  message is younger than the report interval (StreamMetrics.ts:55-77,
  158-202);
- an empty source tier publishes a zero report (StreamMetrics.ts:162-165).

Spark-first: the reports live in the same partitioned parquet log as any
other stream, so the read-back IS `Storage.request_last` (a pruned
partition scan) and the publish IS the normal spool path — no side store.
The heavy analytical rollups over long horizons remain the oracle-checked
`operators.rollup` cascade; this job is the live publish-back loop.
"""

from __future__ import annotations

import json
import threading
import time
from typing import TYPE_CHECKING

from broker_spark.storage.store import Storage

if TYPE_CHECKING:  # serving.publish imports the counter names below at load time
    from broker_spark.serving.publish import PublishSpool

# StreamMetrics.ts:55-77
INTERVALS: dict[str, dict] = {
    "sec": {"report_ms": 1_000, "source": None, "source_count": 0},
    "min": {"report_ms": 60_000, "source": "sec", "source_count": 60},
    "hour": {"report_ms": 3_600_000, "source": "min", "source_count": 60},
    "day": {"report_ms": 86_400_000, "source": "hour", "source_count": 24},
}

METRICS_PATH = "/streamr/node/metrics/"


def throttled_avg(avg: float, avg_interval: float) -> float:
    """StreamMetrics.ts:7-9."""
    return 0.8 * avg + 0.2 * avg_interval


def zero_report(node_address: str) -> dict:
    """StreamMetrics.ts:80-103."""
    return {
        "peerName": node_address,
        "peerId": node_address,
        "broker": {
            "messagesToNetworkPerSec": 0,
            "bytesToNetworkPerSec": 0,
            "messagesFromNetworkPerSec": 0,
            "bytesFromNetworkPerSec": 0,
        },
        "network": {
            "avgLatencyMs": 0,
            "bytesToPeersPerSec": 0,
            "bytesFromPeersPerSec": 0,
            "connections": 0,
        },
        "storage": {"bytesWrittenPerSec": 0, "bytesReadPerSec": 0},
        "startTime": 0,
        "currentTime": 0,
        "timestamp": 0,
    }


# The node's counters: each name is recorded where the event happens and
# read by the reporters (VolumeLogger, the sec tier, GET /volume).
PUBLISHER_MESSAGES = "publisher.messages"  # messages accepted by a publish
PUBLISHER_BYTES = "publisher.bytes"  # their content bytes
STORAGE_WRITE_MESSAGES = "storage.writeMessages"  # messages a spool flush wrote to the log
STORAGE_WRITE_BYTES = "storage.writeBytes"  # their content bytes
STORAGE_READ_MESSAGES = "storage.readMessages"  # messages an HTTP resend delivered
STORAGE_READ_BYTES = "storage.readBytes"  # its response-body bytes
GATEWAY_OUT_MESSAGES = "gateway.outMessages"  # subscriber deliveries: not recorded yet
GATEWAY_OUT_BYTES = "gateway.outBytes"


class MetricsContext:
    """Minimal recorded-metrics registry: components `record(name, n)`;
    `sample()` returns per-second rates since the previous sample — the
    analog of streamr-network's MetricsContext.report(true)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._counters: dict[str, float] = {}
        self._last: dict[str, float] = {}
        self._last_ts = time.monotonic()
        self.start_time = int(time.time() * 1000)

    def record(self, name: str, n: float = 1.0) -> None:
        with self._lock:
            self._counters[name] = self._counters.get(name, 0.0) + n

    def sample(self) -> dict[str, float]:
        with self._lock:
            now = time.monotonic()
            elapsed = max(now - self._last_ts, 1e-9)
            rates = {
                k: (v - self._last.get(k, 0.0)) / elapsed
                for k, v in self._counters.items()
            }
            self._last = dict(self._counters)
            self._last_ts = now
            return rates

    def report(self, peer_id: str = "") -> dict:
        """Non-destructive snapshot for the /volume endpoint
        (src/http/VolumeEndpoint.ts + MetricsContext.report): totals plus
        rates since the last sample() tick, without resetting the window
        the sec-tier sampler is using."""
        with self._lock:
            now = time.monotonic()
            elapsed = max(now - self._last_ts, 1e-9)
            metrics = {
                k: {
                    "total": v,
                    "rate": (v - self._last.get(k, 0.0)) / elapsed,
                }
                for k, v in self._counters.items()
            }
        return {
            "peerId": peer_id,
            "startTime": self.start_time,
            "currentTime": int(time.time() * 1000),
            "metrics": metrics,
        }


# counter name -> report path, for the sec-tier sampler
_SEC_FIELDS = {
    ("broker", "messagesToNetworkPerSec"): PUBLISHER_MESSAGES,
    ("broker", "bytesToNetworkPerSec"): PUBLISHER_BYTES,
    ("storage", "bytesWrittenPerSec"): STORAGE_WRITE_BYTES,
    ("storage", "bytesReadPerSec"): STORAGE_READ_BYTES,
}


def _avg_reports(reports: list[dict], node_address: str) -> dict:
    """Average every numeric field of the tier sections across reports
    (StreamMetrics.ts:168-200)."""
    out = zero_report(node_address)
    n = len(reports)
    for section in ("broker", "network", "storage"):
        for field in out[section]:
            out[section][field] = (
                sum(float(r.get(section, {}).get(field, 0)) for r in reports) / n
            )
    return out


class StreamMetrics:
    """One tier of the publish-back cascade.  `run_report()` is a single
    iteration (deterministic, testable); `start()` loops it on a daemon
    timer like the reference's setTimeout chain (StreamMetrics.ts:206-210)."""

    def __init__(
        self,
        storage: Storage,
        spool: PublishSpool,
        node_address: str,
        interval: str,
        report_ms: int | None = None,
        metrics: MetricsContext | None = None,
    ):
        if interval not in INTERVALS:
            raise ValueError("Unrecognized interval string, should be sec/min/hour/day")
        cfg = INTERVALS[interval]
        self.storage = storage
        self.spool = spool
        self.node_address = node_address
        self.interval = interval
        self.report_ms = report_ms or cfg["report_ms"]
        self.source_count = cfg["source_count"]
        self.metrics = metrics or MetricsContext()
        self.target_stream_id = node_address + METRICS_PATH + interval
        self.source_stream_id = (
            node_address + METRICS_PATH + cfg["source"] if cfg["source"] else None
        )
        self.report = zero_report(node_address)
        self._timer: threading.Timer | None = None
        self._stopped = False

    # -- one iteration ------------------------------------------------------
    def run_report(self, now_ms: int | None = None) -> bool:
        """Returns True if a report was published."""
        now = int(time.time() * 1000) if now_ms is None else now_ms
        if self.interval == "sec":
            self._sample_sec(now)
            self._publish(now)
            return True
        sources = self._resend_contents(self.source_stream_id, self.source_count)
        if not sources:
            self.report = zero_report(self.node_address)
            self._publish(now)
            return True
        newest_target = self._resend_contents(self.target_stream_id, 1)
        if newest_target and newest_target[0]["timestamp"] + self.report_ms - now >= 0:
            return False  # target tier is fresh enough — StreamMetrics.ts:166-167
        self.report = _avg_reports(sources, self.node_address)
        self._publish(now)
        return True

    def _sample_sec(self, now: int) -> None:
        rates = self.metrics.sample()
        first = self.report["timestamp"] == 0
        for (section, field), counter in _SEC_FIELDS.items():
            new = rates.get(counter, 0.0)
            self.report[section][field] = (
                new if first else throttled_avg(self.report[section][field], new)
            )
        if first:
            self.report["startTime"] = self.metrics.start_time

    def _resend_contents(self, stream_id: str, count: int) -> list[dict]:
        rows = self.storage.request_last(stream_id, 0, count).collect()
        return [json.loads(r["content"]) for r in rows]

    def _publish(self, now: int) -> None:
        from broker_spark.serving.publish import PublishRequest

        self.report["currentTime"] = now
        self.report["timestamp"] = now
        self.spool.publish(
            PublishRequest(
                stream_id=self.target_stream_id,
                content=json.dumps(self.report),
                timestamp=now,
                publisher_id=self.node_address,
                msg_chain_id="metrics-" + self.interval,
            ),
            now_ms=now,
        )

    # -- timer loop ---------------------------------------------------------
    def start(self) -> None:
        self._stopped = False
        self._schedule()

    def _schedule(self) -> None:
        if self._stopped:
            return
        self._timer = threading.Timer(self.report_ms / 1000.0, self._tick)
        self._timer.daemon = True
        self._timer.start()

    def _tick(self) -> None:
        try:
            self.run_report()
        except Exception:  # noqa: BLE001 — loop must survive (ts:203-205)
            pass
        self._schedule()

    def stop(self) -> None:
        self._stopped = True
        if self._timer is not None:
            self._timer.cancel()
            self._timer = None


def start_cascade(
    storage: Storage,
    spool: PublishSpool,
    node_address: str,
    metrics: MetricsContext | None = None,
    report_ms: dict[str, int] | None = None,
) -> dict[str, StreamMetrics]:
    """Start all four tiers (the per-interval StreamMetrics instances the
    reference's broker boots, one per interval)."""
    metrics = metrics or MetricsContext()
    tiers = {}
    for interval in INTERVALS:
        tier = StreamMetrics(
            storage,
            spool,
            node_address,
            interval,
            report_ms=(report_ms or {}).get(interval),
            metrics=metrics,
        )
        tier.start()
        tiers[interval] = tier
    return tiers
