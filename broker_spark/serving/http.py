"""HTTP data-query gateway: the reference's REST read path on stdlib
http.server, backed by a `broker_spark.storage.store.Storage`.

Routes (src/http/DataQueryEndpoints.ts:65-105, DataMetadataEndpoints.ts):
    GET /streams/:id/data/partitions/:partition/last?count&format&version
    GET /streams/:id/data/partitions/:partition/from?fromTimestamp&
        fromSequenceNumber&publisherId&format&version
    GET /streams/:id/data/partitions/:partition/range?fromTimestamp&
        toTimestamp&fromSequenceNumber&toSequenceNumber&publisherId&
        msgChainId&format&version
    GET /streams/:id/metadata/partitions/:partition

Validation order and every 400 error text match the reference byte-for-
byte (asserted against test/unit/http/DataQueryEndpoints.test.ts:76-115).
Authentication (src/http/RequestAuthenticatorMiddleware.ts) is a call-out
to an external core API through `server.stream_fetcher`; without one every
request is allowed.

Results are streamed: the handler iterates `Storage.stream_rows`
(`toLocalIterator`) through `formats.frame`, chunk-encoding each message
— no `collect()`, so a 10k-message resend never materializes driver-side
(W6; the reference's pause/resume backpressure becomes HTTP flow
control).
"""

from __future__ import annotations

import itertools
import json
import logging
import re
import socketserver
from functools import partial
from http.server import BaseHTTPRequestHandler
from urllib.parse import parse_qs, unquote, urlparse

from broker_spark.jobs.stream_metrics import STORAGE_READ_BYTES, STORAGE_READ_MESSAGES
from broker_spark.schema import MAX_SEQUENCE_NUMBER_VALUE, MIN_SEQUENCE_NUMBER_VALUE
from broker_spark.serving import adapter
from broker_spark.serving.formats import frame, get_format
from broker_spark.storage.store import Storage

logger = logging.getLogger(__name__)

_DATA_RE = re.compile(r"^/(?:api/v1/)?streams/([^/]+)/data/partitions/([^/]+)/(last|from|range)$")
_META_RE = re.compile(r"^/(?:api/v1/)?streams/([^/]+)/metadata/partitions/([^/]+)$")
_PRODUCE_RE = re.compile(r"^/(?:api/v1/)?streams/([^/]+)/data$")
_STORAGE_RE = re.compile(r"^/(?:api/v1/)?streams/([^/]+)/storage/partitions/([^/]+)$")


def _parse_int_if_exists(qs: dict, key: str):
    """parseIntIfExists: absent -> None; non-numeric -> NaN (str marker)."""
    if key not in qs:
        return None
    raw = qs[key][0]
    m = re.match(r"^[+-]?\d+", raw)
    return int(m.group(0)) if m else float("nan")


def _is_nan(x) -> bool:
    return isinstance(x, float) and x != x


def _first(qs: dict, key: str) -> str | None:
    return qs[key][0] if key in qs else None


def _seq_or_default(qs: dict, key: str, default: int) -> int:
    """Sequence-number params fall back to their bound when absent OR
    non-numeric (DataQueryEndpoints.ts:149,170-171 — `parseIntIfExists(x)
    || BOUND` falls back on NaN because NaN is falsy in JS; Python NaN is
    truthy, so the fallback must be explicit or `sequence_no >= NaN`
    silently drops every boundary-timestamp row)."""
    v = _parse_int_if_exists(qs, key)
    return default if v is None or _is_nan(v) else v


def _counted(rows, tally: list[int]):
    """`rows`, adding one to `tally[0]` per row handed on."""
    for row in rows:
        tally[0] += 1
        yield row


class DataQueryHandler(BaseHTTPRequestHandler):
    """Serves `server.storage`; `serve()` puts the optional `spool`,
    `stream_fetcher`, `metrics` and `storage_config` on the server too
    (None switches the feature off)."""

    protocol_version = "HTTP/1.1"

    def log_message(self, *args) -> None:  # quiet test servers
        pass

    def _send(self, status: int, body: bytes = b"", content_type: str | None = None) -> None:
        self.send_response(status)
        if content_type is not None:
            self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if body:
            self.wfile.write(body)

    def _send_json(self, status: int, obj) -> None:
        self._send(status, json.dumps(obj).encode(), "application/json")

    def _error(self, message: str) -> None:
        """sendError (src/http/DataQueryEndpoints.ts:57-62): 400 + JSON."""
        self._send_json(400, {"error": message})

    def _partition(self, raw: str) -> int | None:
        """Partition parsing middleware (DataQueryEndpoints.ts:118-129);
        None once the 400 is sent."""
        m = re.match(r"^[+-]?\d+", raw)
        if m is None:
            self._error(f'Path parameter "partition" not a number: {raw}')
            return None
        return int(m.group(0))

    def _timestamp(self, qs: dict, key: str, missing: str) -> int | None:
        """A required timestamp parameter; None once the 400 is sent."""
        ts = _parse_int_if_exists(qs, key)
        if ts is None:
            self._error(missing)
        elif _is_nan(ts):
            self._error(f'Query parameter "{key}" not a number: {_first(qs, key)}')
        else:
            return ts
        return None

    def _authorize(self, stream_id: str, operation: str) -> bool:
        """Authenticator middleware (RequestAuthenticatorMiddleware.ts:11-53):
        Bearer-header parsing + memoized StreamFetcher permission check with
        the reference's status/error mapping.  No StreamFetcher: allow."""
        if self.server.stream_fetcher is None:
            return True
        from broker_spark.serving.auth import authenticate_request

        status, payload = authenticate_request(
            self.server.stream_fetcher,
            stream_id,
            self.headers.get("Authorization"),
            operation,
        )
        if status != 200:
            self._send_json(status, payload)
            return False
        return True

    def do_GET(self) -> None:  # noqa: N802 (stdlib API)
        url = urlparse(self.path)
        qs = parse_qs(url.query, keep_blank_values=True)
        # Express decodeURIComponent's path params; stream ids routinely
        # contain '/' and ':' and arrive percent-encoded in the path.
        m = _DATA_RE.match(url.path)
        if m:
            self._handle_data(unquote(m.group(1)), m.group(2), m.group(3), qs)
            return
        m = _META_RE.match(url.path)
        if m:
            self._handle_metadata(unquote(m.group(1)), m.group(2))
            return
        # GET /volume (src/http/VolumeEndpoint.ts): the metrics report
        metrics = self.server.metrics
        if url.path in ("/volume", "/api/v1/volume") and metrics is not None:
            self._send_json(200, metrics.report())
            return
        # GET /streams/:id/storage/partitions/:p (StorageConfigEndpoints.ts):
        # is this stream-partition assigned to this storage node?
        m = _STORAGE_RE.match(url.path)
        storage_config = self.server.storage_config
        if m and storage_config is not None:
            if not re.match(r"^[+-]?\d+", m.group(2)):
                self._send(400, f"Partition is not a number: {m.group(2)}".encode())
            elif storage_config.has_stream(unquote(m.group(1)), int(m.group(2))):
                self._send_json(200, {})
            else:
                self._send(404)
            return
        self._send_json(404, {"error": f"Not found: {url.path}"})

    # -- publish (DataProduceEndpoints.ts) ----------------------------------
    def do_POST(self) -> None:  # noqa: N802 (stdlib API)
        from broker_spark.serving.publish import (
            MAX_BODY_BYTES,
            PublishError,
            parse_publish_query,
        )
        from broker_spark.serving.validator import ValidationError

        url = urlparse(self.path)
        m = _PRODUCE_RE.match(url.path)
        if not m:
            self._send_json(404, {"error": f"Not found: {url.path}"})
            return
        stream_id = unquote(m.group(1))
        # middleware order matches the reference: authenticator runs before
        # the route handler (DataProduceEndpoints.ts router wiring)
        if not self._authorize(stream_id, "stream_publish"):
            return
        if self.server.spool is None:
            self._send_json(501, {"error": "Publishing not enabled on this node."})
            return
        length = int(self.headers.get("Content-Length") or 0)
        if length > MAX_BODY_BYTES:  # bodyParser limit '1024kb'
            self._send_json(413, {"error": "Request body too large."})
            return
        body = self.rfile.read(length) if length else b""
        if not body:
            self._error("No request body or invalid request body.")
            return
        qs = parse_qs(url.query, keep_blank_values=True)
        try:
            req = parse_publish_query(stream_id, body, qs)
            self.server.spool.publish(req)
        except (PublishError, ValidationError) as e:
            # validator rejections (signature/policy) are client errors too,
            # like the reference's FailedToPublishError -> 400 path
            self._error(str(e))
            return
        self._send_json(200, {})

    # -- data queries -------------------------------------------------------
    def _handle_data(self, stream_id: str, partition_raw: str, name: str, qs: dict) -> None:
        partition = self._partition(partition_raw)
        if partition is None or not self._authorize(stream_id, "stream_subscribe"):
            return
        fmt = get_format(_first(qs, "format"))
        if fmt is None:
            self._error(f'Query parameter "format" is invalid: {_first(qs, "format")}')
            return
        version = _parse_int_if_exists(qs, "version")
        version = None if version is None or _is_nan(version) else version

        storage = self.server.storage
        if name == "last":
            count = _parse_int_if_exists(qs, "count")
            if count is None:
                count = 1
            if _is_nan(count):
                self._error(f'Query parameter "count" not a number: {_first(qs, "count")}')
                return
            query = partial(storage.request_last, stream_id, partition, count)
        elif name == "from":
            from_ts = self._timestamp(qs, "fromTimestamp", 'Query parameter "fromTimestamp" required.')
            if from_ts is None:
                return
            from_seq = _seq_or_default(qs, "fromSequenceNumber", MIN_SEQUENCE_NUMBER_VALUE)
            query = partial(
                storage.request_from,
                stream_id, partition, from_ts, from_seq, _first(qs, "publisherId") or None, None,
            )
        else:  # range
            if "fromOffset" in qs or "toOffset" in qs:
                self._error(
                    'Query parameters "fromOffset" and "toOffset" are no longer supported.'
                    ' Please use "fromTimestamp" and "toTimestamp".'
                )
                return
            from_ts = self._timestamp(qs, "fromTimestamp", 'Query parameter "fromTimestamp" required.')
            if from_ts is None:
                return
            to_ts = self._timestamp(
                qs, "toTimestamp",
                'Query parameter "toTimestamp" required as well. To request all messages'
                " since a timestamp, use the endpoint /streams/:id/data/partitions/:partition/from",
            )
            if to_ts is None:
                return
            publisher_id = _first(qs, "publisherId")
            msg_chain_id = _first(qs, "msgChainId")
            if bool(publisher_id) != bool(msg_chain_id):
                self._error('Invalid combination of "publisherId" and "msgChainId"')
                return
            query = partial(
                storage.request_range,
                stream_id,
                partition,
                from_ts,
                _seq_or_default(qs, "fromSequenceNumber", MIN_SEQUENCE_NUMBER_VALUE),
                to_ts,
                _seq_or_default(qs, "toSequenceNumber", MAX_SEQUENCE_NUMBER_VALUE),
                publisher_id or None,
                msg_chain_id or None,
            )

        # Build the query and pull the first frame chunk BEFORE committing
        # the 200, so a storage failure still yields the reference's 500 JSON
        # ('data.on("error")' before headersSent, DataQueryEndpoints.ts:86-93).
        metrics = self.server.metrics
        delivered = [0]
        try:
            rows = storage.stream_rows(query())
            if metrics is not None:
                rows = _counted(rows, delivered)
            pieces = frame(rows, fmt, version)
            first = next(pieces)  # frame always yields a header and a footer
        except Exception:
            logger.exception("resend %s failed before the response: %s", name, self.path)
            self._send_json(500, {"error": "Failed to fetch data!"})
            return
        self.send_response(200)
        self.send_header("Content-Type", fmt.content_type)
        self.send_header("Transfer-Encoding", "chunked")
        self.end_headers()
        out_bytes = 0
        try:
            for piece in itertools.chain((first,), pieces):
                data = piece.encode()
                if data:
                    self.wfile.write(b"%x\r\n%s\r\n" % (len(data), data))
                    out_bytes += len(data)
            self.wfile.write(b"0\r\n\r\n")
        except (BrokenPipeError, ConnectionResetError):
            pass  # client abort cancels the iteration (DataQueryEndpoints.ts:96-99)
        except Exception:
            # the 200 is out: end the connection without the terminator so
            # the client cannot take the truncated body for a complete one
            logger.exception("resend %s failed mid-response: %s", name, self.path)
            self.close_connection = True
        finally:
            if metrics is not None:  # storageRead counters (VolumeLogger)
                metrics.record(STORAGE_READ_BYTES, out_bytes)
                metrics.record(STORAGE_READ_MESSAGES, delivered[0])

    # -- metadata (DataMetadataEndpoints.ts) --------------------------------
    def _handle_metadata(self, stream_id: str, partition_raw: str) -> None:
        partition = self._partition(partition_raw)
        if partition is None:
            return
        try:
            metadata = self.server.storage.partition_metadata(stream_id, partition)
        except Exception:
            logger.exception("metadata failed: %s", self.path)
            self._send_json(500, {"error": "Failed to fetch data!"})
            return
        self._send_json(200, metadata)


def serve(
    storage: Storage,
    host: str = "127.0.0.1",
    port: int = 0,
    spool=None,
    stream_fetcher=None,
    metrics=None,
    storage_config=None,
) -> socketserver.ThreadingTCPServer:
    """Start the gateway on a background thread; returns the server (use
    `.server_address` for the bound port, `.shutdown()` to stop).  Pass a
    `publish.PublishSpool` to enable the write path, an
    `auth.StreamFetcher` to enable the authenticator middleware, a
    `stream_metrics.MetricsContext` to enable GET /volume + counters, and
    a `storage.config.StorageConfig` for the assignment endpoint."""
    return adapter.start(
        DataQueryHandler, host, port,
        storage=storage, spool=spool, stream_fetcher=stream_fetcher,
        metrics=metrics, storage_config=storage_config,
    )
