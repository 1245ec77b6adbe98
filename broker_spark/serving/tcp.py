"""Line-delimited control-message server: the websocket RequestHandler's
dispatch surface (S1/S4/W7/W10) over a stdlib TCP transport.

The reference speaks the streamr control layer over uWS websockets
(src/websocket/WebsocketServer.ts:188 deserialize ->
RequestHandler.handleRequest switch at src/websocket/RequestHandler.ts:
70-93).  The WS framing is transport, not engine; this adapter speaks the
same request/response shapes as newline-delimited JSON so the full
publish/subscribe/resend lifecycle is exercisable without external
dependencies — swap the socket for a websocket library in production.

Requests (one JSON object per line):
    {"type": "PublishRequest", "streamId", "streamPartition"?, "ts"?,
     "sequenceNumber"?, "publisherId"?, "msgChainId"?, "partitionKey"?,
     "content"}
    {"type": "SubscribeRequest", "requestId", "streamId", "streamPartition"}
    {"type": "UnsubscribeRequest", "requestId", "streamId", "streamPartition"}
    {"type": "ResendLastRequest", "requestId", "streamId",
     "streamPartition", "numberLast"}
    {"type": "ResendFromRequest", ..., "fromTimestamp", "fromSequenceNumber"?,
     "publisherId"?}
    {"type": "ResendRangeRequest", ..., "fromTimestamp", "toTimestamp",
     "fromSequenceNumber"?, "toSequenceNumber"?, "publisherId"?, "msgChainId"?}

Responses: SubscribeResponse / UnsubscribeResponse / the resend lifecycle
(serving.resend_lifecycle) / BroadcastMessage fan-out / ErrorResponse.
"""

from __future__ import annotations

import json
import socketserver
import threading
import time

from broker_spark.schema import MAX_SEQUENCE_NUMBER_VALUE, MIN_SEQUENCE_NUMBER_VALUE
from broker_spark.serving import adapter
from broker_spark.serving.formats import to_protocol_array
from broker_spark.serving.publish import (
    PublishError,
    PublishRequest,
    PublishSpool,
    wrap_mqtt_payload,
)
from broker_spark.serving.resend_lifecycle import resend_response
from broker_spark.storage.store import Storage
from broker_spark.streaming.fanout import SubscriptionRegistry


class ControlHandler(socketserver.StreamRequestHandler):
    """Serves `server.storage`, `server.spool` (None: publishing off) and
    `server.registry` (the fan-out subscriptions)."""

    def _send(self, obj: dict) -> None:
        with self._write_lock:
            self.wfile.write((json.dumps(obj) + "\n").encode())

    def setup(self) -> None:
        super().setup()
        self._write_lock = threading.Lock()
        self._conn_id = f"tcp-{id(self)}"

    def finish(self) -> None:
        # drop all of this connection's subscriptions (Connection close path)
        for sid, p in list(self.server.registry.subscribed_keys()):
            self.server.registry.unsubscribe(self._conn_id, sid, p)
        super().finish()

    def handle(self) -> None:
        for raw in self.rfile:
            if raw.strip():
                self.handle_message(raw)

    def handle_message(self, raw: bytes) -> None:
        """One control message, whatever the transport framed it in
        (WebsocketServer.ts:188 deserialize -> handleRequest)."""
        try:
            req = json.loads(raw)
        except ValueError:
            req = None
        if not isinstance(req, dict):
            self._send({"type": "ErrorResponse", "errorMessage": "Invalid request",
                        "errorCode": "INVALID_REQUEST"})
            return
        try:
            self._dispatch(req)
        except Exception as e:  # noqa: BLE001 — connection must survive
            self._send({
                "type": "ErrorResponse",
                "requestId": req.get("requestId"),
                "errorMessage": str(e),
                "errorCode": "ERROR_WHILE_HANDLING_REQUEST",
            })

    # RequestHandler.handleRequest switch (RequestHandler.ts:70-93)
    def _dispatch(self, req: dict) -> None:
        t = req.get("type")
        if t == "PublishRequest":
            self._publish(req)
        elif t == "SubscribeRequest":
            self.server.registry.subscribe(
                self._conn_id,
                req["streamId"],
                int(req.get("streamPartition", 0)),
                lambda row: self._send(
                    {"type": "BroadcastMessage", "streamMessage": to_protocol_array(row)}
                ),
            )
            self._send({
                "type": "SubscribeResponse",
                "requestId": req.get("requestId"),
                "streamId": req["streamId"],
                "streamPartition": int(req.get("streamPartition", 0)),
            })
        elif t == "UnsubscribeRequest":
            self.server.registry.unsubscribe(
                self._conn_id, req["streamId"], int(req.get("streamPartition", 0))
            )
            self._send({
                "type": "UnsubscribeResponse",
                "requestId": req.get("requestId"),
                "streamId": req["streamId"],
                "streamPartition": int(req.get("streamPartition", 0)),
            })
        elif t in ("ResendLastRequest", "ResendFromRequest", "ResendRangeRequest"):
            self._resend(req)
        else:
            self._send({"type": "ErrorResponse", "requestId": req.get("requestId"),
                        "errorMessage": f"Unknown request type: {t}",
                        "errorCode": "INVALID_REQUEST"})

    def _publish(self, req: dict) -> None:
        if self.server.spool is None:
            raise RuntimeError("Publishing not enabled on this node.")
        content = wrap_mqtt_payload(req["content"]) if isinstance(req.get("content"), str) \
            else json.dumps(req.get("content"))
        pub = PublishRequest(
            stream_id=req["streamId"],
            content=content,
            timestamp=int(req.get("ts", time.time() * 1000)),
            sequence_number=int(req.get("sequenceNumber", 0)),
            publisher_id=req.get("publisherId", ""),
            msg_chain_id=req.get("msgChainId", ""),
            partition_key=req.get("partitionKey"),
        )
        try:
            partition = self.server.spool.publish(pub)
        except PublishError as e:
            self._send({"type": "ErrorResponse", "requestId": req.get("requestId"),
                        "errorMessage": str(e), "errorCode": "PUBLISH_FAILED"})
            return
        self._send({"type": "PublishResponse", "requestId": req.get("requestId"),
                    "streamId": req["streamId"], "streamPartition": partition})

    def _resend(self, req: dict) -> None:
        storage = self.server.storage
        sid = req["streamId"]
        part = int(req.get("streamPartition", 0))
        t = req["type"]
        if t == "ResendLastRequest":
            df = storage.request_last(sid, part, int(req["numberLast"]))
        elif t == "ResendFromRequest":
            df = storage.request_from(
                sid, part,
                int(req["fromTimestamp"]), int(req.get("fromSequenceNumber", MIN_SEQUENCE_NUMBER_VALUE)),
                req.get("publisherId"), None,
            )
        else:
            df = storage.request_range(
                sid, part,
                int(req["fromTimestamp"]), int(req.get("fromSequenceNumber", MIN_SEQUENCE_NUMBER_VALUE)),
                int(req["toTimestamp"]), int(req.get("toSequenceNumber", MAX_SEQUENCE_NUMBER_VALUE)),
                req.get("publisherId"), req.get("msgChainId"),
            )
        for msg in resend_response(req.get("requestId", ""), sid, part, storage.stream_rows(df)):
            self._send(msg)


def serve_control(
    storage: Storage,
    spool: PublishSpool | None = None,
    registry: SubscriptionRegistry | None = None,
    host: str = "127.0.0.1",
    port: int = 0,
) -> socketserver.ThreadingTCPServer:
    """Start the control server on a background thread.  Returns the server;
    `.server_address` has the bound port, `.registry` the fan-out registry
    (wire it to `streaming.fanout.foreach_batch_fanout` for live data)."""
    return adapter.start(
        ControlHandler, host, port, storage=storage, spool=spool,
        registry=registry if registry is not None else SubscriptionRegistry(),
    )
