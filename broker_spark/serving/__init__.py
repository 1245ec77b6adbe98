"""Serving/protocol layer (SURVEY §3.1-3.2, M4): result formats, the HTTP
data-query gateway, the control-message transports (TCP, WebSocket, MQTT)
and the resend control-message lifecycle.

The engine (broker_spark.storage / operators) plans and executes queries;
this layer only frames and delivers results — the analog of the
reference's src/http/* and src/websocket/RequestHandler.ts.

One adapter convention (`adapter.py`): each `serve*` function starts a
socketserver on a daemon thread with the node state (storage, spool,
registry, ...) as attributes of the server; handlers read it as
`self.server.<name>`.  The TCP and WS transports frame control messages
differently but hand each one to `tcp.ControlHandler.handle_message`.
Counter names are defined once in `jobs.stream_metrics`."""
