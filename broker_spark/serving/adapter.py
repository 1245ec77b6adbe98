"""The one way an adapter server runs (the reference's adapterRegistry.ts
starts every transport the same way).

Convention: a transport is a `socketserver` request-handler class; the
node state it serves (storage, spool, registry, ...) lives on the server
and handlers read it as `self.server.<name>`.  `start` binds the handler,
attaches that state and serves on a daemon thread, so a running adapter
never blocks interpreter shutdown; stop it with `.shutdown()`.
"""

from __future__ import annotations

import socketserver
import threading


class AdapterServer(socketserver.ThreadingTCPServer):
    # daemon handler threads: a lingering client connection must not
    # block interpreter shutdown
    allow_reuse_address = True
    daemon_threads = True


def start(handler, host: str, port: int, **state) -> AdapterServer:
    """Serve `handler` on (host, port) from a daemon thread; `state` becomes
    attributes of the returned server (`.server_address` has the bound
    port)."""
    server = AdapterServer((host, port), handler)
    vars(server).update(state)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server
