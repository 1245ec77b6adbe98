"""Core API over real HTTP: the network client the reference's
StreamFetcher wraps (src/StreamFetcher.ts:59-70 builds `${baseUrl}/api/v1`
URLs and GETs stream json / permission lists with a Bearer header), plus a
local test server so the 403/404/5xx paths can be exercised over a real
socket without any external service.

`HttpCoreApi` produces the same injectable callables `StreamFetcher`
already takes — `get_permissions(stream_id, session_token)` and
`get_stream(stream_id, session_token)` — so the memoization, error
eviction and middleware mapping in broker_spark.serving.auth are shared
between the in-memory and the HTTP transports:

    fetcher = HttpCoreApi("http://127.0.0.1:8081").fetcher()

Non-200 responses raise the same `HttpError(status, "GET", url)` the
in-memory registry raises (src/StreamFetcher.ts:96-113, 127-158 clear the
memo entry and rethrow); transport-level failures (connection refused, DNS)
propagate as URLError, which `authenticate_request` maps to 503 "Request
failed." exactly like the reference middleware's catch-all
(src/http/RequestAuthenticatorMiddleware.ts:31-53).
"""

from __future__ import annotations

import json
import socketserver
import urllib.error
import urllib.parse
import urllib.request
from http.server import BaseHTTPRequestHandler

from broker_spark.serving import adapter
from broker_spark.serving.auth import HttpError, InMemoryCoreApi, StreamFetcher


class HttpCoreApi:
    """GET /api/v1/streams/:id and /api/v1/streams/:id/permissions/me over
    urllib — stdlib-only, no connection pooling needed for the polled /
    memoized call pattern (StreamFetcher caches successes for 15 min)."""

    def __init__(self, base_url: str, timeout_s: float = 10.0):
        self.api_url = base_url.rstrip("/") + "/api/v1"
        self._timeout_s = timeout_s

    def _get_json(self, url: str, session_token: str | None):
        req = urllib.request.Request(url, method="GET")
        # formHeaders (StreamFetcher.ts:20-28): Bearer only when a token is set
        if session_token:
            req.add_header("Authorization", f"Bearer {session_token}")
        try:
            with urllib.request.urlopen(req, timeout=self._timeout_s) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as err:
            # non-2xx with a live server -> HttpError carrying the status,
            # matching handleNon2xxResponse; URLError (refused/timeout)
            # deliberately propagates for the middleware's 503 catch-all
            raise HttpError(err.code, "GET", url) from err

    def get_stream(self, stream_id: str, session_token: str | None) -> dict:
        url = f"{self.api_url}/streams/{urllib.parse.quote(stream_id, safe='')}"
        return self._get_json(url, session_token)

    def get_permissions(
        self, stream_id: str, session_token: str | None
    ) -> list[dict]:
        url = (
            f"{self.api_url}/streams/"
            f"{urllib.parse.quote(stream_id, safe='')}/permissions/me"
        )
        return self._get_json(url, session_token)

    def fetcher(self) -> StreamFetcher:
        return StreamFetcher(self.get_permissions, self.get_stream)


class _CoreApiHandler(BaseHTTPRequestHandler):
    """Routes the two core-API GET endpoints onto an InMemoryCoreApi
    registry; everything else is 404.  Stream ids are URL-decoded, the
    Bearer token becomes the session token (absent/malformed -> None,
    mirroring the permissive server side — strictness lives client-side)."""

    def log_message(self, *args) -> None:  # quiet test server
        pass

    def _token(self) -> str | None:
        value = self.headers.get("Authorization")
        if value and value.lower().startswith("bearer "):
            return value[7:].strip()
        return None

    def _reply(self, status: int, payload) -> None:
        body = json.dumps(payload).encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # noqa: N802 — BaseHTTPRequestHandler API
        registry: InMemoryCoreApi = self.server.registry  # type: ignore[attr-defined]
        parts = self.path.split("?", 1)[0].strip("/").split("/")
        if len(parts) < 3 or parts[0] != "api" or parts[1] != "v1" or parts[2] != "streams":
            self._reply(404, {"error": "Not found."})
            return
        if len(parts) == 4:
            stream_id, tail = urllib.parse.unquote(parts[3]), None
        elif len(parts) == 6 and parts[4] == "permissions" and parts[5] == "me":
            stream_id, tail = urllib.parse.unquote(parts[3]), "permissions"
        else:
            self._reply(404, {"error": "Not found."})
            return
        try:
            token = self._token()
            if tail == "permissions":
                self._reply(200, registry.get_permissions(stream_id, token))
            else:
                self._reply(200, registry.get_stream(stream_id, token))
        except HttpError as err:
            self._reply(err.code, {"error": str(err)})
        except Exception as err:  # noqa: BLE001 — model a broken core API
            self._reply(500, {"error": str(err)})


def serve_core_api(
    registry: InMemoryCoreApi, host: str = "127.0.0.1", port: int = 0
) -> socketserver.ThreadingTCPServer:
    """Start the core-API test server on a background thread; the bound
    port is in `.server_address`.  Backed by the same InMemoryCoreApi used
    for in-process runs, so grants/streams configured on the registry are
    visible over the socket immediately."""
    return adapter.start(_CoreApiHandler, host, port, registry=registry)
