"""HTTP front door — the engine's analog of the reference Fastify app.

Route-for-route parity with ``packages/fastify-app/src/routes``:

* ``POST /webhooks``   — raw body + ``Stripe-Signature`` HMAC verify, then
  process the event (``routes/webhooks.ts:5-21``; signature check before
  any parse, ``stripeSync.ts:97-105``). Errors → 400 ``Webhook Error: …``.
* ``POST /sync``       — API-key-guarded backfill with optional
  ``created``/``object`` params (``routes/sync.ts:6-23``).
* ``POST /sync/single/:id`` — id-prefix-dispatched point sync
  (``routes/sync.ts:25-50``).
* ``POST /sync/daily|weekly|monthly`` — scheduled incremental windows:
  ``created.gte = now - window`` (``routes/sync/daily.ts:6-26`` etc.).
* ``GET /health``      — liveness (``routes/health.ts``).

API-key guard mirrors ``utils/verifyApiKey.ts:7-33``: reject when the
header is longer than the key, pad to equal length, then timing-safe
compare — no early-exit on length except the one the reference makes.

Frameworkless by necessity and by design: the container has no
FastAPI/Flask, so the server is stdlib ``ThreadingHTTPServer``. The
routing logic lives in :class:`Router`, which is transport-independent
(``handle(method, path, headers, body) → (status, payload)``) — unit
tests exercise it directly; one end-to-end test drives a real socket.

Scale note: the HTTP layer only enqueues work on the driver — every
handler delegates to the engine, whose merges/backfills are distributed
DataFrame jobs. The server itself is a control-plane endpoint (one per
driver), exactly like the reference's single Fastify process fronting
Postgres.
"""

from __future__ import annotations

import hmac
import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import TYPE_CHECKING, Any

if TYPE_CHECKING:  # pragma: no cover
    from stripe_sync_engine_spark.sync.engine import StripeSparkSync

DAY_S = 86_400
SYNC_WINDOWS_S = {"daily": DAY_S, "weekly": 7 * DAY_S, "monthly": 30 * DAY_S}

_SYNC_SINGLE = re.compile(r"^/sync/single/([^/]+)$")


def api_key_matches(authorization: str | None, api_key: str | None) -> bool:
    """Timing-safe API-key check (reference ``verifyApiKey.ts:24-33``)."""
    if not api_key or not authorization:
        return False
    if len(authorization) > len(api_key):
        return False
    padded = authorization.ljust(len(api_key), " ")
    return hmac.compare_digest(padded.encode(), api_key.encode())


def _now_ms() -> int:
    return int(time.time() * 1000)


class Router:
    """Transport-independent request handling for the sync engine.

    ``landing_dir`` switches ``POST /webhooks`` to the high-throughput
    path: after the same HMAC check, the raw body + signature land as one
    signed-envelope file in the streaming landing zone (pipeline
    ``ENVELOPE_TYPE``) and the route returns immediately — a running
    ``start_webhook_stream(..., secret=...)`` consumes, re-verifies, and
    merges in micro-batches. Without it (default), each POST runs the
    per-event merge inline, the reference's own per-request shape."""

    def __init__(
        self,
        engine: StripeSparkSync,
        api_key: str | None = None,
        landing_dir: str | None = None,
    ):
        self.engine = engine
        self.api_key = api_key
        self.landing_dir = landing_dir

    # -- helpers -------------------------------------------------------
    def _unauthorized(self, headers: dict[str, str]) -> bool:
        auth = headers.get("authorization")
        return not api_key_matches(auth, self.api_key)

    @staticmethod
    def _json_body(body: bytes) -> dict[str, Any]:
        if not body:
            return {}
        try:
            parsed = json.loads(body.decode())
        except (ValueError, UnicodeDecodeError):
            return {}
        return parsed if isinstance(parsed, dict) else {}

    # -- dispatch ------------------------------------------------------
    def handle(
        self, method: str, path: str, headers: dict[str, str], body: bytes
    ) -> tuple[int, Any]:
        """Returns (status_code, payload); payload is a dict (→ JSON) or str."""
        headers = {k.lower(): v for k, v in headers.items()}
        if method == "GET" and path == "/health":
            return 200, {"received": True, "statusCode": 200, "ts": _now_ms()}
        if method == "POST" and path == "/webhooks":
            return self._webhooks(headers, body)
        if method == "POST" and path == "/sync":
            return self._sync(headers, body)
        if method == "POST" and (m := _SYNC_SINGLE.match(path)):
            return self._sync_single(headers, m.group(1))
        if method == "POST" and path.startswith("/sync/"):
            window = path.removeprefix("/sync/")
            if window in SYNC_WINDOWS_S:
                return self._sync_window(headers, body, SYNC_WINDOWS_S[window])
        return 404, {"statusCode": 404, "error": "Not Found"}

    # -- routes --------------------------------------------------------
    def _webhooks(self, headers: dict[str, str], body: bytes) -> tuple[int, Any]:
        from stripe_sync_engine_spark.sources.webhook import verify_signature

        signature = headers.get("stripe-signature", "")
        try:
            payload = body.decode()
            if not verify_signature(self.engine.config.webhook_secret, signature, payload):
                raise ValueError("signature verification failed")
            if self.landing_dir is not None:
                self._land(payload, signature)
            else:
                self.engine.process_webhook_events([payload])
        except Exception as err:  # reference returns 400 with the message
            return 400, f"Webhook Error: {err}"
        return 200, {"received": True}

    def _land(self, payload: str, signature: str) -> None:
        """Append one signed envelope to the landing zone as its OWN file:
        Spark's file source discovers new FILES, never appended content, so
        per-request files are the correct granularity (the stream is the
        batcher). Committed via ``commitio.atomic_write_text``, whose
        dot-prefixed temp name the file source ignores — a half-written
        envelope is never listed; the rename makes it visible whole.

        Names must be unique ACROSS PROCESS RESTARTS: a monotonic clock
        restarts at boot, so a post-restart name colliding with an earlier
        envelope would either clobber an unprocessed file via the rename or
        be silently ignored by Spark's file source (which dedups by path).
        wall-clock ns + uuid4 makes collisions impossible in practice."""
        import os
        import uuid

        from stripe_sync_engine_spark.commitio import atomic_write_text

        name = f"{time.time_ns()}_{uuid.uuid4().hex}.jsonl"
        atomic_write_text(
            os.path.join(self.landing_dir, name),
            json.dumps({"payload": payload, "signature": signature}) + "\n",
        )

    def _sync(self, headers: dict[str, str], body: bytes) -> tuple[int, Any]:
        if self._unauthorized(headers):
            return 401, "Unauthorized"
        params = self._json_body(body)
        result = self.engine.sync_backfill(
            object=params.get("object") or "all", created=params.get("created")
        )
        return 200, {"statusCode": 200, "ts": _now_ms(), **result}

    def _sync_single(self, headers: dict[str, str], stripe_id: str) -> tuple[int, Any]:
        if self._unauthorized(headers):
            return 401, "Unauthorized"
        result = self.engine.sync_single_entity(stripe_id)
        return 200, {"statusCode": 200, "ts": _now_ms(), "data": result}

    def _sync_window(
        self, headers: dict[str, str], body: bytes, window_s: int
    ) -> tuple[int, Any]:
        if self._unauthorized(headers):
            return 401, "Unauthorized"
        params = self._json_body(body)
        created = {"gte": int(time.time()) - window_s}
        self.engine.sync_backfill(object=params.get("object") or "all", created=created)
        return 200, {"statusCode": 200, "ts": _now_ms()}


class _Handler(BaseHTTPRequestHandler):
    router: Router  # set by serve()

    def _respond(self) -> None:
        length = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(length) if length else b""
        status, payload = self.router.handle(
            self.command, self.path, dict(self.headers.items()), body
        )
        if isinstance(payload, (dict, list)):
            data, ctype = json.dumps(payload).encode(), "application/json"
        else:
            data, ctype = str(payload).encode(), "text/plain"
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    do_GET = _respond
    do_POST = _respond

    def log_message(self, *args) -> None:  # quiet: the engine has its own logs
        pass


def serve(
    engine: StripeSparkSync,
    api_key: str | None = None,
    host: str = "127.0.0.1",
    port: int = 8080,
    landing_dir: str | None = None,
) -> ThreadingHTTPServer:
    """Start the HTTP server on a daemon thread; returns the server (call
    ``.shutdown()`` to stop). Mirrors the reference's ``server.ts`` boot.
    ``landing_dir`` enables the streaming webhook path (see Router)."""
    router = Router(engine, api_key=api_key, landing_dir=landing_dir)
    handler = type("BoundHandler", (_Handler,), {"router": router})
    server = ThreadingHTTPServer((host, port), handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server
