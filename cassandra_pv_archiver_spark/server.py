"""Thin HTTP serving shim for the reference's archive-access REST API
(SURVEY.md §3.1) — the ~100-line handler that binds the already-tested
library layers end-to-end: URL codec -> channel resolution -> §4 planner
(level selection + retention fallback) -> limit-mode range scans ->
JSON V1 serialization.

Reference surface (`Api10Controller.java`):

  GET /archive-access/api/1.0/archive/
      archive listing (`:121-164`) — one archive (key 1) in this engine.
  GET /archive-access/api/1.0/archive/1/channels/
      all channel names (`:166-211`).
  GET /archive-access/api/1.0/archive/1/channels-by-pattern/{glob}
      glob search over channel names (C1/F2).
  GET /archive-access/api/1.0/archive/1/channels/{channel}/samples
          ?start=<ns>&end=<ns>[&count=<n>]
      the time-range sample query (`:235-279`): 400 unless
      0 <= start <= end and count > 0; 404 for an unknown channel;
      response = JSON array of V1 sample objects (`:520-532`).

This is deliberately a *shim*: every decision it makes is one call into
the library (`plan_samples`, `ChannelRegistry`, `json_v1`), so the HTTP
layer adds no semantics of its own — the reference's controller is the
same shape over its service beans. The stdlib ``ThreadingHTTPServer``
stands in for the servlet container; any WSGI/ASGI frontend could bind
``ArchiveApp`` the same way.

Serving-at-scale note: count-driven queries are dashboard-sized, but a
raw query (no ``count``) over a long range is unbounded — so the samples
endpoint STREAMS: ``toLocalIterator()`` holds one partition at a time on
the driver and the HTTP handler chunk-writes each sample, mirroring the
reference's per-sample servlet streaming
(`Api10Controller.sendSamples:520-532`). Driver memory stays bounded
regardless of result size; the heavy lifting stays in Spark executors.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import functions as F

from .management import ChannelRegistry, url_decode
from .plans.planner import plan_samples, select_decimation_level
from .sources.archive_store import ArchiveStore

_PREFIX = "/archive-access/api/1.0/archive"

#: largest POST body the server will buffer — XML config imports for
#: ~100k channels fit in single-digit MB; anything bigger is abuse of
#: the pre-auth keep-alive drain (ADVICE r9), answered 413 undrained
MAX_REQUEST_BODY_BYTES = 8 * 1024 * 1024


class ApiError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


class ArchiveApp:
    """Request -> response-dict dispatcher (HTTP-framework-free, so tests
    can call it directly and any server can host it)."""

    def __init__(self, store: ArchiveStore, registry: ChannelRegistry):
        self.store = store
        self.registry = registry

    # -- routing ----------------------------------------------------------
    def handle(self, path: str, query: dict[str, list[str]]):
        if not path.startswith(_PREFIX):
            raise ApiError(404, f"unknown path: {path}")
        rest = [p for p in path[len(_PREFIX):].split("/") if p]
        if not rest:
            return self.archive_info()
        if rest[0] != "1":
            raise ApiError(404, f"unknown archive key: {rest[0]}")
        if len(rest) == 1 or (len(rest) == 2 and rest[1] == "channels"):
            return self.channels()
        if len(rest) == 3 and rest[1] == "channels-by-pattern":
            return self.channels_by_pattern(self._decode(rest[2]))
        if len(rest) == 4 and rest[1] == "channels" and rest[3] == "samples":
            return self.samples(self._decode(rest[2]), query)
        raise ApiError(404, f"unknown path: {path}")

    @staticmethod
    def _decode(segment: str) -> str:
        try:
            return url_decode(segment)
        except ValueError as e:
            # a malformed percent escape is the CLIENT's error — 400,
            # not an escaped exception that drops the connection
            # (round-11 review)
            raise ApiError(
                400, f"bad channel name encoding: {e}"
            ) from None

    # -- endpoints ---------------------------------------------------------
    def archive_info(self):
        """`Api10Controller.java:121-164`: archive listing — this engine
        serves exactly one archive (the reference's default key 1)."""
        return [
            {
                "key": 1,
                "name": "Archive",
                "description": "PySpark archive store",
                "channelCount": len(self.registry.list_channels()),
            }
        ]

    def channels(self):
        """`Api10Controller.java:166-211`: all channel names, sorted."""
        return sorted(c.channel_name for c in self.registry.list_channels())

    def channels_by_pattern(self, pattern: str):
        """C1/F2 glob search (brackets literal, per the reference)."""
        return sorted(
            c.channel_name for c in self.registry.channels_by_glob(pattern)
        )

    def samples(self, channel: str, query: dict[str, list[str]]):
        """`Api10Controller.java:235-279` + `sendSamples:382-518`."""
        try:
            start = int(query["start"][0])
            end = int(query["end"][0])
        except (KeyError, ValueError, IndexError):
            raise ApiError(400, "start and end are required integer ns") from None
        count = None
        if "count" in query:
            try:
                count = int(query["count"][0])
            except (ValueError, IndexError):
                raise ApiError(400, "count must be an integer") from None
            if count <= 0:
                raise ApiError(400, "count must be positive")
        if not (0 <= start <= end):
            raise ApiError(400, "need 0 <= start <= end")
        cfg = self.registry.get_channel(channel)
        if cfg is None:
            raise ApiError(404, f"unknown channel: {channel}")
        if not self.store.levels():
            # a registered channel on a store with no ingested data yet
            # (fresh deployment): the reference answers an empty sample
            # list, not an error — and the planner would (correctly)
            # refuse a store with no raw level (round-11 review)
            return []

        # only the CHANNEL's configured levels are candidates (plus raw,
        # always): a level dropped by update_channel must stop being
        # served even while other channels still populate it store-wide
        # (round-11 review; the reference scopes levels per channel in
        # its metadata)
        allowed = set(cfg.decimation_levels or {0}) | {0}
        periods = [p for p in self.store.levels() if p in allowed]
        levels = self._aligned_levels(channel, periods)
        # serving fast lane: probe triples from partition-bounded manifest
        # walks (typically ONE date partition per level), so plan_samples
        # skips its generic probe aggregation — whose `t <= start` arm
        # would scan history partitions at archive scale. Only levels the
        # planner may use (at or above the selected one) are probed.
        best = select_decimation_level(periods, start, end, count)
        stats = {
            (period, ch): triple
            for period in periods
            if period >= best
            for ch, triple in self.store.probe_stats(
                period, start, end, [channel]
            ).items()
        }
        plan = plan_samples(levels, start, end, count=count, stats=stats)
        rendered = _render_plan_json_v1(plan)
        # Stream, don't collect: the reference writes sample-by-sample
        # through the servlet stream (`Api10Controller.sendSamples:520-532`)
        # precisely because a raw query (no ``count``) over a long range
        # is unbounded — toLocalIterator holds one partition at a time
        # driver-side, and the HTTP handler chunk-writes each sample, so
        # driver memory stays bounded regardless of result size.
        rows = rendered.orderBy("t", "level").select("json").toLocalIterator()
        return (json.loads(r.json) for r in rows)

    def _aligned_levels(self, channel: str, periods=None):
        """Store levels, column-aligned for the planner: raw rows carry v,
        decimated rows carry mean/vmin/vmax; both get a ``level`` tag the
        serializer dispatches on (raw -> double, decimated ->
        minMaxDouble). ``periods`` restricts to the channel's configured
        levels (samples() passes the store∩config set)."""
        cols = [
            "channel", "t", "v", "severity", "status",
            "mean", "vmin", "vmax", "quality", "level",
        ]
        out = {}
        for period in (
            self.store.levels() if periods is None else periods
        ):
            df = self.store.read_samples(period, channels=[channel])
            if period == 0:
                df = df.select(
                    "channel", "t", "v", "severity", "status",
                    F.lit(None).cast("double").alias("mean"),
                    F.lit(None).cast("double").alias("vmin"),
                    F.lit(None).cast("double").alias("vmax"),
                    F.lit(None).cast("string").alias("quality"),
                    F.lit(0).alias("level"),
                )
            else:
                df = df.select(
                    "channel", "t",
                    F.lit(None).cast("double").alias("v"),
                    "severity", "status", "mean", "vmin", "vmax", "quality",
                    F.lit(period).alias("level"),
                )
            out[period] = df.select(cols)
        return out


def _render_plan_json_v1(plan):
    """One ``json`` column per planned row: raw rows through the raw
    double serializer, decimated rows through minMaxDouble
    (`ChannelAccessSampleValueAccess.java:238-316,413-514`)."""
    from .functions.json_v1 import aggregated_to_json, raw_double_to_json

    cols = ["channel", "t", "level", "json"]
    raw = plan.filter(F.col("level") == 0)
    dec = plan.filter(F.col("level") != 0)
    out = raw_double_to_json(raw).select(cols)
    return out.unionByName(aggregated_to_json(dec).select(cols))


class _Handler(BaseHTTPRequestHandler):
    app: ArchiveApp  # set by serve()
    admin = None  # optional AdminApp, set by serve()
    protocol_version = "HTTP/1.1"  # needed for chunked transfer encoding

    def do_GET(self):  # noqa: N802 (stdlib API name)
        u = urlparse(self.path)
        try:
            if self.admin is not None and u.path.startswith("/admin/api"):
                body = self.admin.handle_get(u.path, parse_qs(u.query))
            else:
                body = self.app.handle(u.path, parse_qs(u.query))
        except ApiError as e:
            payload = json.dumps({"error": str(e)}).encode("utf-8")
            self._send_whole(e.status, payload)
            return
        except Exception as e:  # noqa: BLE001 - round-11 review
            # any non-ApiError escape (a Spark failure mid-plan, an
            # unexpected bug) must still produce an HTTP response — a
            # bare propagation drops the connection with zero bytes
            payload = json.dumps(
                {"error": f"internal error: {type(e).__name__}: {e}"}
            ).encode("utf-8")
            self._send_whole(500, payload)
            return
        if isinstance(body, (list, dict)):
            self._send_whole(200, json.dumps(body).encode("utf-8"))
        else:
            # iterator body (the samples endpoint): chunked streaming,
            # one JSON element at a time — byte-identical to
            # ``json.dumps(list(body))`` but never materializing the list
            # (`Api10Controller.sendSamples:520-532` streams the same way)
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Transfer-Encoding", "chunked")
            self.end_headers()
            try:
                self._write_chunk(b"[")
                for i, item in enumerate(body):
                    sep = b", " if i else b""
                    self._write_chunk(sep + json.dumps(item).encode("utf-8"))
                self._write_chunk(b"]")
                self.wfile.write(b"0\r\n\r\n")
            except Exception:  # noqa: BLE001 - round-11 review
                # a failure mid-stream (executor loss during the
                # toLocalIterator walk) can no longer change the status
                # line — abort WITHOUT the terminating 0-chunk so the
                # client sees a truncated chunked body (an error), never
                # a silently-complete-looking prefix
                self.close_connection = True

    def do_POST(self):  # noqa: N802 (stdlib API name)
        """Admin mutations (`ApiController.java` POST routes). Request
        bodies are JSON; per-command failures ride inside a 200 response
        (the reference's batch contract), only malformed requests and
        unknown routes produce error statuses."""
        u = urlparse(self.path)
        if "chunked" in (
            self.headers.get("Transfer-Encoding") or ""
        ).lower():
            # chunked request bodies are not parsed here: treating the
            # body as zero-length would leave the chunk frames on the
            # socket and desynchronize the next keep-alive request
            # (round-11 review) — 411 + close, the standard answer
            self.close_connection = True
            self._send_whole(
                411,
                json.dumps(
                    {"error": "chunked request bodies not supported; "
                              "send Content-Length"}
                ).encode(),
            )
            return
        # drain the body BEFORE any routing decision: on an HTTP/1.1
        # keep-alive connection an early 404 would leave the unread body
        # bytes on the socket, desynchronizing the next request's parse
        try:
            n = int(self.headers.get("Content-Length") or 0)
        except ValueError:
            # a malformed length means the body CANNOT be drained — any
            # uncaught error here would kill the socket with no response
            # at all; answer 400 and drop the (undrainable) connection
            self.close_connection = True
            self._send_whole(
                400,
                json.dumps({"error": "malformed Content-Length"}).encode(),
            )
            return
        if n > MAX_REQUEST_BODY_BYTES:
            # ADVICE r9: the keep-alive drain runs BEFORE authentication,
            # so an unauthenticated client could otherwise make the
            # handler buffer an arbitrarily large body in memory before
            # any 401 is possible. Refuse oversized bodies WITHOUT
            # draining (413 + close — the connection is unusable for
            # keep-alive once we skip the drain, which is exactly why
            # close_connection is set).
            self.close_connection = True
            self._send_whole(
                413,
                json.dumps(
                    {"error": "request body too large "
                              f"(max {MAX_REQUEST_BODY_BYTES} bytes)"}
                ).encode(),
            )
            return
        raw = self.rfile.read(n) if n > 0 else b""
        try:
            if self.admin is None or not u.path.startswith("/admin/api"):
                raise ApiError(404, f"unknown path: {u.path}")
            # every admin POST is a mutation: HTTP Basic + ROLE_ADMIN
            # before the body is even parsed (the reference's
            # @Secured("ROLE_ADMIN") filter runs ahead of the controller,
            # `ApiController.java:532,764`)
            self.admin.check_admin(self.headers.get("Authorization"))
            try:
                body = json.loads(raw.decode("utf-8")) if raw else {}
            except (UnicodeDecodeError, json.JSONDecodeError):
                raise ApiError(400, "request body must be JSON") from None
            if not isinstance(body, dict):
                # valid JSON but not an object ([] / 42 / "x"): every
                # admin route takes a JSON object; letting it through
                # ends as an AttributeError that kills the connection
                # with no response
                raise ApiError(400, "request body must be a JSON object")
            result = self.admin.handle_post(u.path, body)
        except ApiError as e:
            payload = json.dumps({"error": str(e)}).encode("utf-8")
            extra = (
                {"WWW-Authenticate": 'Basic realm="archive-admin"'}
                if e.status == 401
                else None
            )
            self._send_whole(e.status, payload, extra)
            return
        except Exception as e:  # noqa: BLE001 - round-11 review
            # same non-ApiError fallback as do_GET: the client must get
            # an HTTP response, not a dropped connection (e.g. a
            # UserRegistry I/O failure inside check_admin)
            self._send_whole(
                500,
                json.dumps(
                    {"error": f"internal error: {type(e).__name__}: {e}"}
                ).encode("utf-8"),
            )
            return
        # reference parity: any failed command in a batch flips the
        # status to 500 while still returning the full results body
        # (`runArchiveConfigurationCommands:789-795`)
        status = 200
        if isinstance(result, dict) and any(
            not r.get("success", True) for r in result.get("results", [])
        ):
            status = 500
        self._send_whole(status, json.dumps(result).encode("utf-8"))

    def _send_whole(self, status: int, payload: bytes, extra=None):
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        if self.close_connection:
            # a handler that decided to drop the connection (undrained
            # body) must SAY so, or a keep-alive client reuses a socket
            # the server is about to close and loses its next request
            self.send_header("Connection", "close")
        for k, v in (extra or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(payload)

    def _write_chunk(self, data: bytes):
        if data:
            self.wfile.write(f"{len(data):X}\r\n".encode("ascii"))
            self.wfile.write(data)
            self.wfile.write(b"\r\n")

    def log_message(self, *args):  # quiet test runs
        pass


def serve(app: ArchiveApp, host: str = "127.0.0.1", port: int = 0,
          admin=None):
    """Start the shim on (host, port); port 0 picks an ephemeral port.
    Returns the server object (``server_address[1]`` has the bound port;
    ``shutdown()`` stops it). Runs in a daemon thread — the Spark session
    and driver own process lifetime, matching the reference's embedded
    servlet container. Pass an ``admin_api.AdminApp`` to also bind the
    administrative routes under ``/admin/api``."""
    handler = type("Handler", (_Handler,), {"app": app, "admin": admin})
    srv = ThreadingHTTPServer((host, port), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv
