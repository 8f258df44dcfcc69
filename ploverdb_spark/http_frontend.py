"""Dependency-free HTTP frontend over :func:`ploverdb_spark.api.handle`.

The reference serves its endpoints through Flask + uwsgi (main.py routes,
uwsgi.ini worker/harakiri config).  This module is the stdlib equivalent:
a ``ThreadingHTTPServer`` whose handler parses the KP endpoint prefix and
path the way the reference's URL map does (``/<endpoint>/<path>`` with a
default-endpoint fallback) and delegates every route to ``api.handle`` —
the dispatcher stays the single source of endpoint semantics, so anything
tested against ``handle`` behaves identically over HTTP.

Threading matches the engine's serving stance: each connection gets a
thread, and a request that needs Spark drives its own job group under the
FAIR scheduler (api.py), so a burst of requests shares the session
without FIFO starvation.  Production
deployments that want uvicorn/gunicorn semantics can mount ``handle``
behind any framework in a few lines; nothing here is load-bearing beyond
routing.
"""

from __future__ import annotations

import gc
import json
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from ploverdb_spark.api import KpRegistry, handle
from ploverdb_spark.query.response import Encoded

GET_PATHS = {
    "meta_knowledge_graph",
    "sri_test_triples",
    "healthcheck",
    "code_version",
    "get_logs",
    "logs",  # the reference registers /get_logs and /logs (main.py:626-627)
    "debug",
    "debug/last",
    "",  # instance home page (reference main.py:130)
    "home",  # per-KP home page (reference main.py:651)
}
# data routes are double-registered like the reference (main.py:222-241)
POST_PATHS = {
    "query",
    "edges",
    "get_edges",
    "neighbors",
    "get_neighbors",
    "rebuild",
}
KNOWN_PATHS = GET_PATHS | POST_PATHS


def _json_pieces(obj: Any, out: list[str], depth: int) -> None:
    """Append ``json.dumps(obj)`` to ``out`` in pieces: dicts and lists
    down to ``depth`` levels are split per member, so a large response
    (a TRAPI knowledge graph of thousands of edges) never exists as one
    string, and again as bytes, beside the objects it encodes.  An
    Encoded member (an indexed answer's knowledge graph and results) is
    JSON text already, and its pieces pass through.  The pieces are ASCII
    (``ensure_ascii``), one byte per character."""
    if isinstance(obj, Encoded):
        out.append(obj.brackets[0])
        for i, piece in enumerate(obj.pieces):
            out.extend((", ", piece) if i else (piece,))
        out.append(obj.brackets[1])
    elif depth and isinstance(obj, dict) and obj and all(isinstance(k, str) for k in obj):
        sep = "{"
        for k, v in obj.items():
            out.append(f"{sep}{json.dumps(k)}: ")
            _json_pieces(v, out, depth - 1)
            sep = ", "
        out.append("}")
    elif depth and isinstance(obj, list) and obj:
        sep = "["
        for v in obj:
            out.append(sep)
            _json_pieces(v, out, depth - 1)
            sep = ", "
        out.append("]")
    else:
        out.append(json.dumps(obj))


def _route(registry: KpRegistry, raw_path: str) -> tuple[str | None, str]:
    """'/endpoint/path' or '/path' -> (endpoint or None, path).

    Mirrors the reference's per-KP URL prefixes (main.py:50-65): a first
    segment naming a registered KP selects it; otherwise the default
    endpoint serves the bare path.  A bare ``/<kp>`` is that KP's home
    page (reference main.py:651-658); bare ``/`` is the instance home.
    """
    parts = [p for p in raw_path.split("?")[0].split("/") if p]
    if parts and parts[0] in registry._engines:
        return parts[0], "/".join(parts[1:]) or "home"
    return None, "/".join(parts)


class _Handler(BaseHTTPRequestHandler):
    registry: KpRegistry  # set by serve()
    # persistent connections: a client's requests share one handler
    # thread instead of a TCP connect and a thread each
    protocol_version = "HTTP/1.1"
    disable_nagle_algorithm = True

    def log_message(self, fmt: str, *args: Any) -> None:  # quiet by default
        pass

    def _respond(self, status: int, body: Any) -> None:
        is_html = isinstance(body, str) and body.lstrip().startswith("<")
        pieces: list[str] = []
        if isinstance(body, str):
            data = body.encode()
        else:
            _json_pieces(body, pieces, depth=4)
            data = b""
        self.send_response(status)
        self.send_header(
            "Content-Type", "text/html" if is_html else "application/json"
        )
        self.send_header("Content-Length", str(len(data) + sum(map(len, pieces))))
        self.end_headers()
        batch: list[str] = []
        size = 0
        for p in pieces:
            batch.append(p)
            size += len(p)
            if size >= 65536:
                self.wfile.write("".join(batch).encode())
                batch, size = [], 0
        self.wfile.write(data or "".join(batch).encode())

    def _dispatch(self, payload: dict | None, allowed: set[str]) -> None:
        endpoint, path = _route(self.registry, self.path)
        if path not in KNOWN_PATHS:
            self._respond(404, {"error": f"Unknown path: {path!r}"})
            return
        if path not in allowed:
            # The reference registers every route single-method (@app.get /
            # @app.post, main.py:130-651); Flask answers the other verb
            # with 405, so we must too — not a 400 from the engine.
            self._respond(405, {"error": f"Method not allowed for {path!r}"})
            return
        status, body = handle(self.registry, path, payload, endpoint=endpoint)
        self._respond(status, body)

    def do_GET(self) -> None:  # noqa: N802 — http.server API
        self._dispatch(None, GET_PATHS)

    def do_POST(self) -> None:  # noqa: N802 — http.server API
        length = self.headers.get("Content-Length") or "0"
        if not length.isdecimal():
            # the body's end is unknown: answer, then close the connection
            self.close_connection = True
            self._respond(400, {"error": f"Bad Content-Length: {length!r}"})
            return
        raw = self.rfile.read(int(length))
        try:
            payload = json.loads(raw) if raw else {}
        except json.JSONDecodeError:
            self._respond(400, {"error": "Request body is not valid JSON."})
            return
        self._dispatch(payload, POST_PATHS)


def serve(
    registry: KpRegistry, host: str = "0.0.0.0", port: int = 9990
) -> ThreadingHTTPServer:
    """Start serving ``registry`` on ``host:port``; returns the running
    server (call ``.shutdown()`` to stop).  The caller owns the blocking
    decision — ``serve_forever`` runs on a daemon thread so embedding in
    tests or a supervisor loop is trivial."""
    import threading

    handler = type("BoundHandler", (_Handler,), {"registry": registry})
    # TCPServer's default listen backlog is 5 — a 100-way simultaneous
    # burst overflows it and the tail sees connection resets before the
    # app ever runs.  Match the nginx/uwsgi listen backlog the reference
    # deploys with (uwsgi.ini:33; api.DEFAULT_BACKLOG).
    server_cls = type(
        "DeepBacklogServer", (ThreadingHTTPServer,), {"request_queue_size": 512}
    )
    server = server_cls((host, port), handler)
    # Everything alive now (the warm engines' index, model and vocab) moves
    # to the permanent generation, so the cyclic collections a big answer's
    # build triggers no longer walk it (reference main.py:73-78).  Here, not
    # in TrapiEngine.warmup: a process serves once, but warms an engine
    # per /rebuild, and each freeze also pins whatever garbage is alive.
    gc.freeze()
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
