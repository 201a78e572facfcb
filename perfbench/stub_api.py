"""In-process Dataset API stub for the ``import`` workload.

Serves the two endpoints ``pipeline.http_client`` reads, with no artificial
delay:

* ``GET /instances/{id}`` -> ``{"id": ..., "headers": [...]}``
* ``GET /instances/{id}/dimensions?offset=N&limit=B`` ->
  ``{"items": [...], "total_count": T}``

Every request is counted per endpoint together with the time the stub spent
serving it, so the benchmark can report request counts and server-side busy
time for each fetcher.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse


class StubDatasetAPI:
    """Threaded HTTP server on 127.0.0.1; ``close()`` stops it and joins
    its thread."""

    def __init__(self, instances: dict[str, dict]):
        # instance_id -> {"headers": [...], "dimensions": [item, ...]}
        self._instances = dict(instances)
        self._lock = threading.Lock()
        self._counts = {"instance": 0, "dimensions": 0}
        self._busy_s = {"instance": 0.0, "dimensions": 0.0}
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def do_GET(self):
                t0 = time.perf_counter()
                kind, body = stub._route(self.path)
                if body is None:
                    self.send_error(404)
                    return
                payload = json.dumps(body).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)
                with stub._lock:
                    stub._counts[kind] += 1
                    stub._busy_s[kind] += time.perf_counter() - t0

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self.url = f"http://127.0.0.1:{self._server.server_port}"
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="stub-dataset-api",
            daemon=True,
        )
        self._thread.start()

    def _route(self, raw_path: str) -> tuple[str, dict | None]:
        u = urlparse(raw_path)
        parts = [unquote(p) for p in u.path.strip("/").split("/")]
        if len(parts) < 2 or parts[0] != "instances":
            return "instance", None
        with self._lock:
            inst = self._instances.get(parts[1])
        if len(parts) == 2:
            if inst is None:
                return "instance", None
            return "instance", {"id": parts[1], "headers": inst["headers"]}
        if len(parts) == 3 and parts[2] == "dimensions" and inst is not None:
            q = {k: v[0] for k, v in parse_qs(u.query).items()}
            items = inst["dimensions"]
            off, lim = int(q.get("offset", 0)), int(q.get("limit", len(items)))
            return "dimensions", {
                "items": items[off : off + lim],
                "total_count": len(items),
                "offset": off,
                "limit": lim,
            }
        return "dimensions", None

    def snapshot(self) -> dict:
        """Copy of the request counters, for per-span deltas."""
        with self._lock:
            return {
                "instance": self._counts["instance"],
                "dimensions": self._counts["dimensions"],
                "instance_s": self._busy_s["instance"],
                "dimensions_s": self._busy_s["dimensions"],
            }

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)
