"""In-process stub Prometheus serving ``/api/v1/query_range`` from gen.

Mirrors the real endpoint's range rules: both ends inclusive, points on
the ``start + k*step`` grid.  With ``live=True`` a point is served only
once wall-clock time has reached it, so a streaming reader sees data
appear at the rate it is created.  Counts requests, bytes, busy time
(building the answer) and non-2xx answers, and logs every served range for coverage checks.
"""

from __future__ import annotations

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from . import gen


class StubPrometheus:
    def __init__(self, seed: int, series_per_query, missing: float = 0.0, live: bool = False):
        self.seed = seed
        self.series_per_query = series_per_query  # callable: query index -> series count
        self.missing = missing
        self.live = live
        self.lock = threading.Lock()
        self.reset()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_GET(self):  # noqa: N802 - stdlib API name
                t0 = time.perf_counter()
                status, body, logged = stub._answer(self.path)
                # counted before the reply leaves, so a client that has
                # its answer always sees it counted
                stub._count(status, len(body), time.perf_counter() - t0, logged)
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.url = f"http://127.0.0.1:{self.server.server_port}"
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def reset(self) -> None:
        with self.lock:
            self.requests = 0
            self.bytes = 0
            self.busy_s = 0.0
            self.non_2xx = 0
            self.log: list[tuple[int, int, int, int]] = []  # (query, first, last, n)

    def _answer(self, path: str):
        url = urlparse(path)
        q = parse_qs(url.query)
        try:
            if url.path != "/api/v1/query_range":
                raise KeyError(url.path)
            query = gen.QUERY_INDEX[q["query"][0]]
            start = int(float(q["start"][0]))
            end = int(float(q["end"][0]))
            step = int(float(q["step"][0]))
        except (KeyError, ValueError, IndexError):
            return 400, b'{"status":"error","errorType":"bad_data"}', None
        if self.live:
            end = min(end, int(time.time()))
        ts = gen.grid(start, end, step)
        body = gen.range_body(
            self.seed, query, self.series_per_query(query), ts, self.missing
        )
        logged = (query, int(ts[0]), int(ts[-1]), len(ts)) if len(ts) else None
        return 200, body, logged

    def _count(self, status: int, nbytes: int, busy: float, logged) -> None:
        with self.lock:
            self.requests += 1
            self.bytes += nbytes
            self.busy_s += busy
            if not 200 <= status < 300:
                self.non_2xx += 1
            if logged:
                self.log.append(logged)

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=10)
