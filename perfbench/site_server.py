"""A threaded HTTP server that serves the materialized synthetic site from
memory and counts what the fetch layer asks of it."""

from __future__ import annotations

import http.server
import socketserver
import threading
import time
from urllib.parse import urlparse


def materialize(corpus_pdf) -> dict[str, bytes]:
    """URL path on the local server → page body, one entry per corpus page."""
    pages = {}
    for url, html in zip(corpus_pdf["url"], corpus_pdf["html"]):
        p = urlparse(url)
        pages[f"/{p.netloc}{p.path}"] = html.encode("utf-8")
    return pages


class _Server(socketserver.ThreadingMixIn, http.server.HTTPServer):
    daemon_threads = True
    allow_reuse_address = True


class SiteServer:
    """Logs every request as (start, end), in epoch seconds, so the fetch
    layer's load can be read over any window (``window``)."""

    def __init__(self, pages: dict[str, bytes]):
        self.pages = pages
        self.log: list[tuple[float, float]] = []
        log = self.log

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_GET(self):  # noqa: N802 - http.server API
                t0 = time.time()
                body = pages.get(self.path)
                if body is None:
                    self.send_response(404)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                else:
                    self.send_response(200)
                    self.send_header("Content-Type", "text/html; charset=utf-8")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                log.append((t0, time.time()))

            def log_message(self, *a):
                pass

        self._httpd = _Server(("127.0.0.1", 0), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever,
                                        daemon=True)
        self._thread.start()

    def window(self, t0: float, t1: float) -> dict:
        """Requests that started in [t0, t1): how many, service seconds
        summed over them, and the most in flight at once."""
        reqs = [r for r in self.log if t0 <= r[0] < t1]
        # at equal times an end sorts before a start
        edges = sorted([(a, 1) for a, _ in reqs] + [(b, -1) for _, b in reqs])
        inflight = peak = 0
        for _, step in edges:
            inflight += step
            peak = max(peak, inflight)
        return {"requests": len(reqs),
                "service_s": sum(b - a for a, b in reqs),
                "inflight_max": peak}

    def rewrite(self):
        """URL rewrite for sources.http_fetch: production host → this server."""
        port = self.port

        def rw(url: str) -> str:
            p = urlparse(url)
            return f"http://127.0.0.1:{port}/{p.netloc}{p.path}"
        return rw

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join()
