"""Stdlib HTTP server that serves the polite_crawl fixture as a forward proxy.

Run as its own process: ``python3 perfbench/httpweb.py --seed N --threads T``.
It regenerates the seed's fixture, prints ``PORT <n>`` once it listens on
127.0.0.1, and serves until its stdin closes. The crawler reaches it through
``HttpFetcher``'s proxy setting, so request lines carry absolute URLs on the
fixture's hosts. Each URL is canonicalized and answered with the fixture
page's status and body: GBK pages as raw GBK bytes with no charset header
(the client must sniff the meta tag), everything else as UTF-8. Unknown URLs
get 404. At most ``--threads`` requests are served at once.
"""

from __future__ import annotations

import argparse
import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_spark.textcore import canonicalize  # noqa: E402
from perfbench.inputs import polite_fixture  # noqa: E402

UTF8 = "text/html; charset=utf-8"


def build_pages(seed: int) -> dict[str, tuple[int, bytes, str]]:
    """canonical URL -> (status, body bytes, content type)."""
    fx = polite_fixture(seed)
    gbk = fx.gbk_urls or set()
    return {
        canonicalize(p["url"]): (
            (p["status"], p["body"].encode("gbk"), "text/html")
            if p["url"] in gbk
            else (p["status"], p["body"].encode("utf-8"), UTF8)
        )
        for p in fx.web_graph
    }


class PoolServer(HTTPServer):
    """HTTPServer that hands each connection to a fixed-size thread pool."""

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._serve_one, request, client_address)

    def _serve_one(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


class Handler(BaseHTTPRequestHandler):
    pages: dict[str, tuple[int, bytes, str]] = {}

    def do_GET(self):
        status, body, ctype = self.pages.get(canonicalize(self.path), (404, b"", UTF8))
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):
        pass


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--threads", type=int, required=True)
    a = ap.parse_args()
    Handler.pages = build_pages(a.seed)
    server = PoolServer(("127.0.0.1", 0), Handler, a.threads)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    print(f"PORT {server.server_address[1]}", flush=True)
    sys.stdin.read()  # the parent closes our stdin to stop us
    server.shutdown()
    server.pool.shutdown(wait=True)


if __name__ == "__main__":
    main()
