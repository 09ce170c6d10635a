"""HTTP stand-in for the connector's paginated REST API, run in its own
process so its CPU never lands on the measured program's process tree.

    python3 perfbench/server.py --seed 7 --records 20000 --generations 9 --workers 4

Renders every generation's pages to JSON bytes first, then prints
``PORT <n>`` once listening, so a request only copies out bytes and the
program never waits for the stand-in's data generation.
``GET /records?gen=G&page=P&per_page=K`` serves page P of generation G
shaped like the engine's offset-pagination contract (``{"meta": {"page", "per_page", "total"}, "data": [...]}``);
``GET /stats`` reports request counts and this process's CPU seconds.
Requests are handled by a pool of ``--workers`` threads, so the server
never holds more connections in service than that.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import urllib.parse
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from inputs import CONNECTOR_RECORDS, PAGE_SIZE, connector_records  # noqa: E402


class Collection:
    """Pre-encoded pages of generations 1..``generations``."""

    def __init__(self, seed: int, n: int, generations: int):
        self.n = n
        self._pages: dict[int, list[bytes]] = {}
        for gen in range(1, generations + 1):
            recs = connector_records(seed, gen, n)
            self._pages[gen] = [
                json.dumps(recs[i : i + PAGE_SIZE]).encode() for i in range(0, n, PAGE_SIZE)
            ]
        self._lock = threading.Lock()
        self.requests = 0
        self.data_pages: set[tuple[int, int]] = set()

    def page_body(self, gen: int, page: int, per_page: int) -> bytes:
        if per_page != PAGE_SIZE:
            raise ValueError(f"per_page must be {PAGE_SIZE}")
        if gen not in self._pages:
            raise ValueError(f"gen must be 1..{len(self._pages)}")
        pages = self._pages[gen]
        data = pages[page - 1] if 1 <= page <= len(pages) else b"[]"
        with self._lock:
            self.requests += 1
            if data != b"[]":
                self.data_pages.add((gen, page))
        meta = json.dumps({"page": page, "per_page": per_page, "total": self.n})
        return b'{"meta": ' + meta.encode() + b', "data": ' + data + b"}"

    def stats(self) -> bytes:
        with self._lock:
            return json.dumps({
                "requests": self.requests,
                "data_pages": len(self.data_pages),
                "cpu_s": time.process_time(),
            }).encode()


class PooledHTTPServer(HTTPServer):
    """HTTPServer whose requests run on a fixed-size thread pool."""

    request_queue_size = 64

    def __init__(self, addr, handler, workers: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=workers)

    def process_request(self, request, client_address):
        self.pool.submit(self._serve, request, client_address)

    def _serve(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def make_handler(coll: Collection):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def _send(self, code: int, body: bytes) -> None:
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            url = urllib.parse.urlparse(self.path)
            if url.path == "/stats":
                self._send(200, coll.stats())
                return
            if url.path != "/records":
                self._send(404, b"{}")
                return
            q = dict(urllib.parse.parse_qsl(url.query))
            try:
                body = coll.page_body(
                    int(q["gen"]), int(q.get("page", "1")), int(q.get("per_page", "0"))
                )
            except (KeyError, ValueError) as exc:
                self._send(400, json.dumps({"error": str(exc)}).encode())
                return
            self._send(200, body)

    return Handler


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--records", type=int, default=CONNECTOR_RECORDS)
    ap.add_argument("--generations", type=int, required=True)
    ap.add_argument("--workers", type=int, required=True)
    args = ap.parse_args()
    coll = Collection(args.seed, args.records, args.generations)
    server = PooledHTTPServer(("127.0.0.1", 0), make_handler(coll), args.workers)
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever(poll_interval=0.2)
    except KeyboardInterrupt:
        pass
    finally:
        server.pool.shutdown(wait=True)
        server.server_close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
