"""Elasticsearch ``_bulk`` stand-in, run as its own process.

Acks every bulk item with 201 and injects no errors. For every document
it records the index, the doc id, ``rating_id``, ``rating_time`` and the
receipt time (ms since the epoch, taken when the request arrives), plus
request and byte counts and its own handler time. Requests are served by
a fixed pool of at most ``--threads`` threads.

    python3 perfbench/esstub.py --port-file PATH --threads N

Control endpoints (loopback only):

- ``POST /_bench/take``  return and clear everything recorded so far
- ``POST /_bench/quit``  stop serving and exit
"""

from __future__ import annotations

import argparse
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer


class PooledHTTPServer(HTTPServer):
    """HTTPServer whose requests run on a bounded thread pool."""

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 - one bad request must not stop the stub
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


class Recorder:
    def __init__(self):
        self.lock = threading.Lock()
        self.reset()

    def reset(self):
        self.docs: list[list] = []
        self.requests = 0
        self.bytes = 0
        self.handler_ms: list[float] = []

    def take(self) -> dict:
        with self.lock:
            out = {
                "docs": self.docs,
                "requests": self.requests,
                "bytes": self.bytes,
                "handler_ms": self.handler_ms,
            }
            self.reset()
        return out


def parse_bulk(body: bytes, recv_ms: float) -> tuple[list[list], list[str]]:
    """(recorded docs, per-item action names) of one ``_bulk`` body."""
    docs: list[list] = []
    actions: list[str] = []
    lines = body.split(b"\n")
    i = 0
    while i < len(lines):
        line = lines[i]
        i += 1
        if not line.strip():
            continue
        action = json.loads(line)
        act, meta = next(iter(action.items()))
        actions.append(act)
        if act == "delete":
            docs.append([meta.get("_index"), meta.get("_id"), None, None, recv_ms])
            continue
        src = json.loads(lines[i])
        i += 1
        docs.append([
            meta.get("_index"),
            meta.get("_id"),
            src.get("rating_id"),
            src.get("rating_time"),
            recv_ms,
        ])
    return docs, actions


def make_handler(rec: Recorder, server_ref: list):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, fmt, *args):
            pass

        def _reply(self, code: int, body: bytes) -> None:
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _body(self) -> bytes:
            return self.rfile.read(int(self.headers.get("Content-Length", "0")))

        def do_PUT(self):  # noqa: N802 - http.server API
            self._body()
            self._reply(200, b'{"acknowledged":true}')

        def do_POST(self):  # noqa: N802 - http.server API
            recv_ms = time.time() * 1000.0
            t0 = time.perf_counter()
            path = self.path.rstrip("/")
            body = self._body()
            if path.endswith("/_bulk"):
                docs, actions = parse_bulk(body, recv_ms)
                items = ",".join(
                    '{"%s":{"status":%d,"result":"%s"}}'
                    % (a, 200 if a == "delete" else 201,
                       "deleted" if a == "delete" else "created")
                    for a in actions
                )
                reply = ('{"took":0,"errors":false,"items":[%s]}' % items).encode()
                with rec.lock:
                    rec.docs.extend(docs)
                    rec.requests += 1
                    rec.bytes += len(body)
                    rec.handler_ms.append((time.perf_counter() - t0) * 1000.0)
                self._reply(200, reply)
            elif path == "/_bench/take":
                self._reply(200, json.dumps(rec.take()).encode())
            elif path == "/_bench/quit":
                self._reply(200, b"{}")
                threading.Thread(target=server_ref[0].shutdown).start()
            else:
                self._reply(404, b'{"error":"no such endpoint"}')

    return Handler


class EsStub:
    """The benchmark's handle on a stub process: start, take records,
    stop (and wait for the process to end)."""

    def __init__(self, workdir: str, threads: int):
        import subprocess
        import sys

        self.port_file = os.path.join(workdir, "esstub.port")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__),
             "--port-file", self.port_file, "--threads", str(threads)],
        )
        deadline = time.time() + 30
        while not os.path.exists(self.port_file):
            if self.proc.poll() is not None or time.time() > deadline:
                raise RuntimeError("ES stand-in did not start")
            time.sleep(0.02)
        with open(self.port_file) as f:
            self.url = f"http://127.0.0.1:{int(f.read())}"

    def _post(self, path: str) -> dict:
        import urllib.request

        req = urllib.request.Request(self.url + path, data=b"{}", method="POST")
        with urllib.request.urlopen(req, timeout=60) as resp:  # noqa: S310
            return json.loads(resp.read())

    def take(self) -> dict:
        return self._post("/_bench/take")

    def stop(self) -> None:
        if self.proc.poll() is None:
            try:
                self._post("/_bench/quit")
            except OSError:
                self.proc.terminate()
            try:
                self.proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 - make sure it is gone
                self.proc.kill()
                self.proc.wait(timeout=20)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port-file", required=True)
    ap.add_argument("--threads", type=int, required=True)
    args = ap.parse_args()
    rec = Recorder()
    ref: list = []
    threads = max(1, min(args.threads, os.cpu_count() or 1))
    server = PooledHTTPServer(("127.0.0.1", 0), make_handler(rec, ref), threads)
    ref.append(server)
    tmp = args.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(server.server_address[1]))
    os.replace(tmp, args.port_file)
    try:
        server.serve_forever(poll_interval=0.05)
    finally:
        server.pool.shutdown(wait=True)
        server.server_close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
