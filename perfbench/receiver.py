"""Webhook receiver for the delivery workloads, run as its own process.

It stands in for a nearby HTTP endpoint: every POST is held for a fixed
response delay and answered 200 over keep-alive HTTP/1.1. At most
``--max-conns`` connections are served at once; further connections
wait in the listen backlog. Running outside the Spark driver keeps the
driver's GIL (held by ``foreachBatch`` callbacks) out of the receipt
timestamps.

Per request it records the receipt time (before the delay), the
acknowledgement time (after the response is written), the event id,
the connection and the body; ``connections`` counts connections that
carried at least one POST. ``GET /stats`` returns the counters, ``GET /dump`` the
counters plus every record.

    python3 perfbench/receiver.py --delay-ms 5 --max-conns 4

prints ``port <n>`` on its first stdout line once it is listening and
serves until SIGTERM.
"""

from __future__ import annotations

import argparse
import itertools
import json
import signal
import socket
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class Receiver:
    def __init__(self, delay_s: float, max_conns: int) -> None:
        self.delay_s = delay_s
        self.max_conns = max_conns
        self.records: list[list] = []
        self.seen: set[str] = set()
        self.requests = 0
        self.non_2xx = 0
        self.duplicates = 0
        self.inflight = 0
        self.max_inflight = 0
        self.connections = 0
        self._conn_ids = itertools.count()
        self._lock = threading.Lock()

    def counters(self) -> dict:
        with self._lock:
            return {
                "requests": self.requests,
                "non_2xx": self.non_2xx,
                "duplicates": self.duplicates,
                "max_inflight": self.max_inflight,
                "connections": self.connections,
                "distinct": len(self.seen),
            }

    def dump(self) -> dict:
        with self._lock:
            records = list(self.records)
        return {"counters": self.counters(), "records": records}


def make_server(rcv: Receiver, port: int) -> ThreadingHTTPServer:
    slots = threading.BoundedSemaphore(rcv.max_conns)

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def setup(self) -> None:
            super().setup()
            # answer in one segment, without waiting on the client's ACK
            self.request.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            self.conn_id = None

        def _reply(self, status: int, body: bytes) -> None:
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self._headers_buffer.append(b"\r\n" + body)
            self.flush_headers()

        def do_GET(self) -> None:  # noqa: N802
            if self.path == "/stats":
                self._reply(200, json.dumps(rcv.counters()).encode())
            elif self.path == "/dump":
                self._reply(200, json.dumps(rcv.dump()).encode())
            else:
                self._reply(404, b"{}")

        def do_POST(self) -> None:  # noqa: N802
            recv_at = time.time()
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            if self.conn_id is None:
                self.conn_id = next(rcv._conn_ids)
                with rcv._lock:
                    rcv.connections += 1
            with rcv._lock:
                rcv.requests += 1
                rcv.inflight += 1
                rcv.max_inflight = max(rcv.max_inflight, rcv.inflight)
            try:
                event_id = json.loads(body).get("id")
            except ValueError:
                event_id = None
            if rcv.delay_s:
                time.sleep(rcv.delay_s)
            status = 200 if event_id else 400
            self._reply(status, b'{"ok": true}')
            ack_at = time.time()
            with rcv._lock:
                rcv.inflight -= 1
                if status >= 300:
                    rcv.non_2xx += 1
                elif event_id in rcv.seen:
                    rcv.duplicates += 1
                else:
                    rcv.seen.add(event_id)
                rcv.records.append(
                    [event_id, recv_at, ack_at, self.conn_id, body.decode()]
                )

        def log_message(self, *args) -> None:
            pass

    class Server(ThreadingHTTPServer):
        daemon_threads = True
        request_queue_size = 64

        def process_request(self, request, client_address):
            slots.acquire()
            super().process_request(request, client_address)

        def process_request_thread(self, request, client_address):
            try:
                super().process_request_thread(request, client_address)
            finally:
                slots.release()

    return Server(("127.0.0.1", port), Handler)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, default=0)
    ap.add_argument("--delay-ms", type=float, default=5.0)
    ap.add_argument("--max-conns", type=int, default=4)
    args = ap.parse_args()
    rcv = Receiver(args.delay_ms / 1000.0, args.max_conns)
    server = make_server(rcv, args.port)
    signal.signal(signal.SIGTERM, lambda *_: threading.Thread(target=server.shutdown).start())
    print(f"port {server.server_port}", flush=True)
    try:
        server.serve_forever(poll_interval=0.05)
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
