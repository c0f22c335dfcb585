"""In-process webhook capture server for sink tests — the stdlib analog
of the reference's FastAPI WebhookServer (tests/utilities.py:60-79):
records every POST body, optional response delay (to force timeouts) and
forced failure statuses (to drive the retry path; `fail_if` limits the
failure to the bodies it returns True for). `max_inflight` is the
peak number of POSTs the server was handling at once (concurrent
delivery lanes show as a peak above 1)."""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class CaptureServer:
    def __init__(
        self,
        response_delay: float = 0.0,
        fail_status: int | None = None,
        fail_if=None,
    ):
        self.received: list[dict] = []
        self.headers_seen: list[dict] = []
        self.paths_seen: list[str] = []
        self.response_delay = response_delay
        self.fail_status = fail_status
        self.fail_if = fail_if
        self.inflight = 0
        self.max_inflight = 0
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length)
                with outer._lock:
                    outer.inflight += 1
                    outer.max_inflight = max(outer.max_inflight, outer.inflight)
                if outer.response_delay:
                    time.sleep(outer.response_delay)
                doc = json.loads(body)
                with outer._lock:
                    outer.inflight -= 1
                    outer.received.append(doc)
                    outer.headers_seen.append(dict(self.headers))
                    outer.paths_seen.append(self.path)
                fails = outer.fail_if is None or outer.fail_if(doc)
                status = (fails and outer.fail_status) or 200
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(b'{"ok": true}')

            def log_message(self, *args) -> None:  # silence
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self._server.server_port
        self.url = f"http://127.0.0.1:{self.port}/webhook/"
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def __enter__(self) -> "CaptureServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()

    def wait_for(self, n: int, timeout: float = 20.0) -> list[dict]:
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if len(self.received) >= n:
                    return list(self.received)
            time.sleep(0.05)
        raise TimeoutError(
            f"expected {n} webhooks, got {len(self.received)} within {timeout}s"
        )
