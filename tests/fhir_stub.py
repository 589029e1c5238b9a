"""A loopback FHIR server stub for the REST load and fetch tests: a
``ThreadingHTTPServer`` on 127.0.0.1 that records every request and answers
PUT/POST with 201 ``{"id": ...}`` and GET with 200. ``faults`` lists status
codes to answer first, one per request, in order (a 429 carries
``Retry-After: 1``)."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class FhirStub:
    def __init__(self, faults: tuple[int, ...] = ()):
        self.requests: list[tuple[str, str, dict | None]] = []  # (method, path, body)
        self.faults = list(faults)
        lock = threading.Lock()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def _answer(self) -> None:
                size = int(self.headers.get("Content-Length") or 0)
                body = json.loads(self.rfile.read(size)) if size else None
                with lock:
                    stub.requests.append((self.command, self.path, body))
                    status = stub.faults.pop(0) if stub.faults else None
                    n = len(stub.requests)
                if status is None:
                    status = 201 if self.command in ("PUT", "POST") else 200
                    rid = self.path.rsplit("/", 1)[-1] if self.command != "POST" else f"new-{n}"
                    payload = {"id": rid}
                else:
                    payload = {"issue": f"injected {status}"}
                data = json.dumps(payload).encode()
                self.send_response(status)
                if status == 429:
                    self.send_header("Retry-After", "1")
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            do_GET = do_PUT = do_POST = _answer

            def log_message(self, *args) -> None:
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.server.server_port}"

    def __enter__(self) -> FhirStub:
        threading.Thread(target=self.server.serve_forever, daemon=True).start()
        return self

    def __exit__(self, *exc) -> None:
        self.server.shutdown()
        self.server.server_close()
