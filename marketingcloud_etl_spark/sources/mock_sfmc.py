"""Deterministic mock of the SFMC-shaped paginated REST API, for tests
and the self-contained rows-only catalog query.

Serves the page envelope from FIXTURES.md §B1: ``{"count": N, "items":
[{"keys": {...}, "values": {...}}]}`` at ``GET /data?$page=N`` with
Bearer-token auth from ``POST /auth``. The generated corpus includes
every edge the reference handles: missing keys (→ "" default, R6),
event names with query strings and >256 chars (R7/R8), unparseable
dates (→ null, R9), and exact duplicates across page boundaries (→
hash dedup, R10/R12).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

TOKEN = "mock-token-1"
PAGE_SIZE = 10  # small pages so tests exercise multi-page plans


def make_item(i: int) -> dict:
    item = {
        "keys": {
            "lead_id": f"L-{i:05d}",
            "url": f"https://x.test/p{i}?utm=1",
            "session_id": f"S-{i % 7}",
            "order": str(i % 3),
        },
        "values": {
            "type_id": f"T{i % 5}",
            "event_category": "web",
            "event_name": f"page_view_{i}?utm_source=mail&x=y",
            "date": f"{(i % 12) + 1}/{(i % 27) + 1}/2025 {(i % 12) + 1}:07:09 PM",
        },
    }
    if i % 11 == 0:  # missing keys → "" default (R6)
        del item["keys"]["session_id"]
        del item["keys"]["order"]
    if i % 13 == 0:  # oversized event name (R8)
        item["values"]["event_name"] = "x" * 300 + "?trailing"
    if i % 17 == 0:  # unparseable date → null (R9)
        item["values"]["date"] = "not-a-date"
    return item


def corpus(n_items: int) -> list[dict]:
    items = [make_item(i) for i in range(n_items)]
    # exact duplicate spanning a page boundary (R10/R12 dedup)
    if n_items > PAGE_SIZE:
        items[PAGE_SIZE] = make_item(0)
    return items


class MockSfmcServer:
    """Threaded mock server; use as a context manager."""

    def __init__(
        self,
        n_items: int = 35,
        require_auth: bool = True,
        fail_first_with_401: bool = False,
        expire_token_on_page: int | None = None,
    ):
        self.items = corpus(n_items)
        self.require_auth = require_auth
        self.fail_first_with_401 = fail_first_with_401
        # the first GET of this page rotates the token, so the request
        # (and every holder of the old token) gets a 401 until re-auth
        self.expire_token_on_page = expire_token_on_page
        self.token = TOKEN
        self.auth_calls = 0
        self.page_calls: list[int] = []
        self._401_sent = False
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, code: int, payload: dict):
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):
                if urlparse(self.path).path == "/auth":
                    outer.auth_calls += 1
                    self._send(200, {"access_token": outer.token, "rest_instance_url": "http://mock"})
                else:
                    self._send(404, {})

            def do_GET(self):
                parsed = urlparse(self.path)
                if parsed.path != "/data":
                    self._send(404, {})
                    return
                if outer.fail_first_with_401 and not outer._401_sent:
                    outer._401_sent = True
                    self._send(401, {"error": "expired"})
                    return
                page = int(parse_qs(parsed.query).get("$page", ["1"])[0])
                if page == outer.expire_token_on_page:
                    outer.expire_token_on_page = None
                    outer.token = TOKEN + "-rotated"
                if outer.require_auth and self.headers.get("Authorization") != f"Bearer {outer.token}":
                    self._send(401, {"error": "unauthorized"})
                    return
                outer.page_calls.append(page)
                lo, hi = (page - 1) * PAGE_SIZE, page * PAGE_SIZE
                self._send(200, {"count": len(outer.items), "items": outer.items[lo:hi]})

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self.port}/data"

    @property
    def auth_url(self) -> str:
        return f"http://127.0.0.1:{self.port}/auth"

    def __enter__(self) -> "MockSfmcServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
