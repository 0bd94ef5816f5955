"""Seeded SFMC-shaped REST API for the lead-activity ETL workload.

The seed fixes the whole corpus timeline: the initial corpus and every
later delta. Stage 0 publishes the initial corpus; each later stage
appends one delta (``delta_share`` new distinct items plus
``resend_per_delta`` exact copies of already-published items); the last
stage appends re-sends only, so an incremental run over it must insert
nothing. The initial corpus carries ``dup_share`` exact duplicates of
earlier items, placed anywhere, so many straddle page boundaries.

Items carry the reference's edge cases (FIXTURES.md §B1): missing
``session_id``/``order`` keys, event names over 256 characters with a
query string, unparseable dates.

The server answers ``POST /auth`` and ``GET /data?$page=N`` with the
``{"count": N, "items": [...]}`` envelope at the reference page size of
2500. Every item is JSON-encoded once in :class:`Timeline`, so serving a
page only writes pre-encoded bytes. The server side counts auth calls,
page requests (per page) and bytes, and handles at most ``max_conns``
requests at a time.
"""

from __future__ import annotations

import json
import math
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import numpy as np

PAGE_SIZE = 2500
TOKEN = "perfbench-token"
CATEGORIES = ("web", "email", "sms", "social", "ads")
ACTIONS = ("page_view", "email_open", "email_click", "form_submit", "unsubscribe", "sms_reply")


class Timeline:
    """The seeded corpus timeline: ``stage_len[k]`` items are published at
    stage ``k``; ``item_ids[i]`` names the distinct item at position ``i``
    (a duplicate or re-send repeats an earlier id)."""

    def __init__(
        self,
        seed: int,
        n_initial: int = 120_000,
        n_deltas: int = 2,
        delta_share: float = 0.05,
        resend_per_delta: int = 40,
        dup_share: float = 0.01,
        page_size: int = PAGE_SIZE,
    ):
        self.page_size = page_size
        rng = np.random.default_rng(seed)
        n_dup = int(n_initial * dup_share)
        n_distinct0 = n_initial - n_dup
        # each duplicate repeats an earlier item and lands after it
        src = rng.integers(0, n_distinct0, n_dup)
        where = np.concatenate([np.arange(n_distinct0, dtype=np.float64), rng.uniform(src + 0.5, n_distinct0)])
        ids = np.concatenate([np.arange(n_distinct0), src])[np.argsort(where, kind="stable")].tolist()
        next_id = n_distinct0
        self.stage_len = [len(ids)]
        self.new_distinct = [n_distinct0]
        n_new = int(round(n_distinct0 * delta_share))
        for k in range(n_deltas + 1):
            new = list(range(next_id, next_id + n_new)) if k < n_deltas else []
            next_id += len(new)
            resent = [int(i) for i in rng.integers(0, next_id - len(new), resend_per_delta)]
            delta = new + resent
            order = rng.permutation(len(delta))
            ids.extend(delta[j] for j in order)
            self.stage_len.append(len(ids))
            self.new_distinct.append(len(new))
        self.item_ids = np.asarray(ids, dtype=np.int64)
        self.n_items = next_id
        self._encode(rng)

    # -- item content ---------------------------------------------------
    def _encode(self, rng: np.random.Generator) -> None:
        n = self.n_items
        session = rng.integers(0, 20_000, n)
        order = rng.integers(0, 50, n)
        type_id = rng.integers(0, 40, n)
        cat = rng.integers(0, len(CATEGORIES), n)
        act = rng.integers(0, len(ACTIONS), n)
        month, day = rng.integers(1, 13, n), rng.integers(1, 29, n)
        hour, minute, sec = rng.integers(1, 13, n), rng.integers(0, 60, n), rng.integers(0, 60, n)
        ampm = rng.integers(0, 2, n)
        edge = rng.random((n, 4))
        self.missing_keys = edge[:, 0] < 0.08
        self.long_name = edge[:, 1] < 0.05
        self.with_query = edge[:, 2] < 0.5
        self.bad_date = edge[:, 3] < 0.04
        bad_dates = ("not-a-date", "2025-13-45", "", "31/31/2025 99:00:00 XM")
        # every field is plain ASCII without quotes or backslashes, so the
        # JSON is formatted directly (json.loads-equivalent to json.dumps)
        cols = zip(
            session.tolist(), order.tolist(), type_id.tolist(), cat.tolist(), act.tolist(),
            month.tolist(), day.tolist(), hour.tolist(), minute.tolist(), sec.tolist(), ampm.tolist(),
            self.missing_keys.tolist(), self.long_name.tolist(), self.with_query.tolist(), self.bad_date.tolist(),
        )
        self._encoded: list[bytes] = []
        for i, (s, o, t, c, a, mo, d, h, mi, se, ap, miss, long, query, bad) in enumerate(cols):
            keys = f'"lead_id": "L-{i:07d}", "url": "https://x.test/lp/{i % 997}?cid={i}"'
            if not miss:
                keys += f', "session_id": "S-{s}", "order": "{o}"'
            name = f"{ACTIONS[a]}_{i % 113}"
            if long:
                name = f"{name}_{'x' * 280}?ref={i}"
            elif query:
                name = f"{name}?utm_source=mail&cid={i}"
            date = bad_dates[i % len(bad_dates)] if bad else f"{mo}/{d}/2025 {h}:{mi:02d}:{se:02d} {'AP'[ap]}M"
            self._encoded.append(
                f'{{"keys": {{{keys}}}, "values": {{"type_id": "T{t}", "event_category": "{CATEGORIES[c]}", '
                f'"event_name": "{name}", "date": "{date}"}}}}'.encode()
            )

    # -- expectations ---------------------------------------------------
    @property
    def n_stages(self) -> int:
        return len(self.stage_len)

    def distinct_through(self, stage: int) -> int:
        return sum(self.new_distinct[: stage + 1])

    def bad_dates_through(self, stage: int) -> int:
        return int(self.bad_date[: self.distinct_through(stage)].sum())

    def page_payload(self, lo: int, hi: int) -> bytes:
        return b",".join(self._encoded[i] for i in self.item_ids[lo:hi])

    def n_pages(self, stage: int) -> int:
        return math.ceil(self.stage_len[stage] / self.page_size)


class SfmcServer:
    """Serves one :class:`Timeline`; ``publish(stage)`` moves the API to
    that stage. Use as a context manager."""

    def __init__(self, timeline: Timeline, max_conns: int = 4):
        self.timeline = timeline
        self.max_conns = max(1, max_conns)
        self._stage = 0
        # page bodies for every stage, built once: full pages are shared
        # across stages, only each stage's last page differs
        self._payloads: dict[tuple[int, int], bytes] = {}
        for stage in range(timeline.n_stages):
            n = timeline.stage_len[stage]
            for p in range(1, timeline.n_pages(stage) + 1):
                lo, hi = (p - 1) * timeline.page_size, min(p * timeline.page_size, n)
                if (lo, hi) not in self._payloads:
                    self._payloads[(lo, hi)] = timeline.page_payload(lo, hi)
        self._lock = threading.Lock()
        self.reset_counters()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def _send(self, code: int, *chunks: bytes) -> None:
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(sum(len(c) for c in chunks)))
                self.end_headers()
                for c in chunks:
                    self.wfile.write(c)

            def do_POST(self):
                t0 = time.perf_counter()
                body = json.dumps({"access_token": TOKEN}).encode()
                self._send(200, body)
                outer._count(auth=1, nbytes=len(body), dt=time.perf_counter() - t0)

            def do_GET(self):
                t0 = time.perf_counter()
                parsed = urlparse(self.path)
                if self.headers.get("Authorization") != f"Bearer {TOKEN}":
                    self._send(401, b'{"error": "unauthorized"}')
                    return
                page = int(parse_qs(parsed.query).get("$page", ["1"])[0])
                tl, stage = outer.timeline, outer._stage
                n = tl.stage_len[stage]
                lo, hi = (page - 1) * tl.page_size, min(page * tl.page_size, n)
                payload = outer._payloads.get((lo, hi), b"") if lo < n else b""
                head = b'{"count": %d, "items": [' % n
                self._send(200, head, payload, b"]}")
                outer._count(page=page, nbytes=len(head) + len(payload) + 2, dt=time.perf_counter() - t0)

        class Server(ThreadingHTTPServer):
            daemon_threads = True
            request_queue_size = 64

            def __init__(self, *a, **kw):
                super().__init__(*a, **kw)
                self._pool = ThreadPoolExecutor(max_workers=outer.max_conns)

            def process_request(self, request, client_address):
                self._pool.submit(self.process_request_thread, request, client_address)

            def server_close(self):
                super().server_close()
                self._pool.shutdown(wait=True)

        self._server = Server(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def _count(self, page: int | None = None, auth: int = 0, nbytes: int = 0, dt: float = 0.0) -> None:
        with self._lock:
            self.auth_calls += auth
            self.bytes_served += nbytes
            self.serve_s += dt
            if page is not None:
                self.page_requests.append(page)

    def reset_counters(self) -> None:
        with self._lock:
            self.auth_calls = 0
            self.bytes_served = 0
            self.serve_s = 0.0
            self.page_requests: list[int] = []

    def counters(self) -> dict:
        with self._lock:
            return {
                "auth_calls": self.auth_calls,
                "bytes_served": self.bytes_served,
                "serve_s": self.serve_s,
                "page_requests": list(self.page_requests),
            }

    def publish(self, stage: int) -> None:
        self._stage = stage

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}/data"

    @property
    def auth_url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}/auth"

    def __enter__(self) -> "SfmcServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join()
