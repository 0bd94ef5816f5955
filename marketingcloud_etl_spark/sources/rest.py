"""Paginated REST source (reference R1-R4) as a Spark 4 Python
DataSource — the one genuinely custom source in the engine
(SURVEY.md §4: "the pruning logic lives in our Python DataSource").

Reference behaviors re-expressed (all from
/root/reference/app/salesforce_extractor.py):
  * OAuth2 client-credentials auth, token + rest instance url (:86-104)
    → auth happens once per process (driver for the probe, each
    executor worker on first read) via a module-level token cache; the
    bearer token never rides in a partition descriptor.
  * page GET with Bearer header, 401 → re-auth + retry once (:106-136)
    → the same retry inside ``read()``; Spark task retry
    (spark.task.maxFailures) supersedes beyond that.
  * page-range pruning from a count watermark (:250-280): start_page =
    floor(db_count / page_size) + 1 clamped to ≥ 1; skip everything
    when the API count ≤ db_count (:271-280) → ``partitions()`` emits
    only the needed pages — partition pruning pushed into the source.
  * count probe via page 1 (:341-347) → one probe GET in
    ``partitions()``.

Scale posture: the planned pages are packed into one contiguous page
range per task slot (``slots`` option, the session's
``defaultParallelism``), so a 1000-slot cluster still fans the page
range out 1000-wide (the reference fetched sequentially, :276-278),
while a 4-slot box runs 4 tasks instead of one per page — the packing
Spark's file scan applies to small files. A page (~800 KB, ~60 ms of
Python work) is far cheaper than a Python task, whose fixed cost is
~0.3 s on a 4-core box. Without the option every page is its own partition. Page size
stays the API's 2500 (:248).
"""

from __future__ import annotations

import json
import math
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

ITEM_DDL = (
    "keys struct<lead_id: string, url: string, session_id: string, `order`: string>, "
    "values struct<type_id: string, event_category: string, event_name: string, date: string>, "
    "page int"
)

DEFAULT_PAGE_SIZE = 2500  # "As per API response" — salesforce_extractor.py:248


def _http_json(url: str, data: dict | None = None, headers: dict | None = None, timeout: float = 30.0) -> dict:
    body = None
    hdrs = dict(headers or {})
    if data is not None:
        body = json.dumps(data).encode()
        hdrs["Content-Type"] = "application/json"
    req = urllib.request.Request(url, data=body, headers=hdrs)
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read().decode())


def get_auth_token(auth_url: str, client_id: str, client_secret: str) -> str:
    """OAuth2 client-credentials grant (R1)."""
    payload = {
        "grant_type": "client_credentials",
        "client_id": client_id,
        "client_secret": client_secret,
    }
    return _http_json(auth_url, data=payload)["access_token"]


def fetch_page(base_url: str, page: int, token: str) -> dict:
    """GET one page with a Bearer token. The 401 re-auth retry (R2,
    :128-135) lives in ``_RestPagesReader._fetch``."""
    url = f"{base_url}?$page={page}"  # pagination pattern, :265/:278
    return _http_json(url, headers={"Authorization": f"Bearer {token}"})


def check_page_size(page_size: int) -> None:
    """Reject a page size < 1 before any Spark work: 0 divides by zero
    in the planner and a negative size plans no pages, which a bulk
    load would write over its target as 0 rows."""
    if page_size < 1:
        raise ValueError(f"page_size must be >= 1, got {page_size}")


def plan_pages(api_count: int, db_count: int, page_size: int = DEFAULT_PAGE_SIZE) -> list[int]:
    """R3 scan pruning: resume at the page containing the first un-
    ingested record; empty plan when nothing new (:264, :271-280).

    floor(db_count/page_size)+1, not the reference's ceil(:264): when
    db_count lands exactly on a page boundary the boundary page is
    fully ingested and ceil would re-download it every run; a partially
    ingested page still re-fetches (its duplicates die in the
    anti-join, the reference's unique-constraint safety net)."""
    check_page_size(page_size)
    if api_count <= db_count:
        return []
    start_page = db_count // page_size + 1
    total_pages = math.ceil(api_count / page_size)
    return list(range(start_page, total_pages + 1))


# one auth round-trip per worker process, not per task (the reference
# held one token for its whole sequential run, :86-104); a 401 retry
# invalidates the entry so the refreshed token is reused too
_TOKEN_CACHE: dict[tuple[str, str], str] = {}


def _cached_token(auth_url: str, client_id: str, client_secret: str) -> str:
    key = (auth_url, client_id)
    tok = _TOKEN_CACHE.get(key)
    if tok is None:
        tok = _TOKEN_CACHE[key] = get_auth_token(auth_url, client_id, client_secret)
    return tok


def split_pages(pages: Sequence[int], slots: int | None) -> list[Sequence[int]]:
    """Cut ``pages`` into ``min(len(pages), slots)`` contiguous, in-order
    runs whose sizes differ by at most one page; ``slots=None`` keeps
    one page per run. The one place the batch and stream readers decide
    their task count."""
    n = min(len(pages), slots or len(pages))
    if n == 0:
        return []
    size, extra = divmod(len(pages), n)
    runs, lo = [], 0
    for i in range(n):
        hi = lo + size + (i < extra)
        runs.append(pages[lo:hi])
        lo = hi
    return runs


def slot_options(spark) -> dict[str, str]:
    """Reader options that pack the pages into one range per task slot."""
    return {"slots": str(spark.sparkContext.defaultParallelism)}


class _PagePartition(InputPartition):
    """Pages ``page..last`` (inclusive), fetched in order by one task."""

    def __init__(self, page: int, last: int | None = None):
        self.page = page
        self.last = page if last is None else last

    @property
    def pages(self) -> range:
        return range(self.page, self.last + 1)


def _page_partitions(pages: Sequence[int], slots: int | None) -> list[_PagePartition]:
    return [_PagePartition(run[0], run[-1]) for run in split_pages(pages, slots)]


class _RestPagesReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.base_url = options["base_url"]
        self.auth_url = options.get("auth_url", "")
        self.client_id = options.get("client_id", "")
        self.client_secret = options.get("client_secret", "")
        self.page_size = int(options.get("page_size", DEFAULT_PAGE_SIZE))
        self.db_count = int(options.get("db_count", 0))
        self.slots = int(options["slots"]) if options.get("slots") else None

    def _auth_tuple(self) -> tuple[str, str, str] | None:
        if self.auth_url:
            return (self.auth_url, self.client_id, self.client_secret)
        return None

    def _fetch(self, page: int) -> dict:
        auth = self._auth_tuple()
        if auth is None:
            return fetch_page(self.base_url, page, "")
        try:
            return fetch_page(self.base_url, page, _cached_token(*auth))
        except urllib.error.HTTPError as e:
            if e.code != 401:
                raise
            # stale cached token: drop it and retry with a fresh one
            _TOKEN_CACHE.pop((auth[0], auth[1]), None)
            return fetch_page(self.base_url, page, _cached_token(*auth))

    def partitions(self) -> Sequence[InputPartition]:
        probe = self._fetch(1)
        api_count = int(probe.get("count", 0))
        pages = plan_pages(api_count, self.db_count, self.page_size)
        return _page_partitions(pages, self.slots)

    def read(self, partition: _PagePartition | None) -> Iterator[tuple]:
        # PySpark turns an empty plan (nothing new) into one None partition
        if partition is None:
            return
        for page in partition.pages:
            resp = self._fetch(page)
            for item in resp.get("items", []):
                keys = item.get("keys", {}) or {}
                values = item.get("values", {}) or {}
                yield (
                    (
                        keys.get("lead_id"),
                        keys.get("url"),
                        keys.get("session_id"),
                        keys.get("order"),
                    ),
                    (
                        values.get("type_id"),
                        values.get("event_category"),
                        values.get("event_name"),
                        values.get("date"),
                    ),
                    page,
                )


class _RestPagesStreamReader(DataSourceStreamReader):
    """Streaming form of the page reader: the OFFSET is the number of
    COMPLETE pages ingested so far, advanced by probing the API's
    ``count`` each micro-batch — continuous ingestion of a
    count-monotonic paginated API (the reference ran this as a
    scheduled batch job; the streaming twin removes the scheduler).

    Exactly-once protocol: the offset only ever advances to
    ``count // page_size`` — the still-filling tail page is NOT read
    until it completes, so no page is fetched twice and no item is
    duplicated (the batch reader instead re-fetches the partial page
    and relies on the sink's anti-join). A micro-batch's pages are packed
    like the batch reader's, one range per task slot, so a wide cluster
    drains a large backlog in parallel within one micro-batch."""

    def __init__(self, schema: StructType, options: dict):
        self._batch = _RestPagesReader(schema, options)
        self.page_size = self._batch.page_size
        start_count = int(options.get("db_count", 0))
        self._initial = {"complete_pages": start_count // self.page_size}

    def initialOffset(self) -> dict:
        return self._initial

    def latestOffset(self) -> dict:
        probe = self._batch._fetch(1)
        api_count = int(probe.get("count", 0))
        return {"complete_pages": api_count // self.page_size}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        pages = range(int(start["complete_pages"]) + 1, int(end["complete_pages"]) + 1)
        return _page_partitions(pages, self._batch.slots)

    def read(self, partition: _PagePartition) -> Iterator[tuple]:
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        pass  # no source-side bookkeeping: offsets fully define progress


class RestPagesDataSource(DataSource):
    """``spark.read.format("rest_pages").options(base_url=..., db_count=N)``
    (batch) or ``spark.readStream.format("rest_pages")...`` (streaming,
    complete-pages offset protocol)."""

    @classmethod
    def name(cls) -> str:
        return "rest_pages"

    def schema(self) -> str:
        return ITEM_DDL

    def reader(self, schema: StructType) -> _RestPagesReader:
        return _RestPagesReader(schema, self.options)

    def streamReader(self, schema: StructType) -> _RestPagesStreamReader:
        return _RestPagesStreamReader(schema, self.options)


def register_rest_source(spark) -> None:
    spark.dataSource.register(RestPagesDataSource)
