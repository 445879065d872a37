"""Paginated source semantics (SURVEY.md §2.3 item 7): empty-page stop,
short-page stop, retry-exhaustion → best-effort partial result."""

from __future__ import annotations

import pytest

from datapipeline_omnichanneltobigquery_spark.sources.paginated import (
    fetch_paginated,
    paginated_to_df,
)


def _pages(pages: dict[int, list[dict]]):
    def fetch(page: int) -> list[dict]:
        return pages.get(page, [])

    return fetch


def test_stops_on_empty_page():
    fetch = _pages({1: [{"id": 1}], 2: [{"id": 2}]})
    # count=1 means full pages; page 3 is empty → stop, keep everything
    assert [r["id"] for r in fetch_paginated(fetch, count=1)] == [1, 2]


def test_stops_on_short_page():
    fetch = _pages({1: [{"id": 1}, {"id": 2}], 2: [{"id": 3}]})
    assert [r["id"] for r in fetch_paginated(fetch, count=2)] == [1, 2, 3]


def test_retry_exhaustion_returns_partial():
    calls = {"n": 0}

    def flaky(page: int) -> list[dict]:
        if page == 2:
            calls["n"] += 1
            raise ConnectionError("boom")
        return [{"id": page}] if page == 1 else []

    got = fetch_paginated(flaky, count=1, max_retries=3)
    assert [r["id"] for r in got] == [1]  # partial, no raise (:55-57, :61)
    assert calls["n"] == 3


def test_transient_failure_then_success():
    state = {"fails": 2}

    def flaky(page: int) -> list[dict]:
        if page == 1 and state["fails"] > 0:
            state["fails"] -= 1
            raise TimeoutError
        return [{"id": page}] if page <= 2 else []

    assert [r["id"] for r in fetch_paginated(flaky, count=1, max_retries=5)] == [1, 2]


def test_distributed_page_fetch(spark):
    def fetch(page: int) -> list[dict]:
        return [{"id": page * 10 + i} for i in range(3)] if page <= 4 else []

    df = paginated_to_df(spark, fetch, n_pages=6, schema="id long")
    got = sorted(r["id"] for r in df.collect())
    assert got == sorted(p * 10 + i for p in range(1, 5) for i in range(3))


def test_distributed_page_fetch_projects_declared_fields(spark):
    """Records are projected onto the declared fields: a field a page's
    records lack loads as NULL, an undeclared field is dropped."""

    def fetch(page: int) -> list[dict]:
        return [{"id": 1, "name": "a", "extra": True}] if page == 1 else [{"id": 2}]

    df = paginated_to_df(spark, fetch, 2, "id long, name string")
    assert df.columns == ["id", "name"]
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, None)]


def _named_pages(broken_page: int | None = None):
    """Pages 1-4 of three named records, page 5+ empty; ``broken_page``
    always raises.  A closure, so executors receive it pickled by value
    (they cannot import this test module)."""

    def fetch(page: int) -> list[dict]:
        if page == broken_page:
            raise TimeoutError("transient")
        if page > 4:
            return []
        return [{"id": page * 10 + i, "name": f"r{page}_{i}"} for i in range(3)]

    return fetch


def test_distributed_fetch_matches_sequential_one_partition_per_page(spark):
    """Four pages: one partition per page on four or more cores (one per
    core below that), rows fetched on executors, result identical to the
    sequential fetch."""
    df = paginated_to_df(spark, _named_pages(), 4, "id long, name string")
    got = sorted((r.id, r.name) for r in df.collect())
    seq = fetch_paginated(_named_pages(), count=3, max_pages=4)
    assert got == sorted((r["id"], r["name"]) for r in seq) and len(got) == 12
    assert df.rdd.getNumPartitions() == min(4, spark.sparkContext.defaultParallelism)


def _logged_pages(log: str, n_pages: int):
    """Pages 1..n_pages of two records each, page n_pages+1 empty; appends
    each page number it serves to the file ``log`` (executors run in other
    processes)."""

    def fetch(page: int) -> list[dict]:
        with open(log, "a") as f:
            f.write(f"{page}\n")
        if page > n_pages:
            return []
        return [{"id": page * 10 + i, "name": f"r{page}_{i}"} for i in range(2)]

    return fetch


def test_distributed_fetch_one_slice_of_pages_per_core(spark, tmp_path):
    """More pages than cores: one task per core, each fetching a contiguous
    slice of pages, every page fetched exactly once, and the rows of the
    sequential fetch."""
    cores = spark.sparkContext.defaultParallelism
    n_pages = 2 * cores + 1
    log = str(tmp_path / "page_calls.log")
    df = paginated_to_df(spark, _logged_pages(log, n_pages), n_pages, "id long, name string")
    assert df.rdd.getNumPartitions() == cores
    got = sorted((r.id, r.name) for r in df.collect())
    with open(log) as f:
        assert sorted(int(line) for line in f) == list(range(1, n_pages + 1))
    seq = fetch_paginated(_logged_pages(str(tmp_path / "seq.log"), n_pages), count=2)
    assert got == sorted((r["id"], r["name"]) for r in seq) and len(got) == 2 * n_pages


def test_distributed_fetch_partial_on_exhausted_page(spark):
    """A page that fails past the retry budget yields nothing; the other
    pages still load — the reference's best-effort partial fetch."""
    df = paginated_to_df(
        spark, _named_pages(broken_page=2), 4, "id long, name string", max_retries=2
    )
    pages_seen = sorted({r.id // 10 for r in df.collect()})
    assert pages_seen == [1, 3, 4]


# ---------------------------------------------------------------------------
# Socket-level HTTP tests (r5 VERDICT #5): a real in-process HTTP server
# serving paginated JSON with injected failures, driven both through the
# sequential fetch and through the distributed paginated_to_df —
# omnichannel_to_bq.py:33-61 is the reference's whole ingestion story, so it
# gets exercised over an actual socket, not just the injectable page fn.
# ---------------------------------------------------------------------------

import json as _json
import threading
import urllib.request
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse


def _http_page_fn(port: int):
    """Page fetcher for the test server: GET /items?page=N, raising on HTTP
    5xx (the reference's requests exception → retry signal).  A closure over
    the port, so executors receive it pickled with the task."""

    def fetch(page: int) -> list[dict]:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/items?page={page}", timeout=10) as r:
            return _json.loads(r.read().decode())

    return fetch


class _PagedHandler(BaseHTTPRequestHandler):
    """Paginated API: pages 1-3 full (3 records), page 4 short (1), page 5+
    empty.  fail_plan maps page -> number of 500s to serve before success
    (-1 = always fail).  hits counts requests per page."""

    fail_plan: dict[int, int] = {}
    hits: dict[int, int] = {}
    port: int = 0

    def do_GET(self):  # noqa: N802 (stdlib naming)
        page = int(parse_qs(urlparse(self.path).query)["page"][0])
        cls = type(self)
        cls.hits[page] = cls.hits.get(page, 0) + 1
        remaining = cls.fail_plan.get(page, 0)
        if remaining == -1 or remaining > 0:
            if remaining > 0:
                cls.fail_plan[page] = remaining - 1
            self.send_response(500)
            self.end_headers()
            return
        if page <= 3:
            recs = [{"id": page * 10 + i, "name": f"r{page}_{i}"} for i in range(3)]
        elif page == 4:
            recs = [{"id": 41, "name": "r4_0"}]
        else:
            recs = []
        body = _json.dumps(recs).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # silence request logging
        pass


@pytest.fixture
def http_api():
    """In-process HTTP server on an ephemeral port; yields the handler class
    for fail_plan/hits access, with the bound port as ``port``."""
    _PagedHandler.fail_plan = {}
    _PagedHandler.hits = {}
    srv = HTTPServer(("127.0.0.1", 0), _PagedHandler)
    _PagedHandler.port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield _PagedHandler
    finally:
        srv.shutdown()
        t.join(timeout=5)
        srv.server_close()


def test_http_sequential_fetch_retries_then_short_page_stops(http_api):
    """Over a real socket: page 2 serves two 500s then succeeds (retry
    absorbs it), page 4 is short → termination; all 10 records arrive."""
    http_api.fail_plan = {2: 2}
    got = fetch_paginated(_http_page_fn(http_api.port), count=3, max_retries=5)
    assert sorted(r["id"] for r in got) == [10, 11, 12, 20, 21, 22, 30, 31, 32, 41]
    assert http_api.hits[2] == 3  # two failures + one success
    assert 5 not in http_api.hits  # short page 4 stopped the loop


def test_http_distributed_fetch_retry_exhaustion_partial(spark, http_api):
    """paginated_to_df against the live server: a page failing past the
    retry budget contributes nothing, the rest load — best-effort partial
    over an actual socket, fetched from executor processes."""
    http_api.fail_plan = {3: -1}
    df = paginated_to_df(
        spark, _http_page_fn(http_api.port), 5, "id long, name string", max_retries=2
    )
    pages_seen = sorted({r.id // 10 for r in df.collect()})
    assert pages_seen == [1, 2, 4]
    assert http_api.hits[3] == 2  # exactly the retry budget
