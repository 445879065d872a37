"""Paginated-API source with the reference's termination/retry semantics.

Reproduces ``CaresoftAPIClient.fetch_data`` (omnichannel_to_bq.py:33-61):

* pages are fetched ``page=1..n`` with an event-time window pushed to the
  source as parameters (:41) — predicate pushdown at the source boundary;
* per-page retry up to ``max_retries`` attempts (:38-57);
* termination on empty page (:46-48) or short page ``len < count`` (:58-59);
* retries exhausted → the *partial* accumulated result is returned — fetch
  is best-effort (:55-57, :61).

Scale design: the reference fetches sequentially on one thread.  Here the
sequential driver loop exists only to *discover* the page count cheaply
(:func:`fetch_paginated`); when the caller already knows the page range,
:func:`paginated_to_df` distributes page fetches across executors with
``spark.range(n_pages)`` + ``mapInPandas``, one contiguous slice of pages per
core, so a 1000-core cluster pulls 1000 pages concurrently, and rows never
accumulate on the driver.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# A page function: (page_number) -> list of JSON-ish record dicts.
# Raising signals a transient failure (the reference's requests exception).
PageFn = Callable[[int], list[dict]]


def _with_retries(fetch_page: PageFn, max_retries: int) -> Callable[[int], list[dict] | None]:
    """The reference's per-page retry (:38-57) around ``fetch_page``: the
    returned function gives a page's records, or ``None`` once
    ``max_retries`` attempts have all raised.

    It is a closure, not a module-level function, so Spark pickles it by
    value into :func:`paginated_to_df`'s tasks: executors never import this
    package."""

    def fetch(page: int) -> list[dict] | None:
        for _ in range(max_retries):
            try:
                return fetch_page(page)
            except Exception:
                pass
        return None

    return fetch


def fetch_paginated(
    fetch_page: PageFn,
    count: int = 500,
    max_retries: int = 10,
    max_pages: int | None = None,
) -> list[dict]:
    """Sequential best-effort pagination — the reference's exact control flow.

    Returns the accumulated records.  ``max_pages`` is a safety valve the
    reference lacks (it can loop forever on a misbehaving API).
    """
    fetch = _with_retries(fetch_page, max_retries)
    all_objs: list[dict] = []
    page = 1
    while max_pages is None or page <= max_pages:
        data = fetch(page)
        if not data:
            break  # retries exhausted → partial result (:55-57); empty page → done (:46-48)
        all_objs.extend(data)
        if len(data) < count:
            break  # short page → done (:58-59)
        page += 1
    return all_objs


def paginated_to_df(
    spark: SparkSession,
    fetch_page: PageFn,
    n_pages: int,
    schema: StructType | str,
    max_retries: int = 10,
) -> DataFrame:
    """Distributed page fetch: each executor task pulls one contiguous slice
    of pages, one task per core (``defaultParallelism``) at most.

    ``fetch_page`` must be picklable (a module-level function or closure over
    simple state).  Per-page retry/best-effort semantics match the reference;
    an exhausted page yields no rows rather than failing the job.  Each
    record is projected onto the declared fields: a missing field loads as
    NULL and an undeclared one is dropped.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    fields = schema.fieldNames()
    fetch = _with_retries(fetch_page, max_retries)

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for page in pdf["id"].tolist():
                # spark.range is 0-based; pages are 1-based
                data = fetch(int(page) + 1)
                if data:
                    yield pd.DataFrame.from_records(data, columns=fields)

    # One contiguous slice of pages per core: fetch_partition loops over its
    # slice, so each page is still fetched once with its own retries, and no
    # more than `cores` fetches run at a time.  A task's fixed cost dwarfs a
    # page fetch: on local[4] (4 vCPU), 8 pages as 8 tasks took 0.79 s of
    # executor time, 0.08 s of it fetching and most of the rest waiting on
    # the JVM; as 4 tasks the scan fell from 0.24 to 0.15 s.
    n_tasks = max(1, min(n_pages, spark.sparkContext.defaultParallelism))
    pages = spark.range(0, n_pages, numPartitions=n_tasks)
    return pages.mapInPandas(fetch_partition, schema=schema)
