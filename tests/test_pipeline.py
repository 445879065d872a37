"""End-to-end reference-flow test: paginated fetch → cast → sort → sink
('new' then 'update'), the on_submit chain (omnichannel_to_bq.py:233-310)."""

from __future__ import annotations

import pytest

from datapipeline_omnichanneltobigquery_spark.pipeline import run_pipeline
from datapipeline_omnichanneltobigquery_spark.sinks.catalog import drop_table, list_tables
from datapipeline_omnichanneltobigquery_spark.sources.paginated import paginated_to_df

from tests.helpers import count_jobs


SCHEMA = "id string, created_at string, subject string"


def _logged_pages(log: str, stamps: dict[int, list]):
    """A page function over ``stamps`` (page → created_at values) that
    appends each page number it serves to the file ``log``.  Nested, so
    cloudpickle ships it by value: executors cannot import the tests
    package."""

    def _fetch(page: int) -> list[dict]:
        with open(log, "a") as f:
            f.write(f"{page}\n")
        return [
            {"id": str(page * 10 + i), "created_at": ts, "subject": f"s{page}{i}"}
            for i, ts in enumerate(stamps.get(page, []))
        ]

    return _fetch


def _page_calls(log: str) -> list[int]:
    with open(log) as f:
        return sorted(int(line) for line in f)


_STAMPS = {
    1: ["2024-01-05 00:00:00", None, "2024-01-02 00:00:00"],
    2: ["2024-01-09 00:00:00", "2024-01-01 00:00:00", "2024-01-07 00:00:00"],
    3: [None, "2024-01-03 00:00:00", "2024-01-06 00:00:00"],
}


def _first_five_by_created_at(stamps: dict[int, list]) -> list[int]:
    ordered = sorted(
        (ts, page * 10 + i)
        for page, col in stamps.items()
        for i, ts in enumerate(col)
        if ts is not None
    )
    return [i for _, i in ordered[:5]]


def test_pipeline_new_then_update(spark):
    # defined inside the test so cloudpickle ships it by value — executors
    # cannot import the tests package
    def _fetch(page: int) -> list[dict]:
        # two full pages then a short one; includes dirty values for the caster
        if page > 3:
            return []
        base = (page - 1) * 3
        rows = [
            {
                "id": str(base + i),
                "created_at": f"2024-01-0{page} 00:0{i}:00",
                "subject": f"s{base + i}",
            }
            for i in range(3)
        ]
        if page == 3:
            rows = rows[:1]
            rows[0]["id"] = "not-a-number"  # coercion exercise
        return rows

    res = run_pipeline(
        spark, fetch_page=_fetch, n_pages=5, schema=SCHEMA, action="new", table="t_pipe"
    )
    tables = set(list_tables(spark))
    assert res.rows_loaded == 7
    assert res.cast_report["int"] == ["id"]
    assert res.cast_report["timestamp"] == ["created_at"]
    got = {r["id"]: r["subject"] for r in spark.table("t_pipe").collect()}
    assert got[0] == "s0" and None in got  # coerced bad id present as NULL

    # update path: one changed row + one new row
    upd = spark.createDataFrame(
        [("2", "2024-02-01 00:00:00", "CHANGED"), ("99", "2024-02-02 00:00:00", "new")],
        SCHEMA,
    )
    res2 = run_pipeline(spark, source_df=upd, action="update", table="t_pipe", key="id")
    # 7 in main (incl. the NULL-id row, which never matches a key) − 1
    # matched (id=2, replaced) + 2 staging rows = 8
    assert res2.rows_loaded == 8
    got2 = {r["id"]: r["subject"] for r in spark.table("t_pipe").collect()}
    assert got2[2] == "CHANGED" and got2[99] == "new" and got2[0] == "s0"
    # the merge's `<table>__merged` and `<table>__backup` are gone, and it
    # created no other table
    assert set(list_tables(spark)) == tables
    drop_table(spark, "t_pipe")


def test_pipeline_update_missing_table_raises(spark):
    df = spark.createDataFrame([("1", "2024-01-01", "x")], SCHEMA)
    with pytest.raises(ValueError, match="not in catalog"):
        run_pipeline(spark, source_df=df, action="update", table="t_absent")


def test_pipeline_bad_action_raises(spark):
    df = spark.createDataFrame([("1", "2024-01-01", "x")], SCHEMA)
    with pytest.raises(ValueError, match="unsupported action"):
        run_pipeline(spark, source_df=df, action="replace", table="t_x")


def test_pipeline_update_db_qualified_table(spark):
    """'update' accepts the db-qualified table a 'new' run created, though
    the catalog's table listing only names tables of the current database."""
    spark.sql("CREATE DATABASE IF NOT EXISTS crm")
    try:
        new = spark.createDataFrame(
            [("1", "2024-01-01 00:00:00", "a"), ("2", "2024-01-02 00:00:00", "b")], SCHEMA
        )
        assert run_pipeline(spark, source_df=new, action="new", table="crm.deals").rows_loaded == 2
        upd = spark.createDataFrame(
            [("2", "2024-02-01 00:00:00", "CHANGED"), ("3", "2024-02-02 00:00:00", "c")], SCHEMA
        )
        res = run_pipeline(spark, source_df=upd, action="update", table="crm.deals", key="id")
        assert res.rows_loaded == 3
        got = {r["id"]: r["subject"] for r in spark.table("crm.deals").collect()}
        assert got == {1: "a", 2: "CHANGED", 3: "c"}
    finally:
        spark.sql("DROP DATABASE IF EXISTS crm CASCADE")


def test_pipeline_preview_costs_one_source_pass(spark, tmp_path):
    """Each page is fetched exactly once per run, with or without preview:
    the fetched source is cached by its first job (the preview's top-k or
    the sort's range sample), and the head is the first 5 rows in
    created_at order, nulls last."""
    log = str(tmp_path / "page_calls.log")
    n_pages = len(_STAMPS)
    common = dict(
        fetch_page=_logged_pages(log, _STAMPS), n_pages=n_pages, schema=SCHEMA, action="new"
    )
    try:
        run_pipeline(spark, table="t_no_preview", **common)
        plain = len(_page_calls(log))
        assert plain == n_pages
        res = run_pipeline(spark, table="t_preview", show_preview=True, **common)
        assert len(_page_calls(log)) - plain == n_pages
        assert [r["id"] for r in res.head] == _first_five_by_created_at(_STAMPS)
    finally:
        drop_table(spark, "t_no_preview")
        drop_table(spark, "t_preview")


def test_pipeline_update_preview_costs_one_source_pass(spark, tmp_path):
    """An update's preview is the first 5 increment rows in created_at
    order, nulls last, though the merge itself does not sort; the preview
    and the merge share one fetch of each page."""
    log = str(tmp_path / "page_calls.log")
    main = spark.createDataFrame([("1", "2024-01-04 00:00:00", "m")], SCHEMA)
    try:
        run_pipeline(spark, source_df=main, action="new", table="t_upd_preview")
        res = run_pipeline(
            spark,
            fetch_page=_logged_pages(log, _STAMPS),
            n_pages=len(_STAMPS),
            schema=SCHEMA,
            action="update",
            table="t_upd_preview",
            show_preview=True,
        )
        assert _page_calls(log) == sorted(_STAMPS)
        assert [r["id"] for r in res.head] == _first_five_by_created_at(_STAMPS)
        assert res.rows_loaded == 1 + sum(len(c) for c in _STAMPS.values())
    finally:
        drop_table(spark, "t_upd_preview")


def test_pipeline_update_reads_caller_pages_once(spark, tmp_path):
    """A caller's un-persisted paginated frame passed as ``source_df`` is
    fetched once per page by an update: the merge's broadcast anti-join
    and its inserted rows read one snapshot of the increment."""
    log = str(tmp_path / "page_calls.log")
    stamps = {1: ["2024-02-01 00:00:00", None], 2: ["2024-02-03 00:00:00"]}
    main = spark.createDataFrame(
        [("10", "2024-01-01 00:00:00", "old"), ("5", "2024-01-02 00:00:00", "keep")], SCHEMA
    )
    try:
        run_pipeline(spark, source_df=main, action="new", table="t_upd_pages")
        inc = paginated_to_df(spark, _logged_pages(log, stamps), len(stamps), SCHEMA)
        res = run_pipeline(spark, source_df=inc, action="update", table="t_upd_pages")
        assert _page_calls(log) == [1, 2]
        assert res.rows_loaded == 4
        got = {r["id"]: r["subject"] for r in spark.table("t_upd_pages").collect()}
        assert got == {5: "keep", 10: "s10", 11: "s11", 20: "s20"}
    finally:
        drop_table(spark, "t_upd_pages")


def test_pipeline_job_counts(spark):
    """Row counts ride the write jobs, so neither path reads its table back
    for a count, and the fetched pages are cached, so the sort's sample and
    the write share one fetch: 4 jobs for a 'new' run over pages.  An
    'update' from a frame runs 2: the broadcast of the increment and the
    merged write, with no staging table and no sort."""

    def _fetch(page: int) -> list[dict]:
        return [
            {"id": str(page * 10 + i), "created_at": f"2024-01-0{page} 00:0{i}:00", "subject": "s"}
            for i in range(3)
        ]

    upd = spark.createDataFrame(
        [("11", "2024-02-01 00:00:00", "CHANGED"), ("99", "2024-02-02 00:00:00", "new")], SCHEMA
    )
    try:
        new = count_jobs(
            spark,
            lambda: run_pipeline(
                spark, fetch_page=_fetch, n_pages=3, schema=SCHEMA, action="new", table="t_jobs"
            ),
        )
        update = count_jobs(
            spark, lambda: run_pipeline(spark, source_df=upd, action="update", table="t_jobs")
        )
        assert (new, update) == (4, 2)
        assert spark.table("t_jobs").count() == 10
    finally:
        drop_table(spark, "t_jobs")


def test_pipeline_empty_fetch_loads_nothing(spark):
    """A source whose every page is empty loads an empty table, and an
    empty update leaves it empty: the observed count still arrives with
    the write job when there are no rows to write."""

    def _fetch(page: int) -> list[dict]:
        return []

    common = dict(fetch_page=_fetch, n_pages=3, schema=SCHEMA, table="t_empty")
    try:
        assert run_pipeline(spark, action="new", **common).rows_loaded == 0
        assert spark.table("t_empty").count() == 0
        assert run_pipeline(spark, action="update", **common).rows_loaded == 0
        assert spark.table("t_empty").count() == 0
    finally:
        drop_table(spark, "t_empty")
