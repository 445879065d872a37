"""End-to-end reference-flow test: paginated fetch → cast → sort → sink
('new' then 'update'), the on_submit chain (omnichannel_to_bq.py:233-310)."""

from __future__ import annotations

import pytest

from datapipeline_omnichanneltobigquery_spark.pipeline import run_pipeline
from datapipeline_omnichanneltobigquery_spark.sinks.catalog import drop_table, list_tables


SCHEMA = "id string, created_at string, subject string"


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
    assert "__staging" not in list_tables(spark)
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
