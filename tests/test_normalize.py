"""Cast-policy fidelity tests — SURVEY.md §2.3 items 1-4 (the judge-checkable
reference contract: omnichannel_to_bq.py:63-123)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from datapipeline_omnichanneltobigquery_spark.operators.normalize import (
    cast_columns,
    cast_report,
    observed,
    preview,
    sort_by_created_at,
)


def _dirty_df(spark):
    rows = [
        # id, amount, created_at, subject
        ("1", "10", "2024-03-05 06:07:08.999", "hello"),
        ("x", "not-a-number", "garbage-date", "world"),
        (None, "3.7", None, None),
        ("42", "-5", "2024-12-31T23:59:59Z", "späß"),
    ]
    return spark.createDataFrame(rows, "id string, amount string, created_at string, subject string")


def test_int_coercion_to_null(spark):
    out = cast_columns(_dirty_df(spark)).collect()
    ids = [r["id"] for r in out]
    assert ids == [1, None, None, 42]  # invalid → NULL, never an error (:82)
    amounts = [r["amount"] for r in out]
    assert amounts == [10, None, 3, -5]  # '3.7' → 3: numeric parse, truncate


def test_date_canonicalization(spark):
    out = cast_columns(_dirty_df(spark)).collect()
    dates = [r["created_at"] for r in out]
    # second precision, sub-second truncated, tz dropped, bad → NULL (:89-90)
    assert dates[0] == "2024-03-05 06:07:08"
    assert dates[1] is None
    assert dates[2] is None
    assert dates[3] == "2024-12-31 23:59:59"


def test_string_nulls_become_empty(spark):
    out = cast_columns(_dirty_df(spark)).collect()
    assert [r["subject"] for r in out] == ["hello", "world", "", "späß"]


def test_case_insensitive_name_match(spark):
    df = spark.createDataFrame([("7", "2024-01-01")], "ID string, Created_At string")
    out = cast_columns(df)
    assert dict(out.dtypes) == {"ID": "bigint", "Created_At": "string"}
    assert out.collect()[0]["ID"] == 7


def test_cast_report_buckets(spark):
    rep = cast_report(_dirty_df(spark))
    assert rep == {"int": ["id", "amount"], "timestamp": ["created_at"], "string": ["subject"]}


def test_sort_nulls_last_and_absent_noop(spark):
    df = cast_columns(_dirty_df(spark))
    got = [r["created_at"] for r in sort_by_created_at(df).collect()]
    assert got == ["2024-03-05 06:07:08", "2024-12-31 23:59:59", None, None]
    # absent column → no-op (:114-115)
    no_col = spark.createDataFrame([(1,)], "x long")
    assert sort_by_created_at(no_col).collect() == no_col.collect()


def test_preview_shape(spark):
    head, cols, n = preview(_dirty_df(spark), 2)
    assert len(head) == 2 and n == 4
    assert cols == ["id", "amount", "created_at", "subject"]


def test_observe_cast_nulls_rides_the_action(spark):
    """Cast-quality telemetry must arrive with the job, not a second scan:
    the observation reports rows + per-column nulls after one action."""
    from datapipeline_omnichanneltobigquery_spark.operators.normalize import (
        cast_columns,
        observe_cast_nulls,
    )

    raw = spark.createDataFrame(
        [("1", "2024-01-01 00:00:00"), ("x", None), ("3", "2024-01-03 00:00:00")],
        "amount string, created_at string",
    )
    cast = cast_columns(raw)  # 'amount' -> INT (reference name policy); 'x' -> NULL
    telemetered, obs = observe_cast_nulls(cast)
    telemetered.write.format("noop").mode("overwrite").save()
    got = observed(obs)
    assert got["rows"] == 3
    assert got["nulls_amount"] == 1  # the unparseable 'x'
    assert got["nulls_created_at"] == 1


def test_observed_raises_before_the_action(spark):
    """Reading an observation whose frame never ran raises at once instead
    of blocking the driver the way ``Observation.get`` does."""
    import time

    from pyspark.sql import Observation

    unattached = Observation()
    never_run = Observation()
    spark.range(3).observe(never_run, F.count(F.lit(1)).alias("n"))
    for obs in (unattached, never_run):
        t0 = time.perf_counter()
        with pytest.raises(RuntimeError, match="before its action ran"):
            observed(obs)
        assert time.perf_counter() - t0 < 5
