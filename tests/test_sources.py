"""File-format sources: CSV/JSON round-trips preserve data under explicit
schemas (the reference's CSV+autodetect load path loses types —
omnichannel_to_bq.py:145-152 — ours must not)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from datapipeline_omnichanneltobigquery_spark.sources.tables import (
    TABLES,
    read_csv,
    read_json,
    read_table,
)
from perfbench.starschema import write_tables

from tests.conftest import SF_DIR
from tests.helpers import count_jobs


def test_csv_roundtrip_with_schema(spark, tmp_path):
    orders = read_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    path = str(tmp_path / "orders_csv")
    orders.write.option("header", True).csv(path)
    back = read_csv(
        spark, path, schema="o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string"
    )
    assert back.schema == orders.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, orders.collect()))


def test_json_roundtrip_preserves_nested(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, {"a": 2, "tags": ["x", "y"]}), (2, {"a": 3, "tags": []})],
        "id long, payload struct<a: long, tags: array<string>>",
    )
    path = str(tmp_path / "nested_json")
    df.write.json(path)
    back = read_json(spark, path, schema=df.schema)
    assert sorted((r.id, r.payload.a, tuple(r.payload.tags)) for r in back.collect()) == [
        (1, 2, ("x", "y")),
        (2, 3, ()),
    ]


def test_json_inference(spark, tmp_path):
    path = str(tmp_path / "inferred")
    spark.createDataFrame([(1, "x")], "id long, s string").write.json(path)
    back = read_json(spark, path)
    assert set(back.columns) == {"id", "s"}


def test_envelope_unwrap(spark, tmp_path):
    """S3: the API envelope `{'deals': [...]}` unwraps to records; missing
    envelopes contribute no rows (omnichannel_to_bq.py:45)."""
    from datapipeline_omnichanneltobigquery_spark.sources.tables import unwrap_envelope

    path = str(tmp_path / "envelope")
    spark.createDataFrame(
        [([{"id": 1, "s": "a"}, {"id": 2, "s": "b"}],), ([],), (None,)],
        "deals array<struct<id: long, s: string>>",
    ).write.json(path)
    env = read_json(spark, path, schema="deals array<struct<id: long, s: string>>")
    out = unwrap_envelope(env, "deals")
    assert sorted((r.id, r.s) for r in out.collect()) == [(1, "a"), (2, "b")]


def test_orc_roundtrip(spark, tmp_path):
    """ORC scan/write — the second columnar format the engine supports."""
    nation = read_table(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_orc")
    nation.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == nation.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_event_ts_normalized_regardless_of_physical_type(spark):
    """The driver regenerates testdata between rounds and has already changed
    events.ts's physical parquet type once (NANOS->MICROS-NTZ, round 3).
    Whatever the layout, read_table must surface a session-local TIMESTAMP so
    unix_micros/window/date_format consumers keep working."""
    from tests.conftest import SF_DIR

    ev = read_table(spark, SF_DIR, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp", ev.dtypes
    # and it must actually be usable by the micros accessor
    assert ev.select(F.unix_micros("ts")).first()[0] is not None


def test_read_table_runs_no_spark_job(spark):
    """Every table's schema is declared, so a read runs no schema-inference
    job: only the actions on the result run jobs."""
    jobs = {t: count_jobs(spark, lambda t=t: read_table(spark, SF_DIR, t)) for t in TABLES}
    assert jobs == dict.fromkeys(TABLES, 0)


def test_read_table_reads_a_directory_of_part_files(spark, tmp_path):
    """A table stored as a directory of part files, the layout Spark
    writes, reads with no job and the same rows as the single file: only
    the first part file's footer is checked."""
    rows = pq.read_table(f"{SF_DIR}/region.parquet")
    table_dir = tmp_path / "region.parquet"
    table_dir.mkdir()
    half = rows.num_rows // 2
    pq.write_table(rows.slice(0, half), table_dir / "part-00000.parquet")
    pq.write_table(rows.slice(half), table_dir / "part-00001.parquet")
    (table_dir / "_SUCCESS").touch()
    assert count_jobs(spark, lambda: read_table(spark, str(tmp_path), "region")) == 0
    got = read_table(spark, str(tmp_path), "region")
    want = read_table(spark, SF_DIR, "region")
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def _inferred(spark, sf_dir, name):
    """The schema an undeclared read gives, with read_table's ts cast."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df.schema


def test_declared_schemas_match_inference(spark, tmp_path):
    """The declared schemas are exactly what inference gave, on the
    reference testdata and on the benchmark's seeded star-schema copy."""
    write_tables(1, 0.01, str(tmp_path))
    for sf_dir in (SF_DIR, str(tmp_path)):
        for t in TABLES:
            assert read_table(spark, sf_dir, t).schema == _inferred(spark, sf_dir, t), (sf_dir, t)


def _events_copy(out_dir, change) -> str:
    """``events.parquet`` rewritten by ``change(table)`` into ``out_dir``."""
    out_dir.mkdir(exist_ok=True)
    table = change(pq.read_table(f"{SF_DIR}/events.parquet"))
    pq.write_table(table, str(out_dir / "events.parquet"))
    return str(out_dir)


def _set(table: pa.Table, name: str, array) -> pa.Table:
    return table.set_column(table.schema.get_field_index(name), name, array)


def test_read_table_footer_mismatch_names_the_column(spark, tmp_path):
    """A declared column the file lacks, or holds as another type, fails
    before Spark can read it as NULL."""
    renamed = _events_copy(
        tmp_path / "renamed",
        lambda t: t.rename_columns(["props_v2" if c == "props" else c for c in t.column_names]),
    )
    with pytest.raises(ValueError, match="'props'"):
        read_table(spark, renamed, "events")
    retyped = _events_copy(
        tmp_path / "retyped", lambda t: _set(t, "value", t["value"].cast(pa.string()))
    )
    with pytest.raises(ValueError, match="'value' is declared double but the file holds string"):
        read_table(spark, retyped, "events")


def test_read_table_nanos_event_ts(spark, tmp_path):
    """An events file whose ts is TIMESTAMP(NANOS) reads as the same
    session TIMESTAMP, microsecond for microsecond."""
    nanos = _events_copy(tmp_path, lambda t: _set(t, "ts", t["ts"].cast(pa.timestamp("ns"))))
    assert pq.read_schema(f"{nanos}/events.parquet").field("ts").type == pa.timestamp("ns")

    def micros(sf_dir):
        df = read_table(spark, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        return df.select("event_id", F.unix_micros("ts")).orderBy("event_id").collect()

    assert micros(nanos) == micros(SF_DIR)


def test_read_json_tolerant_quarantines_bad_lines(spark, tmp_path):
    """PERMISSIVE ingestion: good rows parse, malformed lines land in the
    quarantine frame, nothing throws."""
    from datapipeline_omnichanneltobigquery_spark.sources.tables import (
        CORRUPT_COL,
        read_json_tolerant,
    )

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        "{this is not json}\n"
        '{"id": 2, "name": "fine"}\n'
        '{"id": "not-an-int", "name": 3}\n'
    )
    good, bad = read_json_tolerant(spark, str(p), "id BIGINT, name STRING")
    good_rows = {(r.id, r.name) for r in good.collect()}
    assert (1, "ok") in good_rows and (2, "fine") in good_rows
    bad_rows = [r[CORRUPT_COL] for r in bad.collect()]
    assert any("{this is not json}" in b for b in bad_rows)
    # type-mismatch rows are also quarantined, not silently nulled away
    assert len(good_rows) == 2 and len(bad_rows) == 2


def test_read_json_tolerant_does_not_mutate_caller_schema(spark, tmp_path):
    """StructType.add mutates in place — the tolerant reader must build a
    copy, so a caller-supplied schema object survives reuse across calls."""
    from pyspark.sql.types import LongType, StructField, StructType

    from datapipeline_omnichanneltobigquery_spark.sources.tables import read_json_tolerant

    p = tmp_path / "rows.jsonl"
    p.write_text('{"id": 1}\n{"id": 2}\n')
    schema = StructType([StructField("id", LongType())])
    for _ in range(2):  # second call would see a duplicated corrupt column
        good, bad = read_json_tolerant(spark, str(p), schema)
        # collect() (not count()) — counts prune every column but the corrupt
        # filter reference, a pattern Spark's json reader refuses to serve
        assert good.columns == ["id"]
        assert len(good.collect()) == 2 and len(bad.collect()) == 0
    assert [f.name for f in schema.fields] == ["id"]


def test_footer_stats_pushes_aggregate_to_parquet_metadata(spark):
    """The profile must be answered from row-group statistics: the plan
    carries PushedAggregation, and the values equal a real scan's."""
    import pyspark.sql.functions as F2

    from datapipeline_omnichanneltobigquery_spark.session import scoped_conf
    from datapipeline_omnichanneltobigquery_spark.sources.tables import (
        AGGREGATE_PUSHDOWN,
        _footer_stats_df,
        footer_stats,
    )

    # numeric columns: timestamp_ntz (this file's raw l_shipdate layout) is
    # not pushdown-eligible, and one ineligible column disables pushdown for
    # the whole scan (silent fallback to a real scan — values still correct)
    path = f"{SF_DIR}/lineitem.parquet"
    got = footer_stats(spark, path, ["l_quantity", "l_orderkey"])

    ref_row = (
        spark.read.parquet(path)
        .agg(
            F2.count(F2.lit(1)).alias("n_rows"),
            F2.min("l_quantity").alias("min_l_quantity"),
            F2.max("l_quantity").alias("max_l_quantity"),
            F2.min("l_orderkey").alias("min_l_orderkey"),
            F2.max("l_orderkey").alias("max_l_orderkey"),
        )
        .collect()[0]
        .asDict()
    )
    assert got == ref_row and got["n_rows"] > 0

    with scoped_conf(spark, AGGREGATE_PUSHDOWN):
        plan = (
            _footer_stats_df(spark, path, ["l_quantity"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    assert "PushedAggregation: [COUNT(*), MIN(l_quantity), MAX(l_quantity)]" in plan, plan


def test_read_parquet_evolved_schema(spark, tmp_path):
    """Files written before a column existed read NULL for it under the
    merged schema; all rows from every schema generation survive."""
    from datapipeline_omnichanneltobigquery_spark.sources.tables import read_parquet_evolved

    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"]).write.mode(
        "append"
    ).parquet(p)
    spark.createDataFrame(
        [(3, "c", 30.0), (4, "d", 40.0)], ["id", "name", "score"]
    ).write.mode("append").parquet(p)
    got = {r.id: (r.name, r.score) for r in read_parquet_evolved(spark, p).collect()}
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 30.0), 4: ("d", 40.0)}
