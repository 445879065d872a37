"""Catalog sink lifecycle: overwrite → upsert (merge and swap) → drop (the reference's
BigQueryManager surface, omnichannel_to_bq.py:125-201)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from datapipeline_omnichanneltobigquery_spark.sinks import catalog
from datapipeline_omnichanneltobigquery_spark.sinks.catalog import (
    drop_table,
    list_tables,
    overwrite_table,
    row_count,
    swap_table,
    table_columns,
    upsert_into_table,
)

OPEN_COST = "spark.sql.files.openCostInBytes"


def test_overwrite_and_count(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    assert overwrite_table(df, "t_main") == 2
    # WRITE_TRUNCATE: a second overwrite replaces, not appends (:151)
    assert overwrite_table(df.limit(1), "t_main") == 1
    assert row_count(spark, "t_main") == 1
    assert "t_main" in list_tables(spark)
    drop_table(spark, "t_main")


def test_upsert_lifecycle(spark):
    main = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    overwrite_table(main, "t_life")
    staging = spark.createDataFrame([(2, "B2"), (3, "c")], "id long, name string")
    n = upsert_into_table(spark, staging, "t_life", key="id")
    assert n == 3
    got = {r["id"]: r["name"] for r in spark.table("t_life").collect()}
    assert got == {1: "a", 2: "B2", 3: "c"}
    # the merge's intermediate tables are transient, as staging was (:296-301)
    assert not {"t_life__merged", "t_life__backup"} & set(list_tables(spark))
    assert table_columns(spark, "t_life") == ["id", "name"]
    drop_table(spark, "t_life")


def test_swap_table_no_loss_window(spark):
    """The swap renames main aside BEFORE the new table takes the name, so
    the old data is never dropped until the new name is live; afterwards the
    backup is gone and the new content answers under the main name."""
    overwrite_table(spark.createDataFrame([(1, "old")], "id long, v string"), "t_swap")
    overwrite_table(spark.createDataFrame([(2, "new")], "id long, v string"), "t_swap__in")
    # a stale backup from a previous crashed swap must not block the next one
    overwrite_table(spark.createDataFrame([(0, "stale")], "id long, v string"), "t_swap__backup")
    swap_table(spark, "t_swap", "t_swap__in")
    assert {r["v"] for r in spark.table("t_swap").collect()} == {"new"}
    tables = list_tables(spark)
    assert "t_swap__backup" not in tables and "t_swap__in" not in tables
    drop_table(spark, "t_swap")


def test_swap_table_refuses_a_partitioned_table(spark):
    """Renaming a partitioned table leaves its partitions' locations at the
    old path, so a swapped-in partitioned table would read no rows and the
    backup's drop would delete its data: the swap refuses before renaming."""
    rows = spark.range(60).select("id", (F.col("id") % 3).cast("string").alias("day"))
    overwrite_table(rows, "t_pswap", partition_by=["day"])
    overwrite_table(rows.withColumn("id", F.col("id") + 100), "t_pswap__in", partition_by=["day"])
    with pytest.raises(ValueError, match="t_pswap__in"):
        swap_table(spark, "t_pswap", "t_pswap__in")
    assert spark.table("t_pswap").agg(F.max("id")).first()[0] == 59
    assert spark.table("t_pswap__in").count() == 60
    assert "t_pswap__backup" not in list_tables(spark)
    drop_table(spark, "t_pswap")
    drop_table(spark, "t_pswap__in")


def test_merges_keep_main_split_across_cores(spark):
    """The merge splits main's scan by bytes, so the increment's tiny files
    cannot pack main's files together: after repeated merges main's rows
    stay spread over its part files instead of collapsing into one, and
    the merged count stays exact."""
    main = spark.range(0, 80000, 2, numPartitions=4).select(
        "id", F.concat(F.lit("v1-"), F.col("id").cast("string")).alias("v")
    )
    overwrite_table(main, "t_layout")
    # even ids hit main across its key range, odd ids are new
    inc = spark.range(0, 400, 1, numPartitions=4).select(
        (F.col("id") * 200 + F.col("id") % 2).alias("id"), F.lit("v2").alias("v")
    )
    for _ in range(3):
        assert upsert_into_table(spark, inc, "t_layout") == 40200
        per_file = [
            r["count"]
            for r in spark.table("t_layout").groupBy("_metadata.file_path").count().collect()
        ]
        assert sum(per_file) == 40200
        assert max(per_file) <= 40200 / 3, sorted(per_file)
    drop_table(spark, "t_layout")


def test_merge_restores_open_cost(spark, monkeypatch):
    """The merge's scan setting reads the same after a merge, and after a
    merge whose write raises, as before it."""
    before = spark.conf.get(OPEN_COST)
    overwrite_table(spark.createDataFrame([(1, "a")], "id long, v string"), "t_cost")
    upsert_into_table(spark, spark.createDataFrame([(2, "b")], "id long, v string"), "t_cost")
    assert spark.conf.get(OPEN_COST) == before

    def failing_write(df, name, partition_by=None):
        assert spark.conf.get(OPEN_COST) == "0"
        raise RuntimeError("write failed")

    monkeypatch.setattr(catalog, "overwrite_table", failing_write)
    with pytest.raises(RuntimeError, match="write failed"):
        upsert_into_table(spark, spark.createDataFrame([(3, "c")], "id long, v string"), "t_cost")
    assert spark.conf.get(OPEN_COST) == before
    assert row_count(spark, "t_cost") == 2
    drop_table(spark, "t_cost")


def test_drop_missing_ok(spark):
    assert drop_table(spark, "t_never_existed") is True


def test_partitioned_write_prunes(spark):
    """Partitioned layout: a filter on the partition column must become
    PartitionFilters (scan skips other partitions entirely)."""
    import pyspark.sql.functions as F
    from datapipeline_omnichanneltobigquery_spark.plans.audit import plan_string
    from datapipeline_omnichanneltobigquery_spark.sources.tables import read_table
    from tests.conftest import SF_DIR

    ev = read_table(spark, SF_DIR, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    assert overwrite_table(ev, "t_part", partition_by=["day"]) == ev.count()
    q = spark.table("t_part").filter(F.col("day") == "2024-01-05")
    plan = plan_string(q)
    assert "PartitionFilters" in plan and "2024-01-05" in plan, plan
    assert q.count() > 0
    drop_table(spark, "t_part")


def test_sink_roundtrip_query_prunes(spark):
    """The driver entry's read-back scan must prune to the yr=1997 partition
    directory (PartitionFilters), not scan-then-filter."""
    from datapipeline_omnichanneltobigquery_spark.plans.audit import plan_string
    from datapipeline_omnichanneltobigquery_spark.plans.persistence import (
        sink_partitioned_roundtrip,
    )
    from tests.conftest import SF_DIR

    q = sink_partitioned_roundtrip(spark, SF_DIR)
    plan = plan_string(q)
    assert "PartitionFilters" in plan and "1997" in plan, plan
    assert q.count() > 0


def test_scratch_path_is_per_application(spark, monkeypatch, tmp_path):
    """Builders' scratch directories are keyed by the session's application
    id and live under the session's temporary directory, outside the
    source tree; an assigned ``SCRATCH`` root is read at call time."""
    import os

    from pyspark import SparkFiles

    from datapipeline_omnichanneltobigquery_spark.plans import persistence

    app = spark.sparkContext.applicationId
    path = persistence.scratch_path(spark, "/data/sf0.001/", "ivf_index")
    assert path == os.path.join(SparkFiles.getRootDirectory(), app, "ivf_index_sf0_001")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert not path.startswith(repo + os.sep)
    monkeypatch.setattr(persistence, "SCRATCH", str(tmp_path))
    assert persistence.scratch_path(spark, "/data/sf0.01", "x") == str(tmp_path / app / "x_sf0_01")


def test_png_codec_roundtrip():
    """encode_png emits spec-valid bytes; decode_image recovers dimensions
    and rejects corruption."""
    import pytest as _pytest

    from datapipeline_omnichanneltobigquery_spark.operators.multimodal import (
        decode_image,
        encode_png,
    )

    png = encode_png(5, 7, gray=42)
    assert decode_image(png) == (5, 7)
    assert decode_image(encode_png(64, 1)) == (64, 1)
    corrupt = png[:18] + bytes([png[18] ^ 0xFF]) + png[19:]
    with _pytest.raises(ValueError):
        decode_image(corrupt)
    with _pytest.raises(NotImplementedError):
        decode_image(b"GIF89a not a png")


def test_versioned_snapshots(spark):
    """write_versioned keeps readable history, moves the current pointer
    only after a complete write, and prunes beyond the retention window."""
    from datapipeline_omnichanneltobigquery_spark.sinks.catalog import (
        list_versions,
        read_version,
        write_versioned,
    )

    name = "vtest_tbl"
    for t in list(spark.catalog.listTables()):
        if t.name.startswith(name):
            spark.sql(f"DROP {'VIEW' if t.tableType == 'VIEW' else 'TABLE'} IF EXISTS {t.name}")

    for i in (1, 2, 3, 4):
        df = spark.range(i * 10).withColumnRenamed("id", "n")
        assert write_versioned(df, name, keep=2) == i

    assert list_versions(spark, name) == [3, 4]          # pruned to keep=2
    assert spark.table(name).count() == 40               # pointer at v4
    assert read_version(spark, name).count() == 40
    assert read_version(spark, name, 3).count() == 30    # history readable
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_version(spark, name, 1)                     # pruned


def test_jsonl_export_manifest_roundtrip(spark, tmp_path):
    """JSONL shard export: deterministic id-hash shard membership, manifest
    row/byte/checksum totals verify against a distributed re-read, and
    tampering any shard fails verification."""
    import json
    import os

    from datapipeline_omnichanneltobigquery_spark.sinks.export import (
        verify_manifest,
        write_jsonl_shards,
    )
    from datapipeline_omnichanneltobigquery_spark.sources.tables import read_table
    from tests.conftest import SF_DIR

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "lang", "n_chars")
    out = str(tmp_path / "export")
    manifest = write_jsonl_shards(docs, out, "doc_id", n_shards=4)
    assert manifest["n_rows"] == docs.count()
    assert manifest["n_shards"] == 4 and len(manifest["shards"]) == 4
    assert verify_manifest(spark, out)

    # deterministic: a second export produces the identical manifest
    out2 = str(tmp_path / "export2")
    manifest2 = write_jsonl_shards(docs, out2, "doc_id", n_shards=4)
    assert manifest2 == manifest

    # every line is valid JSON carrying the exported columns
    sample = spark.read.text(out).limit(5).collect()
    for r in sample:
        rec = json.loads(r.value)
        assert set(rec) <= {"doc_id", "lang", "n_chars"}

    # tamper one shard -> verification must fail.  Drop the Hadoop local-FS
    # .crc sidecar first: on a real object store there is none, and we want
    # OUR manifest checksum (not Hadoop's) to be what catches the change.
    shard_dirs = [d for d in os.listdir(out) if d.startswith("__shard=")]
    sdir = os.path.join(out, shard_dirs[0])
    part = next(f for f in os.listdir(sdir) if f.startswith("part-"))
    crc = os.path.join(sdir, f".{part}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    with open(os.path.join(sdir, part), "a") as fh:
        fh.write('{"doc_id": 999999, "lang": "xx", "n_chars": 1}\n')
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mismatch|rows"):
        verify_manifest(spark, out)
