"""Catalog-backed sinks: the reference's BigQueryManager surface on Spark.

Maps omnichannel_to_bq.py:125-201 onto the Spark catalog:

* ``import_to_table`` (CSV load, autodetect, WRITE_TRUNCATE, :143-165)
  → :func:`overwrite_table` — a direct ``saveAsTable(mode='overwrite')``,
  keeping the types that were just cast instead of round-tripping text;
* staging→MERGE→drop lifecycle (:296-301) → :func:`upsert_into_table`, the
  one merge, batch and streaming: Spark merges straight from a DataFrame, so
  the staging table BigQuery's MERGE needs as its source is not written;
* ``list_tables`` (:132-141) → ``spark.catalog.listTables``;
* ``drop_table`` (not_found_ok, :193-201) → ``DROP TABLE IF EXISTS``;
* post-load COUNT(*) verification (:159, :186) → a ``count(1)``
  ``Observation`` on the write job of :func:`overwrite_table`, the one
  counted writer, so the loaded and merged counts cost no read-back scan;
  :func:`row_count` stays the table-level COUNT(*).

For an actual BigQuery deployment the same DataFrames go through
``df.write.format('bigquery')`` (spark-bigquery-connector); that writer is
isolated in :mod:`datapipeline_omnichanneltobigquery_spark.sinks.bigquery`
behind an import guard because the connector jar and credentials are
deployment concerns, not engine semantics.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from datapipeline_omnichanneltobigquery_spark.operators.normalize import observed
from datapipeline_omnichanneltobigquery_spark.operators.upsert import upsert
from datapipeline_omnichanneltobigquery_spark.session import scoped_conf


def swap_table(spark: SparkSession, main_table: str, staged_table: str) -> None:
    """Swap ``staged_table`` in under ``main_table``'s name without a
    data-loss window: the current main is renamed aside FIRST, so a crash at
    any point leaves either the original (as ``<main>__backup``) or the new
    table on disk — old data is dropped only after the new name is live.

    NOT reader-atomic: a concurrent reader can observe ``main_table`` absent
    between the two renames (the Hive-style catalog has no multi-table
    transaction).  Deployments that need reader atomicity should target a
    transactional format (Delta/Iceberg MERGE or REPLACE TABLE) — this
    helper is the best the plain parquet catalog can do.

    A partitioned ``staged_table`` raises ``ValueError`` before any rename:
    ``RENAME`` leaves its partitions' locations at the old path, so it would
    read no rows and the backup's drop would delete its data.
    """
    # DESCRIBE runs no job; listColumns iterates its result in two
    described = {r[0] for r in spark.sql(f"DESCRIBE {staged_table}").collect()}
    if "# Partition Information" in described:
        raise ValueError(f"cannot swap partitioned table {staged_table} in by rename")
    backup = f"{main_table}__backup"
    spark.sql(f"DROP TABLE IF EXISTS {backup}")
    spark.sql(f"ALTER TABLE {main_table} RENAME TO {backup}")
    spark.sql(f"ALTER TABLE {staged_table} RENAME TO {main_table}")
    spark.sql(f"DROP TABLE IF EXISTS {backup}")
    # rename moves the managed-table directory; invalidate the cached file
    # listing or the next read chases deleted part files
    spark.catalog.refreshTable(main_table)


def overwrite_table(df: DataFrame, name: str, partition_by: list[str] | None = None) -> int:
    """Create-or-truncate load (WRITE_TRUNCATE, :147-152); returns the
    loaded row count (:159), observed on the write job (no second pass over
    the table).

    Parquet managed table: at cluster scale the write is parallel per
    partition; no driver materialization.  ``partition_by`` hive-partitions
    the layout so filters on those columns become partition pruning
    (PartitionFilters in the scan) — the first thing to reach for on a
    100 TB time-series table (partition by day, filter by day).
    """
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(name)
    return observed(obs)["n"]


def upsert_into_table(
    spark: SparkSession,
    increment: DataFrame,
    main_table: str,
    key: str = "id",
    dedupe_by: str | None = None,
) -> int:
    """MERGE ``increment`` into ``main_table`` on ``key`` (:176-182) and
    write-new-then-swap the result in under the main name; returns the
    merged row count (:186), observed on the write job.

    The merge is the anti-join + union plan of
    :func:`datapipeline_omnichanneltobigquery_spark.operators.upsert.upsert`
    with the increment broadcast; ``dedupe_by`` keeps the latest row per key
    within the increment.  The increment is snapshotted lazily
    (``localCheckpoint(eager=False)``), so the broadcast anti-join and the
    inserted rows read one materialization of it — what the reference's
    staging table guaranteed — and its source runs once, in the broadcast
    job.  The write of ``<main>__merged`` has read all of main before
    :func:`swap_table` renames it.  Crash-safe, not reader-atomic (see
    :func:`swap_table`).

    The write splits main's scan by bytes alone (``openCostInBytes`` 0):
    Spark's 4 MB open cost per file would let the previous increment's tiny
    files pack main's files into ever fewer splits, until one task rewrote
    all of main.  A main in one file with one row group still scans as one
    task; splitting that needs a shuffle.
    """
    merged = upsert(
        spark.table(main_table),
        increment.localCheckpoint(eager=False),
        key=key,
        broadcast_staging=True,
        dedupe_staging_by=dedupe_by,
    )
    with scoped_conf(spark, {"spark.sql.files.openCostInBytes": "0"}):
        n = overwrite_table(merged, f"{main_table}__merged")
    swap_table(spark, main_table, f"{main_table}__merged")
    return n


def list_tables(spark: SparkSession, db: str | None = None) -> list[str]:
    """:132-141 — names of tables in the (current) database."""
    return [t.name for t in spark.catalog.listTables(db)]


def drop_table(spark: SparkSession, name: str) -> bool:
    """:193-201 — drop-if-exists, never raises."""
    try:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        return True
    except Exception:
        return False


def row_count(spark: SparkSession, name: str) -> int:
    """:159/:186 — SELECT COUNT(*) verification."""
    return spark.table(name).agg(F.count(F.lit(1)).alias("cnt")).collect()[0]["cnt"]


def table_columns(spark: SparkSession, name: str) -> list[str]:
    """:169-175 — schema introspection driving merge column lists."""
    return spark.table(name).columns


# ---------------------------------------------------------------------------
# Versioned snapshots (time-travel-lite for the plain-parquet catalog)
# ---------------------------------------------------------------------------


def write_versioned(df: DataFrame, name: str, keep: int = 3) -> int:
    """Write ``df`` as the next numbered snapshot of ``name`` and return the
    new version number.  Snapshots are plain catalog tables
    ``<name>__v<N>`` plus a current-pointer view ``<name>`` — the
    time-travel-lite pattern for a non-transactional catalog:

    * the snapshot is fully written BEFORE the pointer moves (a crash
      mid-write leaves the previous version live — same safety argument as
      :func:`swap_table`, but with readable history instead of one backup);
    * readers of ``<name>`` always see a complete version;
    * history is pruned to the newest ``keep`` snapshots AFTER the pointer
      moves.

    On Delta/Iceberg this whole mechanism is the format's own transaction
    log; this is the parquet-catalog equivalent with the same API shape.
    """
    spark = df.sparkSession
    if spark.catalog.tableExists(name):
        existing = spark.catalog.getTable(name)
        if (existing.tableType or "").upper() != "VIEW":
            # CREATE OR REPLACE VIEW cannot displace a plain table — fail
            # with the remedy instead of a confusing catalog error.
            raise ValueError(
                f"{name} already exists as a {existing.tableType} table; drop or "
                "rename it before versioned snapshots can own the name as a "
                "pointer view"
            )
    versions = list_versions(spark, name)
    v = (versions[-1] if versions else 0) + 1
    snap = f"{name}__v{v}"
    df.write.mode("errorifexists").saveAsTable(snap)
    spark.sql(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {snap}")
    for old in versions[: max(0, len(versions) + 1 - keep)]:
        spark.sql(f"DROP TABLE IF EXISTS {name}__v{old}")
    return v


def list_versions(spark: SparkSession, name: str) -> list[int]:
    """Available snapshot numbers for ``name``, ascending.  A db-qualified
    name ('db.tbl') is resolved against that database — matching on the bare
    suffix across the CURRENT database would list (and let write_versioned
    prune) another namespace's snapshots."""
    import re

    parts = name.split(".")
    db = parts[-2] if len(parts) > 1 else None
    pat = re.compile(re.escape(parts[-1]) + r"__v(\d+)$")
    out = []
    for t in spark.catalog.listTables(db):
        m = pat.fullmatch(t.name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def read_version(spark: SparkSession, name: str, version: int | None = None) -> DataFrame:
    """Read a specific snapshot of ``name`` (default: the newest)."""
    versions = list_versions(spark, name)
    if not versions:
        raise ValueError(f"no snapshots of {name}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} of {name} not available (have {versions})")
    return spark.table(f"{name}__v{v}")
