"""Persistence round-trip under the driver gate (SURVEY.md §2.1 K1/K2/K5):
write partitioned parquet, read it back with a partition-pruned scan, and
prove content fidelity against the oracle computed from the ORIGINAL table —
the write→read cycle is only correct if both directions preserve values.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession

from datapipeline_omnichanneltobigquery_spark.functions.scalars import money
from datapipeline_omnichanneltobigquery_spark.plans.queries import query
from datapipeline_omnichanneltobigquery_spark.sinks.bucketed import write_bucketed
from datapipeline_omnichanneltobigquery_spark.sinks.layout import (
    write_range_sorted,
    zorder_scaled,
    zorder_scaled_sql,
)
from datapipeline_omnichanneltobigquery_spark.sources.tables import read_table

# Root of the builders' scratch directories (indexes, round-trip tables).
# None: the driver's per-session temporary directory under spark.local.dir,
# which Spark deletes when the session stops.  A harness may assign a path.
SCRATCH: str | None = None


def scratch_path(spark: SparkSession, sf_dir: str, name: str) -> str:
    """The directory a builder writes ``name`` for the tables of ``sf_dir``
    under: ``<root>/<applicationId>/<name>_<sf tag>``, so two sessions never
    share one.  ``root`` is :data:`SCRATCH`, read at call time; overwrite
    mode makes reruns in one session idempotent."""
    root = SCRATCH or SparkFiles.getRootDirectory()
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    return os.path.join(root, spark.sparkContext.applicationId, f"{name}_{sf_tag}")


@query(
    "sink_partitioned_roundtrip",
    oracle="""
    SELECT 'parquet' AS kind, o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           year(o_orderdate) AS yr
    FROM orders
    WHERE year(o_orderdate) = 1997
    UNION ALL
    SELECT 'csv' AS kind, o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           year(o_orderdate) AS yr
    FROM orders
    WHERE year(o_orderdate) = 1997
    """,
)
def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/K2/K5 + partition pruning as one driver-verified cycle (marker
    column ``kind``).

    ``parquet``: project orders, hive-partition the layout by year,
    overwrite-load it (WRITE_TRUNCATE semantics,
    omnichannel_to_bq.py:147-152), read back filtered to one year — the
    read-side filter hits PartitionFilters (directory pruning — only
    yr=1997 files are opened; asserted in tests/test_sinks.py), which is
    the 100 TB time-series layout: partition by time, prune by time.

    ``csv``: the same subset through the CSV sink + explicit-schema read —
    the reference's actual load path (``___temp_for_bq.csv``,
    omnichannel_to_bq.py:145-152), proving the text round-trip preserves
    values exactly (Java double repr round-trips bit-exactly; the read uses
    an explicit schema, never autodetect re-inference)."""
    path = scratch_path(spark, sf_dir, "roundtrip_orders")
    out = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.year("o_orderdate").alias("yr"),
    )
    out.write.mode("overwrite").partitionBy("yr").parquet(path)
    back = spark.read.parquet(path).filter(F.col("yr") == 1997)
    parquet_side = back.select(
        F.lit("parquet").alias("kind"),
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.col("yr").cast("int").alias("yr"),
    )

    csv_path = scratch_path(spark, sf_dir, "roundtrip_orders_csv")
    out.filter(F.col("yr") == 1997).write.mode("overwrite").option("header", "true").csv(csv_path)
    csv_back = (
        spark.read.option("header", "true")
        .schema("o_orderkey bigint, o_custkey bigint, o_totalprice double, yr int")
        .csv(csv_path)
    )
    csv_side = csv_back.select(
        F.lit("csv").alias("kind"), "o_orderkey", "o_custkey", "o_totalprice", "yr"
    )
    return parquet_side.unionByName(csv_side)


@query(
    "bucketed_revenue_join",
    driver=False,  # rotated out r11 (multi-green); q18 + flagship anchor joins
    # new r4: the bucketed-layout path itself under the oracle gate
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def bucketed_revenue_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recurring-fact-join layout end-to-end: write orders AND lineitem
    bucketed by the join key, then compute per-order revenue reading the
    bucketed copies — a sort-merge join with ZERO Exchange anywhere in the
    plan (both join inputs arrive hash-clustered from the file layout, and
    the per-order aggregate's clustering requirement is satisfied by the
    same bucketing).  This is the single biggest recurring-cost saver for
    fact-fact joins at 100 TB: the shuffle is paid once at write time,
    amortized over every subsequent join.  The merge hint pins the join
    strategy — at test SF the planner would otherwise broadcast the small
    side, which proves nothing about the layout.  Plan shape asserted in
    tests/test_bucketed.py; value fidelity by the oracle on the ORIGINAL
    tables (the bucketed copies must be a faithful re-layout)."""
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    ot, lt = f"bkt_orders_{sf_tag}", f"bkt_lineitem_{sf_tag}"
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    write_bucketed(o, ot, "o_orderkey", n_buckets=8, sort_col="o_orderkey")
    write_bucketed(li, lt, "l_orderkey", n_buckets=8, sort_col="l_orderkey")
    ob, lb = spark.table(ot), spark.table(lt)
    return (
        ob.hint("merge")
        .join(lb, ob.o_orderkey == lb.l_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(money(F.col("l_extendedprice")) * (F.lit(1) - money(F.col("l_discount"))))
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "range_sorted_roundtrip",
    driver=False,  # third member of the gated layout family (partitioned + bucketed gated)
    oracle="""
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value
    FROM events
    WHERE user_id BETWEEN 100 AND 199
    """,
)
def range_sorted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-sorted layout cycle (sinks/layout.py): write events range-
    partitioned + sorted by user_id, read back with a range filter — the
    filter prunes non-matching FILES via footer min/max statistics (the
    spans are disjoint by construction; tests/test_layout.py proves it from
    the footers), and the oracle on the ORIGINAL table proves the re-layout
    lost nothing."""
    path = scratch_path(spark, sf_dir, "events_range_sorted")
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    write_range_sorted(ev, path, "user_id", n_partitions=8)
    return (
        spark.read.parquet(path)
        .filter(F.col("user_id").between(100, 199))
        .select("event_id", "user_id", "event_type", F.col("value").cast("double").alias("value"))
    )


@query(
    "layout_zorder_values",
    driver=False,  # z-value math under the oracle; write path pinned in test_layout
    oracle=f"""
    SELECT o_orderkey, zval FROM {zorder_scaled_sql(
        "(SELECT o_orderkey, o_custkey,"
        " date_diff('day', DATE '1970-01-01', o_orderdate) AS o_day FROM orders)",
        "o_custkey", "o_day")} z
    """,
)
def layout_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-curve) clustering values over (customer, order-day) — the
    multi-column data-skipping layout (Delta's OPTIMIZE ZORDER): both
    columns min-max scale to 16-bit integer ranks via exact integer
    arithmetic, then bit-interleave into one 32-bit zval, all
    shift/and/or codegen.  The oracle recomputes every bit in DuckDB, so
    the hash gate proves the curve math; write_zordered range-partitions
    on this value and test_layout proves the resulting files prune on
    BOTH columns."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("o_day"),
    )
    return zorder_scaled(o, "o_custkey", "o_day").select("o_orderkey", "zval")
