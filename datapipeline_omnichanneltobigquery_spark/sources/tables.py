"""Parquet/CSV/JSON table readers over the driver testdata layout.

The reference's only source is a paginated REST API
(omnichannel_to_bq.py:33-61, handled in
:mod:`datapipeline_omnichanneltobigquery_spark.sources.paginated`); file scans
are the engine extension that makes everything else testable and is the
natural 100 TB substrate: columnar parquet scans get predicate pushdown,
column pruning, and partition pruning from Catalyst for free.

The ten testdata tables are read under schemas declared in ``SCHEMAS``
rather than inferred.  Spark infers a parquet schema with a one-task job,
so an undeclared read costs one Spark job per call, and the query registry
reads tables from hundreds of call sites.  Each read first checks the
declared columns against a parquet footer on the driver (pyarrow, well
under a millisecond, no cache), and fails with the column's name on a
mismatch instead of letting Spark read a missing column as NULL.  A table
is one parquet file or a directory of part files, the layout Spark writes.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import LongType, StructField, StructType, TimestampNTZType, TimestampType

from datapipeline_omnichanneltobigquery_spark.session import scoped_conf

# The testdata tables and their declared schemas: the types Spark's
# own inference gives these files (the same at every scale factor).
SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double,"
    " c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int,"
    " p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double,"
    " o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int,"
    " l_quantity double, l_extendedprice double, l_discount double, l_tax double,"
    " l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string,"
    " value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}
TABLES = tuple(SCHEMAS)

# Event-time columns whose physical parquet type has varied across driver
# testdata generations: TIMESTAMP(NANOS) (surfaced as epoch-nanos LongType
# under spark.sql.legacy.parquet.nanosAsLong=true) or TIMESTAMP(MICROS,
# isAdjustedToUTC=false) (surfaced as TIMESTAMP_NTZ in Spark 4).  Either way
# we normalize to session-local TimestampType at microsecond precision —
# the session zone is pinned to UTC below, so the NTZ→LTZ cast is
# value-preserving and matches what DuckDB reads from the same file.
_EVENT_TS_COLUMNS = {"events": ("ts",)}


def _spark_kind(at: pa.DataType) -> str:
    """The Spark type that inference gives a column pyarrow reads as ``at``."""
    try:
        return from_arrow_type(at).simpleString()
    except TypeError:  # no Spark reading
        return str(at)


def _checked_schema(path: str, declared: StructType) -> StructType:
    """``declared`` as it must be read from ``path``, checked against a
    parquet footer on the driver (no Spark job).  For a directory of part
    files only the footer of the first part file in sorted order is
    checked, the file schema inference without ``mergeSchema`` reads too.
    A declared column that is missing or of another kind raises
    ``ValueError``, where Spark would silently read a missing column as
    NULL; undeclared columns are not read."""
    if os.path.isdir(path):
        # Spark's listing skips names starting with `_` or `.` (_SUCCESS,
        # .crc files)
        parts = sorted(f for f in os.listdir(path) if not f.startswith(("_", ".")))
        if not parts:
            raise ValueError(f"{path}: directory holds no part file")
        footer = pq.read_schema(os.path.join(path, parts[0]))
    else:
        footer = pq.read_schema(path)
    fields = []
    for field in declared:
        kind = field.dataType.simpleString()
        if field.name not in footer.names:
            raise ValueError(f"{path}: declared column {field.name!r} ({kind}) is missing")
        at = footer.field(field.name).type
        if kind in ("timestamp", "timestamp_ntz") and pa.types.is_timestamp(at):
            # the file's unit and UTC flag decide, as under inference: NANOS
            # read as epoch-nanos (nanosAsLong), MICROS/MILLIS are NTZ
            # unless flagged as adjusted to UTC
            ts = LongType() if at.unit == "ns" else TimestampType() if at.tz else TimestampNTZType()
            field = StructField(field.name, ts)
        elif (found := _spark_kind(at)) != kind:
            raise ValueError(
                f"{path}: column {field.name!r} is declared {kind} but the file holds {found}"
            )
        fields.append(field)
    return StructType(fields)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame under its declared schema.

    The schema comes from ``SCHEMAS`` and is checked against a parquet
    footer on the driver (for a directory of part files, the first part
    file's only), so the read runs no Spark job, where an
    undeclared read runs a schema-inference job on every call.  Plain
    parquet scan, so filters/projections placed on the result push down
    into it (check ``PushedFilters`` in ``.explain``).
    """
    # Defensive session confs for sessions not built by get_spark() (e.g. the
    # driver's own).  Both are runtime-settable:
    # - UTC session tz: date_format/window on ltz timestamps render in the
    #   session zone; a non-UTC ambient zone would silently shift every
    #   formatted timestamp relative to the (naive) DuckDB oracle;
    # - nanosAsLong, when a declared timestamp column is NANOS in the file:
    #   Spark 4 otherwise rejects TIMESTAMP(NANOS) parquet.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    declared = StructType.fromDDL(SCHEMAS[name])
    schema = _checked_schema(path, declared)
    if any(r.dataType != d.dataType and r.dataType == LongType() for r, d in zip(schema, declared)):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(schema).parquet(path)
    for col in _EVENT_TS_COLUMNS.get(name, ()):
        dtype = schema[col].dataType.simpleString()
        if dtype == "bigint":
            # TIMESTAMP(NANOS) read as epoch-nanos.  Integer arithmetic:
            # epoch-nanos exceed double's 2^53 exact range, so a float
            # divide would occasionally shift the microsecond; and the
            # pmod form FLOORS (matching every other engine's unit
            # conversion) where `div` truncates toward zero and would be
            # +1µs off for pre-1970 instants.
            df = df.withColumn(
                col,
                F.timestamp_micros(
                    F.expr(f"(`{col}` - pmod(`{col}`, 1000)) div 1000")
                ),
            )
        elif dtype == "timestamp_ntz":
            # TIMESTAMP(MICROS, no UTC adjustment).  Session tz is UTC, so
            # this cast relabels the same instant; unix_micros/window/etc.
            # require the LTZ type.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    """CSV scan; explicit schema preferred (autodetect re-inference is the
    reference's load-path weakness — omnichannel_to_bq.py:145-152 round-trips
    through CSV + BigQuery autodetect, losing the types it just cast)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines scan with optional explicit schema (sampled inference
    otherwise); nested structs are preserved, unlike the reference which
    stringifies them (omnichannel_to_bq.py:96)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


CORRUPT_COL = "_corrupt_record"


def read_json_tolerant(spark: SparkSession, path: str, schema) -> tuple[DataFrame, DataFrame]:
    """JSON-lines scan that SURVIVES malformed rows instead of failing the
    job: PERMISSIVE mode parks each unparseable line in ``_corrupt_record``
    and nulls the data columns.  Returns (good, bad) DataFrames — the
    quarantine pattern every long-running ingestion needs at scale (one bad
    line in 100 TB must not kill the load; the reference's eager
    ``resp.json()`` at omnichannel_to_bq.py:45 simply crashes).

    ``schema`` is required (a StructType or DDL string WITHOUT the corrupt
    column — it is appended here): schema inference would read the data
    twice and silently drop the quarantine column."""
    from pyspark.sql.types import StringType, StructField, StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    # build a COPY — StructType.add mutates in place, so appending to the
    # caller's object would leak the corrupt column into their schema (and
    # append it twice if the same object were passed to two calls)
    full = StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType())])
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    # The quarantine keeps the FULL row (partially-parsed columns + raw
    # line) — also sidestepping Spark's restriction on querying only the
    # corrupt column from a raw file scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN).
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    return good, bad


def unwrap_envelope(df: DataFrame, obj_key: str) -> DataFrame:
    """Envelope projection (S3): select the one array field of an API
    response envelope and explode it to records —
    ``resp.json().get(obj_key, [])`` (omnichannel_to_bq.py:45) as a plan.
    Missing/NULL envelopes contribute zero rows, like ``.get(key, [])``."""
    return df.select(F.explode(F.col(obj_key)).alias("record")).select("record.*")


# Aggregate pushdown is DSv2-only and the engine's default scans stay on v1
# (stable plan shapes), so footer_stats flips these for its call only; the
# aggregate must EXECUTE under them, hence the collect inside.
AGGREGATE_PUSHDOWN = {
    "spark.sql.sources.useV1SourceList": "",
    "spark.sql.parquet.aggregatePushdown": "true",
}


def _footer_stats_df(spark: SparkSession, path: str, cols: list[str]) -> DataFrame:
    """The aggregate whose scan is answered from parquet footer statistics
    (caller must run it under ``AGGREGATE_PUSHDOWN``)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return spark.read.parquet(path).agg(*aggs)


def footer_stats(spark: SparkSession, path: str, cols: list[str]) -> dict:
    """COUNT/MIN/MAX table profile answered from parquet FOOTER metadata —
    the scan reads row-group statistics, not data pages (the plan carries
    ``PushedAggregation``, pinned in tests).  At 100 TB this is instant
    profiling vs a full scan: the numbers already sit in every footer.

    Eligibility: every requested column must have a pushdown-supported type
    (numerics, strings, dates — NOT timestamp_ntz), the path must be plain
    parquet, and there must be no filters; otherwise Spark silently falls
    back to a real scan — results identical, just not metadata-speed.  The
    plan-shape test pins the pushdown for eligible columns."""
    with scoped_conf(spark, AGGREGATE_PUSHDOWN):
        return _footer_stats_df(spark, path, cols).collect()[0].asDict()


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files were written under EVOLVING
    schemas (columns added over time) — the long-lived-table reality a
    nightly append pipeline hits the first time a source adds a field.

    ``mergeSchema`` unions the file schemas (costing one footer read per
    file — why it is off by default); rows from files that predate a
    column read NULL for it, the same contract as the reference's BigQuery
    schema-relaxation loads (omnichannel_to_bq.py:167-201 staging MERGE
    recreates the table instead — this is the additive path).  Type
    CONFLICTS (same name, different type) still fail loudly: silent
    coercion would corrupt downstream casts."""
    return spark.read.option("mergeSchema", "true").parquet(path)
