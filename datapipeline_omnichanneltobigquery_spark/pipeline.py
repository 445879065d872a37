"""The reference's end-to-end workflow as a plain library API.

``run_pipeline`` reproduces ``Caresoft2BigQueryApp.on_submit``
(omnichannel_to_bq.py:233-310) minus the GUI: fetch a time window from a
paginated source → name-driven cast policy → canonical sort → preview →
either create/overwrite a table ('new', :272-278) or staging→MERGE→drop
('update', :296-301).  Every stage is the Spark-first operator from this
package; the chain stays one lazy plan until the sink.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from datapipeline_omnichanneltobigquery_spark.operators.normalize import (
    cast_columns,
    cast_report,
    sort_by_created_at,
)
from datapipeline_omnichanneltobigquery_spark.sinks.catalog import (
    overwrite_table,
    upsert_into_table,
)
from datapipeline_omnichanneltobigquery_spark.sources.paginated import PageFn, paginated_to_df


@dataclass
class PipelineResult:
    action: str
    table: str
    rows_loaded: int
    columns: list[str]
    cast_report: dict[str, list[str]] = field(default_factory=dict)
    head: list = field(default_factory=list)


def run_pipeline(
    spark: SparkSession,
    source_df: DataFrame | None = None,
    fetch_page: PageFn | None = None,
    n_pages: int = 1,
    schema: StructType | str | None = None,
    action: str = "new",
    table: str = "main",
    staging_table: str = "__staging",
    key: str = "id",
    show_preview: bool = False,
) -> PipelineResult:
    """Run the full reference flow.  Provide either an already-built
    ``source_df`` or a ``fetch_page``+``schema`` pair for the distributed
    paginated source.  ``action``: 'new' (truncate-create, :272-278) or
    'update' (staging upsert on ``key``, :296-301)."""
    if source_df is None:
        if fetch_page is None or schema is None:
            raise ValueError("need source_df, or fetch_page + schema")
        source_df = paginated_to_df(spark, fetch_page, n_pages, schema)

    df = sort_by_created_at(cast_columns(source_df))
    report = cast_report(source_df)

    head: list = []
    if show_preview:
        # only the head: preview()'s count() would be one more source pass
        head = df.limit(5).collect()

    if action == "new":
        n = overwrite_table(df, table)
    elif action == "update":
        if not spark.catalog.tableExists(table):
            raise ValueError(f"update target {table!r} not in catalog")
        n = upsert_into_table(spark, df, table, key=key, staging_table=staging_table)
    else:
        raise ValueError(f"unsupported action {action!r}")

    return PipelineResult(
        action=action,
        table=table,
        rows_loaded=n,
        columns=df.columns,
        cast_report=report,
        head=head,
    )
