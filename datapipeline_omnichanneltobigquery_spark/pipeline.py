"""The reference's end-to-end workflow as a plain library API.

``run_pipeline`` reproduces ``Caresoft2BigQueryApp.on_submit``
(omnichannel_to_bq.py:233-310) minus the GUI: fetch a time window from a
paginated source → name-driven cast policy → preview → either a
``created_at``-sorted create/overwrite of a table ('new', :272-278) or a
MERGE of the increment into it on a key ('update', :296-301).  The update
merges the cast increment straight into main through
:func:`~datapipeline_omnichanneltobigquery_spark.sinks.catalog.upsert_into_table`:
no staging table, and no sort, whose order the merged write would not
keep.  Every stage is the Spark-first operator from this package; the
chain stays one lazy plan until the sink.  The pipeline persists the source
it fetched, and nothing else: the sort's range sample, a preview and the
write would otherwise call the paginated API once each per page.  The page
cache is filled by a job of its own, ahead of the first plan that reads it:
on 'new', a trace shows the Python fetch tasks first, then the sort's
sample over the cache, its shuffle and the write.
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
    key: str = "id",
    show_preview: bool = False,
) -> PipelineResult:
    """Run the full reference flow.  Provide either an already-built
    ``source_df`` or a ``fetch_page``+``schema`` pair for the distributed
    paginated source.  ``action``: 'new' (truncate-create, sorted by
    ``created_at``, :272-278) or 'update' (merge on ``key``, :296-301).
    The preview is the first 5 rows in ``created_at`` order, nulls last."""
    fetched = None
    if source_df is None:
        if fetch_page is None or schema is None:
            raise ValueError("need source_df, or fetch_page + schema")
        # a job of its own fills the cache ahead of the first plan that
        # reads it (preview, sort or merge); every later job reads the cache
        # instead of the API
        source_df = fetched = paginated_to_df(spark, fetch_page, n_pages, schema).persist()
    try:
        df = cast_columns(source_df)
        report = cast_report(source_df)

        head: list = []
        if show_preview:
            # only the head: preview()'s count() would be one more source pass
            head = sort_by_created_at(df).limit(5).collect()

        if action == "new":
            n = overwrite_table(sort_by_created_at(df), table)
        elif action == "update":
            if not spark.catalog.tableExists(table):
                raise ValueError(f"update target {table!r} not in catalog")
            n = upsert_into_table(spark, df, table, key=key)
        else:
            raise ValueError(f"unsupported action {action!r}")
    finally:
        if fetched is not None:
            fetched.unpersist()

    return PipelineResult(
        action=action,
        table=table,
        rows_loaded=n,
        columns=df.columns,
        cast_report=report,
        head=head,
    )
