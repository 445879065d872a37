"""Streaming sinks: continuous upsert via foreachBatch.

The reference's update path (staging → MERGE → drop,
omnichannel_to_bq.py:296-301) run continuously: each micro-batch of changes
merges into the main table by key.  ``foreachBatch`` hands every micro-batch
to :func:`~datapipeline_omnichanneltobigquery_spark.sinks.catalog.upsert_into_table`,
the merge-and-swap the batch update path uses — one code path, batch and
streaming, and no staging table in either.

Scale notes: per-batch the main table is read and rewritten; on a real
deployment the main table lives in a format with transactional MERGE
(Delta/Iceberg) and the body of ``upsert_into_table`` becomes ``MERGE INTO`` —
the orchestration (dedupe batch, broadcast increment, key semantics) is
unchanged.  Batches are deduped keep-latest first so a batch containing the
same key twice applies deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from datapipeline_omnichanneltobigquery_spark.sinks.catalog import upsert_into_table


def streaming_upsert(
    changes: DataFrame,
    main_table: str,
    key: str,
    order_col: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start a streaming query merging each micro-batch into ``main_table``.

    ``order_col`` orders duplicate keys *within* a batch (keep-latest).
    The table must exist before the stream starts.
    """
    # foreachBatch runs in a CLONED session; refreshing there does not clear
    # the caller session's table-relation cache, so capture the caller's
    # session and refresh it too after every swap.
    caller_spark = changes.sparkSession

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_into_table(batch_df.sparkSession, batch_df, main_table, key=key, dedupe_by=order_col)
        caller_spark.catalog.refreshTable(main_table)

    writer = changes.writeStream.foreachBatch(_merge_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
