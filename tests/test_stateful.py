"""applyInPandasWithState: the streaming running totals must drain (with
availableNow) to the same final state as the batch aggregation — under BOTH
state-store providers (default in-memory HDFS-backed, and RocksDB, the
deployable setting at real state sizes; session.ROCKSDB_STATE_STORE)."""

from __future__ import annotations

import pytest

from datapipeline_omnichanneltobigquery_spark.session import ROCKSDB_STATE_STORE, scoped_conf
from datapipeline_omnichanneltobigquery_spark.sources.tables import read_table
from datapipeline_omnichanneltobigquery_spark.streaming.stateful import (
    batch_user_stats,
    running_user_stats,
)

from tests.conftest import SF_DIR

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


@pytest.mark.parametrize("provider", ["default", ROCKSDB_STATE_STORE])
def test_stateful_stream_matches_batch(spark, tmp_path, provider):
    ev = read_table(spark, SF_DIR, "events").select("user_id", "value")
    src = str(tmp_path / "ev_src")
    ev.write.parquet(src)

    batch = {
        (r.user_id, r.n_events, round(r.sum_value, 6))
        for r in batch_user_stats(spark.read.parquet(src)).collect()
    }

    # The provider is a session-level SQL conf, pinned per-query at start()
    # from the session value — flip it for this query only, restore after.
    with scoped_conf(spark, {} if provider == "default" else {_PROVIDER_CONF: provider}):
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        q = (
            running_user_stats(stream)
            .writeStream.format("memory")
            .queryName(f"t_state_{'rocksdb' if provider != 'default' else 'hdfs'}")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.table(q.name).collect()
    # update mode emits one row per user per batch; the LAST row per user is
    # the final state — with availableNow and one source batch there is one
    final = {}
    for r in rows:
        final[r.user_id] = (r.user_id, r.n_events, round(r.sum_value, 6))
    assert set(final.values()) == batch
    assert len(batch) > 0


def test_transform_with_state_matches_batch(spark, tmp_path):
    """The Spark 4 stateful-processor form (transformWithStateInPandas)
    drains to the same final state as the batch aggregation.  The API
    requires the RocksDB state store — set for this query, restored after.

    transformWithState's driver worker speaks protobuf to the JVM
    (pyspark/sql/streaming/proto/StateMessage_pb2) — skipped where
    google.protobuf is not installed, the same capability-gate treatment
    as the Kafka/BigQuery connector jars."""
    pytest.importorskip("google.protobuf")
    from datapipeline_omnichanneltobigquery_spark.streaming.stateful import (
        running_user_stats_tws,
    )

    ev = read_table(spark, SF_DIR, "events").select("user_id", "value")
    src = str(tmp_path / "ev_src")
    ev.write.parquet(src)

    batch = {
        (r.user_id, r.n_events, round(r.sum_value, 6))
        for r in batch_user_stats(spark.read.parquet(src)).collect()
    }

    with scoped_conf(spark, {_PROVIDER_CONF: ROCKSDB_STATE_STORE}):
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        q = (
            running_user_stats_tws(stream)
            .writeStream.format("memory")
            .queryName("t_state_tws")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.table("t_state_tws").collect()
    final = {}
    for r in rows:
        final[r.user_id] = (r.user_id, r.n_events, round(r.sum_value, 6))
    assert set(final.values()) == batch and len(batch) > 0
