"""Custom stateful streaming: applyInPandasWithState
(SURVEY.md §2.2 streaming row; the 'custom stateful operator' slot).

``running_user_stats`` keeps one state tuple (count, value-sum) per user and
emits the updated totals each micro-batch — the minimal shape of every
sessionizer/accumulator you'd build on this API.  State is GroupState-backed
(checkpointed, bounded by timeout); the batch mirror of the same semantics
is a plain groupBy, asserted equal in tests with availableNow draining.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double"
STATE_SCHEMA = "n bigint, s double"


def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})


def running_user_stats(events: DataFrame) -> DataFrame:
    """Streaming: per-user running (count, sum(value)) via
    applyInPandasWithState; works only on a streaming DataFrame."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def batch_user_stats(events: DataFrame) -> DataFrame:
    """The batch mirror of :func:`running_user_stats`'s final state."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas — the Spark 4 stateful-processor API
# ---------------------------------------------------------------------------

try:  # pyspark >= 4
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    _HAS_TWS = True
except ImportError:  # pragma: no cover - pyspark 3.x
    _HAS_TWS = False


if _HAS_TWS:

    class RunningUserStatsProcessor(StatefulProcessor):
        """Per-user running (count, sum) as a Spark 4 stateful processor —
        the same semantics as :func:`running_user_stats`, on the API built
        for the RocksDB state store: typed state handles (ValueState here;
        ListState/MapState for richer operators), timers, and state
        evolution, instead of applyInPandasWithState's single opaque tuple.
        ``transformWithStateInPandas`` REQUIRES the RocksDB provider
        (``spark.sql.streaming.stateStore.providerClass`` set to
        session.ROCKSDB_STATE_STORE before ``start()``) — state lives
        off-heap, changelog-checkpointed, which is what survives billions
        of keys."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState("stats", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            n, s = self._stats.get() if self._stats.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._stats.update((n, s))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})

        def close(self) -> None:
            pass


def running_user_stats_tws(events: DataFrame) -> DataFrame:
    """Streaming per-user running totals via ``transformWithStateInPandas``
    (Spark 4 stateful-processor API; RocksDB state store required).

    Runtime dependency note: the API's driver worker communicates state
    operations to the JVM over protobuf (``google.protobuf`` must be
    installed in the Python environment) — the stream≡batch test skips
    where it is absent."""
    if not _HAS_TWS:  # pragma: no cover
        raise NotImplementedError("transformWithState needs pyspark >= 4")
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningUserStatsProcessor(),
            outputStructType=OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )
