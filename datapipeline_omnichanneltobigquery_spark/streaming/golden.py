"""Streaming golden-record maintenance: incremental survivorship over a
continuous record feed — the MDM counterpart of the sketch-register
maintainers (streaming/sketches.py), built on the same crash-safe state
swap.

State is ONE ROW PER CLUSTER holding each rule's mergeable partial:

- ``longest`` / ``latest`` / ``max`` / ``min`` fold as struct-MAX /
  MAX / MIN — idempotent merges (replaying a batch re-maxes identical
  values), exactly like HLL registers;
- ``n_members`` is a SUM — non-idempotent, so the maintainer reuses the
  in-state ``_last_applied`` marker published atomically with the swap
  (the CMS contract).

``most_frequent`` survivorship needs per-(cluster, value) count
registers (unbounded per cluster without a cap) and is deliberately NOT
offered here — batch ``operators/er.py::golden_records`` computes it;
the streaming face covers the decomposable rules.

Clustering: the streaming face takes a ``cluster_expr`` (e.g. a
normalized exact key — classic MDM keying).  Similarity-based streaming
clustering is the dedup-index ingestion path (streaming/ingest.py);
compose them by routing its cluster ids into this maintainer.

At 100 TB: each micro-batch pre-aggregates to its clusters (partial,
map-side combined), merges against state rows for touched clusters
only by cluster-keyed aggregate, and swaps — state size tracks cluster
count, never history.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from datapipeline_omnichanneltobigquery_spark.streaming.sketches import (
    _last_applied,
    _recover_state,
    _swap_state,
)

_SUPPORTED = {"longest", "max", "min", "latest"}


def _partials(df: DataFrame, id_col: str, cluster_expr, rules, recency_col):
    """One row per cluster with each rule's mergeable partial."""
    base = df.withColumn("cluster_id", cluster_expr)
    aggs = [F.sum(F.lit(1)).alias("n_members")]
    for col, strat in rules:
        if strat not in _SUPPORTED:
            raise ValueError(
                f"streaming survivorship supports {sorted(_SUPPORTED)}; "
                f"{strat!r} needs the batch operator (see module docstring)"
            )
        if strat == "longest":
            packed = F.when(
                F.col(col).isNotNull(),
                F.struct(F.length(col).alias("l"), F.col(col).alias("v")),
            )
            aggs.append(F.max(packed).alias(f"__{col}"))
        elif strat == "latest":
            packed = F.when(
                F.col(col).isNotNull(),
                F.struct(
                    F.col(recency_col).alias("r"),
                    F.col(id_col).alias("i"),
                    F.col(col).alias("v"),
                ),
            )
            aggs.append(F.max(packed).alias(f"__{col}"))
        elif strat == "max":
            aggs.append(F.max(col).alias(f"__{col}"))
        else:
            aggs.append(F.min(col).alias(f"__{col}"))
    return base.groupBy("cluster_id").agg(*aggs)


def _merge(state: DataFrame, batch: DataFrame, rules) -> DataFrame:
    u = state.unionByName(batch)
    aggs = [F.sum("n_members").alias("n_members")]
    for col, strat in rules:
        fn = F.min if strat == "min" else F.max
        aggs.append(fn(f"__{col}").alias(f"__{col}"))
    return u.groupBy("cluster_id").agg(*aggs)


def golden_view(state: DataFrame, rules) -> DataFrame:
    """Read the state table as finished golden records (unwrap the
    struct partials)."""
    cols = [F.col("cluster_id")]
    for col, strat in rules:
        if strat in ("longest", "latest"):
            cols.append(F.col(f"__{col}")["v"].alias(col))
        else:
            cols.append(F.col(f"__{col}").alias(col))
    cols.append(F.col("n_members"))
    return state.select(*cols)


def maintain_golden_batch(
    batch_df: DataFrame,
    state_path: str,
    id_col: str,
    cluster_expr,
    rules,
    batch_id: int,
    recency_col: str | None = None,
) -> None:
    """Fold one micro-batch into the golden state.  Marker-guarded
    (n_members adds); rule partials are idempotent merges on top."""
    _recover_state(state_path)
    applied = _last_applied(state_path)
    if applied is not None and batch_id <= applied:
        return
    spark = batch_df.sparkSession
    part = _partials(batch_df, id_col, cluster_expr, rules, recency_col)
    if os.path.exists(state_path):
        part = _merge(spark.read.parquet(state_path), part, rules)
    _swap_state(part.localCheckpoint(), state_path, marker_batch_id=batch_id)
