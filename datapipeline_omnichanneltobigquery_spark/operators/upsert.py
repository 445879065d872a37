"""Key-based upsert — the reference's MERGE semantics as a DataFrame plan.

Reproduces the generated BigQuery ``MERGE`` (omnichannel_to_bq.py:176-182):
row matched on key → staging replaces ALL non-key columns; unmatched →
insert.  Since a matched row is *fully* replaced, the whole statement
reduces to::

    main ANTI JOIN staging ON key   UNION ALL   staging

The staging table's schema is the source of truth for column alignment
(:170-175) — we replicate via ``unionByName`` with no missing-column
allowance, so schema drift fails loudly, like the generated SQL would.

Scale notes:

* the anti join shuffles both sides on the key (sort-merge) unless the
  staging side is small — pass ``broadcast_staging=True`` (typical: a daily
  increment merged into a 100 TB main table → broadcast-anti-join reads
  main exactly once with no shuffle of the big side);
* ``dedupe_staging`` guards against duplicate keys *within* one staging
  batch, which BigQuery MERGE would reject at runtime; keep-latest order is
  deterministic via ``order_col`` then key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def upsert(
    main: DataFrame,
    staging: DataFrame,
    key: str = "id",
    broadcast_staging: bool = False,
    dedupe_staging_by: str | None = None,
) -> DataFrame:
    """MERGE(main ← staging) ON key, matched→replace-row, unmatched→insert."""
    if dedupe_staging_by is not None:
        w = Window.partitionBy(key).orderBy(F.col(dedupe_staging_by).desc(), F.col(key))
        staging = (
            staging.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    s = F.broadcast(staging) if broadcast_staging else staging
    kept = main.join(s, on=key, how="left_anti")
    return kept.unionByName(staging.select(*kept.columns))


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, compare_cols: list[str]
) -> DataFrame:
    """CDC extraction — the inverse of :func:`upsert`: diff two snapshots
    into the change stream that would transform ``old`` into ``new``.
    Returns (op, key, <compare_cols from the surviving side>) where op ∈
    {'insert', 'delete', 'update'}; unchanged rows are dropped.

    Plan: ONE full outer join on the key (the minimal comparison — both
    snapshots shuffle once on the key; bucket both snapshot tables by the
    key at write time and even that exchange disappears), then a map-side
    classification on null-ness and column equality.  Equality is
    null-safe (``eqNullSafe``) so NULL→NULL is 'unchanged' and NULL→value
    is 'update' — the semantics a naive ``=`` silently gets wrong."""
    o = old.select(key, *compare_cols).alias("o")
    n = new.select(key, *compare_cols).alias("n")
    joined = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
    same = None
    for c in compare_cols:
        eq = F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        same = eq if same is None else (same & eq)
    op = (
        F.when(F.col(f"o.{key}").isNull(), "insert")
        .when(F.col(f"n.{key}").isNull(), "delete")
        .when(same, None)  # unchanged -> filtered out
        .otherwise("update")
    )
    side = lambda c: F.when(  # noqa: E731  (deleted rows carry OLD values)
        F.col(f"n.{key}").isNull(), F.col(f"o.{c}")
    ).otherwise(F.col(f"n.{c}"))
    return (
        joined.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            "op",
            F.coalesce(F.col(f"n.{key}"), F.col(f"o.{key}")).alias(key),
            *[side(c).alias(c) for c in compare_cols],
        )
    )


def snapshot_diff_sql(
    old_expr: str, new_expr: str, key: str, compare_cols: list[str]
) -> str:
    """DuckDB twin of :func:`snapshot_diff` (same null-safe semantics via
    IS NOT DISTINCT FROM)."""
    same = " AND ".join(f"o.{c} IS NOT DISTINCT FROM n.{c}" for c in compare_cols)
    vals = ", ".join(
        f"CASE WHEN n.{key} IS NULL THEN o.{c} ELSE n.{c} END AS {c}"
        for c in compare_cols
    )
    return f"""
    SELECT op, {key}, {", ".join(compare_cols)}
    FROM (
        SELECT CASE WHEN o.{key} IS NULL THEN 'insert'
                    WHEN n.{key} IS NULL THEN 'delete'
                    WHEN {same} THEN NULL
                    ELSE 'update' END AS op,
               COALESCE(n.{key}, o.{key}) AS {key},
               {vals}
        FROM (SELECT * FROM {old_expr}) o
        FULL OUTER JOIN (SELECT * FROM {new_expr}) n ON o.{key} = n.{key}
    ) WHERE op IS NOT NULL
    """
