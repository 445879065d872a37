"""Temporal-join and advanced-window queries (SURVEY.md §2.2 range/as-of
row + window breadth)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from datapipeline_omnichanneltobigquery_spark.functions.scalars import money
from datapipeline_omnichanneltobigquery_spark.operators.temporal import asof_join, range_join
from datapipeline_omnichanneltobigquery_spark.plans.queries import query
from datapipeline_omnichanneltobigquery_spark.sources.tables import read_table


@query(
    "asof_last_view_before_purchase",
    driver=False,  # rotated out r7 (green r2-r6, VERDICT-named); temporal family keeps 5 local-parity entries incl. the new overlap_duration
    oracle="""
    SELECT p.event_id,
           v.event_id AS view_event_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id AND v.ts <= p.ts
    QUALIFY ROW_NUMBER() OVER (PARTITION BY p.event_id
                               ORDER BY v.ts DESC NULLS LAST, v.event_id DESC) = 1
    """,
)
def asof_last_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase picks up the user's most recent
    preceding view.  Union+window plan — one shuffle on user_id; the oracle
    spells the same semantics as the naive inequality join + QUALIFY."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_event_id"),
    )
    joined = asof_join(
        purchases,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="view_ts",
        right_id="view_event_id",
        payload_cols=["view_event_id", "view_ts"],
    )
    return joined.select(
        "event_id",
        "view_event_id",
        (F.unix_micros("ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


@query(
    "events_overlap_windows",
    driver=False,  # rotated out r10 (green r6-r9 (4 green); features_point_in_time keeps temporal gated)
    # rotated INTO the gate r8 (never driver-verified)
    oracle="""
    WITH pv AS (SELECT event_id AS lid, user_id, ts AS ls, ts + INTERVAL 30 MINUTE AS le
                FROM events WHERE event_type = 'purchase'),
         vw AS (SELECT event_id AS rid, user_id, ts AS rs, ts + INTERVAL 30 MINUTE AS re
                FROM events WHERE event_type = 'view')
    SELECT pv.lid, vw.rid
    FROM pv JOIN vw ON pv.user_id = vw.user_id
                   AND pv.ls <= vw.re AND vw.rs <= pv.le
    """,
)
def events_overlap_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: purchase and view 30-minute activity windows
    of the same user that overlap — bucket-decomposed equi-join vs the
    oracle's naive inequality join (operators/temporal.py::overlap_join)."""
    from datapipeline_omnichanneltobigquery_spark.operators.temporal import overlap_join

    ev = read_table(spark, sf_dir, "events")
    half_hour = F.expr("INTERVAL 30 MINUTES")
    pv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("lid"), "user_id",
        F.col("ts").alias("ls"), (F.col("ts") + half_hour).alias("le"),
    )
    vw = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("rid"), F.col("user_id").alias("r_user"),
        F.col("ts").alias("rs"), (F.col("ts") + half_hour).alias("re"),
    )
    out = overlap_join(
        pv, vw.withColumnRenamed("r_user", "user_id"),
        key="user_id", l_start="ls", l_end="le", r_start="rs", r_end="re",
        bucket_seconds=1800,
    )
    return out.select("lid", "rid")


@query(
    "events_overlap_duration",
    driver=False,  # rotated out r10 (green r9 after the r8 CAST fix + r7 (2 green); features_point_in_time keeps temporal gated)
    # rotated INTO the gate r8 (r7 flagship, never driver-verified)
    oracle="""
    WITH pv AS (SELECT event_id AS lid, user_id, ts AS ls, ts + INTERVAL 30 MINUTE AS le
                FROM events WHERE event_type = 'purchase'),
         vw AS (SELECT event_id AS rid, user_id, ts AS rs, ts + INTERVAL 30 MINUTE AS re
                FROM events WHERE event_type = 'view')
    SELECT pv.user_id,
           COUNT(*) AS n_pairs,
           -- CAST: DuckDB's integer SUM yields HUGEINT, which the driver's
           -- fetcher renders as float64 and breaks the value hash vs Spark's
           -- BIGINT (r8 red row; see plans/events_ops.py for the same class).
           CAST(SUM(epoch_us(LEAST(pv.le, vw.re)) - epoch_us(GREATEST(pv.ls, vw.rs)))
                AS BIGINT) AS concurrent_us
    FROM pv JOIN vw ON pv.user_id = vw.user_id
                   AND pv.ls <= vw.re AND vw.rs <= pv.le
    GROUP BY pv.user_id
    """,
)
def events_overlap_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted interval overlap: per user, the total microseconds
    purchase and view 30-minute activity windows were simultaneously live
    (operators/temporal.py::overlap_duration) — exact integer-microsecond
    arithmetic, so the per-key SUM is order-independent and twin-exact."""
    from datapipeline_omnichanneltobigquery_spark.operators.temporal import (
        overlap_duration,
    )

    ev = read_table(spark, sf_dir, "events")
    half_hour = F.expr("INTERVAL 30 MINUTES")
    pv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("lid"), "user_id",
        F.col("ts").alias("ls"), (F.col("ts") + half_hour).alias("le"),
    )
    vw = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("rid"), F.col("user_id").alias("r_user"),
        F.col("ts").alias("rs"), (F.col("ts") + half_hour).alias("re"),
    )
    out = overlap_duration(
        pv, vw.withColumnRenamed("r_user", "user_id"),
        key="user_id", l_start="ls", l_end="le", r_start="rs", r_end="re",
        bucket_seconds=1800,
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("overlap_us").alias("concurrent_us"),
    )


@query(
    "range_join_recent_activity",
    driver=False,  # rotated out r6 (green r3-r5); temporal family keeps asof_last_view_before_purchase gated
    oracle="""
    SELECT p.event_id, COUNT(*) AS n_recent
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN events e
      ON e.user_id = p.user_id
     AND epoch_us(e.ts) >= epoch_us(p.ts) - 600 * 1000000
     AND epoch_us(e.ts) <  epoch_us(p.ts)
    GROUP BY p.event_id
    """,
)
def range_join_recent_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: events of the same user in the 10 minutes before
    each purchase, counted.  Bucketized equi-join plan (two shuffles) instead
    of an inequality join; the oracle is the naive BETWEEN form."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    others = ev.select("user_id", F.col("ts").alias("e_ts"), F.col("event_id").alias("e_id"))
    pairs = range_join(
        purchases, others, key="user_id", left_ts="ts", right_ts="e_ts", lower_seconds=600
    )
    return pairs.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_recent"))


@query(
    "json_typed_struct",
    driver=False,  # filters on the parsed field and carries event_type, unlike json_ops_suite
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed,
           event_type
    FROM events
    WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    """,
)
def json_typed_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-declared JSON parsing (from_json → typed struct) with a filter
    over the extracted field — the modeled-JSON path the reference destroys
    by stringification (omnichannel_to_bq.py:96)."""
    ev = read_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.from_json("props", "k BIGINT").alias("p"),
        "event_type",
    )
    return parsed.select("event_id", F.col("p.k").alias("k_typed"), "event_type").filter(
        F.col("k_typed") > 50
    )


@query(
    "window_rolling_7d_revenue",
    driver=False,  # the RANGE frame rides window_running_revenue (relational.py)
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                      RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS rev_7d
    FROM orders
    """,
)
def window_rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range window frame (7 trailing days per customer), decimal-exact.
    RANGE frames aggregate all peers of the current ORDER BY value, so the
    result is deterministic even with same-day orders."""
    # o_orderdate arrives as TIMESTAMP_NTZ; session tz is UTC so the cast to
    # (ltz) TIMESTAMP for unix_micros is value-preserving
    epoch_s = (
        F.unix_micros(F.col("o_orderdate").cast("timestamp")) / F.lit(1_000_000)
    ).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch_s)
        .rangeBetween(-7 * 86400, 0)
    )
    return read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.sum(money(F.col("o_totalprice"))).over(w).cast("double").alias("rev_7d"),
    )


@query(
    "asof_nearest_tolerance",
    driver=False,  # nearest/tolerance face of the gated as-of family
    oracle="""
    SELECT p.event_id,
           v.event_id AS view_event_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND abs(epoch_us(v.ts) - epoch_us(p.ts)) <= 300000000
    QUALIFY ROW_NUMBER() OVER (PARTITION BY p.event_id
        ORDER BY abs(epoch_us(v.ts) - epoch_us(p.ts)) ASC,
                 (epoch_us(v.ts) <= epoch_us(p.ts)) DESC,
                 CASE WHEN epoch_us(v.ts) <= epoch_us(p.ts)
                      THEN -v.event_id ELSE v.event_id END ASC) = 1
    """,
)
def asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of with a 5-minute tolerance (the
    merge_asof(direction='nearest', tolerance=...) surface): each purchase
    attaches the closest view in EITHER direction within 300 s, NULLs
    beyond it.  Tie contract (mirrored in the definitional oracle): equal
    distance prefers the backward match; equal-timestamp views resolve to
    the largest id backward / smallest forward (the union+window plan's
    single sort order serves both frames, so the two candidate passes
    share ONE exchange+sort — still no inequality join)."""
    from datapipeline_omnichanneltobigquery_spark.operators.temporal import asof_join_nearest

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_event_id"),
    )
    joined = asof_join_nearest(
        purchases,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="view_ts",
        right_id="view_event_id",
        payload_cols=["view_event_id", "view_ts"],
        tolerance_us=300_000_000,
    )
    return joined.select(
        "event_id",
        "view_event_id",
        (F.unix_micros("ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


@query(
    "features_point_in_time",
    driver=False,  # rotated out r11 (green r9+r10); correlations/WOE/lift/quantile-norm anchor features
    # rotated INTO the gate r9 (never driver-verified)
    oracle="""
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ep, event_type,
                      CAST(value AS DECIMAL(18,6)) AS v
               FROM events),
    f AS (
        SELECT user_id, event_id, event_type,
               COUNT(*) OVER w_all AS n_prior,
               CAST(COALESCE(SUM(v) OVER w_all, 0) AS DOUBLE) AS amt_prior,
               COUNT(*) OVER w_7d AS n_7d
        FROM e
        WINDOW
          w_all AS (PARTITION BY user_id ORDER BY ep
                    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          w_7d  AS (PARTITION BY user_id ORDER BY ep
                    RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, n_prior, amt_prior, n_7d
    FROM f WHERE event_type = 'purchase'
    """,
)
def features_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (leakage-free) training features: every purchase
    label gets aggregates over the user's STRICTLY-prior activity —
    lifetime event count, lifetime spend, trailing-7-day count — the
    feature-store materialization that as-of joins one value at a time
    cannot express.  RANGE frames ending at ``1 PRECEDING`` on integer
    epoch-micros make "strictly before the label instant" exact on both
    engines (same-microsecond events are excluded — no target leakage by
    construction, no tie-order dependence).  ONE user-partitioned window
    sort serves all features; adding a feature widens the projection,
    never adds a shuffle — the EWMA/rolling-zscore scale discipline.
    Spend stays DECIMAL inside the window sum, one cast to double."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ep"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    w_all = (
        Window.partitionBy("user_id").orderBy("ep").rangeBetween(Window.unboundedPreceding, -1)
    )
    w_7d = Window.partitionBy("user_id").orderBy("ep").rangeBetween(-604_800_000_000, -1)
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.count(F.lit(1)).over(w_all).alias("n_prior"),
            F.coalesce(F.sum("v").over(w_all), F.lit(0).cast("decimal(28,6)"))
            .cast("double")
            .alias("amt_prior"),
            F.count(F.lit(1)).over(w_7d).alias("n_7d"),
        )
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "n_prior", "amt_prior", "n_7d")
    )
