"""Relational operator breadth (SURVEY.md §2.2 / §7 M4).

Joins of every type, aggregation variants, window functions, set operations,
JSON extraction, and scalar string/date suites — each registered with its
DuckDB oracle.  The reference only ever runs one generated MERGE and
COUNT(*) in BigQuery (omnichannel_to_bq.py:176-186); this module is the
query surface a real engine owes its users on top of that.

Scale notes are per-query; the common themes:

* FIXED-cardinality dims (region=5, nation=25 at every SF) broadcast by
  hint; dims that scale with the data (customer/part/supplier) are left to
  AQE — broadcast while small, shuffle join at 100× (see
  plans/audit.py::broadcast_hint_audit for the mechanical rule);
* fact-fact joins shuffle on the join key and rely on AQE skew splitting;
* every aggregate is partial+final (map-side combine) by construction.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from datapipeline_omnichanneltobigquery_spark.functions.scalars import money, money_sum
from datapipeline_omnichanneltobigquery_spark.plans.queries import query
from datapipeline_omnichanneltobigquery_spark.sources.tables import read_table

# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@query(
    "join_inner_segment_revenue",
    driver=False,  # r5 rotation: green r3+r4; join family keeps anti/multiway/bucketed/salted gated
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_inner_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join: orders(fact) ⋈ customer.  Customer SCALES WITH THE
    DATA (TPC-H: 15 rows per SF — ~1.5B rows at 100 TB), so no forced
    broadcast hint: AQE broadcasts the 2-column projection while it
    measures small and falls back to a shuffle join when it doesn't."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = read_table(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(F.col("o_totalprice")).alias("total_revenue"),
        )
    )


@query(
    "join_left_order_counts",
    driver=False,  # rotated out r5 (green r3+r4; inner/anti/multiway keep the join family gated)
    oracle="""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders (COUNT of the
    right key skips the NULLs the outer join manufactures)."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_semi_active_customers",
    driver=False,  # rotated out r5 (green r3+r4; anti-join cousin stays gated)
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join = EXISTS: emits each match at most once, right side
    never widens the row — strictly cheaper than inner+distinct."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_mktsegment")


@query(
    "join_anti_dormant_customers",
    driver=False,  # rotated out r10 (green r1-r9 (9 green); bucketed_revenue_join + q18 anchor joins)
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1997)
    """,
)
def join_anti_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join = NOT EXISTS — the building block of the engine's
    upsert (operators/upsert.py).  Scoped to one year so the result is
    non-trivial (every customer has *some* order in the testdata)."""
    c = read_table(spark, sf_dir, "customer")
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1997)
        .select("o_custkey")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_mktsegment")


@query(
    "join_multiway_nation_revenue",
    driver=False,  # rotated out r10 (green r1-r9 (9 green); bucketed_revenue_join + q18 anchor joins)
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey   = c.c_custkey
    JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def join_multiway_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: a 5-table snowflake join.  region/nation broadcast
    (fixed 5/25-row dims); customer scales with the data, so its join is
    AQE's call — broadcast while small, shuffle at 100×.  The remaining
    shuffle is lineitem⋈orders on orderkey.  The ASIA filter prunes
    through the dim chain before the fact scan (DPP on a partitioned
    deployment)."""
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = read_table(spark, sf_dir, "nation")
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(dims, o.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(
            F.sum(money(F.col("l_extendedprice")) * (F.lit(1) - money(F.col("l_discount"))))
            .cast("double")
            .alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Aggregation variants
# ---------------------------------------------------------------------------


@query(
    "agg_distinct_users",
    driver=False,
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT: Catalyst expands to a two-level aggregate (distinct
    keys first, then count) — no driver-side dedup."""
    return (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "agg_rollup_returns",
    driver=False,
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals ((a,b),(a),()) in one shuffle — Spark
    expands via Expand, keeping it a single pass over the fact table."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(money_sum(F.col("l_quantity")).alias("sum_qty"), F.count(F.lit(1)).alias("n_rows"))
    )


@query(
    "agg_cube_status_priority",
    driver=False,
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping combinations in one pass via Expand."""
    return (
        read_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "agg_grouping_sets",
    driver=False,
    oracle="""
    SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, COUNT(*) AS n
    FROM events GROUP BY GROUPING SETS ((event_type), (day))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL front end (the engine exposes
    both DataFrame and SQL APIs over the same catalog)."""
    read_table(spark, sf_dir, "events").createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT event_type, date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day, COUNT(*) AS n
        FROM events_gs GROUP BY GROUPING SETS ((event_type), (day))
        """
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@query(
    "window_topn_orders_per_customer",
    driver=False,  # rotated out r10 (green r1-r9 (9 green); seq_training_pairs keeps windows gated)
    oracle="""
    SELECT c_custkey, o_orderkey, rn, rnk, drnk FROM (
        SELECT o_custkey AS c_custkey, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn,
               RANK() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
               DENSE_RANK() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS drnk
        FROM orders
    ) WHERE rn <= 3
    """,
)
def window_topn_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-N via row_number — the scalable 'top orders per
    customer' (one shuffle on the partition key; no global sort).  Also the
    keep-latest dedup primitive (operators/dedup.py).  rank/dense_rank ride
    the same window so the whole ranking-function family is driver-verified
    by one entry (a single WindowExec evaluates all three)."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        read_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_lag_event_gap",
    driver=False,  # LAG is driver-verified inside events_session_stats + asof oracles
    oracle="""
    SELECT event_id,
           epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)) AS gap_us
    FROM events
    """,
)
def window_lag_event_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG over event time per user: sessionization building block.
    Gap computed in integer microseconds — exact on both engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    )


@query(
    "window_running_revenue",
    driver=False,  # rotated out r4 (green r2+r3; window family keeps window_topn gated); slot given to events_resample_hourly
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                AS DOUBLE) AS running_total,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                      RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS rev_7d
    FROM orders
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame suite in one entry: running SUM (rows unbounded
    preceding..current, deterministic via unique-key tie-break) plus the
    7-trailing-day RANGE frame — both decimal-exact, both over the same
    partition key so one shuffle serves two WindowExecs."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # o_orderdate arrives as TIMESTAMP_NTZ; session tz is UTC so the cast to
    # (ltz) TIMESTAMP for unix_micros is value-preserving
    epoch_s = (
        F.unix_micros(F.col("o_orderdate").cast("timestamp")) / F.lit(1_000_000)
    ).cast("long")
    w7 = Window.partitionBy("o_custkey").orderBy(epoch_s).rangeBetween(-7 * 86400, 0)
    return read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(money(F.col("o_totalprice"))).over(w).cast("double").alias("running_total"),
        F.sum(money(F.col("o_totalprice"))).over(w7).cast("double").alias("rev_7d"),
    )


@query(
    "window_rank_parts_by_size",
    driver=False,  # rank/dense_rank folded into window_topn_orders_per_customer
    oracle="""
    SELECT p_partkey, p_brand, rnk FROM (
        SELECT p_partkey, p_brand,
               RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rnk
        FROM part
    ) WHERE rnk <= 2
    """,
)
def window_rank_parts_by_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK (gapped) — ties share a rank; result set is deterministic even
    with ties because all peers of rank<=2 are emitted."""
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return (
        read_table(spark, sf_dir, "part")
        .select("p_partkey", "p_brand", F.rank().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 2)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@query(
    "set_intersect_repeat_buyers",
    driver=False,
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_intersect_repeat_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): customers active in both years."""
    o = read_table(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


@query(
    "set_except_churned",
    driver=False,
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    EXCEPT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_except_churned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): active in 1995, gone in 1996."""
    o = read_table(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.subtract(y96)


@query(
    "set_union_account_holders",
    driver=False,  # unionByName is driver-verified via upsert_merge + every marker-union query
    oracle="""
    SELECT nationkey, acctbal FROM (
        SELECT c_nationkey AS nationkey, CAST(c_acctbal AS DOUBLE) AS acctbal FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey, CAST(s_acctbal AS DOUBLE) AS acctbal FROM supplier
    )
    """,
)
def set_union_account_holders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL by name across differently-shaped inputs — the engine's
    upsert relies on the same unionByName alignment."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.col("c_acctbal").alias("acctbal")
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.col("s_acctbal").alias("acctbal")
    )
    return c.unionByName(s)


# ---------------------------------------------------------------------------
# JSON + scalar suites
# ---------------------------------------------------------------------------


@query(
    "json_agg_by_key",
    driver=False,  # composition of json extraction + hash agg, both driver-verified elsewhere
    oracle="""
    SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def json_agg_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a JSON-derived key: extraction stays in codegen, the
    agg is an ordinary partial+final hash aggregate."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.select(
            (F.get_json_object("props", "$.k").cast("bigint") % 10).alias("k_bucket"),
            "value",
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


@query(
    "scalar_string_suite",
    driver=False,  # n_chars/n_alpha/n_tokens on un-lowered text, unlike text_profile
    oracle="""
    SELECT doc_id,
           lower(substr(text, 1, 20)) AS prefix20,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
    FROM documents
    """,
)
def scalar_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar battery (lower/substr/length/regexp/split) — all
    whole-stage-codegen expressions, zero Python."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.lower(F.substring("text", 1, 20)).alias("prefix20"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.length(F.regexp_replace("text", "[^a-z]", "")).cast("bigint").alias("n_alpha"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_tokens"),
    )


@query(
    "scalar_date_suite",
    driver=False,  # rotated out r4 (stable r2+r3); components keep local hash-verification
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           day(o_orderdate) AS dy,
           quarter(o_orderdate) AS qtr,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
           strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start
    FROM orders
    """,
)
def scalar_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar battery (extract/add/trunc/format)."""
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd").alias("plus30"),
        F.date_format(F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd").alias("week_start"),
    )


@query(
    "agg_percentiles",
    driver=False,  # rotated out r5 (green r3+r4; sketches/pivot keep the agg family gated)
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS p50,
           quantile_cont(l_extendedprice, 0.95) AS p95,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (verified bitwise-equal to DuckDB's
    quantile_cont).  Exact percentile buffers each group's values — at
    100 TB use approx_percentile (fixed-size sketch, see agg_approx_sketches)
    instead."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# Suites: one entry checks several evaluation paths of a family (marker-
# column union or wide select) that no single-path entry checks alone.
# ---------------------------------------------------------------------------


@query(
    "json_ops_suite",
    driver=False,  # rotated out r7 (green r2-r6); JSON family keeps json_variant_ops gated
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed,
           'k' AS first_key,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS first_val
    FROM events
    """,
)
def json_ops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON modeling suite in one per-event entry: path extraction
    (get_json_object), schema-declared parsing (from_json → struct field),
    and typed-map access (map_keys/element_at) — three independent Spark
    evaluation paths that must agree with the single SQL extraction.  The
    reference destroys nested JSON by stringification
    (omnichannel_to_bq.py:96); this is the modeled alternative."""
    ev = read_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        F.from_json("props", "k BIGINT")["k"].alias("k_typed"),
        F.element_at(F.map_keys(m), 1).alias("first_key"),
        F.element_at(m, F.lit("k")).alias("first_val"),
    )


@query(
    "agg_approx_sketches",
    driver=False,  # rotated out r9 (green r1-r8 (6 green); family keeps a gated anchor)
    oracle="""
    SELECT 'hll_distinct' AS sketch, event_type AS grp,
           CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS exact1,
           CAST(NULL AS DOUBLE) AS exact2,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'kll_percentile' AS sketch, l_returnflag AS grp,
           quantile_cont(l_extendedprice, 0.5) AS exact1,
           quantile_cont(l_extendedprice, 0.95) AS exact2,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate-aggregate family (HyperLogLog++ distinct count, KLL
    approx percentile) in one driver entry — fixed-size mergeable sketches,
    the 100 TB substitutes for exact distinct/percentile.

    Cross-engine sketch ESTIMATES are not comparable (DuckDB's HLL/quantile
    sketches yield different values), so the hash-checked contract is the
    sketch's accuracy bound instead: each row carries the EXACT answer
    (computed in the same Spark aggregate) plus ``within_bound`` =
    |approx − exact| / exact ≤ bound (5 % for HLL at rsd 0.01; 2 % for
    approx_percentile at accuracy 1000, whose rank error n/1000 maps to far
    less than 2 % in value space on this data).  The oracle recomputes the
    exact answers and literal TRUE — a hash match asserts both the exact
    values and that every sketch estimate honored its bound."""
    hll = (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .select(
            F.lit("hll_distinct").alias("sketch"),
            F.col("event_type").alias("grp"),
            F.col("exact").cast("double").alias("exact1"),
            F.lit(None).cast("double").alias("exact2"),
            ((F.abs(F.col("approx") - F.col("exact")) / F.col("exact")) <= 0.05).alias(
                "within_bound"
            ),
        )
    )
    kll = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)").alias("p"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("e50"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("e95"),
        )
        .select(
            F.lit("kll_percentile").alias("sketch"),
            F.col("l_returnflag").alias("grp"),
            F.col("e50").alias("exact1"),
            F.col("e95").alias("exact2"),
            (
                ((F.abs(F.element_at("p", 1) - F.col("e50")) / F.col("e50")) <= 0.02)
                & ((F.abs(F.element_at("p", 2) - F.col("e95")) / F.col("e95")) <= 0.02)
            ).alias("within_bound"),
        )
    )
    return hll.unionByName(kll)
