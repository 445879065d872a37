r"""Multi-touch attribution beyond positional rules — the Shapley-value
channel credit the omnichannel analytics surface rounds out with
(reference scope: omnichannel_to_bq.py moves channel events to BigQuery
for exactly this kind of marketing analysis; positional rules live in
plans/relational2.py::events_attribution_last_touch/_linear).

Shapley attribution (Shapley 1953; the simplified journey-set form of
Zhao, Mahboobi & Manavoglu, arXiv:1804.05327): the value function
v(S) = number of conversions among journeys whose touched-channel set is
EXACTLY S, and each channel's credit is the Shapley value
φ_c = Σ_{S ⊆ N\{c}} |S|!·(n-|S|-1)!/n! · (v(S ∪ {c}) − v(S)).

Exactness discipline: with n channels the weights are rationals with the
common denominator n!, so φ_c·n! is an EXACT INTEGER — coalition
coefficients are generated compile-time in python, injected into both
engines as a literal table, and the engines only sum integer products;
the single rounded division by n! happens once per channel at the end.
Efficiency check built in: Σ_c φ_c·n! = n!·(v(N) − v(∅)) exactly.

Scale: journeys collapse to a ≤2^n-row v(mask) table in ONE partial
aggregate; everything after is literal-table joins on ≤ n·2^(n-1) rows.
n is bounded by construction (the coalition table is 2^n — callers with
more than ~16 channels need a sampled estimator, raised loudly)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _sql_str(name: str) -> str:
    """Escape a channel name for interpolation into a VALUES literal —
    a quote in the name would otherwise produce broken oracle SQL."""
    return name.replace("'", "''")

#: hard bound: n·2^(n-1) coalition rows stay driver-trivial through 16
MAX_CHANNELS = 16


def _coalitions(n: int) -> list[tuple[int, int, int]]:
    """(channel_bit, subset_mask, coef) rows — coef = |S|!·(n-|S|-1)!
    (the n!-scaled Shapley weight) for every channel c and every subset
    S of the other channels.  Pure python, reproducible inside a SQL
    VALUES list."""
    rows = []
    for c in range(n):
        cbit = 1 << c
        others = [b for b in range(n) if b != c]
        for m in range(1 << (n - 1)):
            smask = sum(1 << others[i] for i in range(n - 1) if m >> i & 1)
            s = bin(smask).count("1")
            rows.append((cbit, smask, math.factorial(s) * math.factorial(n - 1 - s)))
    return rows


def shapley_attribution(
    journeys: DataFrame, mask_col: str, channels: dict[str, int]
) -> DataFrame:
    """Shapley channel credit from converted journeys — (channel,
    phi_scaled, phi, share).

    ``journeys`` has one row per CONVERTED journey with ``mask_col`` =
    the bitmask of channels touched (bit values from ``channels``,
    name → single bit; the empty mask 0 is a valid journey — conversions
    with no prior touch).  ``phi_scaled`` = φ·n! (exact bigint), ``phi``
    = one rounded division, ``share`` = φ / Σφ (NULL when total credit
    is 0 — all conversions touchless)."""
    n = len(channels)
    if n > MAX_CHANNELS:
        raise ValueError(
            f"shapley_attribution: {n} channels would need {n * 2 ** (n - 1)} "
            f"coalition rows (> MAX_CHANNELS={MAX_CHANNELS}); use a sampled estimator"
        )
    bits = sorted(channels.values())
    if bits != [1 << i for i in range(n)]:
        raise ValueError(f"channels must map names to distinct single bits 1,2,4,...: {channels}")
    spark = journeys.sparkSession
    # v is <= 2^n rows but derives from the whole journey pipeline — it
    # feeds TWO coalition lookups and the efficiency total, and without a
    # materialized leaf Catalyst re-executes the corpus aggregate per
    # consumer (the audit read 12x corpus scans before this checkpoint)
    # a mask outside [0, 2^n) would silently join NOTHING in the coalition
    # lookups (credit quietly vanishes) — raise instead, the basket_edges
    # guard discipline
    guarded_mask = F.when(
        (F.col(mask_col) >= 0) & (F.col(mask_col) < (1 << n)), F.col(mask_col)
    ).otherwise(
        F.expr(
            f"CAST(raise_error(concat('shapley_attribution: journey mask ', "
            f"CAST({mask_col} AS STRING), ' is outside [0, {1 << n}) for "
            f"{n} channels')) AS INT)"
        )
    )
    v = journeys.groupBy(guarded_mask.alias("mask")).agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    ).localCheckpoint()
    # magnitude guard (the roc_auc span-bound discipline): every |term| in
    # the phi sum is <= coef * v <= (n-1)! * v_total and the coef weights
    # sum to n! per channel, so 2 * n! * v_total bounds |phi_scaled|; past
    # int64 it would WRAP silently in Spark while the oracle errors.  v is
    # already a localCheckpointed <=2^n-row frame, so this is a bounded
    # 1-row collect, not a corpus action.
    v_total = v.agg(F.sum("v")).collect()[0][0] or 0
    if 2 * math.factorial(n) * int(v_total) > (1 << 63) - 1:
        raise ValueError(
            f"shapley_attribution: {v_total} conversions with {n} channels "
            "can overflow the exact n!-scaled credit sum (2*n!*v_total > "
            "int64); reduce channels or pre-aggregate conversions"
        )
    coal = spark.createDataFrame(
        _coalitions(n), "cbit int, smask int, coef long"
    )
    # v is <= 2^n rows; both lookups ride one broadcast each
    scored = (
        coal.join(
            F.broadcast(v.select(F.col("mask").alias("__m1"), F.col("v").alias("v_sc"))),
            F.col("smask") + F.col("cbit") == F.col("__m1"),
            "left",
        )
        .join(
            F.broadcast(v.select(F.col("mask").alias("__m0"), F.col("v").alias("v_s"))),
            F.col("smask") == F.col("__m0"),
            "left",
        )
        .groupBy("cbit")
        .agg(
            F.sum(
                F.col("coef")
                * (F.coalesce(F.col("v_sc"), F.lit(0)) - F.coalesce(F.col("v_s"), F.lit(0)))
            ).cast("bigint").alias("phi_scaled")
        )
        .localCheckpoint()  # n rows; feeds the total AND the final select
    )
    names = spark.createDataFrame(
        sorted(channels.items(), key=lambda kv: kv[1]), "channel string, cbit int"
    )
    tot = scored.agg(F.sum("phi_scaled").cast("bigint").alias("__tot"))
    fact = float(math.factorial(n))
    return (
        scored.join(F.broadcast(names), "cbit")
        .crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "phi_scaled",
            F.round(F.col("phi_scaled").cast("double") / F.lit(fact), 6).alias("phi"),
            F.when(
                F.col("__tot") != 0,
                F.round(
                    F.col("phi_scaled").cast("double") / F.col("__tot").cast("double"), 6
                ),
            ).alias("share"),
        )
    )


def shapley_attribution_sql(
    journeys_sql: str, mask_col: str, channels: dict[str, int]
) -> str:
    """DuckDB twin of :func:`shapley_attribution` — the same literal
    coalition/name tables and integer sums."""
    n = len(channels)
    coal_rows = ", ".join(f"({c}, {s}, {w})" for c, s, w in _coalitions(n))
    name_rows = ", ".join(
        f"('{_sql_str(nm)}', {b})" for nm, b in sorted(channels.items(), key=lambda kv: kv[1])
    )
    fact = float(math.factorial(n))
    return f"""
    WITH journeys AS ({journeys_sql}),
    v AS (SELECT {mask_col} AS mask, CAST(COUNT(*) AS BIGINT) AS v
          FROM journeys GROUP BY 1),
    coal(cbit, smask, coef) AS (VALUES {coal_rows}),
    names(channel, cbit) AS (VALUES {name_rows}),
    scored AS (
        SELECT c.cbit,
               CAST(SUM(c.coef * (COALESCE(v1.v, 0) - COALESCE(v0.v, 0))) AS BIGINT)
                 AS phi_scaled
        FROM coal c
        LEFT JOIN v v1 ON v1.mask = c.smask + c.cbit
        LEFT JOIN v v0 ON v0.mask = c.smask
        GROUP BY 1),
    tot AS (SELECT CAST(SUM(phi_scaled) AS BIGINT) AS t FROM scored)
    SELECT n.channel, s.phi_scaled,
           round(CAST(s.phi_scaled AS DOUBLE) / {fact}, 6) AS phi,
           CASE WHEN t.t <> 0 THEN
             round(CAST(s.phi_scaled AS DOUBLE) / CAST(t.t AS DOUBLE), 6)
           END AS share
    FROM scored s JOIN names n ON n.cbit = s.cbit CROSS JOIN tot t
    """


#: micro-unit scale for Markov absorption probabilities
MARKOV_SCALE = 1_000_000


def markov_attribution(
    transitions: DataFrame,
    channels: dict[str, int],
    start_state: int,
    conv_state: int,
    null_state: int,
    iterations: int = 12,
) -> DataFrame:
    """First-order Markov-chain attribution by removal effects (Anderl et
    al., IJRM 2016) — the third face of the attribution family: positional
    rules ignore structure, Shapley ignores ORDER (it sees touch SETS);
    the Markov model credits each channel by how much the journey chain's
    conversion probability drops when the channel is removed.

    Input: ``transitions`` = (from_state, to_state, cnt) counts from
    journey sequences (START → touches → CONV/NULL); ``channels`` maps
    names to their state ids.  Returns (channel, p_conv_base,
    p_conv_removed, removal_effect, share).

    Removing channel c redirects every transition INTO c to NULL (row
    denominators keep the redirected mass — the standard formulation);
    P(conv | START) is recomputed per variant and
    removal_effect = (P_base − P_removed)/P_base.

    Exactness: transition probabilities floor to integer micro-units
    once (p = cnt·S div row), and each fixed-point update floors again
    (a = Σp·a div S) — products stay ≤ S² per term whatever the corpus
    size, every intermediate is an exact integer, and the DuckDB twin
    unrolls the SAME ``iterations`` updates, so the approximate
    absorption probabilities hash-match bit for bit.  The fixed point
    converges geometrically from below; ``iterations`` bounds the
    truncation (documented contract, the pagerank/kcore bounded-rounds
    discipline).

    Scale (r15 optimization round): ONE corpus-sized partial aggregate
    produces the count matrix, which is ≤ (|channels|+3)² rows BY THE
    CHAIN CONTRACT (states are the channel ids plus start/conv/null);
    the matrix collects under a loud bound guard (the module's
    bounded-collect discipline) and all ``iterations`` updates run as
    exact Python-integer arithmetic on the driver — identical floored
    micro-unit updates, order-free integer sums.  The old shape ran the
    same O(variants × states²) work as ~24 tiny distributed shuffles
    plus periodic checkpoints, which at any scale is pure scheduling
    overhead: the corpus never participates past the first aggregate.
    The rounded double outputs are still computed by Spark expressions
    (HALF_UP ``round``) over the local result relation, so they are
    bit-identical to the old plan's.

    Channel state ids must be distinct and disjoint from the reserved
    ids (0 = the base variant marker, start/conv/null) — a channel
    mapped to 0 would duplicate the base variant and silently corrupt
    every removal effect, so the overlap raises instead."""
    reserved = {0, int(start_state), int(conv_state), int(null_state)}
    ids = list(channels.values())
    if len(set(ids)) != len(ids) or set(ids) & reserved:
        raise ValueError(
            f"markov_attribution: channel state ids {sorted(ids)} must be "
            f"distinct and disjoint from the reserved ids {sorted(reserved)} "
            "(0 marks the base variant; start/conv/null are structural)"
        )
    spark = transitions.sparkSession
    t = transitions.groupBy(
        F.col("from_state").alias("i"), F.col("to_state").alias("j")
    ).agg(F.sum("cnt").cast("bigint").alias("cnt"))
    max_rows = (len(channels) + 3) ** 2
    t_rows = t.limit(max_rows + 1).collect()
    if len(t_rows) > max_rows:
        raise ValueError(
            f"markov_attribution: aggregated transition matrix exceeds the "
            f"(|channels|+3)² = {max_rows} rows the chain contract allows — "
            "states must be the channel ids plus start/conv/null; aggregate "
            "or remap foreign states first"
        )
    S = MARKOV_SCALE
    conv, null = int(conv_state), int(null_state)
    per_variant: dict[int, dict] = {}
    for v in [0] + sorted(channels.values()):
        tv: dict = {}
        for r in t_rows:
            j = null if (v != 0 and r["j"] == v) else r["j"]
            tv[(r["i"], j)] = tv.get((r["i"], j), 0) + r["cnt"]
        row_sum: dict = {}
        for (i, _j), c in tv.items():
            row_sum[i] = row_sum.get(i, 0) + c
        # mirrors the old plan's NULL/absorbing-row filter: a NULL or
        # conv/null from_state contributes to denominators but never to p
        p = {
            (i, j): c * S // row_sum[i]
            for (i, j), c in tv.items()
            if i is not None and i not in (conv, null)
        }
        a = {conv: S, null: 0}
        for _ in range(iterations):
            nxt: dict = {}
            for (i, j), pm in p.items():
                nxt[i] = nxt.get(i, 0) + pm * a.get(j, 0)
            a = {conv: S, null: 0}
            for i, vv in nxt.items():
                a[i] = vv // S
        per_variant[v] = a
    out_schema = "channel string, a_base long, a long, drop_u long, __tot long"
    a_base = per_variant[0].get(int(start_state))
    if a_base is None:
        # no row for the start state survived the fixed point — the old
        # plan's inner joins produced an empty result; mirror that
        return spark.createDataFrame([], out_schema).select(
            "channel",
            F.lit(None).cast("double").alias("p_conv_base"),
            F.lit(None).cast("double").alias("p_conv_removed"),
            F.lit(None).cast("double").alias("removal_effect"),
            F.lit(None).cast("double").alias("share"),
        )
    drops = {
        ch: a_base - per_variant[v][int(start_state)]
        for ch, v in channels.items()
    }
    tot = sum(drops.values())
    out = spark.createDataFrame(
        [
            (ch, a_base, per_variant[v][int(start_state)], drops[ch], tot)
            for ch, v in sorted(channels.items(), key=lambda kv: kv[1])
        ],
        out_schema,
    )
    return out.select(
        "channel",
        F.round(F.col("a_base").cast("double") / F.lit(float(MARKOV_SCALE)), 6).alias(
            "p_conv_base"
        ),
        F.round(F.col("a").cast("double") / F.lit(float(MARKOV_SCALE)), 6).alias(
            "p_conv_removed"
        ),
        F.when(
            F.col("a_base") > 0,
            F.round(F.col("drop_u").cast("double") / F.col("a_base").cast("double"), 6),
        ).alias("removal_effect"),
        F.when(
            F.col("__tot") != 0,
            F.round(F.col("drop_u").cast("double") / F.col("__tot").cast("double"), 6),
        ).alias("share"),
    )


def markov_attribution_sql(
    transitions_sql: str,
    channels: dict[str, int],
    start_state: int,
    conv_state: int,
    null_state: int,
    iterations: int = 12,
) -> str:
    """DuckDB twin of :func:`markov_attribution` — identical micro-unit
    floors and the same ``iterations`` updates unrolled as CTEs."""
    S = MARKOV_SCALE
    var_rows = ", ".join(f"({v})" for v in [0] + sorted(channels.values()))
    name_rows = ", ".join(
        f"('{_sql_str(nm)}', {v})" for nm, v in sorted(channels.items(), key=lambda kv: kv[1])
    )
    abs_rows = ", ".join(
        f"({v}, {int(conv_state)}, {S}), ({v}, {int(null_state)}, 0)"
        for v in [0] + sorted(channels.values())
    )
    parts = [
        f"""t AS MATERIALIZED (
        SELECT from_state AS i, to_state AS j, CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM ({transitions_sql}) GROUP BY 1, 2)""",
        f"variants(variant) AS (VALUES {var_rows})",
        f"names(channel, variant) AS (VALUES {name_rows})",
        f"""tv AS MATERIALIZED (
        SELECT v.variant, t.i,
               CASE WHEN v.variant <> 0 AND t.j = v.variant
                    THEN {int(null_state)} ELSE t.j END AS j,
               SUM(t.cnt) AS cnt
        FROM t CROSS JOIN variants v GROUP BY 1, 2, 3)""",
        """rw AS (SELECT variant, i, SUM(cnt) AS row FROM tv GROUP BY 1, 2)""",
        f"""p AS MATERIALIZED (
        SELECT tv.variant, tv.i, tv.j, (tv.cnt * {S}) // rw.row AS p_micro
        FROM tv JOIN rw ON rw.variant = tv.variant AND rw.i = tv.i
        WHERE tv.i NOT IN ({int(conv_state)}, {int(null_state)}))""",
        f"ab(variant, state, a) AS (VALUES {abs_rows})",
        "a0 AS (SELECT * FROM ab)",
    ]
    prev = "a0"
    for k in range(1, iterations + 1):
        parts.append(
            f"""a{k} AS MATERIALIZED (
        SELECT * FROM ab
        UNION ALL
        SELECT p.variant, p.i AS state,
               CAST(SUM(p.p_micro * COALESCE(pr.a, 0)) // {S} AS BIGINT) AS a
        FROM p LEFT JOIN {prev} pr
          ON pr.variant = p.variant AND pr.state = p.j
        GROUP BY 1, 2)"""
        )
        prev = f"a{k}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
    starts AS (SELECT variant, a FROM {prev} WHERE state = {int(start_state)}),
    base AS (SELECT a AS a_base FROM starts WHERE variant = 0),
    per AS (
        SELECT n.channel, s.a, b.a_base, b.a_base - s.a AS drop_u
        FROM starts s JOIN names n ON n.variant = s.variant CROSS JOIN base b
        WHERE s.variant <> 0),
    tot AS (SELECT CAST(SUM(drop_u) AS BIGINT) AS t FROM per)
    SELECT p.channel,
           round(CAST(p.a_base AS DOUBLE) / {float(S)}, 6) AS p_conv_base,
           round(CAST(p.a AS DOUBLE) / {float(S)}, 6) AS p_conv_removed,
           CASE WHEN p.a_base > 0 THEN
             round(CAST(p.drop_u AS DOUBLE) / CAST(p.a_base AS DOUBLE), 6)
           END AS removal_effect,
           CASE WHEN t.t <> 0 THEN
             round(CAST(p.drop_u AS DOUBLE) / CAST(t.t AS DOUBLE), 6)
           END AS share
    FROM per p CROSS JOIN tot t
    """
    )
