"""Iterative graph analytics: fixed-point PageRank (SURVEY.md §2.2
extension surface — the iterative-algorithm complement to the
large-star/small-star connected components in operators/dedup.py).

PageRank's textbook form sums floating-point contributions per node, and a
distributed groupBy sums in arbitrary order — run-to-run (and engine-to-
engine) nondeterminism in the low bits, which the oracle gate would
reject.  This implementation works in 10^12-denominator FIXED POINT:
ranks are BIGINTs, each edge contribution is the integer
``(85 * r) div (100 * deg)`` (damping 0.85 as a ratio of integers), and
sums of integers are exact in any order.  The flooring loss per edge is
< 1e-12 of total rank — irrelevant for ranking, decisive for
reproducibility: Spark and DuckDB produce bit-identical ranks.

Scale: each iteration is one join (edges ⋈ ranks — co-partitioned on the
source key after the first shuffle) + one partial-aggregated groupBy(dst)
+ one left join back onto the node list.  Edges/degrees/nodes are computed
once and localCheckpointed (the q15 discipline) so k iterations never
re-derive the graph; rank state stays (node, BIGINT) — 16 bytes a row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation

from datapipeline_omnichanneltobigquery_spark.operators.normalize import observed

SCALE = 10**12  # fixed-point denominator
DAMP_NUM, DAMP_DEN = 85, 100  # damping 0.85 as an integer ratio


def basket_edges(
    items: DataFrame,
    key_col: str,
    item_col: str,
    max_basket: int = 1000,
) -> DataFrame:
    """Co-occurrence edges from (basket, item) pairs: (src, dst) for every
    ordered pair of distinct items sharing a basket — the shared edge
    derivation for the co-purchase graph family (triangles / k-core /
    PageRank / LPA).

    Scale contract, made EXPLICIT: the within-basket self-join emits
    |basket|² rows per basket, so downstream wedge bounds (triangle
    counting's Σdeg²) hold only while baskets are bounded.  A basket
    larger than ``max_basket`` raises a diagnosable error (the
    resample ``max_points_per_key`` / overlap bucket-cap discipline)
    instead of silently exploding the shuffle at 100 TB — raise the cap
    deliberately, never implicitly.  The basket-size count rides the same
    hash partitioning the self-join needs, so the guard adds no extra
    corpus shuffle."""
    from pyspark.sql import Window as W

    pairs = items.select(
        F.col(key_col).alias("k"), F.col(item_col).alias("item")
    ).distinct()
    bsz = F.count(F.lit(1)).over(W.partitionBy("k"))
    guarded = pairs.withColumn(
        "item",
        F.when(bsz <= F.lit(int(max_basket)), F.col("item")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"basket_edges: basket {key_col}="),
                    F.col("k").cast("string"),
                    F.lit(f" holds more than max_basket={int(max_basket)} items; "
                          "the |basket|^2 pair fan-out would explode the shuffle — "
                          "raise max_basket explicitly if this is intended"),
                )
            )
        ),
    )
    a = guarded.select("k", F.col("item").alias("src"))
    b = guarded.select("k", F.col("item").alias("dst"))
    return a.join(b, "k").filter(F.col("src") != F.col("dst")).select("src", "dst")


def pagerank_fixedpoint(
    edges: DataFrame, iterations: int = 3, checkpoint_every: int = 4
) -> DataFrame:
    """PageRank over directed ``edges`` (src, dst) — ``iterations`` exact
    fixed-point rounds from a uniform start.  Returns (node, rank) with
    rank in units of 1/SCALE.  Nodes are the union of srcs and dsts;
    dangling nodes (no out-edges) simply stop propagating — their rank
    mass decays into the teleport term, the standard simplification.
    An empty edge set returns an empty (node, rank) frame instead of
    dividing by n = 0.  The evolving ``ranks`` state is localCheckpointed
    every ``checkpoint_every`` rounds so plan depth (and Catalyst analysis
    cost) stays bounded at high iteration counts — the same discipline as
    ``connected_components_star``."""
    e = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = nodes.count()  # scalar: fixes r0 and the teleport base
    if n == 0:
        return nodes.select("node", F.lit(0).cast("bigint").alias("rank")).limit(0)
    r0 = SCALE // n
    base = (15 * SCALE) // (100 * n)
    ranks = nodes.withColumn("r", F.lit(r0).cast("bigint"))
    for it in range(iterations):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .join(deg, "src")
            .select(
                "dst",
                F.expr(f"({DAMP_NUM} * r) div ({DAMP_DEN} * deg)").alias("c"),
            )
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = nodes.join(sums, nodes.node == sums.dst, "left").select(
            "node",
            (F.lit(base) + F.coalesce(F.col("s"), F.lit(0))).cast("bigint").alias("r"),
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0 and it + 1 < iterations:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", F.col("r").alias("rank"))


def pagerank_fixedpoint_sql(edges_sql: str, iterations: int = 3) -> str:
    """DuckDB twin of :func:`pagerank_fixedpoint`: the same iterations
    unrolled as CTEs with identical integer arithmetic (``//`` is DuckDB's
    flooring integer division ≡ Spark's ``div`` on non-negative
    operands)."""
    parts = [
        f"edges AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1)",
        f"c0 AS (SELECT COUNT(*) AS n FROM nodes)",
        f"r0 AS (SELECT node, CAST({SCALE} // n AS BIGINT) AS r FROM nodes, c0)",
    ]
    prev = "r0"
    for i in range(1, iterations + 1):
        parts.append(
            f"""s{i} AS (SELECT e.dst, SUM(({DAMP_NUM} * p.r) // ({DAMP_DEN} * d.deg)) AS s
         FROM edges e JOIN {prev} p ON p.node = e.src
         JOIN deg d ON d.src = e.src GROUP BY e.dst)"""
        )
        parts.append(
            f"""r{i} AS (SELECT n.node,
                CAST((15 * {SCALE}) // (100 * c0.n) + COALESCE(s{i}.s, 0) AS BIGINT) AS r
         FROM nodes n LEFT JOIN s{i} ON s{i}.dst = n.node, c0)"""
        )
        prev = f"r{i}"
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, r AS rank FROM {prev}"


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED graph given as (src,
    dst) pairs (direction and duplicates ignored) — (node, n_triangles).
    The local clustering signal: high-triangle nodes sit in dense
    communities; near-zero ones are bridges/noise.

    Compact-forward algorithm (Schank/Wagner; the MapReduce-standard
    NodeIterator++): orient every edge toward the higher-(degree, id)
    endpoint, build wedges at each node's two out-neighbors, then close
    each wedge against the oriented edge list — every triangle is found
    EXACTLY once (at its lowest-order corner).  DEGREE-ordered
    orientation, not id order, is what gives the standard skew bound:
    out-degree(x) counts only neighbors of HIGHER (degree, id), so the
    wedge volume is Σ min(deg_u, deg_v)² over edges — a low-id hub under
    id orientation would keep out-degree ≈ its full degree and emit deg²
    wedge rows at scale (the r9 verdict nit).  Three shuffles (degree
    agg + wedge join + closure join); pure integer — bit-exact SQL twin
    (orientation doesn't change which triangles exist, so the twin's
    output is identical whatever order IT uses)."""
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    dirv = _degree_oriented(und)
    a = dirv.select("x", F.col("y").alias("b"), F.col("dy").alias("db"))
    b2 = dirv.select("x", F.col("y").alias("c"), F.col("dy").alias("dc"))
    wedges = a.join(b2, "x").filter(
        F.struct(F.col("db"), F.col("b")) < F.struct(F.col("dc"), F.col("c"))
    )
    closed = wedges.join(
        dirv.select(F.col("x").alias("b"), F.col("y").alias("c")), ["b", "c"]
    )
    # one corner row per triangle endpoint via a map-side explode — NOT a
    # 3-way unionAll of projections of `closed`, which re-ran the whole
    # Σ min-deg² wedge join + closure shuffle once per branch (the r11
    # profile: 35.8 s for the union vs 8.4 s for a single closure pass)
    per_corner = closed.select(
        F.explode(F.array("x", "b", "c")).alias("node")
    )
    return per_corner.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def _degree_oriented(und: DataFrame) -> DataFrame:
    """Orient a canonical undirected edge list (u < v, distinct) toward
    the higher-(degree, id) endpoint: (x, y, dy) rows with
    (deg_x, x) < (deg_y, y) — the Schank/Wagner total order whose
    out-degrees are capped by min-degree.  ``dy`` (the head's degree)
    rides along so the wedge join can order two out-neighbors without a
    second degree lookup."""
    ends = und.select(F.col("u").alias("node")).unionAll(
        und.select(F.col("v").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    w = und.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    u_first = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    return w.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("y"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dy"),
    ).localCheckpoint()


def kcore(edges: DataFrame, k: int, rounds: int = 8) -> DataFrame:
    """k-core decomposition by iterative peeling over an UNDIRECTED graph
    given as (src, dst) pairs: repeatedly remove nodes of degree < k (and
    their edges) until nothing changes — the surviving subgraph where
    every node keeps ≥ k neighbors, the standard density filter for
    community/spam analysis.  Returns (node, core_deg): survivors after
    ``rounds`` peel rounds with their degree inside the core.

    Bounded-rounds contract (same as :func:`pagerank_fixedpoint`): both
    engines run EXACTLY ``rounds`` peels (with an early exit when a round
    removes nothing — further rounds are no-ops), so the bit-exact SQL
    twin unrolls the identical peels; callers size ``rounds`` to their
    graph's peel depth (typically ≤ log-ish in practice; the returned
    frame equals the true k-core whenever peeling converged within the
    budget).  Each round: one degree aggregate + two semi-joins, state =
    the surviving edge list, localCheckpointed so plan depth stays flat."""
    cur = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = cur.count()

    def degrees(e: DataFrame) -> DataFrame:
        ends = e.select(F.col("u").alias("node")).unionAll(
            e.select(F.col("v").alias("node"))
        )
        return ends.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))

    for _ in range(rounds):
        if n_edges == 0:
            break
        keep = degrees(cur).filter(F.col("deg") >= k).select("node")
        nxt = (
            cur.join(keep.withColumnRenamed("node", "u"), "u", "semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "semi")
            .select("u", "v")
            .localCheckpoint()
        )
        n_nxt = nxt.count()
        if n_nxt == n_edges:
            break  # fixpoint: further rounds are no-ops
        cur, n_edges = nxt, n_nxt
    return degrees(cur).filter(F.col("deg") >= k).select(
        "node", F.col("deg").alias("core_deg")
    )


def kcore_sql(edges_sql: str, k: int, rounds: int = 8) -> str:
    """DuckDB twin of :func:`kcore` — the same peels unrolled as CTEs
    (extra rounds past the fixpoint are no-ops, so exact-``rounds``
    unrolling matches the Spark side's early exit)."""
    # every CTE MATERIALIZED: each round references its predecessor ~5
    # times, and DuckDB's default inlining would compound that to 5^rounds
    # scans of the base table
    parts = [
        f"""e0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
          FROM ({edges_sql}) WHERE src <> dst)"""
    ]
    prev = "e0"
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (
             SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
           GROUP BY 1)"""
        )
        parts.append(
            f"""e{i} AS MATERIALIZED (SELECT u, v FROM {prev}
           WHERE u IN (SELECT node FROM d{i} WHERE deg >= {k})
             AND v IN (SELECT node FROM d{i} WHERE deg >= {k}))"""
        )
        prev = f"e{i}"
    return (
        "WITH " + ",\n".join(parts) + f"""
    SELECT node, COUNT(*) AS core_deg FROM (
        SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
    GROUP BY 1 HAVING COUNT(*) >= {k}"""
    )


def triangle_counts_sql(edges_sql: str) -> str:
    """DuckDB twin of :func:`triangle_counts` — same orientation, wedge
    join, and closure."""
    return f"""
    WITH und AS (
        SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
        FROM ({edges_sql}) WHERE src <> dst),
    tri AS (
        SELECT w1.u AS a, w1.v AS b, w2.v AS c
        FROM und w1
        JOIN und w2 ON w2.u = w1.v
        JOIN und w3 ON w3.u = w1.u AND w3.v = w2.v),
    corners AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
    SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY node
    """


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. '07) over an UNDIRECTED graph given as (src, dst) pairs: labels
    start as node ids; each round every node adopts the MOST FREQUENT
    label among its neighbors (ties → smallest label) — after a few
    rounds dense regions agree on one label while bridges don't, which is
    the community structure k-core/CC can't express (CC only sees
    reachability, k-core only density).

    Determinism (classic LPA is notoriously order-dependent — this
    variant is not): updates are SYNCHRONOUS (round N+1 reads only round
    N's labels), the vote resolves by the TOTAL order (count desc, label
    asc), and both engines run EXACTLY ``rounds`` rounds — so the
    bit-exact SQL twin unrolls the identical votes.  Isolated update
    oscillations (bipartite flip-flop) are bounded by the fixed round
    budget, same contract as :func:`kcore`'s bounded peels.

    Each round: one both-directions neighbor join + one (node, label)
    count + one argmax aggregate; labels localCheckpoint per round so
    plan depth stays flat.  Returns (node, community)."""
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    both = und.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    labels = both.select("node").distinct().withColumn("lbl", F.col("node"))
    for _ in range(rounds):
        votes = (
            both.join(
                labels.select(F.col("node").alias("nbr"), F.col("lbl")), "nbr"
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.groupBy("node")
            .agg(
                F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl")))["nl"].alias(
                    "__pick"
                )
            )
            .select("node", (-F.col("__pick")).alias("lbl"))
            .localCheckpoint()
        )
    return labels.select("node", F.col("lbl").alias("community"))


def label_propagation_sql(edges_sql: str, rounds: int = 4) -> str:
    """DuckDB twin of :func:`label_propagation` — the same synchronous
    votes unrolled as MATERIALIZED CTEs with the identical (count desc,
    label asc) tie order."""
    parts = [
        f"""e0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
          FROM ({edges_sql}) WHERE src <> dst)""",
        """b0 AS MATERIALIZED (SELECT u AS node, v AS nbr FROM e0
          UNION ALL SELECT v, u FROM e0)""",
        "l0 AS MATERIALIZED (SELECT DISTINCT node, node AS lbl FROM b0)",
    ]
    prev = "l0"
    for i in range(1, rounds + 1):
        parts.append(
            f"""v{i} AS MATERIALIZED (
            SELECT b0.node, l.lbl, COUNT(*) AS c
            FROM b0 JOIN {prev} l ON l.node = b0.nbr
            GROUP BY 1, 2)"""
        )
        parts.append(
            f"""l{i} AS MATERIALIZED (
            SELECT node, -((MAX(struct_pack(c := c, nl := -lbl))).nl) AS lbl
            FROM v{i} GROUP BY node)"""
        )
        prev = f"l{i}"
    return (
        "WITH " + ",\n".join(parts) + f"""
    SELECT node, lbl AS community FROM {prev}"""
    )


def adamic_adar(edges: DataFrame, max_degree: int = 64) -> DataFrame:
    """Adamic-Adar link-prediction scores over an UNDIRECTED graph given
    as (src, dst) pairs: for every node pair (a, b) sharing at least one
    common neighbor, score = Σ_w 1/ln(deg_w) over the common neighbors w
    (Adamic & Adar, Social Networks 2003) — the classic "which links are
    missing" signal that weighs RARE shared neighbors above hubs, the
    recommendation/completion face of the graph family (triangles/k-core/
    PageRank/LPA measure existing structure; this predicts absent edges).

    Returns (node_a, node_b, n_common, score, linked) with node_a <
    node_b; ``linked`` marks pairs that are ALREADY edges (scored too —
    callers filter on it for pure link prediction or use it as a
    strength signal).

    Determinism: each neighbor's contribution is pre-rounded HALF-UP to
    integer micro-units (floor(1e6/ln(deg) + 0.5) — ln agreement is
    pinned by the cross-engine ln/exp battery), so the per-pair sum is an
    exact bigint whatever the shuffle order; ONE final /1e6 division
    (round 6) produces the float score.

    Scale contract, made EXPLICIT like basket_edges' cap: the wedge join
    through a common neighbor w emits C(deg_w, 2) pair rows, so hubs
    explode the shuffle quadratically while contributing the LEAST per
    pair (1/ln(deg) → 0).  Neighbors with deg_w > ``max_degree`` are
    therefore EXCLUDED from scoring (a documented approximation, the
    df-cap discipline of dedup/winnow postings): wedge volume is bounded
    by Σ_{deg_w ≤ cap} deg_w² ≤ n·cap², and the dropped mass per pair is
    < k_hubs/ln(cap).  Raise the cap deliberately, never implicitly.
    Degree-1 nodes can never BE a common neighbor (a wedge needs two
    neighbors), so they are filtered before the term expression — which
    also keeps ln(deg) > 0 (ANSI mode would otherwise raise on
    1e6/ln(1)).  Three shuffles: degree agg, wedge self-join on w, pair
    agg."""
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()  # feeds adjacency AND the linked-flag join
    )
    adj = und.select(F.col("u").alias("w"), F.col("v").alias("nbr")).unionAll(
        und.select(F.col("v").alias("w"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("deg"))
    # materialized once (lazy checkpoint): the wedge self-join consumes
    # this frame on BOTH sides, and the two sides project different
    # columns, so no ReusedExchange applies — unmaterialized, the
    # degree-filter join ran twice (r15 optimization round)
    scored_nbrs = (
        deg.filter(
            (F.col("deg") >= F.lit(2)) & (F.col("deg") <= F.lit(int(max_degree)))
        )
        .withColumn(
            "term_micro",
            F.expr("CAST(floor(1000000.0 / ln(CAST(deg AS DOUBLE)) + 0.5) AS BIGINT)"),
        )
        .join(adj, "w")
        .localCheckpoint(eager=False)
    )
    a = scored_nbrs.select("w", "term_micro", F.col("nbr").alias("node_a"))
    b = scored_nbrs.select("w", F.col("nbr").alias("node_b"))
    wedges = a.join(b, "w").filter(F.col("node_a") < F.col("node_b"))
    pairs = wedges.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum("term_micro").cast("bigint").alias("score_micro"),
    )
    return pairs.join(
        und.select(F.col("u").alias("node_a"), F.col("v").alias("node_b"), F.lit(True).alias("__e")),
        ["node_a", "node_b"],
        "left",
    ).select(
        "node_a",
        "node_b",
        "n_common",
        F.round(F.col("score_micro").cast("double") / F.lit(1000000.0), 6).alias("score"),
        F.coalesce(F.col("__e"), F.lit(False)).alias("linked"),
    )


def adamic_adar_sql(edges_sql: str, max_degree: int = 64) -> str:
    """DuckDB twin of :func:`adamic_adar` — same canonicalization, degree
    cap, half-up micro-unit rounding, and single final division."""
    return f"""
    WITH und AS MATERIALIZED (
        SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
        FROM ({edges_sql}) WHERE src <> dst),
    adj AS MATERIALIZED (
        SELECT u AS w, v AS nbr FROM und
        UNION ALL SELECT v, u FROM und),
    deg AS (SELECT w, COUNT(*) AS deg FROM adj GROUP BY w),
    sn AS (
        SELECT adj.w, adj.nbr,
               CAST(floor(1000000.0 / ln(CAST(deg.deg AS DOUBLE)) + 0.5) AS BIGINT)
                 AS term_micro
        FROM adj JOIN deg ON deg.w = adj.w
        WHERE deg.deg BETWEEN 2 AND {int(max_degree)}),
    pairs AS (
        SELECT a.nbr AS node_a, b.nbr AS node_b,
               COUNT(*) AS n_common,
               CAST(SUM(a.term_micro) AS BIGINT) AS score_micro
        FROM sn a JOIN sn b ON a.w = b.w AND a.nbr < b.nbr
        GROUP BY 1, 2)
    SELECT p.node_a, p.node_b, p.n_common,
           round(CAST(p.score_micro AS DOUBLE) / 1000000.0, 6) AS score,
           COALESCE(e.u IS NOT NULL, FALSE) AS linked
    FROM pairs p
    LEFT JOIN und e ON e.u = p.node_a AND e.v = p.node_b
    """


#: HITS fixed-point units — smaller than PageRank's SCALE so the
#: normalization product score·HITS_SCALE stays inside int64 under the
#: degree cap: raw sums ≤ HITS_DEG_CAP·HITS_SCALE = 4e12, and
#: raw·HITS_SCALE ≤ 4e18 < 2^63.
HITS_SCALE = 10**6
HITS_DEG_CAP = 4_000_000


def hits_fixedpoint(
    edges: DataFrame,
    iterations: int = 4,
    bipartite_prefixes: tuple[str, str] | None = None,
) -> DataFrame:
    """HITS hubs & authorities over directed ``edges`` (src, dst) —
    Kleinberg 1999, the bipartite companion of PageRank: a src's HUB
    score sums its targets' authority, a dst's AUTHORITY score sums its
    sources' hub mass (users×products, queries×documents).

    EXACT integer power iteration with MAX-normalization (the standard
    power-iteration variant: each round's scores rescale so the maximum
    is exactly ``HITS_SCALE``): score' = (raw · HITS_SCALE) div max(raw)
    — integer sums and one flooring division per node per round, so the
    fixed point is bit-identical across engines and parallelism.  What
    that buys is DETERMINISM, not exact-HITS rank fidelity: within a
    round the rescaling is monotone (it never reorders that round's raw
    sums), but the flooring division quantizes scores to 1/HITS_SCALE,
    which can TIE nodes whose exact-arithmetic scores differ below that
    resolution — and, propagated across iterations, perturb ranks
    relative to infinite-precision L2-normalized HITS.  Both engines
    compute the same quantized fixed point, which is the property the
    oracle hash checks.

    Overflow contract, guarded loudly: raw sums are bounded by
    degree·HITS_SCALE, so a node with in- or out-degree above
    ``HITS_DEG_CAP`` (4e6) raises a diagnosable error naming the bound
    (the basket_edges supernode discipline) rather than wrapping the
    normalization product — split a genuine supernode or pre-aggregate
    its edges first.  The guard rides ON the round-1 raw-sum column the
    normalization consumes (degrees never change across rounds, so
    round 1 checks every node), not a separate eagerly-collected
    aggregate — Catalyst cannot prune it, and plan construction runs no
    dedicated guard job (the localCheckpoints inside the loop remain
    eager by the module's multi-consumer discipline).

    Returns (node, hub, auth) — NULL hub for pure authorities, NULL
    auth for pure hubs.  Scale: each round is two degree-bounded
    join+aggregates plus a 1-row broadcast max; the edge set crosses
    one exchange per half-round.

    Execution shape (r15/r16 optimization rounds): each half-round
    localCheckpoints the RAW sums, not the normalized scores, so the
    join+aggregate subtree executes exactly ONCE per half-round —
    checkpointing the normalized scores evaluated it twice (once under
    the max's BroadcastExchange, once on the main path; no
    ReusedExchange, the expression ids differ).  The max RIDES the
    checkpoint job itself as an ``observe()`` metric (r16): the
    CollectMetrics accumulator fills during the eager materialization,
    so no separate max job, no BroadcastExchange, and the flooring
    division becomes a literal-divisor projection over the checkpoint —
    ONE Spark job per half-round, which is the sequential floor of
    max-normalized power iteration (the global max is a barrier).
    max(bigint) over a fixed row set is shuffle-order-invariant, so the
    literal is the exact same value the broadcast scalar carried.
    Round 1 skips the authority join outright: every hub starts at
    exactly ``HITS_SCALE``, so the round-1 authority raw sum IS
    in-degree·HITS_SCALE, computed from the edge set alone (the inner
    join's only other effect — dropping NULL-src edges — is preserved
    by the explicit filter).

    ``bipartite_prefixes=(src_pfx, dst_pfx)``: for a graph whose two key
    spaces are DISJOINT BY CONSTRUCTION (users×products), pass the raw
    (narrow, e.g. bigint) keys and the prefixes separately — the loop
    then shuffles/joins/groups the narrow keys and the string prefix is
    applied only on output.  Bit-identical to prefixing up front: the
    prefix bijects each side's key space (every sum/max/div groups the
    same rows; NULL keys stay NULL either way), and the final full_outer
    join of the prefixed tables is the plain UNION of the two sides —
    prefixed hub and authority keys can never be equal."""
    if iterations < 1:
        raise ValueError(
            f"hits_fixedpoint: iterations must be >= 1, got {iterations}"
        )
    e = edges.select("src", "dst").distinct().localCheckpoint()

    def _deg_guarded(key: Column, side: str, raw: Column, d: Column) -> Column:
        # the int64 bound depends on IN-degree (authority step) and
        # OUT-degree (hub step) SEPARATELY — a combined count would
        # spuriously reject a legal node with in+out just over the cap.
        # Riding on the consumed raw-sum column (round 1 sums over ALL
        # nodes of a side, and degrees are round-invariant), the guard
        # checks every node without a dedicated eager aggregate job.
        return F.when(d <= F.lit(HITS_DEG_CAP), raw).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("hits_fixedpoint: node "),
                    key.cast("string"),
                    F.lit(f" has {side}"),
                    F.lit(
                        f"-degree above HITS_DEG_CAP={HITS_DEG_CAP}; "
                        "the normalization product would overflow int64 — "
                        "split the supernode or pre-aggregate its edges"
                    ),
                )
            ).cast("bigint")
        )

    h = None
    a = None
    for it in range(iterations):
        if it == 0:
            # round 1: every hub scores exactly HITS_SCALE, so the join
            # against the constant table is the identity — the raw sum is
            # in-degree·HITS_SCALE over non-NULL-src edges (the inner
            # join dropped those), and round 1's groups cover every
            # authority-side node, so the degree guard checks them all.
            a_raw = (
                e.filter(F.col("src").isNotNull())
                .groupBy("dst")
                .agg(F.count(F.lit(1)).alias("d"))
                .select(
                    "dst",
                    _deg_guarded(
                        F.col("dst"),
                        "in",
                        (F.col("d") * F.lit(HITS_SCALE)).cast("bigint"),
                        F.col("d"),
                    ).alias("raw"),
                )
            )
        else:
            a_raw = (
                e.join(h, e.src == h.node)
                .groupBy("dst")
                .agg(F.sum("h").cast("bigint").alias("raw"))
            )
        # checkpoint the RAW sums with the max riding the SAME job as an
        # observe() metric — no separate max job, no BroadcastExchange;
        # the flooring division is a literal-divisor projection
        obs_a = Observation()
        a_raw = a_raw.observe(obs_a, F.max("raw").alias("mx")).localCheckpoint()
        amx = observed(obs_a)["mx"]
        a = a_raw.select(
            F.col("dst").alias("node"),
            F.expr(f"(raw * {HITS_SCALE}) div CAST({1 if amx is None else int(amx)} AS BIGINT)")
            .cast("bigint")
            .alias("a"),
        )
        h_grp = e.join(a, e.dst == a.node).groupBy("src")
        if it == 0:  # round 1's groups cover every hub-side node
            h_raw = h_grp.agg(
                F.sum("a").cast("bigint").alias("raw"),
                F.count(F.lit(1)).alias("d"),
            ).select(
                "src",
                _deg_guarded(F.col("src"), "out", F.col("raw"), F.col("d")).alias("raw"),
            )
        else:
            h_raw = h_grp.agg(F.sum("a").cast("bigint").alias("raw"))
        obs_h = Observation()
        h_raw = h_raw.observe(obs_h, F.max("raw").alias("mx")).localCheckpoint()
        hmx = observed(obs_h)["mx"]
        h = h_raw.select(
            F.col("src").alias("node"),
            F.expr(f"(raw * {HITS_SCALE}) div CAST({1 if hmx is None else int(hmx)} AS BIGINT)")
            .cast("bigint")
            .alias("h"),
        )
    if bipartite_prefixes is not None:
        src_pfx, dst_pfx = bipartite_prefixes
        return (
            h.select(
                F.concat(F.lit(src_pfx), F.col("node").cast("string")).alias("node"),
                F.col("h").alias("hub"),
                F.lit(None).cast("bigint").alias("auth"),
            )
            .unionAll(
                a.select(
                    F.concat(F.lit(dst_pfx), F.col("node").cast("string")).alias("node"),
                    F.lit(None).cast("bigint").alias("hub"),
                    F.col("a").alias("auth"),
                )
            )
        )
    return (
        h.select("node", F.col("h").alias("hub"))
        .join(a.select("node", F.col("a").alias("auth")), "node", "full_outer")
        .select("node", "hub", "auth")
    )


def hits_fixedpoint_sql(edges_sql: str, iterations: int = 4) -> str:
    """DuckDB twin of :func:`hits_fixedpoint` — the same rounds unrolled
    as CTEs with identical integer max-normalization (``//`` ≡ ``div``
    on non-negative bigints; the degree guard is structural on the
    Spark side and a data-contract here).  Every round CTE is
    ``AS MATERIALIZED``: each raw-sum CTE is referenced by BOTH its max
    CTE and the normalize CTE, so DuckDB's default inlining re-evaluates
    the upstream join chain twice per half-round — 2^(2·iters)
    recomputation of the edge join (measured: the un-materialized form
    burned 60+ CPU-minutes at sf0.1 where this runs in seconds)."""
    if iterations < 1:
        raise ValueError(
            f"hits_fixedpoint_sql: iterations must be >= 1, got {iterations}"
        )
    parts = [
        f"edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        f"h0 AS MATERIALIZED (SELECT DISTINCT src AS node, CAST({HITS_SCALE} AS BIGINT) AS h FROM edges)",
    ]
    prev_h = "h0"
    prev_a = None
    for i in range(1, iterations + 1):
        parts.append(
            f"""ar{i} AS MATERIALIZED (SELECT e.dst, CAST(SUM(p.h) AS BIGINT) AS raw
         FROM edges e JOIN {prev_h} p ON p.node = e.src GROUP BY 1)"""
        )
        parts.append(f"am{i} AS (SELECT MAX(raw) AS mx FROM ar{i})")
        parts.append(
            f"""a{i} AS MATERIALIZED (SELECT dst AS node,
                CAST((raw * {HITS_SCALE}) // mx AS BIGINT) AS a
         FROM ar{i}, am{i})"""
        )
        parts.append(
            f"""hr{i} AS MATERIALIZED (SELECT e.src, CAST(SUM(p.a) AS BIGINT) AS raw
         FROM edges e JOIN a{i} p ON p.node = e.dst GROUP BY 1)"""
        )
        parts.append(f"hm{i} AS (SELECT MAX(raw) AS mx FROM hr{i})")
        parts.append(
            f"""h{i} AS MATERIALIZED (SELECT src AS node,
                CAST((raw * {HITS_SCALE}) // mx AS BIGINT) AS h
         FROM hr{i}, hm{i})"""
        )
        prev_h, prev_a = f"h{i}", f"a{i}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT COALESCE(h.node, a.node) AS node, h.h AS hub, a.a AS auth
    FROM {prev_h} h FULL OUTER JOIN {prev_a} a ON a.node = h.node"""
    )
