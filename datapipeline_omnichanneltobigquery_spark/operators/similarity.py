"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: a broadcast of the query
vector against a single scan of the corpus — embarrassingly parallel, no
shuffle until the final TakeOrderedAndProject (k rows per partition → driver
merge).  That is already the right 100 TB plan for one-off queries.

All-pairs workloads pre-normalize the corpus once (O(n) norms) so each pair
costs a single dot product, and the dot product itself is an unrolled
WholeStageCodegen expression when the dimension is statically known
(functions/vectors.py) — the difference between interpreted higher-order
lambdas and codegen is ~50× on a 2k×2k pair join.

The scale path for repeated queries is IVF: partition the corpus once by
nearest centroid (one shuffle, persisted/bucketed by cluster id), then probe
only ``n_probe`` clusters per query — a partition-pruned scan instead of a
full one.  Centroid assignment uses the same deterministic math.

Everything is bitwise-reproducible against the DuckDB oracle constructions
(ordered folds, double accumulation) — see the ``*_sql`` twins.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from datapipeline_omnichanneltobigquery_spark.functions.vectors import cosine, dot, norm_unit


def _query_vec_df(embeddings: DataFrame, query_vec_id: int) -> DataFrame:
    return embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("__qv")
    )


def _dot_sql(a: str, b: str, dim: int, cast: bool = True) -> str:
    """The DuckDB ordered-fold dot product (bitwise-equal to vectors.dot)."""
    e = (lambda v: f"CAST({v} AS DOUBLE)") if cast else (lambda v: v)
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> {e(a + '[i]')} * {e(b + '[i]')}))"
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine against the corpus vector ``query_vec_id``.

    Broadcast 1-row query ⨯ corpus scan → cosine in codegen → orderBy+limit
    (TakeOrderedAndProject).  Ties broken by id for determinism.  Excludes
    the query vector itself.
    """
    q = _query_vec_df(embeddings, query_vec_id)
    return (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != query_vec_id)
        .select(id_col, cosine(F.col(vec_col), F.col("__qv"), dim).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_sql(table: str, query_vec_id: int, k: int, dim: int) -> str:
    """DuckDB twin of :func:`cosine_topk` — same fold order, same formula
    shape dot/(sqrt(aa)*sqrt(bb)), bitwise-equal doubles."""
    return f"""
    WITH q AS (SELECT embedding AS qv FROM {table} WHERE vec_id = {query_vec_id})
    SELECT vec_id,
           {_dot_sql("e.embedding", "qv", dim)}
             / (sqrt({_dot_sql("e.embedding", "e.embedding", dim)})
                * sqrt({_dot_sql("qv", "qv", dim)})) AS cos_sim
    FROM {table} e, q
    WHERE vec_id <> {query_vec_id}
    ORDER BY cos_sim DESC, vec_id
    LIMIT {k}
    """


def _unit_rows(ids, vecs):
    """(ids, unit-matrix float64) with the fold-exact norm: per-dimension
    accumulation in index order, matching the expression/oracle fold."""
    import numpy as np

    a = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
    acc = np.zeros(a.shape[0])
    for i in range(a.shape[1]):
        acc = acc + a[:, i] * a[:, i]
    return np.asarray(ids, dtype=np.int64), a / np.sqrt(acc)[:, None]


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """All-pairs cosine ≥ threshold (embedding near-dup detection).
    Returns (id_a, id_b, cos_sim), id_a < id_b.  Exact.

    Block-tiled Arrow/numpy kernels — vectors hash into ``n_blocks`` blocks
    by id (block b = pmod(id, B)), and a vector is routed to every tile
    (bi ≤ bj) that involves its block.  Tiles become groups, and one numpy
    kernel (an applyInPandas task) scores each tile's cross grid.  Pair
    (x, y) lives in exactly one tile — (block(x), block(y)) sorted — so the
    union over tiles is the exact pair set, no dedup pass needed.  Fully
    distributed: NO driver collect, no full-corpus broadcast.  The kernel
    accumulates dimension-by-dimension in index order (``acc += A[:,i]·B[:,i]``
    from 0.0; 0.0+p == p in IEEE), the exact left-fold of the
    expression/oracle form, so results are bitwise-identical to the DuckDB
    oracle — at BLAS-class speed (measured ~50× over the codegen chain at
    sf0.1).

    Plan: broadcast-join the B(B+1)/2-row tile table onto the scan (one
    narrow Expand-like fanout of ~B rows per vector), one shuffle on
    (bi, bj), then applyInPandas per tile.  At 100 TB the shuffle moves
    n·B vectors — choose B so 2n/B vectors fit a task (B ≈ n/50k) and the
    O(n²) flops spread over B² tasks; work is quadratic because EXACT
    all-pairs is — the sub-quadratic route is LSH/IVF candidate generation
    (see build_ivf_index) at the price of recall guarantees."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    vecs = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).alias("blk"),
    )
    tiles = (
        spark.range(n_blocks)
        .select(F.col("id").cast("int").alias("bi"))
        .crossJoin(spark.range(n_blocks).select(F.col("id").cast("int").alias("bj")))
        .filter(F.col("bi") <= F.col("bj"))
    )
    # a vector of block b participates in tile (bi,bj) iff b == bi or b == bj
    routed = vecs.join(
        F.broadcast(tiles), (vecs.blk == tiles.bi) | (vecs.blk == tiles.bj)
    )

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        a_pdf = pdf[pdf["blk"] == bi]
        b_pdf = pdf[pdf["blk"] == bj]
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        a_ids, a_units = _unit_rows(a_pdf["id"].to_numpy(), a_pdf["vec"])
        if bi == bj:
            b_ids, b_units = a_ids, a_units
        else:
            b_ids, b_units = _unit_rows(b_pdf["id"].to_numpy(), b_pdf["vec"])
        # exact left-fold dot, vectorized across the (block × block) grid
        acc = np.zeros((a_units.shape[0], b_units.shape[0]))
        for i in range(a_units.shape[1]):
            acc = acc + a_units[:, i][:, None] * b_units[None, :, i]
        lt = a_ids[:, None] < b_ids[None, :]
        gt = a_ids[:, None] > b_ids[None, :]
        ia, ib = np.nonzero(lt & (acc >= threshold))
        # pairs where the smaller id sits on the b side (only off-diagonal)
        ja, jb = np.nonzero(gt & (acc >= threshold)) if bi != bj else ([], [])
        return pd.DataFrame(
            {
                "id_a": np.concatenate([a_ids[ia], b_ids[jb]]),
                "id_b": np.concatenate([b_ids[ib], a_ids[ja]]),
                "cos_sim": np.concatenate([acc[ia, ib], acc[ja, jb]]),
            }
        )

    return routed.groupBy("bi", "bj").applyInPandas(
        kernel, schema="id_a bigint, id_b bigint, cos_sim double"
    )


def cosine_pairs_sql(table: str, threshold: float, dim: int) -> str:
    norm = f"sqrt({_dot_sql('embedding', 'embedding', dim)})"
    cs = _dot_sql("a.u", "b.u", dim, cast=False)
    return f"""
    WITH unit AS (
        SELECT vec_id,
               list_transform(range(1, {dim + 1}),
                              i -> CAST(embedding[i] AS DOUBLE) / {norm}) AS u
        FROM {table}
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cs} AS cos_sim
    FROM unit a JOIN unit b ON a.vec_id < b.vec_id
    WHERE {cs} >= {threshold}
    """


def _unit_df(embeddings: DataFrame, id_col: str, vec_col: str, dim: int | None) -> DataFrame:
    """(id, unit vector) with a materialization barrier: without the
    exchange Catalyst collapses the normalize projection into each
    downstream dot term and re-evaluates it per pair (7× slower at sf0.1)."""
    n_part = int(embeddings.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return embeddings.select(
        F.col(id_col), norm_unit(vec_col, dim).alias("__u")
    ).repartition(n_part)


def kmeans_refine(
    unit: DataFrame,
    centroids: DataFrame,
    n_iters: int = 1,
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Spherical k-means (Lloyd) iterations over unit vectors — the
    'iterative algorithm' shape: assign → mean per cluster → renormalize,
    repeated.  Each iteration is one broadcast-scored assignment plus one
    groupBy; intermediate centroid tables are tiny and cached.

    Dimension means use ``avg(element_at(...))`` per index when ``dim`` is
    known (codegen); the centroid count never grows, so driver-side loop
    control is O(n_iters) Spark jobs — the standard distributed k-means.
    """
    if dim is None:
        raise ValueError("kmeans_refine needs the static dimension")
    cent = centroids
    for _ in range(n_iters):
        scored = unit.crossJoin(F.broadcast(cent)).select(
            id_col, "cid", dot("__u", "cv", dim).alias("sim")
        )
        assign = scored.groupBy(id_col).agg(
            F.max_by("cid", F.struct(F.col("sim"), (-F.col("cid")).alias("tb"))).alias("cid")
        )
        means = (
            unit.join(assign, id_col)
            .groupBy("cid")
            .agg(*[F.avg(F.element_at("__u", i)).alias(f"m_{i}") for i in range(1, dim + 1)])
        )
        mean_arr = F.array(*[F.col(f"m_{i}") for i in range(1, dim + 1)])
        # one-shot localCheckpoint, not .cache(): the next iteration (and the
        # caller) re-reads this tiny table from the checkpoint, and the RDD is
        # dropped by the ContextCleaner when the reference dies — a .cache()
        # here leaked one centroid table per iteration for the session
        # lifetime (same fix as minhash_candidate_pairs, dedup.py).
        cent = means.select("cid", norm_unit(mean_arr, dim).alias("cv")).localCheckpoint()
    return cent


def _assign_from_unit(unit: DataFrame, n_centroids: int, id_col: str, dim: int | None) -> DataFrame:
    """Assign each unit vector (``__u``) to its nearest 'centroid'
    (deterministic seed centroids: the first ``n_centroids`` corpus vectors
    by id — a k-means iteration could refine them, but assignment mechanics
    are what matters for the index shape).

    Plan: vectors are pre-normalized, so each score is a single dot;
    broadcast the centroid table, argmax via max_by — one wide map stage,
    one small agg, no O(n²).  Output: (id, cluster, cos_sim) — the bucketed
    index, which :func:`build_ivf_index` writes partitioned by cluster for
    partition-pruned probes.
    """
    cent = F.broadcast(
        unit.orderBy(id_col).limit(n_centroids).select(
            F.col(id_col).alias("cid"), F.col("__u").alias("cv")
        )
    )
    scored = unit.crossJoin(cent).select(
        id_col,
        "cid",
        dot("__u", "cv", dim).alias("sim"),
    )
    return scored.groupBy(id_col).agg(
        F.max_by("cid", F.struct(F.col("sim"), (-F.col("cid")).alias("tb"))).alias("cluster"),
        F.max("sim").alias("cos_sim"),
    )


def ivf_topk_sql(
    table: str,
    query_vec_id: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`ivf_topk` — possible because the index is fully
    deterministic: seed centroids are the first ``n_centroids`` vectors by
    id, assignment argmax tie-breaks to the smaller centroid id (mirroring
    max_by over struct(sim, -cid)), the probe ranking tie-breaks by cid, and
    every dot is the same ordered fold as the Spark side.  So the ANN result,
    while approximate w.r.t. exact top-k, is EXACTLY reproducible — and
    therefore hash-checkable."""
    norm = f"sqrt({_dot_sql('embedding', 'embedding', dim)})"
    return f"""
    WITH unit AS (
        SELECT vec_id,
               list_transform(range(1, {dim + 1}),
                              i -> CAST(embedding[i] AS DOUBLE) / {norm}) AS u
        FROM {table}
    ),
    cent AS (SELECT vec_id AS cid, u AS cv FROM unit ORDER BY vec_id LIMIT {n_centroids}),
    qv AS (SELECT u AS qu FROM unit WHERE vec_id = {query_vec_id}),
    scored AS (SELECT u.vec_id, c.cid, {_dot_sql("u.u", "c.cv", dim, cast=False)} AS sim
               FROM unit u CROSS JOIN cent c),
    assign AS (SELECT vec_id, cid AS cluster FROM (
                   SELECT vec_id, cid,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                                             ORDER BY sim DESC, cid) AS rn
                   FROM scored)
               WHERE rn = 1),
    probe AS (SELECT c.cid FROM cent c CROSS JOIN qv
              ORDER BY {_dot_sql("c.cv", "qu", dim, cast=False)} DESC, c.cid
              LIMIT {n_probe})
    SELECT u.vec_id, {_dot_sql("u.u", "qu", dim, cast=False)} AS cos_sim
    FROM unit u CROSS JOIN qv
    WHERE u.vec_id IN (SELECT a.vec_id FROM assign a
                       WHERE a.cluster IN (SELECT cid FROM probe))
      AND u.vec_id <> {query_vec_id}
    ORDER BY cos_sim DESC, u.vec_id
    LIMIT {k}
    """


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k: probe only the ``n_probe`` clusters nearest the query.

    Approximate — recall measured against :func:`cosine_topk` in tests.
    At scale the assignment table is precomputed & bucketed; here it's built
    inline for self-containment.  All scoring on pre-normalized vectors —
    one 64-term dot per comparison instead of a 3-dot cosine (3× less
    codegen to compile and run).
    """
    # unit and the assignment index feed four separate jobs (query/centroid/
    # probe broadcasts + final scan): materialize them ONCE via eager
    # localCheckpoint, not .cache() — cached plans stay registered in the
    # CacheManager for the session lifetime, so repeated ANN queries in one
    # session accumulated memory; checkpointed RDDs are reclaimed by the
    # ContextCleaner as soon as the query's references die.  At deployment
    # the assignment is a persisted bucketed index (build_ivf_index) and
    # neither table is materialized per-query.
    # eager=False: materialization happens inside the first consuming job
    # instead of as two extra blocking jobs per call (measured 2× call
    # latency); later consumers read the checkpointed blocks all the same.
    unit = _unit_df(embeddings, id_col, vec_col, dim).localCheckpoint(eager=False)
    assign = _assign_from_unit(unit, n_centroids, id_col, dim).localCheckpoint(eager=False)
    q = F.broadcast(
        unit.filter(F.col(id_col) == query_vec_id).select(F.col("__u").alias("__qv"))
    )
    centroids = unit.orderBy(id_col).limit(n_centroids).select(
        F.col(id_col).alias("cid"), F.col("__u").alias("cv")
    )
    probe = (
        centroids.crossJoin(q)
        .select("cid", dot("cv", "__qv", dim).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("cid"))
        .limit(n_probe)
        .select("cid")
    )
    # probe is ≤ n_probe rows (bounded by construction) — broadcast is safe.
    # probed_ids is n_probe/n_centroids of the WHOLE corpus's ids: at 10⁹
    # vectors a forced broadcast of it is a multi-GB driver/executor OOM, so
    # NO hint — Catalyst/AQE picks a shuffle semi-join once it outgrows the
    # auto-broadcast threshold.  The deployment path avoids this semi-join
    # entirely (ivf_topk_from_index: partition-pruned postings reads).
    probed_ids = assign.join(F.broadcast(probe), assign.cluster == probe.cid, "left_semi").select(
        id_col
    )
    cand = unit.join(probed_ids, id_col, "left_semi")
    return (
        cand.crossJoin(q)
        .filter(F.col(id_col) != query_vec_id)
        .select(id_col, dot("__u", "__qv", dim).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def quantize_int8(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = round(x_i / scale)`` (half-up via ``floor(x*127/max + 0.5)`` so
    both engines round identically) — 4× smaller embeddings for ANN recall
    stages, with the dequantization error bounded by scale/2 per component.

    Returns (id, qvec array<int>, scale).  Map-side projection, no shuffle;
    the fold is a single linear pass per row (unlike nested per-row lambdas,
    one O(dim) transform per vector is fine — this is the same shape as the
    cosine kernels)."""
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    maxabs = F.array_max(F.transform(x, lambda v: F.abs(v)))
    safe = F.when(maxabs == 0.0, F.lit(1.0)).otherwise(maxabs)
    q = F.transform(x, lambda v: F.floor(v * 127.0 / safe + 0.5).cast("int"))
    return embeddings.select(
        F.col(id_col).alias("id"), q.alias("qvec"), (safe / 127.0).alias("scale")
    )


def quantize_digest(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Scalar digest of the quantization contract, per vector: the scale,
    the (order-independent) sum of quantized components, the max absolute
    dequantization error, and whether that error stays within half a
    quantization step — the property that makes int8 recall-stage scoring
    trustworthy.  All-scalar output so it sits under the hash-compare gate."""
    qd = quantize_int8(embeddings, id_col, vec_col)
    joined = qd.join(
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__x")), "id"
    )
    err = F.array_max(
        F.zip_with("__x", "qvec", lambda a, b: F.abs(a.cast("double") - b * F.col("scale")))
    )
    return joined.select(
        "id",
        "scale",
        F.aggregate("qvec", F.lit(0).cast("bigint"), lambda acc, v: acc + v).alias("q_sum"),
        err.alias("max_abs_err"),
        (err <= F.col("scale") * 0.5000001).alias("within_half_step"),
    )


def quantize_digest_sql(table: str, id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    """DuckDB twin of :func:`quantize_digest` — same floor-half-up formula,
    same double arithmetic order, bitwise-equal."""
    return f"""
    WITH base AS (
        SELECT {id_col} AS id, {vec_col} AS x,
               CASE WHEN list_max(list_transform({vec_col},
                                  v -> abs(CAST(v AS DOUBLE)))) = 0.0
                    THEN 1.0
                    ELSE list_max(list_transform({vec_col},
                                  v -> abs(CAST(v AS DOUBLE)))) END AS safe
        FROM {table}
    ),
    q AS (
        SELECT id, x, safe, safe / 127.0 AS scale,
               list_transform(x, v -> CAST(floor(CAST(v AS DOUBLE) * 127.0 / safe + 0.5)
                                           AS INT)) AS qvec
        FROM base
    )
    SELECT id, scale,
           CAST(list_sum(qvec) AS BIGINT) AS q_sum,
           list_max(list_transform(range(1, len(x) + 1),
                    i -> abs(CAST(x[i] AS DOUBLE) - qvec[i] * scale))) AS max_abs_err,
           list_max(list_transform(range(1, len(x) + 1),
                    i -> abs(CAST(x[i] AS DOUBLE) - qvec[i] * scale)))
             <= scale * 0.5000001 AS within_half_step
    FROM q
    """


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> None:
    """Persist the IVF index: (id, unit vector, cluster) written as parquet
    HIVE-PARTITIONED BY CLUSTER, plus the centroid table beside it.  This is
    the deployment form of the cluster assignment — probes
    against the persisted index open only ``n_probe`` cluster directories
    (PartitionFilters, pinned in tests), so each query reads
    n_probe/n_centroids of the corpus instead of scanning it."""
    unit = _unit_df(embeddings, id_col, vec_col, dim)
    assign = _assign_from_unit(unit, n_centroids, id_col, dim)
    indexed = unit.join(assign.select(id_col, "cluster"), id_col)
    indexed.write.mode("overwrite").partitionBy("cluster").parquet(f"{path}/postings")
    cent = unit.orderBy(id_col).limit(n_centroids).select(
        F.col(id_col).alias("cid"), F.col("__u").alias("cv")
    )
    cent.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_topk_from_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    dim: int | None = None,
    exclude_id: int | None = None,
) -> DataFrame:
    """ANN top-k against a PERSISTED IVF index: rank centroids for the query
    vector (tiny table, driver-side collect of n_probe ids is fine), then
    scan ONLY the probed cluster partitions — the filter on ``cluster`` is a
    directory-level PartitionFilter, so the 100 TB index reads
    n_probe/n_centroids of its bytes per query.

    ``exclude_id`` drops that corpus id BEFORE the top-k (the "don't return
    the query itself" contract when the query vector came from the corpus —
    filtering after the limit would shortchange k)."""
    import math

    nrm = math.sqrt(sum(v * v for v in query_vec)) or 1.0
    q = [v / nrm for v in query_vec]
    cent = spark.read.parquet(f"{path}/centroids")
    qcol = F.array(*[F.lit(float(v)) for v in q])
    probe = [
        r.cid
        for r in cent.select("cid", dot(qcol, F.col("cv"), dim).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("cid"))
        .limit(n_probe)
        .collect()
    ]
    postings = spark.read.parquet(f"{path}/postings").filter(F.col("cluster").isin(probe))
    if exclude_id is not None:
        postings = postings.filter(F.col(id_col) != exclude_id)
    return (
        postings.select(id_col, dot(qcol, F.col("__u"), dim).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_topk_join_sql(
    table: str,
    query_predicate: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`build_ivf_index` + :func:`ivf_topk_join_from_index`
    where the query batch is the rows of ``table`` matching
    ``query_predicate`` — the deployment-shape batch ANN, hash-checkable
    because the whole index is deterministic (same constructions as
    :func:`ivf_topk_sql`: first-n centroids, argmax assignment tie-broken
    to the smaller centroid id, probe ranking tie-broken by cid, ordered-
    fold dots)."""
    norm = f"sqrt({_dot_sql('embedding', 'embedding', dim)})"
    return f"""
    WITH unit AS (
        SELECT vec_id,
               list_transform(range(1, {dim + 1}),
                              i -> CAST(embedding[i] AS DOUBLE) / {norm}) AS u
        FROM {table}
    ),
    cent AS (SELECT vec_id AS cid, u AS cv FROM unit ORDER BY vec_id LIMIT {n_centroids}),
    scored AS (SELECT u.vec_id, c.cid, {_dot_sql("u.u", "c.cv", dim, cast=False)} AS sim
               FROM unit u CROSS JOIN cent c),
    assign AS (SELECT vec_id, cid AS cluster FROM (
                   SELECT vec_id, cid,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                                             ORDER BY sim DESC, cid) AS rn
                   FROM scored)
               WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, u AS qu FROM unit WHERE {query_predicate}),
    probes AS (SELECT query_id, qu, cid AS cluster FROM (
                   SELECT q.query_id, q.qu, c.cid,
                          ROW_NUMBER() OVER (PARTITION BY q.query_id
                                             ORDER BY {_dot_sql("c.cv", "q.qu", dim, cast=False)} DESC,
                                                      c.cid) AS rn
                   FROM q CROSS JOIN cent c)
               WHERE rn <= {n_probe}),
    candidates AS (SELECT p.query_id, u.vec_id AS neighbor_id,
                          {_dot_sql("u.u", "p.qu", dim, cast=False)} AS cos_sim
                   FROM probes p
                   JOIN assign a ON a.cluster = p.cluster
                   JOIN unit u ON u.vec_id = a.vec_id
                   WHERE u.vec_id <> p.query_id)
    SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM candidates)
    WHERE rn <= {k}
    """


def cosine_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Batch similarity JOIN: for EVERY query vector, its exact top-k cosine
    neighbors in the corpus — the retrieval/embedding-dedup primitive where
    :func:`cosine_topk` answers one query.

    Plan: both sides normalize once; the query side broadcasts (queries are
    the small side by construction — a probe batch, not the corpus), so
    scoring is a map-side crossJoin over one corpus scan; per-query top-k is
    a row_number window on ``query_id``.  Exact-baseline shape: the window
    shuffles |corpus|·|queries| scored rows, which is the honest cost of
    EXACT batch top-k.  The scale path runs the same probe batch against the
    persisted IVF index (cluster-pruned candidates per query) and applies
    this window to candidates only."""
    qu = queries.select(
        F.col(id_col).alias("query_id"), norm_unit(vec_col, dim).alias("__qu")
    )
    cu = corpus.select(
        F.col(id_col).alias("neighbor_id"), norm_unit(vec_col, dim).alias("__cu")
    )
    scored = (
        cu.crossJoin(F.broadcast(qu))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dot("__cu", "__qu", dim).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop("__rn")


def cosine_topk_join_sql(table: str, query_predicate: str, k: int, dim: int) -> str:
    """DuckDB twin of :func:`cosine_topk_join` where the query batch is the
    rows of ``table`` matching ``query_predicate`` — same ordered-fold dots,
    same tie-break."""
    norm = f"sqrt({_dot_sql('embedding', 'embedding', dim)})"
    return f"""
    WITH unit AS (
        SELECT vec_id,
               list_transform(range(1, {dim + 1}),
                              i -> CAST(embedding[i] AS DOUBLE) / {norm}) AS u
        FROM {table}
    ),
    q AS (SELECT vec_id AS query_id, u AS qu FROM unit WHERE {query_predicate}),
    scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                      {_dot_sql("c.u", "q.qu", dim, cast=False)} AS cos_sim
               FROM unit c CROSS JOIN q
               WHERE c.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored)
    WHERE rn <= {k}
    """


def ivf_topk_join_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Batch ANN against the PERSISTED IVF index: every query vector gets
    top-k from its own ``n_probe`` nearest clusters, in one distributed
    plan — the deployment form of :func:`cosine_topk_join`.

    Probe selection is a broadcast-centroids crossJoin + per-query window
    (NO driver collect — the single-query path's collect of probe ids does
    not scale to a query batch).  The (query, cluster) probe list then
    broadcast-joins the hive-partitioned postings on ``cluster``, which
    Spark compiles into a DYNAMIC partition-pruning filter: only the union
    of probed cluster directories is read, however many queries share them
    (pinned in tests).  Candidates score map-side and a per-query window
    takes the top-k — the window input is |probed postings|·(queries per
    cluster), the candidate set, never the corpus."""
    qu = queries.select(
        F.col(id_col).alias("query_id"), norm_unit(vec_col, dim).alias("__qu")
    )
    cent = spark.read.parquet(f"{path}/centroids")
    wq = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cid"))
    probes = (
        qu.crossJoin(F.broadcast(cent))
        .select("query_id", "__qu", "cid", dot("cv", "__qu", dim).alias("sim"))
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", "__qu", F.col("cid").alias("cluster"))
    )
    postings = spark.read.parquet(f"{path}/postings")
    scored = (
        postings.join(F.broadcast(probes), "cluster")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            dot("__u", "__qu", dim).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop("__rn")


def ann_recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Recall@k of an approximate neighbor set against the exact one:
    (query_id, recall) where recall = |approx ∩ exact| / |exact| per
    query — the quality dial for IVF tuning (n_probe/n_centroids trade
    recall for bytes read; this measures what a setting actually buys).

    Both inputs are (query_id, neighbor_id, ...) top-k results (e.g.
    :func:`cosine_topk_join` as truth, :func:`ivf_topk_join_from_index`
    as candidate).  The denominator is |exact| per query, not the nominal
    k, so small corpora (< k neighbors) still score in [0, 1].

    Plan: id-pair semi-join + two tiny per-query aggregates — inputs are
    |queries|·k rows, negligible next to the searches that produced them;
    the joins are on (query_id, neighbor_id) id pairs, never vectors.
    The exact side is referenced twice (hits + per-query denominator), so
    it is localCheckpointed — |queries|·k id pairs of state — or the
    BRUTE-FORCE search that produced it recompiles (and re-scans the
    corpus) once per reference (round-7 plan audit: 6 embedding scans)."""
    e = exact.select("query_id", "neighbor_id").localCheckpoint()
    a = approx.select("query_id", "neighbor_id")
    hits = e.join(a, ["query_id", "neighbor_id"], "left_semi")
    per_q = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    hit_q = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    return per_q.join(hit_q, "query_id", "left").select(
        "query_id",
        (
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
            / F.col("n_exact").cast("double")
        ).alias("recall"),
    )


def ann_recall_sql(exact_sql: str, approx_sql: str) -> str:
    """DuckDB twin of :func:`ann_recall` over two top-k subqueries (each a
    complete SELECT, e.g. from :func:`cosine_topk_join_sql` /
    :func:`ivf_topk_join_sql`)."""
    return f"""
    WITH exact AS (SELECT query_id, neighbor_id FROM ({exact_sql})),
         approx AS (SELECT query_id, neighbor_id FROM ({approx_sql})),
         hits AS (SELECT e.query_id, e.neighbor_id
                  FROM exact e JOIN approx a
                    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id),
         per_q AS (SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY 1),
         hit_q AS (SELECT query_id, COUNT(*) AS n_hit FROM hits GROUP BY 1)
    SELECT p.query_id,
           CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(p.n_exact AS DOUBLE) AS recall
    FROM per_q p LEFT JOIN hit_q h ON h.query_id = p.query_id
    """


def append_to_ivf_index(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> None:
    """Append a new vector batch to a PERSISTED IVF index without
    rebuilding it — the nightly-ingest shape (the ANN twin of
    corpus_prep.prepare_corpus_incremental): a full rebuild rescans the
    100 TB corpus for a 0.1% delta; this touches only the batch.

    Batch vectors normalize and assign against the index's EXISTING
    centroid table (broadcast — n_centroids rows, provably bounded), then
    land as an APPEND into the hive-partitioned postings: new files inside
    existing cluster directories, no rewrite of prior postings, and probes
    keep their partition pruning.  Because assignment depends only on the
    vector and the frozen centroids, incremental build ≡ full build over
    the union corpus, bit for bit — which is exactly what the gated oracle
    checks.  Centroid drift under sustained ingest is the known IVF
    trade-off; re-running :func:`build_ivf_index` periodically re-seeds.
    """
    unit = _unit_df(batch, id_col, vec_col, dim)
    cent = F.broadcast(spark.read.parquet(f"{path}/centroids"))
    scored = unit.crossJoin(cent).select(
        id_col, "__u", "cid", dot("__u", "cv", dim).alias("sim")
    )
    assign = scored.groupBy(id_col).agg(
        F.max_by("cid", F.struct(F.col("sim"), (-F.col("cid")).alias("tb"))).alias("cluster"),
    )
    indexed = unit.join(assign, id_col)
    indexed.write.mode("append").partitionBy("cluster").parquet(f"{path}/postings")


# ---------------------------------------------------------------------------
# SRP-LSH (sign random projection) — hyperplane LSH for cosine near-dup
# ---------------------------------------------------------------------------


def _srp_hyperplanes(n_bits: int, dim: int, seed: int = 42) -> list[list[float]]:
    """``n_bits`` deterministic hyperplanes of ``dim`` integer-valued
    components in [-1000, 1000], from the same LCG family as the MinHash
    params (functions/hashing.py).  The constants are BAKED into both the
    Spark expressions and the generated SQL, so the two engines evaluate
    literally the same arithmetic.  Integer-valued components keep the SQL
    twin readable; the dot products are IEEE doubles either way."""
    state = seed
    planes = []
    for _ in range(n_bits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append(float(state % 2001 - 1000))
        planes.append(row)
    return planes


def srp_keys(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_bits: int = 16,
    rows_per_band: int = 4,
    seed: int = 42,
) -> DataFrame:
    """(id, band, key): SRP band-bucket keys per vector — the embedding-space
    analogue of MinHash banding (Charikar STOC'02 sign-random-projection):
    bit_j = sign(v·h_j); vectors agreeing on ALL bits of some band become
    candidates.  P(bit agree) = 1 − θ/π, so a 4-bit band fires at
    (1 − θ/π)^4 — steep in angle, which is what makes the bucket join
    sub-quadratic on real corpora.  All n_bits dots compile into one
    whole-stage-codegen projection (no UDF, no shuffle); the only shuffle
    anywhere downstream is the bucket equi-join.  The sign comparison is on
    bit-identical doubles, so buckets match the SQL twin exactly."""
    planes = _srp_hyperplanes(n_bits, dim, seed)
    num_bands = n_bits // rows_per_band

    # The projection is generated as SQL TEXT (building it from Column
    # objects costs ~5000 py4j round-trips), but NOT as n_bits inlined
    # dot-product sums: 16 x 64 literal multiply-add terms blow janino's
    # 64 KB generated-method limit, Spark logs "Failed to compile" twice
    # and falls back to INTERPRETED evaluation for the whole projection
    # (observed r9).  Instead the hyperplanes are one constant-folded
    # nested array literal and the dots are a zip_with/aggregate loop —
    # compact generated code that stays inside whole-stage codegen.
    # Fold-order parity with the DuckDB twin's list_sum: aggregate folds
    # 0.0 + t1 + ... + t64 left-to-right; adding the leading IEEE +0.0 is
    # exact (and -0.0 vs +0.0 can only differ when every term is -0.0,
    # where the >= 0 sign test agrees anyway).
    planes_lit = "array(" + ", ".join(
        "array(" + ", ".join(f"{c!r}D" for c in p) + ")" for p in planes
    ) + ")"
    bits_sql = (
        f"transform({planes_lit}, p -> CASE WHEN aggregate("
        f"zip_with({vec_col}, p, (x, y) -> CAST(x AS DOUBLE) * y), "
        f"0D, (acc, v) -> acc + v) >= 0D THEN 1 ELSE 0 END)"
    )

    def band_key(b: int) -> str:
        return " + ".join(
            f"element_at(__bits, {b * rows_per_band + r + 1}) * {1 << r}"
            for r in range(rows_per_band)
        )

    bands_sql = "array(" + ", ".join(
        f"struct({b} AS band, CAST({band_key(b)} AS BIGINT) AS key)"
        for b in range(num_bands)
    ) + ")"
    return (
        embeddings.select(F.col(id_col).alias("id"), F.expr(bits_sql).alias("__bits"))
        .select("id", F.explode(F.expr(bands_sql)).alias("bk"))
        .select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )


#: candidate-generation band-bucket cap — the Zipf-head discipline of
#: operators/dedup.py::JACCARD_MAX_DF applied to SRP buckets: a bucket
#: bigger than this is dominated by random sign collisions, not near-dups
#: (real near-dup clusters are tens of vectors), so its C(n,2) candidate
#: pairs are skipped.  Recall contract: a pair is found iff it shares at
#: least one band bucket of size <= cap; the cap bounds the bucket
#: self-join at cap * |buckets| rows instead of the quadratic blowup a
#: hot bucket would cause at corpus scale.
SRP_MAX_BUCKET = 64


def srp_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 16,
    rows_per_band: int = 4,
    seed: int = 42,
    max_bucket: int | None = SRP_MAX_BUCKET,
) -> DataFrame:
    """Embedding near-dup pairs at scale: SRP band buckets generate the
    candidates, exact cosine verifies — the cosine analogue of
    minhash_near_dup_pairs, and the 100 TB replacement for the exact
    all-pairs ``cosine_pairs`` baseline (which stays the oracle of record
    for recall).  Returns (id_a, id_b, cos_sim ≥ threshold) among
    band-colliding pairs in buckets of size ≤ ``max_bucket`` (None
    disables the cap; see SRP_MAX_BUCKET for the recall contract);
    deterministic end to end, so the DuckDB twin reproduces both the
    candidate set and the verified values bit-exact."""
    # materialize the keyed table ONCE (it is the LSH index): the plan
    # references it three times (bucket sizes + both self-join sides), and
    # each reference would otherwise recompute — and re-codegen — the
    # n_bits x dim dot-product projection
    keyed = srp_keys(
        embeddings, id_col, vec_col, dim, n_bits, rows_per_band, seed
    ).localCheckpoint()
    if max_bucket is not None:
        sizes = keyed.groupBy("band", "key").agg(F.count(F.lit(1)).alias("__bn"))
        keyed = (
            keyed.join(sizes, ["band", "key"])
            .filter(F.col("__bn") <= int(max_bucket))
            .drop("__bn")
        )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        .localCheckpoint()
    )
    # Precompute each side's L2 norm BEFORE the join: Catalyst pushes the
    # cos_sim >= threshold filter into the join condition, and an inlined
    # dot + BOTH norms there (3 x dim static multiply-add chains in one
    # generated method) breaks janino's 64 KB limit — the whole stage then
    # silently runs INTERPRETED (r8's plan did; observed "Failed to
    # compile" in every driver_sim).  With norms as per-side projection
    # columns the condition carries ONE dot chain and compiles.  Values
    # are bit-identical: sqrt(dot(x,x)) is the same double wherever it is
    # evaluated, so the oracle twin needs no change.
    from datapipeline_omnichanneltobigquery_spark.functions.vectors import dot, l2_norm

    va = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        l2_norm(F.col(vec_col), dim).alias("__na"),
    )
    vb = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        l2_norm(F.col(vec_col), dim).alias("__nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (dot("__va", "__vb", dim) / (F.col("__na") * F.col("__nb")))
            .alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _srp_key_sql(table_alias: str, vec_col: str, plane_rows: list[list[float]], dim: int) -> str:
    """One band's packed-bit key over ``rows_per_band`` hyperplanes."""
    terms = []
    for r, p in enumerate(plane_rows):
        lit = "[" + ", ".join(repr(c) for c in p) + "]"
        d = (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> CAST({table_alias}.{vec_col}[i] AS DOUBLE) * ({lit})[i]))"
        )
        terms.append(f"CASE WHEN {d} >= 0 THEN {1 << r} ELSE 0 END")
    return " + ".join(terms)


def srp_near_dup_pairs_sql(
    table: str,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 16,
    rows_per_band: int = 4,
    seed: int = 42,
    max_bucket: int | None = SRP_MAX_BUCKET,
) -> str:
    """DuckDB twin of :func:`srp_near_dup_pairs` — identical hyperplane
    constants, fold order, band packing, bucket cap, and verify algebra."""
    planes = _srp_hyperplanes(n_bits, dim, seed)
    num_bands = n_bits // rows_per_band
    band_rows = "\n        UNION ALL\n".join(
        f"        SELECT {id_col} AS id, {b} AS band, "
        f"CAST({_srp_key_sql('e', vec_col, planes[b * rows_per_band:(b + 1) * rows_per_band], dim)} AS BIGINT) AS key "
        f"FROM {table} e"
        for b in range(num_bands)
    )
    cap = (
        f"""capped AS MATERIALIZED (
        SELECT k.* FROM keyed k
        JOIN (SELECT band, key, COUNT(*) AS bn FROM keyed GROUP BY 1, 2) s
          ON s.band = k.band AND s.key = k.key
        WHERE s.bn <= {int(max_bucket)}),"""
        if max_bucket is not None
        else "capped AS MATERIALIZED (SELECT * FROM keyed),"
    )
    return f"""
    WITH keyed AS MATERIALIZED (
{band_rows}
    ),
    {cap}
    cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
             FROM capped a JOIN capped b
               ON a.band = b.band AND a.key = b.key AND a.id < b.id)
    SELECT c.id_a, c.id_b,
           {_dot_sql("x." + vec_col, "y." + vec_col, dim)}
             / (sqrt({_dot_sql("x." + vec_col, "x." + vec_col, dim)})
                * sqrt({_dot_sql("y." + vec_col, "y." + vec_col, dim)})) AS cos_sim
    FROM cand c
    JOIN {table} x ON x.{id_col} = c.id_a
    JOIN {table} y ON y.{id_col} = c.id_b
    WHERE {_dot_sql("x." + vec_col, "y." + vec_col, dim)}
             / (sqrt({_dot_sql("x." + vec_col, "x." + vec_col, dim)})
                * sqrt({_dot_sql("y." + vec_col, "y." + vec_col, dim)})) >= {threshold}
    """


def embedding_dedup_keep(
    embeddings: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 16,
    rows_per_band: int = 4,
    seed: int = 42,
) -> DataFrame:
    """One-call embedding-space dedup: SRP-LSH candidates → exact-cosine
    verify → star connected components → min-id canonical winner per
    cluster.  Returns the KEEP-LIST (id) — semi-join it back onto the
    payload table, the dedup_exact_keylist discipline (vectors/bodies
    never shuffle by value).  The embedding twin of dedup_pipeline:
    near-dup semantics by cosine instead of n-gram Jaccard."""
    from datapipeline_omnichanneltobigquery_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = srp_near_dup_pairs(
        embeddings, threshold, id_col, vec_col, dim, n_bits, rows_per_band, seed
    )
    cc = connected_components_star(pairs.select("id_a", "id_b"))
    losers = cc.filter(F.col("id") != F.col("cluster_id")).select("id")
    return (
        embeddings.select(F.col(id_col).alias("id"))
        .join(losers, "id", "left_anti")
        .select(F.col("id").alias(id_col))
    )


def embedding_dedup_keep_sql(
    table: str,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 16,
    rows_per_band: int = 4,
    seed: int = 42,
) -> str:
    """DuckDB twin of :func:`embedding_dedup_keep` — the SRP pair twin
    composed through the recursive-CTE connected components."""
    from datapipeline_omnichanneltobigquery_spark.operators.dedup import (
        connected_components_sql,
    )

    pairs = srp_near_dup_pairs_sql(
        table, threshold, id_col, vec_col, dim, n_bits, rows_per_band, seed
    )
    cc = connected_components_sql(f"SELECT id_a, id_b FROM ({pairs})")
    return f"""
    WITH labeled AS ({cc})
    SELECT {id_col} FROM {table}
    WHERE {id_col} NOT IN (SELECT id FROM labeled WHERE id <> cluster_id)
    """


def semdedup_keep(
    embeddings: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = 64,
    n_centroids: int = 16,
    max_cluster: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public method): semantic dedup by
    CLUSTER-blocked exact cosine — k-means-style clusters are the blocking
    structure, pairs are checked only WITHIN a cluster, and each near-dup
    component keeps its min-id representative.  The third embedding-dedup
    discovery strategy beside SRP-LSH banding (:func:`embedding_dedup_keep`)
    and the df-capped exact baseline: clusters catch near-dups that
    straddle an unlucky hyperplane band, bands catch pairs split across
    cluster boundaries — at corpus scale run both and union the loser
    lists.

    Scale contract: within-cluster pairing is Σ|cluster|² — ``n_centroids``
    is the knob that keeps clusters bounded (grow it with the corpus, the
    SemDeDup paper runs 50k clusters); a cluster larger than
    ``max_cluster`` raises the diagnosable guard error (the basket_edges
    discipline) instead of silently exploding the shuffle.  Assignment is
    the deterministic IVF argmax, so the whole keep-list hash-gates.

    Returns the KEEP-LIST (id_col) — semi-join it onto the payload table."""
    from datapipeline_omnichanneltobigquery_spark.operators.dedup import (
        connected_components_star,
    )

    # localCheckpoint: the normalized-vector frame feeds the centroid
    # seed limit, the assignment crossJoin, AND the cluster-keyed join —
    # without it the normalize expression subtree recompiles and
    # recomputes per consumer (the ≥2-consumer discipline; measured
    # ~25% of this operator's wall at sf0.1)
    unit = _unit_df(embeddings, id_col, vec_col, dim).localCheckpoint()
    assign = _assign_from_unit(unit, n_centroids, id_col, dim).select(id_col, "cluster")
    keyed = (
        unit.join(assign, id_col)
        .select(id_col, "cluster", "__u")
        .localCheckpoint()  # both self-join sides read it
    )
    csz = F.count(F.lit(1)).over(Window.partitionBy("cluster"))
    guarded = keyed.withColumn(
        "__u",
        F.when(csz <= F.lit(int(max_cluster)), F.col("__u")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("semdedup_keep: cluster "),
                    F.col("cluster").cast("string"),
                    F.lit(
                        f" exceeds max_cluster={int(max_cluster)}; raise n_centroids "
                        "(or max_cluster explicitly) — the |cluster|^2 pair fan-out "
                        "would explode the shuffle"
                    ),
                )
            )
        ),
    )
    a = guarded.select(
        "cluster", F.col(id_col).alias("id_a"), F.col("__u").alias("__ua")
    )
    b = guarded.select(
        "cluster", F.col(id_col).alias("id_b"), F.col("__u").alias("__ub")
    )
    pairs = (
        a.join(b, ["cluster"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dot("__ua", "__ub", dim).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
    cc = connected_components_star(pairs.select("id_a", "id_b"))
    losers = cc.filter(F.col("id") != F.col("cluster_id")).select("id")
    return (
        embeddings.select(F.col(id_col).alias("id"))
        .join(losers, "id", "left_anti")
        .select(F.col("id").alias(id_col))
    )


def semdedup_keep_sql(
    table: str,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_centroids: int = 16,
) -> str:
    """DuckDB twin of :func:`semdedup_keep` — same deterministic centroid
    seeds, same argmax tie-break, same within-cluster pairs, composed
    through the recursive-CTE connected components."""
    from datapipeline_omnichanneltobigquery_spark.operators.dedup import (
        connected_components_sql,
    )

    norm = f"sqrt({_dot_sql(vec_col, vec_col, dim)})"
    pairs = f"""
    WITH unit AS (
        SELECT {id_col},
               list_transform(range(1, {dim + 1}),
                              i -> CAST({vec_col}[i] AS DOUBLE) / {norm}) AS u
        FROM {table}
    ),
    cent AS (SELECT {id_col} AS cid, u AS cv FROM unit ORDER BY {id_col} LIMIT {n_centroids}),
    scored AS (SELECT u.{id_col}, c.cid, {_dot_sql("u.u", "c.cv", dim, cast=False)} AS sim
               FROM unit u CROSS JOIN cent c),
    assign AS (SELECT {id_col}, cid AS cluster FROM (
                   SELECT {id_col}, cid,
                          ROW_NUMBER() OVER (PARTITION BY {id_col}
                                             ORDER BY sim DESC, cid) AS rn
                   FROM scored)
               WHERE rn = 1),
    keyed AS (SELECT a.{id_col}, a.cluster, u.u
              FROM assign a JOIN unit u USING ({id_col}))
    SELECT x.{id_col} AS id_a, y.{id_col} AS id_b
    FROM keyed x JOIN keyed y
      ON x.cluster = y.cluster AND x.{id_col} < y.{id_col}
    WHERE {_dot_sql("x.u", "y.u", dim, cast=False)} >= {float(threshold)!r}
    """
    cc = connected_components_sql(f"SELECT id_a, id_b FROM ({pairs})")
    return f"""
    WITH labeled AS ({cc})
    SELECT {id_col} FROM {table}
    WHERE {id_col} NOT IN (SELECT id FROM labeled WHERE id <> cluster_id)
    """


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's PQ half): codebooks, encoding, ADC top-k
# ---------------------------------------------------------------------------


def _sub_explode(m_sub: int, sd: int, vec: Column) -> Column:
    """array<struct(m, sv)>: the ``m_sub`` contiguous subvectors of a
    ``m_sub * sd``-dim vector (1-based slices, fixed order)."""
    return F.array(
        *[
            F.struct(
                F.lit(mm).alias("m"),
                F.slice(vec, (mm - 1) * sd + 1, sd).alias("sv"),
            )
            for mm in range(1, m_sub + 1)
        ]
    )


def _d2(a: Column, b: Column, sd: int) -> Column:
    """Ordered-fold squared L2 distance of two ``sd``-dim double arrays —
    (x-y) is computed once per term and squared by multiplication (sub,
    sub, mul: no a*b-c*d shape, so neither engine can FMA-contract)."""
    terms = [
        (F.element_at(a, i) - F.element_at(b, i))
        * (F.element_at(a, i) - F.element_at(b, i))
        for i in range(1, sd + 1)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _d2_sql(a: str, b: str, sd: int) -> str:
    """DuckDB twin of :func:`_d2` (same left-to-right term order)."""
    return (
        f"list_sum(list_transform(range(1, {sd + 1}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def pq_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Product-quantization ADC batch top-k (Jégou, Douze & Schmid, TPAMI
    2011 "Product quantization for nearest neighbor search"): encode every
    corpus vector as ``m_sub`` sub-codebook indices, then answer each query
    by ASYMMETRIC DISTANCE COMPUTATION — the query's exact subvectors dot
    the assigned codewords through a per-query lookup table, so the scan
    touches ``m_sub`` SMALL-INT CODES per vector instead of ``dim`` floats.

    This is the memory-bounded path to 100 TB-scale vector search that
    plain IVF postings can't reach: the code table is ``m_sub`` bytes-ish
    per vector (~1-2% of the raw floats at dim=64), it never re-reads the
    embedding column at query time, and the ADC scan is a broadcast-LUT
    join + one partial-aggregated fold per (query, vector).  At deployment
    the codes live beside the IVF cluster partitions (build_ivf_index) so
    probes prune first and ADC-scan the survivors.

    Determinism (what makes the ANN result hash-checkable, the
    ivf_topk_sql discipline): codebooks are the subvector slices of the
    first ``n_codes`` UNIT corpus vectors by id; assignment is argmin
    ordered-fold squared-L2, ties to the smaller codeword index; the ADC
    similarity folds the ``m_sub`` LUT contributions in subspace order
    and rounds to 6; per-query ranking orders by (rounded sim DESC,
    neighbor id).  kmeans_refine can replace the seed codebooks in
    production where cross-engine reproducibility isn't required.

    Returns (query_id, neighbor_id, adc_sim), ≤ k rows per query,
    self-matches excluded.  ``adc_sim`` approximates the cosine (unit
    corpus vectors; quantization error is what pq_recall measures).
    """
    if dim is None:
        raise ValueError("pq_topk_join needs the static dimension")
    if dim % m_sub != 0:
        raise ValueError(f"dim={dim} not divisible by m_sub={m_sub}")
    sd = dim // m_sub
    # unit feeds the codebook seeds AND the encoding stream (the query
    # side re-normalizes its own tiny batch) — one corpus scan.
    unit = _unit_df(corpus, id_col, vec_col, dim).localCheckpoint(eager=False)
    seeds = (
        unit.orderBy(id_col)
        .limit(n_codes)
        .select(F.col(id_col), F.col("__u"))
        .withColumn(
            "j", F.row_number().over(Window.orderBy(F.col(id_col)))
        )
    )
    cb = (
        seeds.select("j", F.explode(_sub_explode(m_sub, sd, F.col("__u"))).alias("s"))
        .select(F.col("s.m").alias("m"), "j", F.col("s.sv").alias("cv"))
        .localCheckpoint()  # consumed by the encoder AND every query LUT
    )
    sub = unit.select(
        F.col(id_col), F.explode(_sub_explode(m_sub, sd, F.col("__u"))).alias("s")
    ).select(F.col(id_col), F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    enc = (
        sub.join(F.broadcast(cb), "m")
        .select(
            F.col(id_col),
            "m",
            "j",
            _d2(F.col("sv"), F.col("cv"), sd).alias("d2"),
        )
        .groupBy(id_col, "m")
        .agg(F.min_by("j", F.struct(F.col("d2"), F.col("j"))).alias("code"))
    )
    qsub = queries.select(
        F.col(id_col).alias("query_id"), norm_unit(vec_col, dim).alias("__qu")
    ).select(
        "query_id", F.explode(_sub_explode(m_sub, sd, F.col("__qu"))).alias("s")
    ).select("query_id", F.col("s.m").alias("m"), F.col("s.sv").alias("qv"))
    # LUT: |queries| * m_sub * n_codes rows — bounded by the probe-batch
    # contract (queries are a batch, not the corpus), broadcast like the
    # query side of cosine_topk_join.
    lut = qsub.join(F.broadcast(cb), "m").select(
        "query_id", "m", "j", dot("qv", "cv", sd).alias("contrib")
    )
    adc = (
        enc.join(F.broadcast(lut), (enc.m == lut.m) & (enc.code == lut.j))
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"), lut.m, "contrib")
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.round(
                F.aggregate(
                    F.sort_array(F.collect_list(F.struct("m", "contrib"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["contrib"],
                ),
                6,
            ).alias("adc_sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id")
    )
    return (
        adc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def pq_topk_join_sql(
    table: str,
    query_predicate: str,
    k: int = 5,
    m_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`pq_topk_join` — the DEFINITIONAL form: every
    (vector, subspace, codeword) squared-L2 scored, argmin by ROW_NUMBER,
    ADC as an ordered SUM over subspace index; the hash gate proves the
    broadcast-LUT decomposition exact."""
    sd = dim // m_sub
    norm = f"sqrt({_dot_sql('embedding', 'embedding', dim)})"
    return f"""
    WITH unit AS (
        SELECT vec_id,
               list_transform(range(1, {dim + 1}),
                              i -> CAST(embedding[i] AS DOUBLE) / {norm}) AS u
        FROM {table}
    ),
    mm AS (SELECT UNNEST(range(1, {m_sub + 1})) AS m),
    seeds AS (SELECT vec_id, u, ROW_NUMBER() OVER (ORDER BY vec_id) AS j
              FROM (SELECT * FROM unit ORDER BY vec_id LIMIT {n_codes})),
    cb AS (SELECT m, j, u[(m - 1) * {sd} + 1 : m * {sd}] AS cv
           FROM seeds CROSS JOIN mm),
    sub AS (SELECT vec_id, m, u[(m - 1) * {sd} + 1 : m * {sd}] AS sv
            FROM unit CROSS JOIN mm),
    enc AS (SELECT vec_id, m, j AS code FROM (
                SELECT s.vec_id, s.m, c.j,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                                          ORDER BY {_d2_sql("s.sv", "c.cv", sd)}, c.j) AS rn
                FROM sub s JOIN cb c ON c.m = s.m)
            WHERE rn = 1),
    qsub AS (SELECT vec_id AS query_id, m, sv AS qv
             FROM sub WHERE {query_predicate}),
    lut AS (SELECT q.query_id, c.m, c.j,
                   list_sum(list_transform(range(1, {sd + 1}),
                                           i -> q.qv[i] * c.cv[i])) AS contrib
            FROM qsub q JOIN cb c ON c.m = q.m),
    adc AS (SELECT l.query_id, e.vec_id AS neighbor_id,
                   round(SUM(l.contrib ORDER BY l.m), 6) AS adc_sim
            FROM enc e JOIN lut l ON l.m = e.m AND l.j = e.code
            WHERE e.vec_id <> l.query_id
            GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_sim DESC, neighbor_id) AS rn
        FROM adc)
    WHERE rn <= {k}
    """


# ---------------------------------------------------------------------------
# IVF × PQ — the composed memory-bounded partition-pruned ANN index
# ---------------------------------------------------------------------------


def _pq_index_batches_fn(cent_ids, cent_mat, js, cb_mats, sd, id_name):
    """mapInArrow kernel assigning + PQ-encoding a vector batch against
    frozen centroid/codebook matrices — the :func:`_unit_rows` discipline
    extended to the index build: every accumulation runs dimension-by-
    dimension in index order from 0.0 (``0.0 + p == p`` in IEEE; the d2
    terms are squares, so never −0.0), reproducing the Catalyst
    expression chain bit for bit at numpy speed.  Argmax/argmin tie and
    NaN semantics match ``max_by``/``min_by``: numpy's first-index
    argmax IS the smaller-id tie-break (matrices are id/j-ordered), a
    NaN sim wins argmax exactly like Spark's NaN-greatest ordering, and
    NaN d2 rows are masked to +inf so a NaN distance never wins argmin
    (finite-input contract: a legitimate +inf d2 cannot occur for
    finite vectors).

    Expression forms were tried first and measured worse both ways: the
    static literal chains blow the janino 64 KB method limit (whole-
    stage codegen falls back to interpreted eval after paying the
    compile attempt), and higher-order folds are interpreted per
    element (~3x the whole old explode+join encode)."""
    import numpy as np
    import pyarrow as pa

    dim = cent_mat.shape[1]
    m_sub = len(cb_mats)

    def fn(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = b.column(0)
            U = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in b.column(1).to_pylist()]
            )
            acc = np.zeros(n)
            for i in range(dim):
                acc = acc + U[:, i] * U[:, i]
            U = U / np.sqrt(acc)[:, None]
            S = np.zeros((n, cent_mat.shape[0]))
            for i in range(dim):
                S = S + U[:, i][:, None] * cent_mat[:, i][None, :]
            cluster = cent_ids[np.argmax(S, axis=1)]
            codes = np.zeros((n, m_sub), dtype=np.int32)
            for mm in range(m_sub):
                sub = U[:, mm * sd : (mm + 1) * sd]
                C = cb_mats[mm]
                D = np.zeros((n, C.shape[0]))
                for i in range(sd):
                    d = sub[:, i][:, None] - C[:, i][None, :]
                    D = D + d * d
                D = np.where(np.isnan(D), np.inf, D)
                codes[:, mm] = js[mm][np.argmin(D, axis=1)]
            offsets = np.arange(0, (n + 1) * m_sub, m_sub, dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.ListArray.from_arrays(
                        pa.array(offsets), pa.array(codes.ravel(), type=pa.int32())
                    ),
                    pa.array(cluster),
                ],
                names=[id_name, "codes", "cluster"],
            )

    return fn


def _pq_index_pass(
    spark, path: str, vectors: DataFrame, m_sub: int, sd: int, id_col: str, vec_col: str
):
    """(id, codes, cluster) for ``vectors`` against the PERSISTED frozen
    centroid/codebook tables (collected to numpy — bounded by the index's
    build constants), computed in ONE Arrow map pass: no explode, no
    joins, no aggregation exchanges."""
    import numpy as np

    cent_df = spark.read.parquet(f"{path}/centroids")
    cid_type = cent_df.schema["cid"].dataType.simpleString()
    cent_rows = sorted(cent_df.collect(), key=lambda r: r["cid"])
    cent_ids = np.asarray([r["cid"] for r in cent_rows])
    cent_mat = np.asarray([list(r["cv"]) for r in cent_rows], dtype=np.float64)
    by_m: dict[int, list] = {}
    for r in spark.read.parquet(f"{path}/codebook").collect():
        by_m.setdefault(int(r["m"]), []).append((int(r["j"]), list(r["cv"])))
    js = [
        np.asarray([j for j, _ in sorted(by_m[mm])], dtype=np.int32)
        for mm in range(1, m_sub + 1)
    ]
    cb_mats = [
        np.asarray([cv for _, cv in sorted(by_m[mm])], dtype=np.float64)
        for mm in range(1, m_sub + 1)
    ]
    id_type = vectors.schema[id_col].dataType.simpleString()
    return vectors.select(id_col, vec_col).mapInArrow(
        _pq_index_batches_fn(cent_ids, cent_mat, js, cb_mats, sd, id_col),
        f"{id_col} {id_type}, codes array<int>, cluster {cid_type}",
    )


def build_ivf_pq_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    m_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> None:
    """Persist the composed IVF × PQ index — the deployment shape
    :func:`pq_topk_join`'s docstring promises: the PQ codes live BESIDE
    the IVF cluster partitions, so probes prune cluster directories
    first and ADC-scan only the survivors' codes.  Neither piece reaches
    the genuinely memory-bounded 100 TB path alone: plain IVF re-reads
    raw floats inside probed clusters; plain PQ scans every code row.

    Layout under ``path``:
      - ``centroids``: (cid, cv) — the IVF routing table (n_centroids rows)
      - ``codebook``:  (m, j, cv) — the PQ sub-codebooks (m_sub × n_codes rows)
      - ``codes``:     (id, codes array<int>) hive-partitioned by ``cluster``
        — ``m_sub`` small ints per vector (~1-2%% of the raw floats at
        dim=64), the ONLY per-vector state a probe ever reads.

    Same deterministic constructions as :func:`build_ivf_index` and
    :func:`pq_topk_join` (first-n centroid/codebook seeds by id, argmax/
    argmin with id tie-breaks, ordered folds), so the composed search
    hash-matches its definitional oracle (:func:`ivf_pq_topk_join_sql`).
    One corpus scan feeds centroids, codebook seeds, and the indexing pass.

    Execution shape (r15 optimization round): assignment and encoding run
    as ONE Arrow map pass over the corpus against the PERSISTED
    centroid/codebook tables collected to numpy (bounded by the
    constructor constants: n_centroids rows + m_sub·n_codes rows — the
    module's bounded-collect discipline; :func:`_pq_index_batches_fn`
    pins the bit-exactness argument).  The old explode(×m_sub), its
    broadcast join, both aggregation exchanges and the codes⋈assign join
    are gone — the indexing pass touches each corpus row exactly once
    and shuffles nothing.  The seed scans evaluate the normalization
    only on their ``limit`` winners (TakeOrderedAndProject), so the
    corpus-wide unit frame (and its checkpoint) is gone too."""
    if dim is None:
        raise ValueError("build_ivf_pq_index needs the static dimension")
    if dim % m_sub != 0:
        raise ValueError(f"dim={dim} not divisible by m_sub={m_sub}")
    sd = dim // m_sub
    spark = embeddings.sparkSession
    unit = embeddings.select(F.col(id_col), norm_unit(vec_col, dim).alias("__u"))
    cent = unit.orderBy(id_col).limit(n_centroids).select(
        F.col(id_col).alias("cid"), F.col("__u").alias("cv")
    )
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    seeds = (
        unit.orderBy(id_col)
        .limit(n_codes)
        .select(F.col(id_col), F.col("__u"))
        .withColumn("j", F.row_number().over(Window.orderBy(F.col(id_col))))
    )
    cb = (
        seeds.select("j", F.explode(_sub_explode(m_sub, sd, F.col("__u"))).alias("s"))
        .select(F.col("s.m").alias("m"), "j", F.col("s.sv").alias("cv"))
    )
    cb.write.mode("overwrite").parquet(f"{path}/codebook")
    indexed = _pq_index_pass(spark, path, embeddings, m_sub, sd, id_col, vec_col)
    indexed.write.mode("overwrite").partitionBy("cluster").parquet(f"{path}/codes")


def append_to_ivf_pq_index(
    spark,
    path: str,
    batch: DataFrame,
    m_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> None:
    """Append a vector batch to a persisted IVF×PQ index without
    rebuilding — the nightly-ingest shape (:func:`append_to_ivf_index`
    discipline, extended to the codes): assign against the FROZEN
    centroid table, encode against the FROZEN codebook, land as an
    APPEND into the hive-partitioned codes.  Assignment and encoding
    depend only on the vector and the frozen tables, so incremental
    build ≡ full build over the union corpus, bit for bit — which is
    exactly what the gated oracle checks (seeds must live in the base
    split, the caller's contract).

    Execution shape (r15 optimization round): the frozen tables collect
    to numpy (bounded by the index's build constants) and the batch is
    assigned+encoded in ONE Arrow map pass — the same bit-exact kernel
    as :func:`build_ivf_pq_index` (:func:`_pq_index_batches_fn`), no
    explode, no joins, no aggregation exchanges, and no checkpoint (the
    normalization now lives inside the single pass)."""
    if dim is None:
        raise ValueError("append_to_ivf_pq_index needs the static dimension")
    if dim % m_sub != 0:
        raise ValueError(f"dim={dim} not divisible by m_sub={m_sub}")
    sd = dim // m_sub
    _pq_index_pass(spark, path, batch, m_sub, sd, id_col, vec_col).write.mode(
        "append"
    ).partitionBy("cluster").parquet(f"{path}/codes")


def ivf_pq_topk_join_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    m_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Batch ANN against the persisted IVF×PQ index: per-query probe
    selection prunes to ``n_probe`` cluster DIRECTORIES (the
    :func:`ivf_topk_join_from_index` dynamic-partition-pruning shape),
    then the survivors are ADC-scanned through the broadcast per-query
    lookup table (the :func:`pq_topk_join` shape) — NO raw embedding is
    read at query time; the scan touches ``m_sub`` small-int codes per
    surviving vector, n_probe/n_centroids of the corpus.

    Plan (r15 optimization round): the query batch normalizes once and
    COLLECTS (bounded by the probe-batch contract — the
    ivf_topk_from_index probe-list discipline); probe selection keeps
    the exact broadcast-centroids crossJoin + per-query window over a
    local relation rebuilt from the collected rows (binary64
    round-trips py4j unchanged); the (query, cluster) probe list
    broadcast-joins the hive-partitioned codes (directory pruning);
    each query's ADC lookup table is computed in PYTHON with the
    identical left-fold double chain (same IEEE ops, same order) and
    inlined as ONE literal map<query_id, array<array<double>>> — so
    adc_sim is a pure map-side chain ``0.0 + Σ_m lut[m][codes[m]]`` in
    subspace order, with the old posexplode(×m_sub), its LUT join and
    the (query, neighbor) re-aggregation exchange all gone.  A
    per-query window takes top-k.

    Returns (query_id, neighbor_id, adc_sim), self-matches excluded —
    hash-checkable against :func:`ivf_pq_topk_join_sql`."""
    if dim is None:
        raise ValueError("ivf_pq_topk_join_from_index needs the static dimension")
    if dim % m_sub != 0:
        raise ValueError(f"dim={dim} not divisible by m_sub={m_sub}")
    sd = dim // m_sub
    qu_plan = queries.select(
        F.col(id_col).alias("query_id"), norm_unit(vec_col, dim).alias("__qu")
    )
    qrows = qu_plan.collect()  # bounded: the probe-batch contract
    qu = spark.createDataFrame(qrows, schema=qu_plan.schema)
    cent = spark.read.parquet(f"{path}/centroids")
    wq = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cid"))
    probes = (
        qu.crossJoin(F.broadcast(cent))
        .select("query_id", "cid", dot("cv", "__qu", dim).alias("sim"))
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", F.col("cid").alias("cluster"))
    )
    by_m: dict[int, list] = {}
    for r in spark.read.parquet(f"{path}/codebook").collect():
        by_m.setdefault(int(r["m"]), []).append((int(r["j"]), list(r["cv"])))

    def _py_dot(a: list, b: list) -> float:
        # the static expression chain: p1 + p2 + … (left-associated, no
        # 0.0 seed) — Python floats ARE IEEE binary64, so same bits
        s = a[0] * b[0]
        for i in range(1, len(a)):
            s = s + a[i] * b[i]
        return s

    def _sql_d(v: float) -> str:
        return f"CAST('{v!r}' AS DOUBLE)"  # repr round-trips binary64 exactly

    qid_type = qu_plan.schema["query_id"].dataType.simpleString()
    entries = []
    for qr in qrows:
        lut_m = []
        for mm in range(1, m_sub + 1):
            sub = list(qr["__qu"])[(mm - 1) * sd : mm * sd]
            lut_m.append(
                "array(%s)"
                % ", ".join(_sql_d(_py_dot(sub, cv)) for _j, cv in sorted(by_m[mm]))
            )
        entries.append(
            f"CAST('{qr['query_id']}' AS {qid_type}), array(%s)" % ", ".join(lut_m)
        )
    lut_map = F.expr("map(%s)" % ", ".join(entries))
    codes = spark.read.parquet(f"{path}/codes")
    cand = (
        codes.join(F.broadcast(probes), "cluster")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"), "codes")
    )
    adc_sum = F.lit(0.0)
    for mm in range(1, m_sub + 1):
        adc_sum = adc_sum + F.element_at(
            F.element_at(F.element_at(lut_map, F.col("query_id")), mm),
            F.element_at(F.col("codes"), mm),
        )
    adc = cand.select("query_id", "neighbor_id", F.round(adc_sum, 6).alias("adc_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id")
    )
    return (
        adc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_pq_topk_join_sql(
    table: str,
    query_predicate: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`build_ivf_pq_index` +
    :func:`ivf_pq_topk_join_from_index` — the DEFINITIONAL composition:
    IVF probe selection exactly as :func:`ivf_topk_join_sql`, PQ encode /
    ADC exactly as :func:`pq_topk_join_sql`, candidates restricted to
    vectors ASSIGNED to each query's probed clusters.  The hash gate
    proves the persisted-index decomposition (directory pruning +
    broadcast LUT) exact."""
    sd = dim // m_sub
    norm = f"sqrt({_dot_sql('embedding', 'embedding', dim)})"
    return f"""
    WITH unit AS (
        SELECT vec_id,
               list_transform(range(1, {dim + 1}),
                              i -> CAST(embedding[i] AS DOUBLE) / {norm}) AS u
        FROM {table}
    ),
    mm AS (SELECT UNNEST(range(1, {m_sub + 1})) AS m),
    cent AS (SELECT vec_id AS cid, u AS cv FROM unit ORDER BY vec_id LIMIT {n_centroids}),
    scored AS (SELECT u.vec_id, c.cid, {_dot_sql("u.u", "c.cv", dim, cast=False)} AS sim
               FROM unit u CROSS JOIN cent c),
    assign AS (SELECT vec_id, cid AS cluster FROM (
                   SELECT vec_id, cid,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                                             ORDER BY sim DESC, cid) AS rn
                   FROM scored)
               WHERE rn = 1),
    seeds AS (SELECT vec_id, u, ROW_NUMBER() OVER (ORDER BY vec_id) AS j
              FROM (SELECT * FROM unit ORDER BY vec_id LIMIT {n_codes})),
    cb AS (SELECT m, j, u[(m - 1) * {sd} + 1 : m * {sd}] AS cv
           FROM seeds CROSS JOIN mm),
    sub AS (SELECT vec_id, m, u[(m - 1) * {sd} + 1 : m * {sd}] AS sv
            FROM unit CROSS JOIN mm),
    enc AS (SELECT vec_id, m, j AS code FROM (
                SELECT s.vec_id, s.m, c.j,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                                          ORDER BY {_d2_sql("s.sv", "c.cv", sd)}, c.j) AS rn
                FROM sub s JOIN cb c ON c.m = s.m)
            WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, u AS qu FROM unit WHERE {query_predicate}),
    probes AS (SELECT query_id, cid AS cluster FROM (
                   SELECT q.query_id, c.cid,
                          ROW_NUMBER() OVER (PARTITION BY q.query_id
                                             ORDER BY {_dot_sql("c.cv", "q.qu", dim, cast=False)} DESC,
                                                      c.cid) AS rn
                   FROM q CROSS JOIN cent c)
               WHERE rn <= {n_probe}),
    qsub AS (SELECT query_id, m, qu[(m - 1) * {sd} + 1 : m * {sd}] AS qv
             FROM q CROSS JOIN mm),
    lut AS (SELECT s.query_id, c.m, c.j,
                   list_sum(list_transform(range(1, {sd + 1}),
                                           i -> s.qv[i] * c.cv[i])) AS contrib
            FROM qsub s JOIN cb c ON c.m = s.m),
    cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
             FROM probes p JOIN assign a ON a.cluster = p.cluster
             WHERE a.vec_id <> p.query_id),
    adc AS (SELECT d.query_id, d.neighbor_id,
                   round(SUM(l.contrib ORDER BY l.m), 6) AS adc_sim
            FROM cand d
            JOIN enc e ON e.vec_id = d.neighbor_id
            JOIN lut l ON l.query_id = d.query_id AND l.m = e.m AND l.j = e.code
            GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_sim DESC, neighbor_id) AS rn
        FROM adc)
    WHERE rn <= {k}
    """


#: micro-unit scale for the power-iteration eigenvector state
PCA_SCALE = 1_000_000


def pca_power(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    iterations: int = 12,
) -> DataFrame:
    """Top principal direction of an embedding corpus by power iteration
    (von Mises & Pollaczek-Geiringer 1929; the Gram-matrix/uncentered
    form — for approximately-centered embedding spaces this is the
    standard whitening direction; center upstream if the mean is
    material).  Returns one row per dimension: (pos, loading, rayleigh)
    with ``loading`` the unit-L2 eigenvector coordinate and ``rayleigh``
    the eigenvalue estimate v'X'Xv / (v'v · n), identical on every row.

    Exactness discipline: coordinates quantize ONCE to integer
    micro-units (floor(x·1e6), the quantize_int8 contract); each
    iteration computes s_r = Σᵢ xqᵢ·vᵢ as an exact bigint per row
    (|s| ≤ dim·|x|·1e12 — fine for unit-scale embeddings), accumulates
    tᵢ = Σ_r xqᵢ·s_r in DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0)
    (exact at ANY corpus size — the roc_auc/jackknife idiom), and
    renormalizes v to ∞-norm 1e6 through ONE double division floored
    back to micro-units.  Sign convention: the dimension with the
    largest |t| (ties → lowest pos) is made POSITIVE, so the eigenvector
    sign — undefined in exact arithmetic — is pinned deterministically.
    The DuckDB twin unrolls the SAME ``iterations``, so the approximate
    eigenvector hash-matches bit for bit.

    Degenerate corpora (every coordinate quantizing to 0 → an all-zero
    spectrum) RAISE on both engines rather than dividing by the zero
    normalizer; ``iterations`` must be >= 1.  The rayleigh numerator
    v·t folds in (pos)-ORDER as doubles (64 fixed-order terms — the
    bm25 fold discipline), so it carries no decimal-overflow cliff.

    Scale: the slim (id, pos, xq) exploded projection localCheckpoints
    once (dim × n rows — the only corpus-sized frame); each iteration is
    two aggregates over it with a broadcast 64-row v; plan depth stays
    flat because v re-checkpoints every iteration (driver-trivial)."""
    if iterations < 1:
        raise ValueError(f"pca_power: iterations must be >= 1, got {iterations}")
    spark = emb.sparkSession
    x = (
        emb.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.col(vec_col)).alias("pos", "xv"),
        )
        .select(
            "id",
            "pos",
            F.expr("CAST(floor(xv * 1000000.0) AS BIGINT)").alias("xq"),
        )
        .localCheckpoint()
    )
    n = x.select("id").distinct().count()  # scalar: rayleigh denominator
    if n == 0:
        return spark.createDataFrame([], "pos int, loading double, rayleigh double")
    v = spark.createDataFrame(
        [(p, PCA_SCALE) for p in range(dim)], "pos int, vu long"
    )
    t = None
    for _ in range(iterations):
        s = (
            x.join(F.broadcast(v), "pos")
            .groupBy("id")
            .agg(F.sum(F.col("xq") * F.col("vu")).cast("bigint").alias("s"))
        )
        t = (
            x.join(s, "id")
            .groupBy("pos")
            .agg(
                F.sum(
                    F.col("xq").cast("decimal(19,0)") * F.col("s").cast("decimal(19,0)")
                ).cast("decimal(38,0)").alias("t")
            )
            .localCheckpoint()
        )
        m = t.agg(
            F.max(
                F.struct(
                    F.abs(F.col("t")).alias("a"),
                    (-F.col("pos")).alias("np"),
                    F.col("t").alias("t"),
                )
            )["t"].alias("m")
        )
        v = t.crossJoin(F.broadcast(m)).select(
            "pos",
            F.expr(
                f"CASE WHEN m = 0 THEN CAST(raise_error('pca_power: all-zero"
                f" spectrum — every coordinate quantized to 0; the corpus has"
                f" no principal direction at micro-unit resolution') AS BIGINT)"
                f" ELSE CAST(floor(CAST(t AS DOUBLE) / CAST(m AS DOUBLE)"
                f" * {PCA_SCALE}.0) AS BIGINT) END"
            ).alias("vu"),
        )
    norm2 = v.agg(
        F.sum(F.col("vu") * F.col("vu")).cast("bigint").alias("vv")
    )
    vt = (
        v.join(t, "pos")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("pos"),
                            (
                                F.col("vu").cast("double") * F.col("t").cast("double")
                            ).alias("p"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, xx: acc + xx["p"],
            ).alias("vt")
        )
    )
    return (
        v.crossJoin(F.broadcast(norm2))
        .crossJoin(F.broadcast(vt))
        .select(
            "pos",
            F.round(
                F.col("vu").cast("double") / F.sqrt(F.col("vv").cast("double")), 6
            ).alias("loading"),
            F.round(
                F.col("vt")
                / (F.col("vv").cast("double") * F.lit(float(n)) * F.lit(1e12)),
                6,
            ).alias("rayleigh"),
        )
    )


def pca_power_sql(
    table: str, id_col: str, vec_col: str, dim: int, iterations: int = 12
) -> str:
    """DuckDB twin of :func:`pca_power` — identical quantization, the
    same ``iterations`` unrolled as CTEs, the same sign convention and
    final normalizations."""
    if iterations < 1:
        raise ValueError(f"pca_power_sql: iterations must be >= 1, got {iterations}")
    S = PCA_SCALE
    parts = [
        f"""x AS MATERIALIZED (
        SELECT {id_col} AS id, r.range AS pos,
               -- CAST to DOUBLE first: DuckDB evaluates FLOAT * decimal-literal
               -- in SINGLE precision (the _dot_sql lesson), flipping floor()
               -- at representation boundaries vs Spark's double promotion
               CAST(floor(CAST({vec_col}[r.range + 1] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS xq
        FROM {table} CROSS JOIN range({dim}) r)""",
        f"nn AS (SELECT COUNT(DISTINCT id) AS n FROM x)",
        f"v0 AS (SELECT range AS pos, CAST({S} AS BIGINT) AS vu FROM range({dim}))",
    ]
    prev = "v0"
    last_t = None
    for k in range(1, iterations + 1):
        parts.append(
            f"""s{k} AS (SELECT x.id, CAST(SUM(x.xq * p.vu) AS BIGINT) AS s
        FROM x JOIN {prev} p ON p.pos = x.pos GROUP BY x.id)"""
        )
        parts.append(
            f"""t{k} AS MATERIALIZED (
        SELECT x.pos,
               CAST(SUM(CAST(x.xq AS DECIMAL(19,0)) * CAST(s{k}.s AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS t
        FROM x JOIN s{k} ON s{k}.id = x.id GROUP BY x.pos)"""
        )
        parts.append(
            f"""m{k} AS (SELECT (MAX(struct_pack(a := abs(t), np := -pos, t := t))).t AS m
        FROM t{k})"""
        )
        parts.append(
            f"""v{k} AS (SELECT t{k}.pos,
               CASE WHEN m = 0 THEN CAST(error('pca_power: all-zero spectrum —'
                    ' every coordinate quantized to 0') AS BIGINT)
               ELSE CAST(floor(CAST(t AS DOUBLE) / CAST(m AS DOUBLE) * {S}.0) AS BIGINT)
               END AS vu
        FROM t{k} CROSS JOIN m{k})"""
        )
        prev = f"v{k}"
        last_t = f"t{k}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
    n2 AS (SELECT CAST(SUM(vu * vu) AS BIGINT) AS vv FROM {prev}),
    vt AS (SELECT SUM(CAST(p.vu AS DOUBLE) * CAST(t.t AS DOUBLE) ORDER BY p.pos) AS vt
           FROM {prev} p JOIN {last_t} t ON t.pos = p.pos)
    SELECT p.pos,
           round(CAST(p.vu AS DOUBLE) / sqrt(CAST(n2.vv AS DOUBLE)), 6) AS loading,
           round(vt.vt
                 / (CAST(n2.vv AS DOUBLE) * CAST(nn.n AS DOUBLE) * 1e12), 6) AS rayleigh
    FROM {prev} p CROSS JOIN n2 CROSS JOIN vt CROSS JOIN nn
    """
    )


#: cap on the histogram's sampled vector count — the all-pairs grid is
#: n², so the guard keeps a "sample" from silently becoming the corpus
SIM_HIST_MAX_SAMPLE = 4096


def sim_histogram(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bins: int = 40,
    max_sample: int = SIM_HIST_MAX_SAMPLE,
) -> DataFrame:
    """Histogram of ALL pairwise cosine similarities of (a sample of) the
    embedding set — the threshold-tuning diagnostic for every
    cosine-thresholded operator (SemDeDup, semantic decontamination,
    near-dup): where does the corpus's similarity mass sit, and is there
    a valley to put τ in?

    Caller passes the (deterministically md5-) SAMPLED frame; a sample
    larger than ``max_sample`` raises loudly (the all-pairs grid is n² —
    a silent full-corpus pass would be the exact mistake this module's
    blocked kernels exist to avoid; at 100 TB sample ~2-4k vectors,
    which already pins the histogram shape to ~1% bin error).

    Builder contract — EAGER by design: unlike the registry's lazy plan
    builders, construction runs one bounded Spark job (localCheckpoint
    of the sample + a 1-row count).  The n² guard must decide with the
    REAL sample size before the pair-kernel plan exists — a lazy
    in-plan guard would fire only after n² tasks were already
    scheduled.  Tools that only want the schema should build over a
    pre-limited frame.

    Exactness: cosines come from the block-tiled Arrow kernel —
    bitwise-equal to the oracle's fold (module contract) — so the bin
    assignment floor((cos + 1)·n_bins/2) (clamped to n_bins−1) is
    deterministic, and bin COUNTS are exact integers.  Empty bins are
    materialized with zero counts (the full [−1, 1] grid), so the
    output is always exactly ``n_bins`` rows.

    Returns (bin, lo, hi, n_pairs), lo/hi the bin's cosine bounds."""
    # localCheckpoint BEFORE the guard count: the ≤max_sample-row frame
    # feeds both the count and the pair kernel, so the source scans once
    sampled = embeddings.localCheckpoint()
    n = sampled.count()  # bounded 1-row action; the guard is loud
    if n > max_sample:
        raise ValueError(
            f"sim_histogram: {n} sampled vectors exceed max_sample={max_sample}; "
            "the all-pairs grid is n² — tighten the sample predicate or raise "
            "the cap deliberately"
        )
    pairs = cosine_pairs(sampled, threshold=-2.0, id_col=id_col, vec_col=vec_col)
    # clamped BOTH ends: float normalization leaves ||u|| = 1±ε, so a
    # near-antipodal dot can land marginally below −1.0 — without the
    # GREATEST it would bin to −1 and silently vanish from the grid join
    bin_expr = (
        f"LEAST(GREATEST(CAST(floor((cos_sim + 1.0) * {int(n_bins)} / 2.0) "
        f"AS BIGINT), 0), {int(n_bins) - 1})"
    )
    counts = pairs.select(F.expr(bin_expr).alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    spark = embeddings.sparkSession
    grid = spark.range(0, int(n_bins)).select(F.col("id").cast("bigint").alias("bin"))
    return grid.join(counts, "bin", "left").select(
        "bin",
        (F.col("bin").cast("double") * 2.0 / float(n_bins) - 1.0).alias("lo"),
        ((F.col("bin") + 1).cast("double") * 2.0 / float(n_bins) - 1.0).alias("hi"),
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("bigint").alias("n_pairs"),
    )


def sim_histogram_sql(
    table: str,
    sample_predicate: str,
    n_bins: int = 40,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`sim_histogram` over the rows of ``table``
    matching ``sample_predicate`` — the definitional all-pairs fold,
    identical bin arithmetic, zero-filled bin grid."""
    inner = cosine_pairs_sql(f"(SELECT * FROM {table} WHERE {sample_predicate})",
                             threshold=-2.0, dim=dim)
    bin_expr = (
        f"LEAST(GREATEST(CAST(floor((cos_sim + 1.0) * {int(n_bins)} / 2.0) "
        f"AS BIGINT), 0), {int(n_bins) - 1})"
    )
    return f"""
    WITH pairs AS ({inner}),
    counts AS (
        SELECT {bin_expr} AS bin, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY 1),
    grid AS (SELECT UNNEST(range(0, {int(n_bins)})) AS bin)
    SELECT g.bin,
           CAST(g.bin AS DOUBLE) * 2.0 / {float(n_bins)!r} - 1.0 AS lo,
           CAST(g.bin + 1 AS DOUBLE) * 2.0 / {float(n_bins)!r} - 1.0 AS hi,
           CAST(COALESCE(c.n_pairs, 0) AS BIGINT) AS n_pairs
    FROM grid g LEFT JOIN counts c ON c.bin = g.bin
    """
