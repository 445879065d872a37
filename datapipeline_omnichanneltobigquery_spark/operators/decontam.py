"""Benchmark decontamination — flag training documents that share n-grams
with an evaluation/benchmark set (SURVEY.md §2.2 extension surface; the
standard eval-contamination check in LLM data pipelines: a train doc that
contains an eval doc's 13-gram leaks the benchmark into training).

Scale design (the 100 TB shape):

* the BENCHMARK side is small by construction (eval sets are 10^3-10^5
  docs), so its shingle inverted index **broadcasts** — the train-side
  shingle stream is probed map-side and never shuffles for discovery;
* only (train_shingle = bench_shingle) matches survive the broadcast probe,
  so the one real shuffle — the per-(train_doc, bench_doc) overlap count —
  carries matched rows only, a tiny fraction of the corpus;
* boilerplate n-grams (licence headers, navigation chrome) would make a
  single shingle match every doc on both sides; ``max_df_bench`` drops
  shingles that appear in more than that many BENCHMARK docs from the probe
  (the eval set is small, so its df is exact and cheap).  Recall contract:
  a (train, bench) pair is reported iff they share ≥ ``min_overlap``
  distinct sub-cap shingles.

Both builders have DuckDB SQL twins generated from the same constants, so
the driver's oracle gate hash-checks them end-to-end.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from datapipeline_omnichanneltobigquery_spark.operators.dedup import shingles


def contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    train_id: str,
    train_text: str,
    bench_id: str,
    bench_text: str,
    n: int = 8,
    min_overlap: int = 1,
    max_df_bench: int | None = None,
) -> DataFrame:
    """(train_id, bench_id, n_overlap) for every train/bench pair sharing at
    least ``min_overlap`` distinct word n-grams — n_overlap = |distinct
    shared shingles| (both shingle sets are distinct per doc, so a plain
    COUNT after the equi-join is the distinct intersection size).

    The bench shingle index is broadcast; with ``max_df_bench`` set, shingles
    appearing in more than that many bench docs are dropped from the probe
    BEFORE the broadcast (window df over the tiny bench side)."""
    tsh = shingles(train, train_id, train_text, n).withColumnRenamed("id", "train_id")
    bsh = shingles(bench, bench_id, bench_text, n).withColumnRenamed("id", "bench_id")
    if max_df_bench is not None:
        w = Window.partitionBy("shingle")
        bsh = (
            bsh.withColumn("__df", F.count(F.lit(1)).over(w))
            .filter(F.col("__df") <= max_df_bench)
            .drop("__df")
        )
    return (
        tsh.join(F.broadcast(bsh), "shingle")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    train_id: str,
    train_text: str,
    bench_id: str,
    bench_text: str,
    n: int = 8,
    min_overlap: int = 1,
    max_df_bench: int | None = None,
) -> DataFrame:
    """The kept (clean) training rows: every train doc with NO benchmark
    match at the given n/min_overlap/cap — an anti-join of the contaminated
    id list back against the train side.  The contaminated list is tiny, so
    the anti-join broadcasts; the corpus itself never shuffles."""
    bad = contamination_pairs(
        train, bench, train_id, train_text, bench_id, bench_text,
        n=n, min_overlap=min_overlap, max_df_bench=max_df_bench,
    ).select(F.col("train_id").alias(train_id)).distinct()
    return train.join(F.broadcast(bad), train_id, "left_anti")


# ---------------------------------------------------------------------------
# DuckDB twins (same constants, same shingle construction as
# dedup._shingles_sql — suffixed CTE names so train and bench coexist)
# ---------------------------------------------------------------------------


def _shingle_cte(suffix: str, table_expr: str, id_col: str, text_col: str, n: int) -> str:
    return f"""
    toks_{suffix} AS (SELECT {id_col} AS id,
                    list_filter(regexp_split_to_array(trim(lower({text_col})), '\\s+'),
                                t -> t <> '') AS w
             FROM {table_expr}),
    sh_{suffix} AS (SELECT DISTINCT id, array_to_string(w[i:i+{n - 1}], ' ') AS shingle
           FROM toks_{suffix}, UNNEST(range(1, len(w) - {n - 2})) AS u(i))
    """


def contamination_pairs_sql(
    train_expr: str,
    bench_expr: str,
    train_id: str,
    train_text: str,
    bench_id: str,
    bench_text: str,
    n: int = 8,
    min_overlap: int = 1,
    max_df_bench: int | None = None,
) -> str:
    """DuckDB twin of :func:`contamination_pairs`.  ``*_expr`` are table
    names or parenthesized subqueries."""
    if max_df_bench is not None:
        probe = f"""
    sh_b_capped AS (
        SELECT id, shingle FROM (
            SELECT id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
            FROM sh_b)
        WHERE df <= {max_df_bench})"""
        probe_name = "sh_b_capped"
    else:
        probe = ""
        probe_name = "sh_b"
    return f"""
    WITH {_shingle_cte("t", train_expr, train_id, train_text, n)},
    {_shingle_cte("b", bench_expr, bench_id, bench_text, n)}{"," if probe else ""}
    {probe}
    SELECT t.id AS train_id, b.id AS bench_id, COUNT(*) AS n_overlap
    FROM sh_t t JOIN {probe_name} b USING (shingle)
    GROUP BY 1, 2
    HAVING COUNT(*) >= {min_overlap}
    """


def decontaminate_sql(
    train_expr: str,
    bench_expr: str,
    train_id: str,
    train_text: str,
    bench_id: str,
    bench_text: str,
    n: int = 8,
    min_overlap: int = 1,
    max_df_bench: int | None = None,
    select_cols: str = "*",
) -> str:
    """DuckDB twin of :func:`decontaminate`."""
    pairs = contamination_pairs_sql(
        train_expr, bench_expr, train_id, train_text, bench_id, bench_text,
        n=n, min_overlap=min_overlap, max_df_bench=max_df_bench,
    )
    # NOT EXISTS, not NOT IN: Spark's left_anti keeps a NULL-id train row
    # (a null join key matches nothing), while NOT IN over any non-empty
    # list yields NULL for it and drops it — NOT EXISTS matches the
    # left_anti semantics exactly (same pattern as the upsert_merge oracle)
    return f"""
    SELECT {select_cols} FROM {train_expr} tr
    WHERE NOT EXISTS (SELECT 1 FROM ({pairs}) p WHERE p.train_id = tr.{train_id})
    """


# ---------------------------------------------------------------------------
# Semantic (embedding-space) decontamination — the screen n-gram shingles
# cannot provide: a PARAPHRASED eval item shares no 8-gram with its train
# twin yet sits at high cosine in embedding space (Yang et al. 2023,
# "Rethinking Benchmark and Contamination for Language Models with
# Rephrased Samples": rephrased test samples evade n-gram/MinHash decontam
# but are caught by embedding similarity search).  Same contract class as
# the shingle path above: the EVAL side is small by construction, so it
# broadcasts; the corpus is screened map-side in one pass.
# ---------------------------------------------------------------------------


def semantic_contamination_pairs(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.30,
    dim: int | None = None,
) -> DataFrame:
    """(corpus_id, eval_id, cos_sim) for every corpus embedding whose
    cosine against an eval-set embedding reaches ``threshold`` — the
    embedding-space contamination report beside the n-gram
    :func:`contamination_pairs`.

    Exactness: both sides L2-normalize once (``norm_unit``), so the score
    is ONE ordered-fold dot product in double — bitwise-equal to the
    DuckDB twin's ``list_sum(list_transform(...))`` construction (the
    engine-wide dot-product discipline), making the ``>= threshold``
    comparison deterministic across engines.

    Scale (100 TB): eval suites are 10^3-10^5 rows by construction, so the
    normalized eval side BROADCASTS and scoring is a map-side crossJoin
    over one corpus scan — |corpus|·|eval| static-dim dot products inside
    WholeStageCodegen, zero shuffle for discovery (the
    ``cosine_topk_join`` plan shape).  An eval set too large to broadcast
    composes with the persisted IVF index instead
    (``similarity.ivf_topk_join_from_index`` — cluster-pruned candidates
    per eval probe); the broadcast screen here is the definitional form
    the oracle can verify all-pairs."""
    from datapipeline_omnichanneltobigquery_spark.functions.vectors import dot, norm_unit

    cu = corpus.select(
        F.col(id_col).alias("corpus_id"), norm_unit(vec_col, dim).alias("__cu")
    )
    eu = eval_set.select(
        F.col(id_col).alias("eval_id"), norm_unit(vec_col, dim).alias("__eu")
    )
    return (
        cu.crossJoin(F.broadcast(eu))
        .select(
            "corpus_id",
            "eval_id",
            dot("__cu", "__eu", dim).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(float(threshold)))
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.30,
    dim: int | None = None,
) -> DataFrame:
    """The kept (semantically clean) corpus rows: every corpus row whose
    embedding has NO eval-set neighbor at cosine ≥ ``threshold`` — the
    anti-join keep face of :func:`semantic_contamination_pairs`, all
    corpus columns preserved.

    Composes with the n-gram pipeline by id: run the shingle
    :func:`decontaminate` for verbatim leakage, this for paraphrase
    leakage, and anti-join the union of both contaminated-id lists (in
    the standard layout the embedding store shares the document id, so
    the keep-list applies to ``documents`` directly)."""
    contaminated = (
        semantic_contamination_pairs(
            corpus, eval_set, id_col=id_col, vec_col=vec_col,
            threshold=threshold, dim=dim,
        )
        .select(F.col("corpus_id").alias(id_col))
        .distinct()
    )
    return corpus.join(contaminated, id_col, "left_anti")


def decontaminate_combined(
    train: DataFrame,
    bench: DataFrame,
    corpus_vec: DataFrame,
    eval_vec: DataFrame,
    train_id: str = "doc_id",
    train_text: str = "text",
    bench_id: str = "doc_id",
    bench_text: str = "text",
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n: int = 8,
    min_overlap: int = 1,
    max_df_bench: int | None = None,
    threshold: float = 0.30,
    dim: int | None = None,
) -> DataFrame:
    """The form a real pipeline runs — BOTH screens against one eval
    suite in one call: keep every training document flagged by NEITHER
    the verbatim (n-gram shingle, :func:`contamination_pairs`) screen
    NOR the paraphrase (embedding cosine,
    :func:`semantic_contamination_pairs`) screen.

    Id-alignment contract: ``corpus_vec``/``eval_vec`` carry the SAME id
    space as ``train``/``bench`` (the standard layout — the embedding
    store shares the document id), so the union of the two
    contaminated-id lists anti-joins against the document corpus
    directly.

    Scale (100 TB): each screen keeps its own contract — the bench
    shingle index and the normalized eval embeddings both broadcast
    (eval suites are small by construction), the union of contaminated
    ids is a tiny frame, and the final keep is ONE broadcast anti-join;
    the corpus text and corpus embeddings each cross the cluster once
    and never shuffle for discovery."""
    bad_ngram = (
        contamination_pairs(
            train, bench, train_id, train_text, bench_id, bench_text,
            n=n, min_overlap=min_overlap, max_df_bench=max_df_bench,
        )
        .select(F.col("train_id").alias(train_id))
    )
    bad_sem = (
        semantic_contamination_pairs(
            corpus_vec, eval_vec, id_col=vec_id, vec_col=vec_col,
            threshold=threshold, dim=dim,
        )
        .select(F.col("corpus_id").alias(train_id))
    )
    bad = bad_ngram.unionByName(bad_sem).distinct()
    return train.join(F.broadcast(bad), train_id, "left_anti")


def decontaminate_combined_sql(
    train_expr: str,
    bench_expr: str,
    vec_table: str,
    corpus_predicate: str,
    eval_predicate: str,
    train_id: str = "doc_id",
    train_text: str = "text",
    bench_id: str = "doc_id",
    bench_text: str = "text",
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n: int = 8,
    min_overlap: int = 1,
    max_df_bench: int | None = None,
    threshold: float = 0.30,
    dim: int = 64,
    select_cols: str = "*",
) -> str:
    """DuckDB twin of :func:`decontaminate_combined` — two NOT EXISTS
    (the left_anti NULL-key semantics over the UNION of contaminated-id
    lists factors into one NOT EXISTS per screen)."""
    ngram_pairs = contamination_pairs_sql(
        train_expr, bench_expr, train_id, train_text, bench_id, bench_text,
        n=n, min_overlap=min_overlap, max_df_bench=max_df_bench,
    )
    sem_pairs = semantic_contamination_pairs_sql(
        vec_table, corpus_predicate, eval_predicate,
        id_col=vec_id, vec_col=vec_col, threshold=threshold, dim=dim,
    )
    return f"""
    SELECT {select_cols} FROM {train_expr} tr
    WHERE NOT EXISTS (SELECT 1 FROM ({ngram_pairs}) p WHERE p.train_id = tr.{train_id})
      AND NOT EXISTS (SELECT 1 FROM ({sem_pairs}) q WHERE q.corpus_id = tr.{train_id})
    """


def _unit_cte(table: str, vec_col: str, dim: int) -> str:
    from datapipeline_omnichanneltobigquery_spark.operators.similarity import _dot_sql

    norm = f"sqrt({_dot_sql(vec_col, vec_col, dim)})"
    return f"""
    unit AS (
        SELECT *, list_transform(range(1, {dim + 1}),
                                 i -> CAST({vec_col}[i] AS DOUBLE) / {norm}) AS __u
        FROM {table}
    )"""


def semantic_contamination_pairs_sql(
    table: str,
    corpus_predicate: str,
    eval_predicate: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.30,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`semantic_contamination_pairs` where corpus and
    eval set are the rows of ``table`` matching the two predicates — same
    ordered-fold dots over the same unit vectors (the definitional
    all-pairs form)."""
    from datapipeline_omnichanneltobigquery_spark.operators.similarity import _dot_sql

    return f"""
    WITH {_unit_cte(table, vec_col, dim)},
    c AS (SELECT {id_col} AS corpus_id, __u AS cu FROM unit WHERE {corpus_predicate}),
    e AS (SELECT {id_col} AS eval_id, __u AS eu FROM unit WHERE {eval_predicate})
    SELECT corpus_id, eval_id,
           {_dot_sql("c.cu", "e.eu", dim, cast=False)} AS cos_sim
    FROM c CROSS JOIN e
    WHERE {_dot_sql("c.cu", "e.eu", dim, cast=False)} >= {float(threshold)!r}
    """


def semantic_decontaminate_sql(
    table: str,
    corpus_predicate: str,
    eval_predicate: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.30,
    dim: int = 64,
    select_cols: str = "*",
) -> str:
    """DuckDB twin of :func:`semantic_decontaminate` — NOT EXISTS over the
    pairs subquery (the left_anti NULL-key semantics, same pattern as
    :func:`decontaminate_sql`)."""
    pairs = semantic_contamination_pairs_sql(
        table, corpus_predicate, eval_predicate,
        id_col=id_col, vec_col=vec_col, threshold=threshold, dim=dim,
    )
    return f"""
    SELECT {select_cols} FROM (SELECT * FROM {table} WHERE {corpus_predicate}) tr
    WHERE NOT EXISTS (SELECT 1 FROM ({pairs}) p WHERE p.corpus_id = tr.{id_col})
    """
