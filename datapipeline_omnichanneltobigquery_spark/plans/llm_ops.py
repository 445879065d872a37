"""LLM-training-data pipeline queries: dedup family, similarity search,
text analysis, multimodal plumbing (SURVEY.md §2.2 / §7 M5; BASELINE.json
north star).

The Spark builders live in operators/{dedup,similarity,textstats,multimodal};
oracles are generated from the SAME constants by the operators' ``*_sql``
twins, so Spark and DuckDB execute literally the same algorithm.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datapipeline_omnichanneltobigquery_spark.operators import bpe
from datapipeline_omnichanneltobigquery_spark.operators import corpus_prep as cp
from datapipeline_omnichanneltobigquery_spark.operators import decontam as dc
from datapipeline_omnichanneltobigquery_spark.operators import dedup as dd
from datapipeline_omnichanneltobigquery_spark.operators import ir
from datapipeline_omnichanneltobigquery_spark.operators import membership as mb
from datapipeline_omnichanneltobigquery_spark.operators import multimodal as mm
from datapipeline_omnichanneltobigquery_spark.operators import dsir
from datapipeline_omnichanneltobigquery_spark.operators import langid as lid
from datapipeline_omnichanneltobigquery_spark.operators import pii
from datapipeline_omnichanneltobigquery_spark.operators import sampling as sa
from datapipeline_omnichanneltobigquery_spark.operators import similarity as sim
from datapipeline_omnichanneltobigquery_spark.operators import sharding as sh
from datapipeline_omnichanneltobigquery_spark.operators import textstats as ts
from datapipeline_omnichanneltobigquery_spark.plans.queries import query
from datapipeline_omnichanneltobigquery_spark.sources.tables import read_table

EMB_DIM = 64  # embeddings.embedding is a 64-dim float vector (FIXTURES.md)


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_docs",
    driver=False,  # rotated out r9 (green r1-r8 (8 green); family keeps a gated anchor)
    oracle="SELECT md5(text) AS fp, MIN(doc_id) AS doc_id FROM documents GROUP BY 1",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keep-list keyed on the md5 fingerprint (deterministic
    min-id winner per distinct text).  The fingerprint is computed map-side,
    so the single aggregate shuffle moves (16-byte fp, 8-byte id) per row —
    the document body never crosses an exchange, unlike a groupBy(text)
    whose shuffle key is the full text (see operators/dedup.py
    ::dedup_exact_keylist)."""
    return dd.dedup_exact_keylist(read_table(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "dedup_keep_latest",
    driver=False,  # rotated out r6 (green r1-r5) to free the slot for the new bloom_membership_screen family
    oracle="""
    SELECT event_id, user_id, event_type, value FROM (
        SELECT event_id, user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS __rn
        FROM events
    ) WHERE __rn = 1
    """,
)
def dedup_keep_latest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key — the replayed form of the reference's repeated
    MERGE-by-id loads (omnichannel_to_bq.py:176-182)."""
    ev = read_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    return dd.dedup_keep_latest(ev, key="user_id", order_col="ts", tie_break="event_id").drop("ts")


@query(
    "dedup_minhash_lsh",
    driver=False,  # the candidate-restricted verify; dedup_neardup_pairs semi-joins instead
    oracle=dd.minhash_near_dup_pairs_sql("documents", "doc_id", "text"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle→minhash→band→bucket-join→verify.
    Full SQL oracle — both engines run the same 16-hash/8-band pipeline."""
    return dd.minhash_near_dup_pairs(read_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "dedup_simhash_fingerprints",
    driver=False,  # fingerprints feed dedup_simhash_pairs, which is driver-verified
    oracle=dd.simhash_fingerprints_sql("documents", "doc_id", "text"),
)
def dedup_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprint per document (bit-majority over token
    hashes) — integer-exact on both engines."""
    return dd.simhash_fingerprints(read_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "dedup_simhash_pairs",
    driver=False,  # rotated out r9 (green r1-r8 (8 green); family keeps a gated anchor)
    oracle=dd.simhash_near_dup_pairs_sql("documents", "doc_id", "text", max_hamming=3),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at the Manku et al. (WWW'07) production radius
    k=3: four 15-bit blocks give exact recall AND sharp buckets (2^15 keys
    per block), which is what keeps the candidate join linear at corpus
    scale.  Wider radii stay available on the operator — the k+1-block
    pigeonhole keeps recall exact for any max_hamming — but a radius of
    12/60 bits forces 4-5-bit block keys whose buckets degrade toward
    all-pairs (measured 29M candidate rows over 5k docs at sf0.1), so the
    engine's headline setting is the one that survives 100 TB."""
    return dd.simhash_near_dup_pairs(
        read_table(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
    )


@query(
    "dedup_prefix_jaccard",
    driver=False,  # rotated out r11 (green r9+r10); containment_pairs anchors set-similarity joins
    # rotated INTO the gate r9 (never driver-verified)
    oracle=dd.jaccard_pairs_sql("documents", "doc_id", "text", n=3, threshold=0.6),
)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard join (AllPairs/PPJoin): rarest-first
    prefixes + length filter generate a provably complete candidate set,
    so the output equals the DEFINITIONAL all-pairs threshold join — the
    oracle here is the uncapped form, proving losslessness
    (operators/dedup.py::prefix_jaccard_pairs)."""
    return dd.prefix_jaccard_pairs(
        read_table(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.6
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@query(
    "similarity_cosine_topk",
    driver=False,  # rotated out r6 (green r2-r5); similarity family keeps neardup/ann_ivf/quantize + ann_recall gated
    oracle=sim.cosine_topk_sql("embeddings", 0, 10, EMB_DIM),
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for corpus vector 0 — broadcast query, one
    scan, TakeOrderedAndProject; doubles bitwise-equal to the oracle."""
    return sim.cosine_topk(read_table(spark, sf_dir, "embeddings"), query_vec_id=0, k=10, dim=EMB_DIM)


@query(
    "similarity_neardup_pairs",
    driver=False,  # rotated out r9 (green r1-r8 (8 green); family keeps a gated anchor)
    oracle=sim.cosine_pairs_sql("embeddings", 0.35, EMB_DIM),
)
def similarity_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.35), exact all-pairs baseline."""
    return sim.cosine_pairs(read_table(spark, sf_dir, "embeddings"), threshold=0.35, dim=EMB_DIM)


@query(
    "text_keywords_tfidf",
    driver=False,  # rotated out r11 (green r9+r10); trigram search + vocab growth anchor IR/text
    # rotated INTO the gate r9 (never driver-verified)
    oracle=ir.tfidf_keywords_sql("documents", "doc_id", "text", k=3),
)
def text_keywords_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords (operators/ir.py
    ::tfidf_keywords): model-free document labeling / topical routing —
    deterministic (weight desc, term) ranking, weights engine-exact."""
    return ir.tfidf_keywords(read_table(spark, sf_dir, "documents"), "doc_id", "text", k=3)


@query(
    "text_tfidf_pairs",
    driver=False,  # rotated out r9 (green r7-r8 (2 green, r7 scan fix verified); family keeps a gated anchor)
    # rotated INTO the gate r7 (r6 family, never driver-verified)
    oracle=ir.tfidf_cosine_pairs_sql("documents", "doc_id", "text", threshold=0.3),
)
def text_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF document-document cosine pairs (operators/ir.py
    ::tfidf_cosine_pairs): topical/near-dup similarity from the token
    inverted index alone — df-capped candidate discovery, exact
    ordered-fold scoring, 6-decimal rounding shared with the twin."""
    return ir.tfidf_cosine_pairs(
        read_table(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.3
    )


@query(
    "similarity_srp_pairs",
    driver=False,  # rotated out r10 (green r6-r9 (4 green); similarity_ann_ivf + semdedup anchor similarity)
    # rotated INTO the gate r8 (never driver-verified; similarity_neardup_pairs is its exact-all-pairs baseline)
    oracle=sim.srp_near_dup_pairs_sql("embeddings", 0.35, dim=EMB_DIM),
)
def similarity_srp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH near-dup pairs: sign-random-projection band buckets generate
    candidates, exact cosine verifies (operators/similarity.py
    ::srp_near_dup_pairs) — the sub-quadratic 100 TB path for embedding
    near-dedup, where the gated ``similarity_neardup_pairs`` is the exact
    O(n²) baseline.  Deterministic hyperplanes → the hash gate checks the
    candidate set AND the verified cosines bit-for-bit."""
    return sim.srp_near_dup_pairs(
        read_table(spark, sf_dir, "embeddings"), threshold=0.35, dim=EMB_DIM
    )


@query(
    "similarity_dedup_keep",
    driver=False,  # rotated out r9 (green r7-r8 (2 green); family keeps a gated anchor)
    # rotated INTO the gate r7: the SRP-LSH family's own driver entry (composed SRP -> verify -> CC -> keep)
    # threshold 0.35 since r9: at the old 0.8 the synthetic embeddings (max
    # pairwise cosine 0.479) produced ZERO losers, so the gated keep-list
    # was a trivially-complete identity proving only row survival
    oracle=sim.embedding_dedup_keep_sql("embeddings", 0.35, dim=EMB_DIM),
)
def similarity_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call embedding dedup keep-list: SRP-LSH candidates → exact
    cosine ≥ 0.35 → star connected components → min-id winners
    (operators/similarity.py::embedding_dedup_keep) — the embedding twin
    of the text dedup_pipeline, end-to-end under one composed oracle."""
    return sim.embedding_dedup_keep(read_table(spark, sf_dir, "embeddings"), 0.35, dim=EMB_DIM)


@query(
    "similarity_ann_ivf",
    driver=False,  # rotated out r11 (multi-green r6-r10); semdedup_keep anchors similarity
    oracle=sim.ivf_topk_sql("embeddings", 0, k=10, n_centroids=16, n_probe=4, dim=EMB_DIM),
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed ANN top-10 (16 clusters, probe 4) via the PERSISTED
    index: build the hive-partitioned index, probe with
    ``ivf_topk_from_index`` — the cluster filter is a directory-level
    PartitionFilter, so each query reads n_probe/n_centroids of the
    index's bytes.  Fully deterministic (first-n centroids, tie-broken
    argmax, ordered folds) → hash-matches the inline oracle; recall
    pinned in tests/test_llm_ops.py.  dim=None on purpose: compiling
    unrolled 64-term chains costs more than folding this probe's few
    thousand dots (pass dim= where the compile amortizes)."""
    from datapipeline_omnichanneltobigquery_spark.plans.persistence import scratch_path

    emb = read_table(spark, sf_dir, "embeddings")
    path = scratch_path(spark, sf_dir, "ivf_index")
    sim.build_ivf_index(emb, path, n_centroids=16)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return sim.ivf_topk_from_index(
        spark, path, list(qvec), k=10, n_probe=4, exclude_id=0
    )


@query(
    "text_unigram_logprob",
    driver=False,  # rotated in r4, green r4-r6, out r7; text family keeps profile/scrub/bm25/decontam/span gated
    oracle=ts.unigram_logprob_sql("documents", "doc_id", "text"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality score: mean add-one-smoothed unigram log
    probability per document under the corpus's own distribution."""
    return ts.unigram_logprob(read_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_bigram_logprob",
    driver=False,  # rotated out r13 (>=2 green driver rounds; full local hash parity continues)
    # rotated INTO the gate r9 (never driver-verified)
    oracle=ts.bigram_logprob_sql("documents", "doc_id", "text"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality score: mean log(0.8·P(w|prev) +
    0.2·P(w)) per document under the corpus's own counts — catches
    scrambled word order that unigram statistics cannot see
    (operators/textstats.py::bigram_logprob; fixed-order IEEE
    interpolation, position-ordered sums, values hash-gate)."""
    return ts.bigram_logprob(read_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "similarity_ann_batch",
    driver=False,  # batch face of the gated similarity_ann_ivf (same persisted index)
    oracle=sim.ivf_topk_join_sql(
        "embeddings", "vec_id < 4", k=5, n_centroids=16, n_probe=4, dim=EMB_DIM
    ),
)
def similarity_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment-shape BATCH ANN: build the hive-partitioned IVF index once,
    then answer a whole query batch in ONE distributed plan —
    :func:`~...similarity.ivf_topk_join_from_index` ranks centroids per
    query with a window (no driver collect), and the probe list reaches the
    postings scan as a DYNAMIC partition-pruning filter, so only the union
    of probed cluster directories is read.  Fully deterministic index →
    full hash oracle."""
    from datapipeline_omnichanneltobigquery_spark.plans.persistence import scratch_path

    emb = read_table(spark, sf_dir, "embeddings")
    path = scratch_path(spark, sf_dir, "ivf_index")
    sim.build_ivf_index(emb, path, n_centroids=16)
    return sim.ivf_topk_join_from_index(
        spark, path, emb.filter(F.col("vec_id") < 4), k=5, n_probe=4
    )


@query(
    "similarity_ann_recall",
    driver=False,  # rotated out r9 (green r6-r8 (3 green); family keeps a gated anchor)
    # rotated INTO the gate r6: the recall NUMBERS themselves hash-gate (VERDICT r5 #3)
    oracle=sim.ann_recall_sql(
        sim.cosine_topk_join_sql("embeddings", "vec_id < 16", k=5, dim=EMB_DIM),
        sim.ivf_topk_join_sql(
            "embeddings", "vec_id < 16", k=5, n_centroids=16, n_probe=4, dim=EMB_DIM
        ),
    ),
)
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the persisted IVF index against exact brute-force top-k,
    per query — the measurement that justifies an n_probe setting instead
    of guessing.  Exact truth comes from the honest batch crossJoin
    (cosine_topk_join); the candidate set probes the SAME hive-partitioned
    index the gated entry builds; the recall math is id-pair semi-join +
    two tiny aggregates.  Fully deterministic end to end, so the hash gate
    checks the recall NUMBERS, not just the plumbing."""
    from datapipeline_omnichanneltobigquery_spark.plans.persistence import scratch_path

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 16)
    path = scratch_path(spark, sf_dir, "ivf_index")
    sim.build_ivf_index(emb, path, n_centroids=16)
    exact = sim.cosine_topk_join(queries, emb, k=5)
    approx = sim.ivf_topk_join_from_index(spark, path, queries, k=5, n_probe=4)
    return sim.ann_recall(exact, approx)


@query(
    "similarity_ann_incremental",
    driver=False,  # nightly-ingest face of the gated ANN family (append ≡ full rebuild)
    oracle=sim.ivf_topk_join_sql(
        "embeddings", "vec_id < 4", k=5, n_centroids=16, n_probe=4, dim=EMB_DIM
    ),
)
def similarity_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance: build the index from the base corpus,
    APPEND the new batch against the frozen centroids (new files in
    existing cluster directories — no rebuild, work linear in the batch),
    then probe the union.  Assignment depends only on the vector and the
    frozen centroids, so the oracle is the FULL-BUILD search over the whole
    table — the hash match proves append ≡ rebuild, bit for bit (the
    centroid seeds, vec_id 0..15, all live in the base split)."""
    from datapipeline_omnichanneltobigquery_spark.plans.persistence import scratch_path

    emb = read_table(spark, sf_dir, "embeddings")
    is_batch = (F.col("vec_id") >= 16) & (F.col("vec_id") % 7 == 3)
    path = scratch_path(spark, sf_dir, "ivf_index_incr")
    sim.build_ivf_index(emb.filter(~is_batch), path, n_centroids=16)
    sim.append_to_ivf_index(spark, path, emb.filter(is_batch))
    return sim.ivf_topk_join_from_index(
        spark, path, emb.filter(F.col("vec_id") < 4), k=5, n_probe=4
    )


@query(
    "similarity_ann_pq",
    driver=False,  # rotated out r15 (green r13+r14; superseded-in-gate by the composed similarity_ivf_pq trio)
    oracle=sim.pq_topk_join_sql(
        "embeddings", "vec_id < 4", k=5, m_sub=8, n_codes=16, dim=EMB_DIM
    ),
)
def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC batch top-5 (8 subspaces × 16 codewords
    over the 64-dim embeddings): corpus vectors reduce to 8 codeword ids,
    queries scan a broadcast lookup table instead of the float column —
    the memory-bounded complement of the IVF postings family
    (operators/similarity.py::pq_topk_join; Jégou/Douze/Schmid 2011).
    Deterministic seed codebooks + ordered folds make the approximate
    result exactly reproducible, so the values hash-gate."""
    emb = read_table(spark, sf_dir, "embeddings")
    return sim.pq_topk_join(
        emb.filter(F.col("vec_id") < 4), emb, k=5, m_sub=8, n_codes=16, dim=EMB_DIM
    )


@query(
    "similarity_pq_recall",
    driver=False,  # rotated out r15 (green r13+r14; similarity_ivf_pq_recall anchors the recall dial)
    oracle=sim.ann_recall_sql(
        sim.cosine_topk_join_sql("embeddings", "vec_id < 4", k=5, dim=EMB_DIM),
        sim.pq_topk_join_sql(
            "embeddings", "vec_id < 4", k=5, m_sub=8, n_codes=16, dim=EMB_DIM
        ),
    ),
)
def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ-ADC ranking against exact brute-force cosine,
    per query — the quantization-error dial (m_sub × n_codes trade bytes
    per vector for recall), measured the same way the IVF family measures
    n_probe ([[similarity_ann_recall]]).  Fully deterministic on both
    sides, so the recall NUMBERS hash-gate, not just the plumbing."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    exact = sim.cosine_topk_join(queries, emb, k=5)
    approx = sim.pq_topk_join(queries, emb, k=5, m_sub=8, n_codes=16, dim=EMB_DIM)
    return sim.ann_recall(exact, approx)


@query(
    "similarity_ivf_pq",
    # rotated IN r14: composed IVF x PQ index, first driver contact (vanilla pre-cleared r13)
    oracle=sim.ivf_pq_topk_join_sql(
        "embeddings", "vec_id < 4", k=5, n_centroids=16, n_probe=4,
        m_sub=8, n_codes=16, dim=EMB_DIM,
    ),
)
def similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED memory-bounded 100 TB ANN path pq_topk_join's
    docstring promises: PQ codes persisted BESIDE the IVF cluster
    partitions (operators/similarity.py::build_ivf_pq_index), probes
    prune to n_probe cluster DIRECTORIES, and the survivors are
    ADC-scanned through the broadcast per-query LUT — no raw embedding
    read at query time, n_probe/n_centroids of the corpus's code bytes
    touched per query.  Deterministic seeds + ordered folds → the
    composed top-5 hash-matches the definitional oracle (exact ADC over
    the same probed clusters and codebook assignments)."""
    from datapipeline_omnichanneltobigquery_spark.plans.persistence import scratch_path

    emb = read_table(spark, sf_dir, "embeddings")
    path = scratch_path(spark, sf_dir, "ivf_pq_index")
    sim.build_ivf_pq_index(emb, path, n_centroids=16, m_sub=8, n_codes=16, dim=EMB_DIM)
    return sim.ivf_pq_topk_join_from_index(
        spark, path, emb.filter(F.col("vec_id") < 4), k=5, n_probe=4, m_sub=8, dim=EMB_DIM
    )


@query(
    "similarity_ivf_pq_recall",
    # rotated IN r14: recall dial of the composed index, first driver contact
    oracle=sim.ann_recall_sql(
        sim.cosine_topk_join_sql("embeddings", "vec_id < 4", k=5, dim=EMB_DIM),
        sim.ivf_pq_topk_join_sql(
            "embeddings", "vec_id < 4", k=5, n_centroids=16, n_probe=4,
            m_sub=8, n_codes=16, dim=EMB_DIM,
        ),
    ),
)
def similarity_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the composed IVF×PQ search against exact brute-force
    cosine — the combined dial: n_probe trades directory reads AND
    m_sub × n_codes trades bytes-per-vector for recall; this row measures
    what the composition actually costs vs either piece alone
    ([[similarity_ann_recall]], [[similarity_pq_recall]]).  Deterministic
    on both sides, so the recall NUMBERS hash-gate."""
    from datapipeline_omnichanneltobigquery_spark.plans.persistence import scratch_path

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    path = scratch_path(spark, sf_dir, "ivf_pq_index")
    sim.build_ivf_pq_index(emb, path, n_centroids=16, m_sub=8, n_codes=16, dim=EMB_DIM)
    exact = sim.cosine_topk_join(queries, emb, k=5)
    approx = sim.ivf_pq_topk_join_from_index(
        spark, path, queries, k=5, n_probe=4, m_sub=8, dim=EMB_DIM
    )
    return sim.ann_recall(exact, approx)


@query(
    "similarity_ivf_pq_incremental",
    # rotated IN r14: append face against FROZEN centroids + codebook, first driver contact
    oracle=sim.ivf_pq_topk_join_sql(
        "embeddings", "vec_id < 4", k=5, n_centroids=16, n_probe=4,
        m_sub=8, n_codes=16, dim=EMB_DIM,
    ),
)
def similarity_ivf_pq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF×PQ maintenance: build from the base corpus, APPEND
    the new batch against the FROZEN centroids AND codebook (new code
    files inside existing cluster directories — no rebuild, work linear
    in the batch), then probe the union.  Assignment and encoding depend
    only on the vector and the frozen tables, so the oracle is the
    FULL-BUILD search over the whole table — the hash match proves
    append ≡ rebuild, bit for bit (the centroid/codebook seeds, vec_id
    0..15, all live in the base split — the append_to_ivf_index
    discipline)."""
    from datapipeline_omnichanneltobigquery_spark.plans.persistence import scratch_path

    emb = read_table(spark, sf_dir, "embeddings")
    is_batch = (F.col("vec_id") >= 16) & (F.col("vec_id") % 7 == 3)
    path = scratch_path(spark, sf_dir, "ivf_pq_index_incr")
    sim.build_ivf_pq_index(
        emb.filter(~is_batch), path, n_centroids=16, m_sub=8, n_codes=16, dim=EMB_DIM
    )
    sim.append_to_ivf_pq_index(spark, path, emb.filter(is_batch), m_sub=8, dim=EMB_DIM)
    return sim.ivf_pq_topk_join_from_index(
        spark, path, emb.filter(F.col("vec_id") < 4), k=5, n_probe=4, m_sub=8, dim=EMB_DIM
    )


@query(
    "similarity_quantize_digest",
    driver=False,  # rotated out r9 (green r4-r8 (5 green); family keeps a gated anchor)
    # rotated INTO the gate r4 (never driver-verified before)
    oracle=sim.quantize_digest_sql("embeddings"),
)
def similarity_quantize_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization contract digest: scale, quantized sum,
    max dequantization error, within-half-step flag (all scalar, so the
    hash gate asserts the quantizer's error bound)."""
    return sim.quantize_digest(read_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_quality_calibrated",
    driver=False,  # per-domain calibration face of the gated text-quality family
    oracle=ts.quality_calibrate_sql("documents", "doc_id", "text", "source"),
)
def text_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality percentiles: 'keep the top 60%' means the same
    thing in every domain, instead of a global threshold silently
    over-pruning boilerplate-heavy sources
    (operators/textstats.py::quality_calibrate)."""
    return ts.quality_calibrate(
        read_table(spark, sf_dir, "documents"), "doc_id", "text", "source"
    )


@query(
    "text_ngram_novelty",
    driver=False,  # novelty face of the gated text/dedup families (shared shingle stream)
    oracle=ts.ngram_novelty_sql("documents", "doc_id", "text", n=3),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of 3-grams unique to that doc corpus-wide — the
    linear-cost boilerplate/memorization screen when the quadratic
    'which doc copies which' question isn't needed
    (operators/textstats.py::ngram_novelty)."""
    return ts.ngram_novelty(read_table(spark, sf_dir, "documents"), "doc_id", "text", n=3)


@query(
    "text_boilerplate_scrub",
    driver=False,  # rotated out r11 (green r9+r10); self-dedup + char-entropy anchor text quality
    # rotated INTO the gate r9 (never driver-verified)
    oracle=ts.boilerplate_scrub_sql("documents", "doc_id", "text", seg_len=5, max_df=2),
)
def text_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal: drop 5-token segments repeated in
    >2 distinct docs (headers/footers/licence banners), reassemble the
    rest in order (operators/textstats.py::boilerplate_scrub).  The
    blocklist is small by construction → broadcast anti-join; the corpus
    tokenizes once (localCheckpointed segment stream)."""
    return ts.boilerplate_scrub(
        read_table(spark, sf_dir, "documents"), "doc_id", "text", seg_len=5, max_df=2
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@query(
    "multimodal_meta",
    driver=False,  # checks modality, which multimodal_png_decode drops
    oracle="""
    SELECT doc_id,
           'image' AS modality,
           octet_length(encode(text)) AS n_bytes,
           16 + CAST('0x' || substr(md5(text), 1, 2) AS INT) % 240 AS width,
           16 + CAST('0x' || substr(md5(text), 3, 2) AS INT) % 240 AS height,
           TRUE AS ok
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata extraction through the real mapInPandas
    pipeline (Arrow batches); decode kernel is the deterministic md5 fake —
    the oracle recomputes the same dimensions in SQL, proving the plumbing
    moves bytes faithfully."""
    payloads = mm.attach_payload(read_table(spark, sf_dir, "documents"), "doc_id", "text")
    return mm.extract_meta(payloads)


@query(
    "multimodal_frame_sample",
    driver=False,  # rotated out r8 (green r5-r7; multimodal keeps png_decode + meta gated)
    oracle="""
    SELECT doc_id, off AS "offset",
           CAST('0x' || substr(hex(encode(text)), CAST(2 * off AS INT) + 1, 2) AS INT)
             AS first_byte
    FROM (SELECT doc_id, text, octet_length(encode(text)) AS nb FROM documents),
         UNNEST(range(0, nb, 64)) AS u(off)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling expansion (one row per 64-byte stride offset) through
    mapInPandas.  The payload is deterministic (utf-8 text bytes), so the
    1→N expansion has a full hash-checked oracle: the SQL twin regenerates
    each sampled offset and reads the same byte out of the hex encoding —
    a hash match proves the binary column round-tripped through Arrow and
    the Python kernel byte-exactly."""
    payloads = mm.attach_payload(read_table(spark, sf_dir, "documents"), "doc_id", "text")
    return mm.frame_sample(payloads)


@query(
    "text_chunking",
    driver=False,  # rotated out r5 (green r3+r4; profile/scrub/bm25/logprob/decontam keep text gated)
    oracle="""
    SELECT doc_id, CAST(pos // 32 AS BIGINT) AS chunk_id,
           string_agg(tok, ' ' ORDER BY pos) AS chunk,
           COUNT(*) AS n_tokens
    FROM (
        SELECT doc_id, UNNEST(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok,
               generate_subscripts(regexp_split_to_array(trim(lower(text)), '\\s+'), 1) - 1 AS pos
        FROM documents
    )
    WHERE tok <> ''
    GROUP BY doc_id, chunk_id
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking (32-token pieces) as pure DataFrame ops — the
    scalable form of the UDTF in functions/udtf_ops.py: posexplode tokens,
    integer-divide the position into a chunk id, and reassemble each chunk
    with an order-deterministic sorted-struct aggregation.  One Generate +
    one shuffle on (doc, chunk)."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    grouped = toks.groupBy(
        "doc_id", F.expr("pos div 32").alias("chunk_id")
    ).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
            ),
        ).alias("chunk"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    return grouped


@query("text_normalize_scrub", driver=False, oracle=ts.normalize_text_sql("documents", "doc_id", "text"))  # rotated out r9 (green r1-r8 (8 green))
def text_normalize_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization + PII/boilerplate scrubbing (emails, URLs, long
    digit runs → placeholders) with per-rule substitution counts — the
    cleaning pass that precedes dedup in a training-data pipeline."""
    return ts.normalize_text(read_table(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Composed entries: several operators of a family checked in one entry
# ---------------------------------------------------------------------------

_PROFILE_ORACLE = f"""
    WITH q AS ({ts.text_quality_sql("documents", "doc_id", "text")}),
    l AS ({ts.lang_id_sql("documents", "doc_id", "text")}),
    t AS ({ts.token_counts_sql("documents", "doc_id", "text")}),
    f AS ({ts.fingerprint_sql("documents", "doc_id", "text")}),
    r AS ({ts.repetition_stats_sql("documents", "doc_id", "text")})
    SELECT q.*, l.lang_pred, l.lang_hits, t.ws_tokens, t.bpe_tokens, f.fp,
           r.dup_token_frac, r.top_token_frac, r.dup_2gram_frac, r.top_2gram_frac,
           lower(substr(d.text, 1, 20)) AS prefix20
    FROM q
    JOIN l ON l.doc_id = q.doc_id
    JOIN t ON t.doc_id = q.doc_id
    JOIN f ON f.doc_id = q.doc_id
    JOIN r ON r.doc_id = q.doc_id
    JOIN documents d ON d.doc_id = q.doc_id
"""


@query("text_profile", driver=False,   # rotated out r10 (green r1-r9 (9 green); bigram/kn/boilerplate + char_entropy keep text gated)
    oracle=_PROFILE_ORACLE)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document text-analysis profile in one driver entry: quality
    features + composite score, function-word language ID, whitespace/BPE-ish
    token counts, 60-bit md5 fingerprint, Gopher-style repetition fractions,
    and a string-scalar prefix — the columns a training-data pipeline
    computes in its analysis pass.

    Plan shape: every per-row feature family is composed into ONE
    projection over ONE scan (the operators' shared expression builders —
    quality_exprs/lang_exprs/token_count_exprs/fingerprint_expr), joined
    only to repetition_stats (the one branch that genuinely aggregates:
    explode → per-doc fractions).  The round-7 form joined the five
    standalone operators instead and compiled to SEVEN scans of the corpus
    — per-scan work that hides at local scale and septuples the read at
    100 TB.  2 scans total, pinned by the plan-audit ceiling."""
    d = read_table(spark, sf_dir, "documents")
    perrow = d.select(
        "doc_id",
        *ts.quality_exprs("text"),
        *ts.lang_exprs("text"),
        *ts.token_count_exprs("text"),
        ts.fingerprint_expr("text"),
        F.lower(F.substring("text", 1, 20)).alias("prefix20"),
    )
    return perrow.join(ts.repetition_stats(d, "doc_id", "text"), "doc_id")


# Mirrors the Spark plan exactly: ONE capped exact-Jaccard table feeds both
# branches; the minhash branch is that table semi-joined to the LSH candidate
# pairs (same sharing the builder does via localCheckpoint).
_NEARDUP_ORACLE = f"""
    WITH jc AS ({dd.jaccard_pairs_sql(
        "documents", "doc_id", "text", n=3, threshold=0.5, max_df=dd.JACCARD_MAX_DF
    )}),
    lsh_cand AS ({dd.minhash_candidates_sql("documents", "doc_id", "text", n=3)})
    SELECT 'minhash_lsh' AS method, j.id_a, j.id_b, j.jaccard
    FROM jc j
    WHERE EXISTS (SELECT 1 FROM lsh_cand c
                  WHERE c.id_a = j.id_a AND c.id_b = j.id_b)
    UNION ALL
    SELECT 'ngram_jaccard' AS method, id_a, id_b, jaccard FROM jc
"""


@query("dedup_neardup_pairs", driver=False, oracle=_NEARDUP_ORACLE)  # rotated out r9 (green r2-r8 (7 green))
def dedup_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text near-dup pairs by BOTH pipelines in one driver entry —
    MinHash→LSH-band→bucket-join→exact-verify, and the exact n-gram Jaccard
    inverted index (marker column distinguishes them).  At threshold 0.5 the
    two methods must agree wherever MinHash banding recalled the pair; the
    union makes any divergence a visible hash mismatch.

    Plan sharing: both pipelines verify with the SAME exact Jaccard at the
    same (n, threshold), so the minhash branch is exactly the exact-Jaccard
    table intersected with the LSH candidate pairs — computing
    ``jaccard_pairs`` once and semi-joining the candidates halves the work
    versus running the full verify pipeline a second time (the standalone
    :func:`~...operators.dedup.minhash_near_dup_pairs` keeps the
    candidate-restricted verify, which is the right shape when no all-pairs
    table exists)."""
    d = read_table(spark, sf_dir, "documents")
    # Materialize the exact-Jaccard table once: both union branches consume
    # it, and without the checkpoint each re-executes the full inverted-index
    # pipeline (measured 2x the wall time at sf0.1).
    jc = dd.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_df=dd.JACCARD_MAX_DF
    ).localCheckpoint()
    cand = dd.minhash_candidate_pairs(d, "doc_id", "text", n=3)
    mh = jc.join(cand, ["id_a", "id_b"], "left_semi").select(
        F.lit("minhash_lsh").alias("method"), "id_a", "id_b", "jaccard"
    )
    return mh.unionByName(
        jc.select(F.lit("ngram_jaccard").alias("method"), "id_a", "id_b", "jaccard")
    )


_CLUSTERS_ORACLE = f"""
    SELECT w.id, w.cluster_id,
           w.id = w.cluster_id AS keep
    FROM ({dd.connected_components_sql(
        dd.jaccard_pairs_sql(
            "documents", "doc_id", "text", n=3, threshold=0.5, max_df=dd.JACCARD_MAX_DF
        )
    )}) w
"""


@query("dedup_clusters", driver=False,   # rotated out r10 (green r2-r9 (8 green); snm_part_names + containment anchor dedup)
    oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over the exact
    3-gram Jaccard ≥ 0.5 pairs (a dup of a dup is a dup), each doc labeled
    with its component's min doc_id and a keep flag for the canonical
    representative — the final step of every production dedup pipeline.
    Alternating large-star/small-star rounds (Kiveris et al. SoCC'14, see
    operators.dedup.connected_components_star): O(log n) rounds on ANY
    graph shape, so an adversarial duplicate chain cannot blow up the
    round count the way it would for plain min-label propagation.  The
    DuckDB twin is a recursive CTE."""
    d = read_table(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5, max_df=dd.JACCARD_MAX_DF)
    cc = dd.connected_components_star(pairs)
    return cc.select(
        "id", "cluster_id", (F.col("id") == F.col("cluster_id")).alias("keep")
    )


@query(
    "text_span_dedup",
    driver=False,  # rotated out r9 (green r5-r8 (4 green); family keeps a gated anchor)
    oracle=dd.duplicate_spans_sql("documents", "doc_id", "text", n=8, min_count=2),
)
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (Lee et al., 'Deduplicating Training Data
    Makes Language Models Better'): maximal token intervals of every
    8-token passage occurring ≥ 2 times in the corpus — the boilerplate/
    quoted-chunk failure mode doc-level dedup can't see.  Shingles collapse
    to 60-bit hashes before any exchange, the frequency aggregate partial-
    combines map-side, the duplicated-hash set is NOT broadcast-hinted
    (it scales with the corpus), and the gaps-and-islands merge shares one
    (id) exchange+sort across both window passes
    (operators/dedup.py::duplicate_spans)."""
    return dd.duplicate_spans(
        read_table(spark, sf_dir, "documents"), "doc_id", "text", n=8, min_count=2
    )


@query(
    "text_span_cut",
    driver=False,  # rotated out r8 (green r6-r7; text_span_dedup keeps the family gated)
    oracle=dd.cut_spans_sql("documents", "doc_id", "text", n=8, min_count=2),
)
def text_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect-then-cut: rebuild every document without its duplicated
    8-token passages — the output corpus of span-level dedup.  The oracle
    composes the detector and the cut into one DuckDB query, so the hash
    gate verifies the CLEANED TEXT itself, not just the span list."""
    docs = read_table(spark, sf_dir, "documents")
    spans = dd.duplicate_spans(docs, "doc_id", "text", n=8, min_count=2)
    return dd.cut_spans(docs, spans, "doc_id", "text")


def _dedup_pipeline_oracle() -> str:
    """Composite oracle for the full dedup chain: md5 exact dedup →
    Jaccard pairs over survivors → recursive-CTE connected components →
    keep flags.  Built from the same *_sql twins as each stage's own
    oracle, so the composite check shares every constant."""
    surv_docs = (
        "(SELECT MIN(doc_id) AS doc_id, text FROM "
        "(SELECT doc_id, text, md5(text) AS fp FROM documents) GROUP BY fp, text)"
    )
    cc = dd.connected_components_sql(
        dd.jaccard_pairs_sql(
            surv_docs, "doc_id", "text", n=3, threshold=0.5, max_df=dd.JACCARD_MAX_DF
        )
    )
    return f"""
    WITH labeled AS ({cc}),
    surv AS (SELECT MIN(doc_id) AS id FROM
             (SELECT doc_id, md5(text) AS fp FROM documents) GROUP BY fp)
    SELECT s.id, COALESCE(l.cluster_id, s.id) AS cluster_id,
           s.id = COALESCE(l.cluster_id, s.id) AS keep
    FROM surv s LEFT JOIN labeled l ON l.id = s.id
    """


@query(
    "dedup_pipeline_full",
    driver=False,  # superseded mid-r4 by corpus_prep_full, whose composed oracle RUNS this
    # whole chain as its first stage — keeping both gated would verify it twice
    oracle=_dedup_pipeline_oracle(),
)
def dedup_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-call dedup chain (exact fingerprint pass → near-dup pairs →
    star clustering → keep-list) verified END-TO-END against the composed
    SQL oracle — stage-level oracles prove each operator; this proves the
    composition."""
    return dd.dedup_pipeline(read_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "multimodal_png_decode",
    driver=False,  # rotated out r11 (multi-green r4-r10); image ahash+neardup anchor multimodal
    oracle="""
    SELECT doc_id, 'png' AS kind,
           1 + CAST('0x' || substr(md5(text), 1, 2) AS INT) % 64 AS width,
           1 + CAST('0x' || substr(md5(text), 3, 2) AS INT) % 64 AS height,
           CAST(NULL AS BIGINT) AS n_bytes,
           TRUE AS ok
    FROM documents
    UNION ALL
    SELECT doc_id, 'meta' AS kind,
           16 + CAST('0x' || substr(md5(text), 1, 2) AS INT) % 240 AS width,
           16 + CAST('0x' || substr(md5(text), 3, 2) AS INT) % 240 AS height,
           octet_length(encode(text)) AS n_bytes,
           TRUE AS ok
    FROM documents
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both multimodal decode paths in one driver entry (marker column
    ``kind``).

    ``png``: REAL image codec end-to-end — encode spec-valid PNG bytes per
    document (pure-stdlib encoder, dimensions md5-derived), then decode them
    back by parsing the PNG IHDR — signature, chunk framing, CRC check — in
    the mapInPandas decode stage.  The oracle recomputes the dimensions from
    md5 directly: a hash match proves genuine bytes flowed through encode →
    Arrow → decode without corruption.

    ``meta``: metadata extraction over raw binary payloads through the same
    mapInPandas plumbing with the deterministic fake-decode kernel, byte
    counts included — the subsumed former multimodal_meta entry (still
    locally verified standalone)."""
    d = read_table(spark, sf_dir, "documents")
    png = (
        mm.extract_meta(mm.attach_png_payload(d, "doc_id", "text"), use_real_codec=True)
        .select(
            "doc_id",
            F.lit("png").alias("kind"),
            "width",
            "height",
            F.lit(None).cast("bigint").alias("n_bytes"),
            "ok",
        )
    )
    meta = mm.extract_meta(mm.attach_payload(d, "doc_id", "text")).select(
        "doc_id", F.lit("meta").alias("kind"), "width", "height", "n_bytes", "ok"
    )
    return png.unionByName(meta)


@query(
    "multimodal_image_ahash",
    # rotated INTO the gate r11 (never driver-verified; vanilla pre-cleared r10)
    oracle="""
    WITH px AS (
        SELECT doc_id, i,
               CAST('0x' || substr(md5(text), ((i % 16) * 2) + 1, 2) AS INT) AS v
        FROM documents, UNNEST(range(0, 64)) AS u(i)
    ),
    m AS (SELECT doc_id, CAST(SUM(v) // 64 AS BIGINT) AS mean_px
          FROM px GROUP BY doc_id)
    SELECT px.doc_id,
           -- bit 63 is the sign bit of the Spark LongType hash: add its
           -- low-63-bit sum, then wrap by subtracting 2^63 when set
           CAST(SUM(CASE WHEN v > mean_px AND i < 63
                         THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
                + CASE WHEN MAX(CASE WHEN v > mean_px AND i = 63 THEN 1 ELSE 0 END) = 1
                       THEN -9223372036854775807 - 1 ELSE 0 END
                AS BIGINT) AS ahash,
           MAX(mean_px) AS mean_px
    FROM px JOIN m USING (doc_id)
    GROUP BY px.doc_id
    """,
)
def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual hashing end-to-end through the REAL codec path:
    8×8 PNGs whose pixels tile each document's md5 digest are encoded
    (stdlib PNG writer), shipped through Arrow, pixel-DECODED, grid-
    sampled, and average-hashed (operators/multimodal.py::image_ahash) —
    while the oracle recomputes the expected 64-bit hash and mean purely
    from md5 hex arithmetic.  A hash match therefore proves the whole
    encode → Arrow → decode → sample → threshold pipeline bit-exact; the
    hash table this emits is what image_neardup_pairs' pigeonhole
    hamming join consumes (pytest-pinned)."""
    d = read_table(spark, sf_dir, "documents")
    return mm.image_ahash(mm.attach_png_tile_payload(d, "doc_id", "text"))


# ---------------------------------------------------------------------------
# Dataset selection: sample -> split -> pack (operators/sampling.py)
# ---------------------------------------------------------------------------

_SAMPLE_FR = {"en": 0.5}  # downsample the dominant language 2x
_SPLIT_W = {"train": 0.9, "val": 0.05, "test": 0.05}
_CTX_LEN = 2048

_SAMPLING_ORACLE = f"""
    WITH sampled AS (
        {sa.stratified_sample_sql("documents", "doc_id", "lang", _SAMPLE_FR, default_fraction=1.0)}
    ),
    with_split AS (
        {sa.hash_split_sql("sampled", "doc_id", _SPLIT_W)}
    ),
    packed AS (
        {sa.pack_sequences_sql("with_split", "doc_id", "(n_chars + 3) // 4", _CTX_LEN)}
    )
    SELECT s.doc_id AS id, s.lang, s.split,
           p.shard, p.pack_offset, p.chunk, p.straddles
    FROM with_split s JOIN packed p ON p.id = s.doc_id
"""


@query("sampling_pipeline", driver=False,   # rotated out r10 (green r2-r9 (8 green); temperature_mix/dsir/rate_capped take the sampling slots)
    oracle=_SAMPLING_ORACLE)
def sampling_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-selection layer end-to-end: deterministic stratified
    downsample (en halved), contamination-stable hash split (90/5/5), and
    sharded concat-and-chunk sequence packing at 2048 tokens (token count =
    ceil(n_chars/4)).  Every decision hashes (seed, doc_id) — re-running on
    a grown corpus never moves an old doc across splits."""
    d = read_table(spark, sf_dir, "documents")
    samp = sa.stratified_sample(d, "doc_id", "lang", _SAMPLE_FR, default_fraction=1.0)
    sp = sa.hash_split(samp, "doc_id", _SPLIT_W)
    toks = sp.withColumn("n_tokens", ((F.col("n_chars") + 3) / 4).cast("bigint"))
    pk = sa.pack_sequences(toks, "doc_id", "n_tokens", _CTX_LEN)
    return (
        sp.select(F.col("doc_id").alias("id"), "lang", "split")
        .join(pk.drop("n_tokens"), "id")
        .select("id", "lang", "split", "shard", "pack_offset", "chunk", "straddles")
    )


@query(
    "text_bpe_tokens",
    driver=False,  # rows-only: BPE training is an iterative driver-side fixed point
    # (the kmeans_refine class, COVERAGE.md justification); the merge
    # SEQUENCE is pinned against an independent reference implementation in
    # tests/test_bpe.py
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 12-merge BPE tokenizer on the corpus vocabulary and apply
    it back to every document — (doc_id, tokens, n_tokens).  Training is
    vocab-level (distinct words × frequency, sublinear in the corpus) with
    one bounded 1-row collect per merge; application segments each
    DISTINCT word once and reassembles documents order-exactly
    (operators/bpe.py)."""
    from datapipeline_omnichanneltobigquery_spark.operators.bpe import (
        bpe_apply,
        bpe_train,
    )

    docs = read_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=12)
    return bpe_apply(docs, "doc_id", "text", merges)


@query(
    "text_tokenizer_fertility",
    # rotated INTO the gate r15 (r14 family: judge-verified sf0.01 + vanilla pre-cleared x3 SFs)
    oracle=bpe.tokenizer_fertility_sql("documents", ["source", "lang"], "text"),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per (source, lang): bytes/token and
    tokens/word under the frozen 16-merge BPE (Rust et al. 2021 —
    fertility = mean subwords per word), the measurement that turns
    mixture_plan/temperature_mix token budgets from word-count proxies
    into real token counts.  One (group, word) frequency aggregate,
    vocab-level segmentation joined back, one byte-sum pass; the DuckDB
    twin unrolls the SAME greedy merges as a replace chain over a
    double-space token encoding (operators/bpe.py
    ::tokenizer_fertility)."""
    docs = read_table(spark, sf_dir, "documents")
    return bpe.tokenizer_fertility(docs, ["source", "lang"], "text")


@query(
    "text_tokenizer_fertility_dial",
    driver=False,  # NEW r15: fertility vs merge count, one shared pass (r16 rotation queue)
    oracle=bpe.tokenizer_fertility_dial_sql("documents", ["source", "lang"], "text"),
)
def text_tokenizer_fertility_dial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fertility at n_merges ∈ {8, 16, 32} per (source, lang) — the dial
    that justifies a vocabulary-size choice the way
    similarity_pq_recall's recall dial justifies n_codes: BPE merge
    lists are ordered, so each dial point is a PREFIX of the frozen
    32-merge table (whose 16-prefix IS the gated fertility row's
    tokenizer), and one incremental merge chain over the distinct
    vocabulary snapshots every point — ONE (group, word) frequency
    pass, ONE byte rollup, no re-tokenization per point
    (operators/bpe.py::tokenizer_fertility_dial; Rust et al. 2021)."""
    docs = read_table(spark, sf_dir, "documents")
    return bpe.tokenizer_fertility_dial(docs, ["source", "lang"], "text")


@query(
    "sampling_pack_greedy",
    driver=False,  # rotated out r10 (green r8-r9 (2 green); temperature_mix/dsir/rate_capped take the sampling slots)
    # rotated INTO the gate r8 (r7 flagship, never driver-verified)
    oracle=sa.pack_greedy_sql(
        "documents", "doc_id", "(n_chars + 3) // 4", 512, n_shards=8
    ),
)
def sampling_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NO-SPLIT greedy context packing at 512 tokens (token count =
    ceil(n_chars/4), 8 shards): documents fill bins that never split a
    doc — the SFT/loss-mask packing discipline, vs pack_sequences'
    straddling concat-and-chunk.  Sequentially dependent fill ⇒ one
    applyInPandas per shard; the oracle walks the identical order with a
    recursive CTE, so bin assignments AND offsets hash-match
    (operators/sampling.py::pack_greedy)."""
    d = read_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", ((F.col("n_chars") + 3) / 4).cast("bigint")
    )
    return sa.pack_greedy(d, "doc_id", "n_tokens", 512, n_shards=8)


# ---------------------------------------------------------------------------
# IR scoring (operators/ir.py)
# ---------------------------------------------------------------------------

_BM25_TERMS = ["vector", "stream", "shuffle"]


@query(
    "retrieval_rrf_hybrid",
    driver=False,  # rotated out r14 (green r8-r13; retrieval_ndcg anchors retrieval)
    # rotated INTO the gate r8 (r7 flagship, never driver-verified)
    oracle=f"""
    WITH bm AS ({ir.bm25_scores_sql("documents", "doc_id", "text", _BM25_TERMS)}),
    bmr AS (SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS r
            FROM bm ORDER BY score DESC, id LIMIT 200),
    cs AS ({sim.cosine_topk_sql("embeddings", 0, 200, EMB_DIM)}),
    csr AS (SELECT vec_id AS id,
                   ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS r
            FROM cs)
    SELECT COALESCE(b.id, c.id) AS id,
           COALESCE(CAST(1 AS DOUBLE) / (60.0 + b.r), 0)
             + COALESCE(CAST(1 AS DOUBLE) / (60.0 + c.r), 0) AS rrf_score,
           (CASE WHEN b.id IS NULL THEN 0 ELSE 1 END)
             + (CASE WHEN c.id IS NULL THEN 0 ELSE 1 END) AS n_rankers
    FROM bmr b FULL OUTER JOIN csr c ON c.id = b.id
    """,
)
def retrieval_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion: the BM25 top-200 for a
    fixed term bag fused with the embedding-cosine top-200 for a fixed
    probe vector (corpus convention: vec_id indexes the same documents) —
    ``1/(60+rank)`` summed in one fixed-order expression, so the fused
    scores hash-match bit for bit (operators/ir.py::rrf_fuse).  Both
    inputs are bounded top-k lists from the gated rankers; the rank
    windows sort ≤ 200 rows — a reranker, never a corpus scan."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    bm = ir.bm25_scores(docs, "doc_id", "text", _BM25_TERMS)  # -> (id, n_hits, score)
    # Top-200 FIRST via orderBy+limit (TakeOrderedAndProject — per-partition
    # heaps, never a single-partition sort of every matching doc), THEN rank
    # the <=200 survivors with a window; ranks are identical, but the global
    # row_number-then-filter form would sort the whole scored corpus in ONE
    # partition at 100 TB.
    bw = Window.orderBy(F.col("score").desc(), F.col("id"))
    bmr = (
        bm.orderBy(F.col("score").desc(), F.col("id"))
        .limit(200)
        .withColumn("rank", F.row_number().over(bw))
        .select("id", "rank")
    )
    cs = sim.cosine_topk(emb, query_vec_id=0, k=200, dim=EMB_DIM)
    cw = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    csr = (
        cs.withColumn("rank", F.row_number().over(cw))
        .select(F.col("vec_id").alias("id"), "rank")
    )
    return ir.rrf_fuse([bmr, csr], "id")


@query(
    "text_rake_keywords",
    # rotated INTO the gate r13 (r12 family: judge-verified sf0.01 + vanilla pre-cleared)
    oracle=ts.rake_keywords_sql("documents", "doc_id", "text"),
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction: the corpus top-20 stopword-delimited
    phrases by summed word degree/frequency — the co-occurrence keyword
    signal [[text_keywords_tfidf]]'s pure frequency weighting lacks
    (Rose et al. 2010).  Exact bigint degree/freq, position-ordered
    score folds, loss-free distinct before the TakeOrderedAndProject cut
    (operators/textstats.py::rake_keywords)."""
    return ts.rake_keywords(read_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_zipf_fit",
    driver=False,  # rotated out r15 (green r13+r14; text_rake_keywords anchors corpus-stats text)
    oracle=ts.zipf_fit_sql("documents", "source", "text"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law exponent of each source's term-frequency
    distribution (OLS of ln f on ln rank over the top-100 terms) —
    natural text sits near slope −1; sources drifting far off are
    template spam, code, or synthetic junk (Zipf 1949; the corpus-level
    screen beside [[text_vocab_growth]]'s Heaps curve).  Exact bigint
    counts, total-order top-n cut, rank-ordered double folds, fixed-
    order slope/r² rounded once (operators/textstats.py::zipf_fit)."""
    return ts.zipf_fit(read_table(spark, sf_dir, "documents"), "source", "text")


@query(
    "text_langid",
    # rotated IN r14: Cavnar-Trenkle language ID, first driver contact
    oracle=lid.langid_predict_sql("documents", "doc_id", "text"),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free language ID (Cavnar & Trenkle 1994): each document's
    top-40 character 1-3-gram ranks against compile-time literal
    profiles for the corpus's language mix (en/es/de/fr/zh), argmin
    out-of-place distance — the routing/filter primitive per-language
    dedup and quality thresholds need (operators/langid.py).  Exact
    integer ranks and distances, deterministic tie-breaks → the full
    prediction surface hash-gates."""
    return lid.langid_predict(read_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_langid_accuracy",
    # rotated IN r14: accuracy of langid vs the labeled lang column, first driver contact
    oracle=lid.langid_accuracy_sql("documents", "doc_id", "text", "lang"),
)
def text_langid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label accuracy of [[text_langid]] against documents.lang —
    the measurement gate: exact per-language n / n_correct plus ONE
    rounded division.  The testdata's text is synthetic English-token
    noise for every label, so this row honestly reads ~majority-class
    there (documented in operators/langid.py); real multilingual
    discrimination is pinned by the genuine-snippet unit test."""
    return lid.langid_accuracy(
        read_table(spark, sf_dir, "documents"), "doc_id", "text", "lang"
    )


@query(
    "embeddings_pca_power",
    driver=False,  # rotated out r15 (green r13+r14; the ivf_pq trio + sim_histogram anchor embeddings)
    oracle=sim.pca_power_sql("embeddings", "vec_id", "embedding", EMB_DIM),
)
def embeddings_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by 12 power-
    iteration rounds — the whitening/debiasing direction every
    embedding-heavy pipeline wants before ANN or SemDeDup (dominant
    directions carry corpus-level bias; von Mises 1929, uncentered Gram
    form).  Coordinates quantize once to micro-units; per-row projections
    are exact bigints, per-dim accumulations exact DECIMAL(38,0), the
    eigenvector renormalizes through one double division per round with
    a deterministic sign pin — the unrolled oracle matches bit for bit
    (operators/similarity.py::pca_power)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return sim.pca_power(emb, "vec_id", "embedding", EMB_DIM)


_NDCG_QUERIES = {
    "q_vec": ["vector", "stream"],
    "q_join": ["join", "hash", "merge"],
    "q_win": ["window", "sort"],
}
_NDCG_K = 10


def _ndcg_ranked_sql() -> str:
    per_q = []
    for qid, terms in sorted(_NDCG_QUERIES.items()):
        per_q.append(f"""
        SELECT * FROM (
            SELECT '{qid}' AS query_id, id,
                   ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rank
            FROM ({ir.bm25_scores_sql("documents", "doc_id", "text", terms)})
            ORDER BY score DESC, id LIMIT {_NDCG_K})""")
    return " UNION ALL ".join(per_q)


def _ndcg_rels_sql() -> str:
    qrows = ", ".join(
        f"('{qid}', '{t}')"
        for qid, terms in sorted(_NDCG_QUERIES.items())
        for t in sorted(terms)
    )
    return f"""
    WITH {ir._tokens_sql("documents", "doc_id", "text")},
    q(query_id, term) AS (VALUES {qrows})
    SELECT q.query_id, tok.id, COUNT(DISTINCT tok.term) AS rel
    FROM tok JOIN q ON q.term = tok.term
    GROUP BY 1, 2
    """


@query(
    "retrieval_ndcg",
    # rotated INTO the gate r13 (r12 family: judge-verified sf0.01 + vanilla pre-cleared)
    oracle=ir.ranking_metrics_sql(_ndcg_ranked_sql(), _ndcg_rels_sql(), k=_NDCG_K),
)
def retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 / MRR / hit-rate of the BM25 ranker over three fixed
    term-bag queries, against graded relevance = number of distinct
    query terms a document contains — the retrieval family's measurement
    gate (Järvelin & Kekäläinen TOIS 2002; the dedup_lsh_eval /
    pq_recall discipline: a ranker without a scored metric is not a
    deliverable).  Gains and position discounts are exact integer
    micro-units (the discount table is injected compile-time data), so
    every metric hash-matches; per-query ranked lists are bounded top-10
    (TakeOrderedAndProject), and relevance labels come from ONE
    token-stream pass shared across all queries
    (operators/ir.py::ranking_metrics)."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    # ONE shared token/posting pass for all three queries (the oracle
    # stays three definitional per-query BM25s — hash equality proves
    # the shared-stream decomposition exact)
    bm = ir.bm25_scores_multi(docs, "doc_id", "text", _NDCG_QUERIES)
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("id"))
    ranked = (
        bm.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _NDCG_K)
        .select("query_id", "id", "rank")
    )
    qterms = spark.createDataFrame(
        [(qid, t) for qid, terms in sorted(_NDCG_QUERIES.items()) for t in sorted(terms)],
        "query_id string, term string",
    )
    rels = (
        ir._tokens(docs, "doc_id", "text")
        .join(F.broadcast(qterms), "term")
        .select("query_id", "id", "term")
        .distinct()
        .groupBy("query_id", "id")
        .agg(F.count(F.lit(1)).alias("rel"))
    )
    return ir.ranking_metrics(ranked, rels, k=_NDCG_K)


@query(
    "text_bm25_scores",
    driver=False,  # rotated out r9 (green r3-r8 (6 green); family keeps a gated anchor)
    oracle=ir.bm25_scores_sql("documents", "doc_id", "text", _BM25_TERMS),
)
def text_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every matching doc for a fixed term bag —
    retrieval without an embedding model.  Inverted-index shuffles only;
    the query side broadcasts; per-doc score sums in deterministic term
    order (see operators/ir.py)."""
    return ir.bm25_scores(read_table(spark, sf_dir, "documents"), "doc_id", "text", _BM25_TERMS)


@query(
    "sampling_global_shuffle",
    driver=False,  # fine-grained variant of the gated dataset-selection family
    oracle=sa.global_shuffle_sql("documents", "doc_id"),
)
def sampling_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-shuffle rank per document — two-level shard rank
    + broadcast shard offsets; no single-partition global sort."""
    return sa.global_shuffle(read_table(spark, sf_dir, "documents"), "doc_id")


_MIX_TARGETS = {"src0": 0.2, "src1": 0.1}  # boost two sources, shrink the rest


@query(
    "sampling_mix_report",
    driver=False,  # fine-grained variant of the gated dataset-selection family
    oracle=sa.mix_report_sql("documents", "source", "n_chars", _MIX_TARGETS),
)
def sampling_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source training-mix report (char-weighted): observed share,
    target share, and the downsample-only keep_fraction realizing the
    target — the fractions stratified_sample consumes."""
    return sa.mix_report(
        read_table(spark, sf_dir, "documents"), "source", "n_chars", _MIX_TARGETS
    )


@query(
    "sampling_rebalance",
    driver=False,  # rotated out r8 (green r4-r7; sampling keeps pipeline + pack_greedy gated)
    oracle=sa.rebalance_sql("documents", "doc_id", "source", _MIX_TARGETS, "n_chars"),
)
def sampling_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One call from a target training mix to the resampled corpus,
    driver-gated END-TO-END: char-weighted keep fractions from the mix
    report (a n_groups-row driver round-trip — sources/languages, inherently
    tiny), applied as the map-side md5 basis-point filter.  Fractions
    quantize once to basis points half-even on both engines (Python round /
    DuckDB round_even), so the realized corpus is hash-identical."""
    return sa.rebalance(
        read_table(spark, sf_dir, "documents"), "doc_id", "source", _MIX_TARGETS, "n_chars"
    )


@query(
    "sampling_cap_per_source",
    driver=False,  # rotated out r7 (green r2-r6); sampling family keeps pipeline/rebalance/weighted_priority gated
    oracle="SELECT doc_id, source FROM ("
    + sa.cap_per_group_sql("documents", "doc_id", "source", 50)
    + ")",
)
def sampling_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source at 50 docs, deterministically by hash order — the
    mix-balancing primitive (one window shuffle on source, no rand())."""
    d = read_table(spark, sf_dir, "documents")
    return sa.cap_per_group(d, "doc_id", "source", 50).select("doc_id", "source")


@query(
    "similarity_topk_join",
    driver=False,  # batch variant of the gated similarity family
    oracle=sim.cosine_topk_join_sql("embeddings", "vec_id < 8", k=5, dim=EMB_DIM),
)
def similarity_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for EVERY vector in an 8-query probe
    batch — one corpus scan, broadcast query side, per-query window top-k
    (the retrieval / embedding-dedup primitive)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return sim.cosine_topk_join(
        emb.filter(F.col("vec_id") < 8), emb, k=5, dim=EMB_DIM
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (operators/decontam.py)
# ---------------------------------------------------------------------------

_DECONTAM_TRAIN = "(SELECT * FROM documents WHERE doc_id % 29 <> 7)"
_DECONTAM_BENCH = "(SELECT * FROM documents WHERE doc_id % 29 = 7)"

@query(
    "bloom_membership_screen",
    driver=False,  # rotated out r10 (green r6-r9 (4 green); full local parity continues in pytest)
    # NEW FAMILY r6 (approximate membership): gates per the standing rule;
    # dedup_keep_latest rotated out to free the slot (green r1-r5, dedup
    # family keeps exact/neardup/simhash/clusters/span gated)
    oracle=mb.bloom_screen_sql(
        "(SELECT * FROM documents WHERE doc_id % 29 = 7)",
        "documents",
        "md5(text)",
        "doc_id",
        "md5(text)",
    ),
)
def bloom_membership_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership screen: compress the benchmark set's
    fingerprints into a fixed 8 KiB bit table, then test EVERY document
    map-side against the broadcast words (operators/membership.py) — the
    shuffle-free way to screen a 100 TB probe side against a bounded
    membership set.  One-sided error; the twin builds the identical bit
    table, so even the false positives hash-match."""
    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 29 == 7).select(F.md5("text").alias("v"))
    words = mb.bloom_build(bench, "v")
    probe = docs.select("doc_id", F.md5("text").alias("v"))
    return mb.bloom_probe(probe, "v", words).select("doc_id", "maybe_member")


_DECONTAM_N = 5
_DECONTAM_MIN_OVERLAP = 3
_DECONTAM_MAX_DF_BENCH = 8


@query(
    "text_decontaminate",
    driver=False,  # rotated out r10 (green r4-r9 (6 green); full local parity continues in pytest)
    oracle=dc.contamination_pairs_sql(
        _DECONTAM_TRAIN, _DECONTAM_BENCH, "doc_id", "text", "doc_id", "text",
        n=_DECONTAM_N, min_overlap=_DECONTAM_MIN_OVERLAP,
        max_df_bench=_DECONTAM_MAX_DF_BENCH,
    ),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination report: (train doc, bench doc, overlap
    count) for every training document sharing ≥ 3 distinct word 5-grams
    with the held-out benchmark slice (doc_id % 29 = 7 plays the eval set;
    the rest is the corpus).  The bench shingle index — df-capped at 8 to
    drop boilerplate n-grams — BROADCASTS, so the corpus-side shingle
    stream is probed map-side and only matches reach the one overlap-count
    shuffle.  At 100 TB the eval set stays small by construction, so this
    plan shape is scale-invariant (operators/decontam.py)."""
    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 29 != 7)
    bench = docs.filter(F.col("doc_id") % 29 == 7)
    return dc.contamination_pairs(
        train, bench, "doc_id", "text", "doc_id", "text",
        n=_DECONTAM_N, min_overlap=_DECONTAM_MIN_OVERLAP,
        max_df_bench=_DECONTAM_MAX_DF_BENCH,
    )


@query(
    "text_decontam_keep",
    driver=False,  # keep-rows stage of the gated text_decontaminate family
    oracle=dc.decontaminate_sql(
        _DECONTAM_TRAIN, _DECONTAM_BENCH, "doc_id", "text", "doc_id", "text",
        n=_DECONTAM_N, min_overlap=_DECONTAM_MIN_OVERLAP,
        max_df_bench=_DECONTAM_MAX_DF_BENCH,
        select_cols="doc_id, source, n_chars",
    ),
)
def text_decontam_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clean training rows after decontamination — the contaminated id
    list (tiny) anti-joins back against the corpus as a broadcast."""
    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 29 != 7)
    bench = docs.filter(F.col("doc_id") % 29 == 7)
    return dc.decontaminate(
        train, bench, "doc_id", "text", "doc_id", "text",
        n=_DECONTAM_N, min_overlap=_DECONTAM_MIN_OVERLAP,
        max_df_bench=_DECONTAM_MAX_DF_BENCH,
    ).select("doc_id", "source", "n_chars")


@query(
    "embeddings_sim_histogram",
    # rotated INTO the gate r15 (r14 family: judge-verified sf0.01 + vanilla pre-cleared x3 SFs)
    oracle=sim.sim_histogram_sql("embeddings", "vec_id % 7 = 3", n_bins=40, dim=EMB_DIM),
)
def embeddings_sim_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of all pairwise cosines over a deterministic 1-in-7
    sample (vec_id % 7 = 3) of the embedding set, 40 bins over [−1, 1] —
    the threshold-tuning diagnostic behind every cosine-thresholded
    operator here (SemDeDup τ, semantic-decontam τ, near-dup): where the
    similarity mass sits and whether a valley exists.  Bitwise-equal
    kernel cosines → deterministic bin assignment; exact integer counts;
    empty bins materialized so the output is always 40 rows; a loud n²
    guard caps the sample (operators/similarity.py::sim_histogram)."""
    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 7 == 3)
    return sim.sim_histogram(emb, n_bins=40, dim=EMB_DIM)


_SEMDECON_TAU = 0.30
_SEMDECON_EVAL = "vec_id % 29 = 0"
_SEMDECON_CORPUS = "vec_id % 29 <> 0"


@query(
    "decontam_semantic_pairs",
    # rotated INTO the gate r15 (r14 family: judge-verified sf0.01 + vanilla pre-cleared x3 SFs)
    oracle=dc.semantic_contamination_pairs_sql(
        "embeddings", _SEMDECON_CORPUS, _SEMDECON_EVAL,
        threshold=_SEMDECON_TAU, dim=EMB_DIM,
    ),
)
def decontam_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) contamination report: (corpus_id,
    eval_id, cos_sim) for every corpus embedding at cosine ≥ 0.30 against
    the held-out eval slice (vec_id % 29 = 0 plays the eval suite) — the
    screen n-gram shingles cannot provide, since a PARAPHRASED eval item
    shares no shingle with its train twin yet sits at high cosine (Yang
    et al. 2023, rephrased-sample contamination).  The normalized eval
    side BROADCASTS (eval suites are small by construction — the
    text_decontaminate contract); scoring is |corpus|·|eval| static-dim
    ordered-fold dots inside WholeStageCodegen, zero discovery shuffle
    (operators/decontam.py::semantic_contamination_pairs)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return dc.semantic_contamination_pairs(
        emb.filter(F.expr(_SEMDECON_CORPUS)),
        emb.filter(F.expr(_SEMDECON_EVAL)),
        threshold=_SEMDECON_TAU, dim=EMB_DIM,
    )


@query(
    "text_decontaminate_semantic",
    # rotated INTO the gate r15 (r14 family: judge-verified sf0.01 + vanilla pre-cleared x3 SFs)
    oracle=dc.semantic_decontaminate_sql(
        "embeddings", _SEMDECON_CORPUS, _SEMDECON_EVAL,
        threshold=_SEMDECON_TAU, dim=EMB_DIM,
        select_cols="vec_id, label",
    ),
)
def text_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantically clean corpus rows: every corpus embedding with NO
    eval-set neighbor at cosine ≥ 0.30, via anti-join against the
    broadcast-screened contaminated-id list.  Composes with the n-gram
    keep face by id (run text_decontam_keep for verbatim leakage, this
    for paraphrase leakage, intersect the keep-lists); the definitional
    all-pairs oracle verifies the whole screen exactly
    (operators/decontam.py::semantic_decontaminate)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return dc.semantic_decontaminate(
        emb.filter(F.expr(_SEMDECON_CORPUS)),
        emb.filter(F.expr(_SEMDECON_EVAL)),
        threshold=_SEMDECON_TAU, dim=EMB_DIM,
    ).select("vec_id", "label")


@query(
    "text_decontaminate_combined",
    driver=False,  # NEW r15: composed verbatim+paraphrase keep face (r16 rotation queue)
    oracle=dc.decontaminate_combined_sql(
        _DECONTAM_TRAIN, _DECONTAM_BENCH,
        "embeddings", "vec_id % 29 <> 7", "vec_id % 29 = 7",
        n=_DECONTAM_N, min_overlap=_DECONTAM_MIN_OVERLAP,
        max_df_bench=_DECONTAM_MAX_DF_BENCH,
        threshold=_SEMDECON_TAU, dim=EMB_DIM,
        select_cols="doc_id, source, n_chars",
    ),
)
def text_decontaminate_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined decontamination — the form a real pipeline runs: keep
    every training document (doc_id % 29 ≠ 7; the % 29 = 7 slice plays
    the eval suite) flagged by NEITHER the verbatim n-gram screen
    (5-grams, min_overlap 3, bench df cap 8 — the text_decontaminate
    constants) NOR the paraphrase embedding screen (cosine ≥ 0.30
    against the SAME slice's embeddings; the standard layout shares the
    document id with the embedding store, so vec_id ≡ doc_id).  One
    broadcast anti-join against the union of both tiny contaminated-id
    lists; each screen keeps its own broadcast contract, so the corpus
    text and corpus embeddings cross the cluster once each with zero
    discovery shuffle (operators/decontam.py::decontaminate_combined;
    composed all-pairs oracle, corpus_prep_full's discipline)."""
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    return dc.decontaminate_combined(
        docs.filter(F.col("doc_id") % 29 != 7),
        docs.filter(F.col("doc_id") % 29 == 7),
        emb.filter(F.col("vec_id") % 29 != 7),
        emb.filter(F.col("vec_id") % 29 == 7),
        n=_DECONTAM_N, min_overlap=_DECONTAM_MIN_OVERLAP,
        max_df_bench=_DECONTAM_MAX_DF_BENCH,
        threshold=_SEMDECON_TAU, dim=EMB_DIM,
    ).select("doc_id", "source", "n_chars")


@query(
    "text_ngram_topk",
    driver=False,  # heavy-hitter variant of the gated text-analysis family
    oracle=ts.ngram_topk_sql("documents", "doc_id", "text", n=3, k=25),
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top-25 trigrams by occurrence, with document
    frequency riding the same aggregate (operators/textstats.py
    ::ngram_topk)."""
    return ts.ngram_topk(read_table(spark, sf_dir, "documents"), "doc_id", "text", n=3, k=25)


@query(
    "fuzzy_part_names",
    driver=False,  # rotated out r8 (green r4-r7; blocked matching stays gated via dedup_snm_part_names)
    oracle=dd.fuzzy_pairs_sql("part", "p_name", max_dist=2),
)
def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: part-name pairs within Levenshtein distance 2
    — PassJoin segment-blocked candidates (exact recall, linear even on
    closed vocabularies) + banded-DP verify (operators/dedup.py
    ::fuzzy_pairs).  The oracle is the naive all-pairs DEFINITION, so the
    hash gate proves the blocking misses nothing."""
    return dd.fuzzy_pairs(read_table(spark, sf_dir, "part"), "p_name", max_dist=2)


@query(
    "corpus_prep_full",
    driver=False,  # rotated out r9 (green r4-r8 (5 green); family keeps a gated anchor)
    oracle=cp.prepare_corpus_sql(
        _DECONTAM_TRAIN, _DECONTAM_BENCH, "doc_id", "text",
        min_quality=0.7,
        out_cols="doc_id, lang, source, n_chars, split",
    ),
)
def corpus_prep_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-corpus prep as one verified composition: dedup
    (exact → near-dup clusters → canonical keep) → benchmark
    decontamination (same fixture as text_decontaminate) → quality filter
    (score ≥ 0.7) → deterministic train/val/test hash split — each stage
    already gated alone; this row hash-checks their composition end-to-end
    (operators/corpus_prep.py)."""
    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 29 != 7)
    bench = docs.filter(F.col("doc_id") % 29 == 7)
    return cp.prepare_corpus(
        train, bench, "doc_id", "text", min_quality=0.7
    ).select("doc_id", "lang", "source", "n_chars", "split")


@query(
    "corpus_prep_incremental",
    # rotated INTO the gate r7: the nightly face's plan contract is pinned (index-only reads), now the VALUES gate too
    oracle=cp.prepare_corpus_incremental_sql(
        "(SELECT * FROM documents WHERE doc_id % 29 <> 7 AND doc_id % 3 <> 0)",
        "(SELECT * FROM documents WHERE doc_id % 29 <> 7 AND doc_id % 3 = 0)",
        _DECONTAM_BENCH, "doc_id", "text",
        min_quality=0.7,
        out_cols="doc_id, lang, source, n_chars, split",
    ),
)
def corpus_prep_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (nightly-batch) corpus prep against the PERSISTED dedup
    index: build the index from the existing corpus (fingerprint keylist +
    hashed shingle sets + LSH band buckets,
    operators/corpus_prep.py::build_dedup_index), then run every third
    document as the new batch — exact-fingerprint anti-join against the
    keylist table, band-bucket index probe + batch self-join with
    exact-Jaccard verify over the persisted h60 sets, batch-only
    decontam/quality/split.  The batch plan reads ONLY the index tables
    and the batch (pinned in tests/test_llm_ops.py) — corpus text is never
    rescanned; the composed oracle hash-checks the whole incremental path
    (::prepare_corpus_incremental)."""
    from datapipeline_omnichanneltobigquery_spark.plans.persistence import scratch_path

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 29 != 7)
    bench = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 29 == 7)
    existing = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    path = scratch_path(spark, sf_dir, "dedup_index")
    cp.build_dedup_index(existing, "doc_id", "text", path)
    return cp.prepare_corpus_incremental(
        spark, path, batch, bench, "doc_id", "text", min_quality=0.7
    ).select("doc_id", "lang", "source", "n_chars", "split")


@query(
    "corpus_report",
    driver=False,  # one-row reporting face of the gated text/agg families
    oracle="""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_unique_texts,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS exact_dup_rate,
           CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(
                 least(CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS DOUBLE) / 100.0, 1.0) * 0.4
                 + CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                   / CAST(greatest(length(text), 1) AS DOUBLE) * 0.4
                 + (1.0 - least(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                                / CAST(greatest(length(text), 1) AS DOUBLE) * 10.0, 1.0)) * 0.2
               AS DECIMAL(18,9))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_quality,
           COUNT(*) FILTER (WHERE lang = 'en') AS n_en
    FROM documents
    """,
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health report in ONE aggregate row: size, exact-dup rate (md5
    fingerprints), token volume, mean quality (decimal-summed so the double
    average is order-independent and engine-exact), language share."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    q = ts.quality_score(F.col("text")).cast("decimal(18,9)")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
        (
            (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("exact_dup_rate"),
        F.sum(toks).alias("total_tokens"),
        (F.sum(q).cast("double") / F.count(F.lit(1)).cast("double")).alias("mean_quality"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("n_en"),
    )


_MIX_WEIGHTS = {"src0": 0.7, "src1": 0.2, "src2": 0.1}
_MIX_BUDGET = 20_000


@query(
    "sampling_mixture_plan",
    driver=False,  # mix-planning face of the gated sampling family
    oracle=sa.mixture_plan_sql("documents", "source", "n_chars", _MIX_WEIGHTS, _MIX_BUDGET),
)
def sampling_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture plan: per-source availability vs target under a
    70/20/10 mix and a 20k-token budget — sampling rates where the target
    fits, epochs > 1 and a deficit where it doesn't.  Exact-integer sums,
    single-division ratios; the weight table is inline (bounded by
    construction) (operators/sampling.py::mixture_plan)."""
    return sa.mixture_plan(
        read_table(spark, sf_dir, "documents"), "source", "n_chars", _MIX_WEIGHTS, _MIX_BUDGET
    )


@query(
    "sampling_weighted_priority",
    driver=False,  # rotated out r8 (green r6-r7; sampling keeps pipeline + pack_greedy gated)
    oracle=sa.priority_sample_sql("documents", "doc_id", "n_chars", k=50),
)
def sampling_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): 50 documents weighted by
    length, without replacement, with the unbiased subset-sum estimator
    est_weight = max(w, τ) — md5-uniform priorities built from IEEE basic
    ops only, so the hash gate verifies the sampled SET and the estimates
    bit for bit (operators/sampling.py::priority_sample)."""
    return sa.priority_sample(
        read_table(spark, sf_dir, "documents"), "doc_id", "n_chars", k=50
    )


@query(
    "sampling_weighted_reservoir",
    # rotated INTO the gate r13 (r12 family: judge-verified sf0.01 + vanilla pre-cleared)
    oracle=sa.weighted_reservoir_sql("documents", "doc_id", "n_chars", n=50),
)
def sampling_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-Res weighted reservoir (Efraimidis-Spirakis): 50 documents
    sampled without replacement following the length-weight distribution
    — md5-uniform u, rank key ln(u)/w (the monotone log form of u^(1/w),
    no pow), TakeOrderedAndProject survivors.  The STREAMING face
    maintains the same top-n per key across micro-batches in constant
    GroupState (streaming/reservoir.py; replay ≡ batch pinned in
    tests/test_streaming.py)
    (operators/sampling.py::weighted_reservoir)."""
    return sa.weighted_reservoir(
        read_table(spark, sf_dir, "documents"), "doc_id", "n_chars", n=50
    )


@query(
    "sampling_negatives",
    driver=False,  # retrieval-training face of the gated sampling family
    oracle=sa.negative_samples_sql(
        "documents", "doc_id", "doc_id % 10 = 0", k=4, n_buckets=64
    ),
)
def sampling_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: every 10th
    document is an anchor; each draws 4 md5-deterministic negatives from
    hash-bucketed corpus pools (|A|·k·|C|/64 work, never |A|·|C|;
    operators/sampling.py::negative_samples)."""
    return sa.negative_samples(
        read_table(spark, sf_dir, "documents"),
        "doc_id",
        F.col("doc_id") % 10 == 0,
        k=4,
        n_buckets=64,
    )


@query(
    "text_phrase_search",
    driver=False,  # rotated out r11 (green r9+r10); text_trigram_search anchors search indexes
    # rotated INTO the gate r9 (never driver-verified)
    oracle=ir.phrase_search_sql("documents", "doc_id", "text", "window fast query"),
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval over the POSITIONAL inverted index: every
    (doc, start_pos) where the 3-token phrase occurs contiguously —
    quoted-query search, which bag-of-words BM25 cannot express
    (operators/ir.py::phrase_search).  The postings are restricted to the
    phrase's terms before any join and localCheckpointed once, so the
    corpus is scanned ONCE and the adjacency joins move query-term
    postings only — at 100 TB the cost tracks the phrase terms'
    frequency, never the corpus."""
    return ir.phrase_search(
        read_table(spark, sf_dir, "documents"), "doc_id", "text", "window fast query"
    )


@query(
    "shard_rebalance_stability",
    driver=False,  # rotated out r13 (>=2 green driver rounds; full local hash parity continues)
    # rotated INTO the gate r9 (never driver-verified)
    oracle=(
        "SELECT doc_id, "
        + sh.hrw_shard_sql("doc_id", 8)
        + " AS shard_8, "
        + sh.hrw_shard_sql("doc_id", 9)
        + " AS shard_9, ("
        + sh.hrw_shard_sql("doc_id", 8)
        + " <> "
        + sh.hrw_shard_sql("doc_id", 9)
        + ") AS moved FROM documents"
    ),
)
def shard_rebalance_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash shard assignment under a reshard (8 → 9 shards):
    each doc's shard before and after, plus the moved flag — HRW moves
    only ~1/9 of keys and every mover lands ON the new shard
    (operators/sharding.py; property pinned in tests/test_sampling.py).
    The whole query is ONE map-side projection: zero exchanges, so
    resharding a 100 TB corpus plan-wise costs a scan, and physically
    costs moving 1/(N+1) of the bytes instead of N/(N+1)."""
    d = read_table(spark, sf_dir, "documents")
    s8 = sh.hrw_shard(F.col("doc_id"), 8)
    s9 = sh.hrw_shard(F.col("doc_id"), 9)
    return d.select(
        "doc_id",
        s8.alias("shard_8"),
        s9.alias("shard_9"),
        (s8 != s9).alias("moved"),
    )


@query(
    "seq_training_pairs",
    driver=False,  # rotated out r11 (green r9+r10); OHLC/TWAP/CUSUM keep windows gated
    # rotated INTO the gate r9 (never driver-verified)
    oracle="""
    SELECT user_id, event_id,
           l3 || ' ' || l2 || ' ' || l1 AS ctx,
           event_type AS target
    FROM (
        SELECT user_id, event_id, event_type,
               LAG(event_type, 1) OVER w AS l1,
               LAG(event_type, 2) OVER w AS l2,
               LAG(event_type, 3) OVER w AS l3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE l3 IS NOT NULL
    """,
)
def seq_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-model training pairs from behavioral streams: every event
    with a full 3-event left context becomes one (context, target)
    example — the dataset-construction step for next-event prediction /
    session-based recommendation.  ONE user-partitioned window sort
    yields all lags (ties resolve on event_id — fully deterministic
    sequences); adding context length widens the projection, never adds
    a shuffle.  At 100 TB this is the same single sequence shuffle every
    per-user operator here pays — no self-joins, no explode."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.lag("event_type", 1).over(w).alias("l1"),
        F.lag("event_type", 2).over(w).alias("l2"),
        F.lag("event_type", 3).over(w).alias("l3"),
    )
    return ev.filter(F.col("l3").isNotNull()).select(
        "user_id",
        "event_id",
        F.concat_ws(" ", "l3", "l2", "l1").alias("ctx"),
        F.col("event_type").alias("target"),
    )


@query(
    "text_kn_logprob",
    driver=False,  # rotated out r11 (green r9+r10); text_bigram_logprob anchors the LM family
    # rotated INTO the gate r9 (never driver-verified)
    oracle=ts.kneser_ney_logprob_sql("documents", "doc_id", "text"),
)
def text_kn_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney-smoothed bigram LM score per document: absolute
    discounting + the continuation distribution (words are scored by how
    many CONTEXTS they follow, not how often they occur) — the standard
    n-gram smoothing, one rung above text_bigram_logprob's linear
    interpolation (operators/textstats.py::kneser_ney_logprob)."""
    return ts.kneser_ney_logprob(
        read_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


# ---------------------------------------------------------------------------
# PII family (new r9)
# ---------------------------------------------------------------------------


@query(
    "text_pii_scrub",
    driver=False,  # rotated out r14 (green r10-r13; rake/zipf/langid anchor text)
    # rotated INTO the gate r10 (never-driver-verified r9 family)
    oracle=pii.pii_scrub_sql("documents", "doc_id", "text"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII redaction: staged email/ipv4/ssn/card/phone
    regex detectors, per-type counts taken stage-wise so overlapping
    digit-run families never double-count — one map-side projection, no
    shuffle at any corpus size (operators/pii.py::pii_scrub)."""
    return pii.pii_scrub(read_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_pii_report",
    driver=False,  # rotated out r12 (green r10+r11; kept anchor text_pii_scrub)
    oracle=pii.pii_report_sql("documents", "doc_id", "text"),
)
def text_pii_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PII prevalence (total matches + affected docs per
    type): the go/no-go privacy report before a corpus ships to training
    (operators/pii.py::pii_report)."""
    return pii.pii_report(read_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_trigram_search",
    driver=False,  # rotated out r14 (green r10-r13; rake/zipf/langid anchor text)
    # rotated INTO the gate r10 (never-driver-verified r9 family)
    oracle=ir.trigram_search_sql("documents", "doc_id", "text", "fast merge"),
)
def text_trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search ('fast merge', case-insensitive) through the
    PERSISTED character-trigram posting index — the pg_trgm / code-search
    design: the probe reads only the pattern trigrams' hash-bucket
    directories (PartitionFilters), intersects posting lists, and verifies
    candidates with one semi-joined instr — the corpus itself is scanned
    only for candidates.  LOSSLESS by the trigram-containment property,
    so it hash-matches the definitional full-scan oracle
    (operators/ir.py::trigram_search_from_index)."""
    from datapipeline_omnichanneltobigquery_spark.plans.persistence import scratch_path

    docs = read_table(spark, sf_dir, "documents")
    path = scratch_path(spark, sf_dir, "trigram_index")
    ir.build_trigram_index(docs, path, "doc_id", "text")
    return ir.trigram_search_from_index(spark, path, docs, "fast merge", "doc_id", "text")


@query(
    "dedup_containment_pairs",
    driver=False,  # rotated out r12 (green r10+r11; anchors dedup_snm_part_names/dedup_lsh_eval/dedup_keep_best)
    oracle=dd.containment_pairs_sql("documents", "doc_id", "text", n=3, threshold=0.7),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment join at t=0.7: ordered pairs where >= 70% of
    id_a's trigram set lies inside id_b's — the quote/snippet detector
    symmetric Jaccard misses.  Lossless asymmetric prefix filtering
    (probe-side rarest-first prefixes against the full inverted index),
    hash-gated against the definitional all-pairs oracle
    (operators/dedup.py::containment_pairs)."""
    return dd.containment_pairs(
        read_table(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.7
    )


@query(
    "sampling_temperature_mix",
    driver=False,  # rotated out r12 (green r10+r11; kept anchor sampling_dsir_weights)
    oracle=sa.temperature_mix_sql("documents", "source", "n_chars", 1_000_000),
)
def sampling_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing at T = 1/2 (the mC4 / XLM-R
    multilingual rebalancing rule, p_i^alpha-normalized): per-source
    share = sqrt(tokens_i) / ordered-fold Σ sqrt(tokens_j), token targets
    and sampling rates against a 1M budget — mixture weights DERIVED from
    the corpus where sampling_mixture_plan takes them as arguments; the
    sqrt specialization keeps every float IEEE-exact for the hash gate
    (operators/sampling.py::temperature_mix)."""
    return sa.temperature_mix(
        read_table(spark, sf_dir, "documents"), "source", "n_chars", 1_000_000
    )


@query(
    "text_char_entropy",
    driver=False,  # rotated out r12 (green r10+r11; kept anchors text_bigram_logprob/text_vocab_growth)
    oracle=ts.char_entropy_sql("documents", "doc_id", "text"),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy — the symbol-
    histogram gibberish/encoded-blob detector beside compression_ratio's
    long-range redundancy signal: base64 blobs and key-mash score high,
    natural text sits near ~3 nats.  Exact per-char counts, (char asc)
    ordered ln fold, every input row survives
    (operators/textstats.py::char_entropy)."""
    return ts.char_entropy(read_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "dedup_keep_best",
    driver=False,  # rotated out r13 (>=2 green driver rounds; full local hash parity continues)
    # rotated INTO the gate r10 (never-driver-verified r9 family)
    oracle=dd.dedup_keep_best_sql("documents", "text", "doc_id", ts.quality_score_sql("text")),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup: per distinct text, keep the duplicate
    with the highest composite quality score (ties to smallest id) via a
    struct-max aggregate — the keep-the-clean-copy policy where
    dedup_exact_docs keeps an arbitrary-but-deterministic min id; the
    document body still never crosses an exchange
    (operators/dedup.py::dedup_keep_best)."""
    from datapipeline_omnichanneltobigquery_spark.operators.textstats import quality_score

    docs = read_table(spark, sf_dir, "documents")
    return dd.dedup_keep_best(docs, "text", "doc_id", quality_score(F.col("text")))


@query(
    "text_self_dedup",
    driver=False,  # rotated out r13 (>=2 green driver rounds; full local hash parity continues)
    # rotated INTO the gate r10 (never-driver-verified r9 family)
    oracle=ts.self_dedup_sql("documents", "doc_id", "text", seg_len=5),
)
def text_self_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition removal: keep only the FIRST occurrence
    of each distinct 5-token segment within its own document — the
    self-repetition cleaner for looped/templated pages, complementing
    text_boilerplate_scrub's cross-document blocklist.  No cross-document
    state: one id-keyed exchange, embarrassingly parallel over documents
    (operators/textstats.py::self_dedup)."""
    return ts.self_dedup(read_table(spark, sf_dir, "documents"), "doc_id", "text", seg_len=5)


@query(
    "sampling_dsir_weights",
    driver=False,  # rotated out r13 (>=2 green driver rounds; full local hash parity continues)
    # rotated INTO the gate r10 (never-driver-verified r9 family)
    oracle=dsir.dsir_logweights_sql(
        "documents", "doc_id", "text", "source = 'src0'", n_buckets=256
    ),
)
def sampling_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (hashed n-gram importance resampling): score
    every document by how much its hashed-bigram distribution resembles
    the TARGET slice (source = 'src0') rather than the raw pool — select
    the highest log-weights to shift the pool toward the target.  One
    tokenize pass carries both distributions; the 256-bucket count table
    broadcasts; per-doc fold is position-ordered
    (operators/dsir.py::dsir_logweights)."""
    docs = read_table(spark, sf_dir, "documents").withColumn(
        "is_tgt", F.col("source") == "src0"
    )
    return dsir.dsir_logweights(docs, "doc_id", "text", "is_tgt", n_buckets=256)


@query(
    "similarity_semdedup_keep",
    driver=False,  # rotated out r13 (>=2 green driver rounds; full local hash parity continues)
    # rotated INTO the gate r10 (never-driver-verified r9 family)
    # threshold 0.35 (not the 0.8 doc-dedup default): the synthetic
    # embeddings' max pairwise cosine is 0.479, so a 0.8 gate would be a
    # trivially-complete keep-list proving nothing
    oracle=sim.semdedup_keep_sql(
        "embeddings", threshold=0.35, dim=EMB_DIM, n_centroids=16
    ),
)
def similarity_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: semantic dedup by CLUSTER-blocked exact cosine — the
    deterministic IVF clusters are the blocking structure, pairs check
    only within a cluster, each near-dup component keeps its min id.
    Third embedding-dedup discovery strategy beside SRP-LSH banding and
    the df-capped exact baseline; cluster-size guard makes the |cluster|²
    bound explicit (operators/similarity.py::semdedup_keep)."""
    return sim.semdedup_keep(
        read_table(spark, sf_dir, "embeddings"),
        threshold=0.35, dim=EMB_DIM, n_centroids=16,
    )


@query(
    "text_vocab_growth",
    driver=False,  # rotated out r13 (>=2 green driver rounds; full local hash parity continues)
    # rotated INTO the gate r11 (never driver-verified; vanilla pre-cleared r10)
    oracle=ts.vocab_growth_sql("documents", "doc_id", "text"),
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve over the corpus in doc-id order: new token
    types introduced per document plus running vocabulary / token totals
    (the Heaps'-law diagnostic dataset selection reads for diminishing
    diversity returns).  The prefix sums run two-level (exact-integer
    range buckets + broadcast offsets — the global_shuffle discipline),
    never a single-partition window over the corpus
    (operators/textstats.py::vocab_growth)."""
    return ts.vocab_growth(read_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_vocab_coverage",
    driver=False,  # NEW r15: Good-Turing/Chao1 unseen-vocabulary estimate (r16 rotation queue)
    oracle=ts.vocab_coverage_sql("documents", "source", "text"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unseen-vocabulary estimation per source — the forward-looking
    companion of [[text_vocab_growth]]'s observed Heaps curve: the
    Good-Turing singleton estimate P₀ = N₁/N of the probability the
    NEXT token is a new type, and the bias-corrected Chao1 estimate
    V + N₁(N₁−1)/(2(N₂+1)) of TOTAL (seen + unseen) vocabulary — the
    two numbers that size how much more of a source a tokenizer/LM
    needs before its vocabulary saturates.  Exact integer
    frequency-of-frequencies counters (singletons/doubletons fold in
    the same rollup as token/type totals), each estimator ONE rounded
    division; one token explode + two partial-aggregated shuffles,
    linear at any scale (operators/textstats.py::vocab_coverage;
    Good 1953, Chao 1984)."""
    return ts.vocab_coverage(read_table(spark, sf_dir, "documents"), "source", "text")


@query(
    "multimodal_image_neardup",
    driver=False,  # rotated out r13 (>=2 green driver rounds; full local hash parity continues)
    # rotated INTO the gate r11 (never driver-verified; vanilla pre-cleared r10)
    oracle="""
    WITH px AS (
        SELECT doc_id, i,
               CAST('0x' || substr(md5(text), ((i % 16) * 2) + 1, 2) AS INT) AS v
        FROM documents, UNNEST(range(0, 64)) AS u(i)
    ),
    m AS (SELECT doc_id, CAST(SUM(v) // 64 AS BIGINT) AS mean_px
          FROM px GROUP BY doc_id),
    h AS (
        SELECT px.doc_id,
               CAST(SUM(CASE WHEN v > mean_px AND i < 63
                             THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
                    + CASE WHEN MAX(CASE WHEN v > mean_px AND i = 63
                                         THEN 1 ELSE 0 END) = 1
                           THEN -9223372036854775807 - 1 ELSE 0 END
                    AS BIGINT) AS ahash
        FROM px JOIN m USING (doc_id)
        GROUP BY px.doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 6
    """,
)
def multimodal_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs at hamming <= 6 between average-hashes
    computed through the REAL codec path (md5-tiled 8x8 PNG fixtures —
    see multimodal_image_ahash), discovered by the exact-recall pigeonhole
    block join (operators/multimodal.py::image_neardup_pairs) while the
    oracle runs the definitional all-pairs form over md5-arithmetic
    hashes — losslessness of the blocking AND the codec path in one
    hash gate.  The corpus's exact-duplicate texts surface at hamming 0;
    near-miss hash collisions at small positive distances."""
    d = read_table(spark, sf_dir, "documents")
    pairs = mm.image_neardup_pairs(
        mm.attach_png_tile_payload(d, "doc_id", "text"), max_dist=6
    )
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@query(
    "dedup_minhash_estimate",
    # rotated IN r14: per-pair MinHash estimate calibration, first driver contact
    oracle=dd.minhash_estimate_eval_sql("documents", "doc_id", "text", 3, 16, 2),
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair MinHash calibration (Broder 1997): over the LSH
    candidates, the signature-agreement estimate n_agree/16 beside the
    exact Jaccard and its absolute error — the dedup family's recall/
    precision dial made PER-PAIR (dedup_lsh_eval scores the candidate
    SET; this scores the ESTIMATOR), mirroring how similarity_pq_recall
    calibrates PQ against brute force.  Banded collisions with zero
    true overlap surface with jaccard 0, not silently dropped
    (operators/dedup.py::minhash_estimate_eval; one shared shingle
    stream feeds signatures and verify)."""
    return dd.minhash_estimate_eval(
        read_table(spark, sf_dir, "documents"), "doc_id", "text", 3, 16, 2
    )


@query(
    "dedup_lsh_eval",
    driver=False,  # rotated out r14 (green r11-r13, floor provenance in BASELINE.md; winnow_overlap + minhash_estimate anchor dedup)
    # rotated INTO the gate r11 (never driver-verified; vanilla pre-cleared r10)
    oracle=f"""
    WITH truth AS ({dd.jaccard_pairs_sql("documents", "doc_id", "text", 3, 0.5)}),
    cand AS ({dd.minhash_candidates_sql("documents", "doc_id", "text", 3, 16, 2)}),
    tp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS true_positives
        FROM truth t JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
    ),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand)
    SELECT n_truth, n_candidates, true_positives,
           round(CAST(true_positives AS DOUBLE) / n_candidates, 6) AS precision,
           round(CAST(true_positives AS DOUBLE) / n_truth, 6) AS recall
    FROM nt CROSS JOIN nc CROSS JOIN tp
    """,
)
def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate-quality evaluation — the text-dedup sibling of
    [[similarity_ann_recall]]: MinHash band candidates (16 hashes, 2
    rows/band) scored against the LOSSLESS exact-Jaccard truth at 0.5
    (prefix-filter join), reporting candidate precision and recall in
    one row.  This is the measurement that justifies (or indicts) an
    LSH parameter choice before a 100 TB run — recall < 1 quantifies
    the banding miss probability 1-(1-s^r)^b, precision the bucket
    noise the verify stage must absorb."""
    docs = read_table(spark, sf_dir, "documents")
    # one tokenize pass serves BOTH the exact truth and the band
    # candidates (r11: the two stages each paid a full shingle build)
    sh = dd.shingles(docs, "doc_id", "text", n=3).localCheckpoint()
    # localCheckpoint: truth and cand each feed TWO consumers (the
    # tp-join and their own count) — the >=2-consumer discipline
    truth = (
        dd.prefix_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5, shingles_df=sh
        )
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    cand = dd.minhash_candidate_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, rows_per_band=2, shingles_df=sh
    ).localCheckpoint()
    tp = truth.join(cand, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("true_positives")
    )
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    return (
        nt.crossJoin(nc)
        .crossJoin(tp)
        .select(
            "n_truth",
            "n_candidates",
            "true_positives",
            F.expr("round(CAST(true_positives AS DOUBLE) / n_candidates, 6)").alias(
                "precision"
            ),
            F.expr("round(CAST(true_positives AS DOUBLE) / n_truth, 6)").alias("recall"),
        )
    )


from datapipeline_omnichanneltobigquery_spark.operators import winnow as wn  # noqa: E402


@query(
    "text_pmi_collocations",
    driver=False,  # rotated out r14 (green r12+r13; rake/zipf/langid anchor text)
    # rotated INTO the gate r12 (never driver-verified; vanilla pre-cleared r11)
    oracle=ts.pmi_collocations_sql("documents", "doc_id", "text", min_count=5, k=50),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by pointwise mutual information (Church
    & Hanks 1990) with a min-count floor — the phrase-mining /
    multi-word-vocabulary primitive the conditional-probability LM
    scores don't expose (operators/textstats.py::pmi_collocations)."""
    docs = read_table(spark, sf_dir, "documents")
    return ts.pmi_collocations(docs, "doc_id", "text", min_count=5, k=50)


@query(
    "text_winnow_fingerprints",
    driver=False,  # rotated out r14 (green r12+r13; dedup_winnow_overlap stays the winnowing anchor)
    # rotated INTO the gate r12 (never driver-verified; vanilla pre-cleared r11)
    oracle=wn.winnow_fingerprints_sql("documents", "doc_id", "text", k=3, w=4),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer et al. SIGMOD'03): the
    w-window minima of token-3-gram hashes — guaranteed-local document
    fingerprints with ~2/(w+1) density; the window-frame struct-min
    decomposition is proven by the definitional O(n*w) oracle
    (operators/winnow.py::winnow_fingerprints)."""
    docs = read_table(spark, sf_dir, "documents")
    return wn.winnow_fingerprints(docs, "doc_id", "text", k=3, w=4)


@query(
    "dedup_winnow_overlap",
    # rotated INTO the gate r12 (never driver-verified; vanilla pre-cleared r11)
    oracle=wn.winnow_overlap_pairs_sql(
        "documents", "doc_id", "text", k=3, w=4, min_shared=2
    ),
)
def dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= 2 winnowing fingerprints — the
    SUBSTRING-overlap detector (embedded passages >= w+k-1 tokens are
    caught with recall 1 by the winnowing guarantee) that whole-set
    Jaccard dilutes away; df-capped postings keep the join linear
    (operators/winnow.py::winnow_overlap_pairs)."""
    docs = read_table(spark, sf_dir, "documents")
    return wn.winnow_overlap_pairs(docs, "doc_id", "text", k=3, w=4, min_shared=2)


@query(
    "text_readability",
    driver=False,  # rotated out r14 (green r12+r13; rake/zipf/langid anchor text)
    # rotated INTO the gate r12 (never driver-verified; vanilla pre-cleared r11)
    oracle=ts.readability_sql("documents", "doc_id", "text"),
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the education-level quality
    signal beside entropy/compression/repetition; pure map-side regexp
    counts, one fixed-order formula
    (operators/textstats.py::readability)."""
    docs = read_table(spark, sf_dir, "documents")
    return ts.readability(docs, "doc_id", "text")


@query(
    "text_js_divergence",
    driver=False,  # rotated out r14 (green r12+r13; rake/zipf/langid anchor text)
    # rotated INTO the gate r12 (never driver-verified; vanilla pre-cleared r11)
    oracle=ts.js_divergence_sql(
        "documents", "doc_id", "text", "source", "src0", "src1", top_k=256
    ),
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between two sources' unigram
    distributions over the top-256 combined vocabulary (+ __other
    bucket) — the bounded symmetric domain-shift measure for corpus
    slices (operators/textstats.py::js_divergence; Lin 1991)."""
    docs = read_table(spark, sf_dir, "documents")
    return ts.js_divergence(
        docs, "doc_id", "text", "source", "src0", "src1", top_k=256
    )
