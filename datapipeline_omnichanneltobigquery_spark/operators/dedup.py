"""Deduplication operators — exact, keep-latest, MinHash-LSH, SimHash,
n-gram Jaccard (SURVEY.md §2.2 extension surface; north-star LLM-pipeline
ops).

All variants are pure DataFrame compositions (no Python in the hot path) and
all hashing routes through md5 (functions/hashing.py) so every step has a
bitwise-identical DuckDB oracle — each Spark builder here has a
``*_sql(...)`` twin that emits the equivalent SQL from the SAME constants.

Scale design (the whole point of these ops at 100 TB):

* exact dedup = hash aggregation on the dedup key — one shuffle, partial
  aggregation upstream;
* keep-latest = row_number over (key, order) — one shuffle on key;
* MinHash: shingle explosion is map-side; signatures are a single groupBy
  (shuffle on doc_id); LSH banding turns all-pairs O(n²) into an equi-join
  on (band, band-key) buckets, and only bucket-mates reach the verifier;
* SimHash: map-side fingerprint, candidate pairs via a (max_hamming+1)-block
  equi-join (pigeonhole, Manku et al. WWW'07: ≤ k differing bits cannot touch
  all k+1 blocks, so some block is equal);
* n-gram Jaccard: the shingle inverted index IS the blocking — pairs that
  share no shingle are never materialized.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from datapipeline_omnichanneltobigquery_spark.functions.hashing import (
    MERSENNE_P,
    _minhash_params,
    md5_long,
    md5_long_sql,
)
from datapipeline_omnichanneltobigquery_spark.operators.normalize import observed

# ---------------------------------------------------------------------------
# Exact + keep-latest
# ---------------------------------------------------------------------------


def dedup_exact_keylist(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Fingerprint-keyed exact dedup keep-list: ``(fp, id)`` — one row per
    distinct ``text_col`` value, ``id`` = the MIN ``id_col`` among its
    duplicates (the deterministic winner), ``fp`` = md5 hex of the text.

    This is the 100 TB shape for exact document dedup: the fingerprint is
    computed map-side, so the aggregate shuffles (16-byte fp, 8-byte id) per
    row — the document body NEVER crosses an exchange.  Kept rows are
    recovered by semi-joining the winner ids against the source (zero-shuffle
    on the big side when it is bucketed by id — sinks/bucketed.py).  Full
    128-bit md5 keeps the collision probability negligible at any corpus
    size (a 60-bit fingerprint starts colliding near 2^30 docs)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )


def dedup_exact_keep_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup returning the KEPT ROWS (all columns): semi-join the
    winner ids from :func:`dedup_exact_keylist` back against the source.
    The winner-id side carries only (fp, id) through its aggregate; the
    source side shuffles once on ``id_col`` for the semi-join — store the
    corpus bucketed by ``id_col`` (sinks/bucketed.py) and that exchange
    disappears too."""
    winners = dedup_exact_keylist(df, text_col, id_col).select(id_col)
    return df.join(winners, id_col, "left_semi")


def dedup_keep_latest(
    df: DataFrame, key: str, order_col: str, tie_break: str | None = None
) -> DataFrame:
    """One row per key, keeping the latest by ``order_col`` (ties broken by
    ``tie_break`` descending, then the key) — the reference's repeated
    MERGE-by-id across loads collapses to exactly this when replayed in one
    batch (omnichannel_to_bq.py:176-182)."""
    order = [F.col(order_col).desc()]
    if tie_break:
        order.append(F.col(tie_break).desc())
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


# ---------------------------------------------------------------------------
# Shingling (shared by MinHash / Jaccard)
# ---------------------------------------------------------------------------


def shingle_stream(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) pairs WITH positional repeats — one row per n-gram
    occurrence.  The corpus-frequency consumers (textstats.ngram_topk) need
    raw occurrence counts; the set-semantics consumers go through
    :func:`shingles` (= this, distinct).

    Implementation: posexplode tokens (a codegen Generate) then stitch each
    shingle with window ``lead``s over (id, pos).  A higher-order
    ``transform(sequence, i -> concat_ws(slice))`` expresses the same thing
    with no shuffle, but Catalyst lambdas are *interpreted* — measured 7×
    slower at sf0.1 — while the window runs entirely in codegen; the
    token-explosion shuffle is tiny (tokens, not documents).
    """
    return positional_shingle_stream(df, id_col, text_col, n).select("id", "shingle")


def positional_shingle_stream(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, pos, shingle) — :func:`shingle_stream` keeping the 0-based token
    offset each n-gram starts at.  Span-level consumers (duplicate_spans)
    need the position to merge hits back into intervals; frequency
    consumers project it away (the column costs nothing — it already
    exists as posexplode's output).

    split(trim(''), '\\s+') yields [''] — an empty/whitespace-only document
    would otherwise carry the empty-string unigram as a shingle (|set| = 1
    instead of 0), which scores two empty docs containment/Jaccard 1.0.
    trim + \\s+ guarantee '' is the ONLY possible empty token (and only for
    the whole-doc-empty case), so filtering it post-explode leaves every
    non-empty document's positions untouched."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.lead("tok", j).over(w).alias(f"_l{j}") for j in range(1, n)]
    sh = toks.select(
        "id", "pos", F.concat_ws(" ", F.col("tok"), *leads).alias("shingle"), *leads
    )
    for j in range(1, n):
        sh = sh.filter(F.col(f"_l{j}").isNotNull())
    return sh.select("id", "pos", "shingle")


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct (id, shingle) pairs — the inverted-index building block
    (set semantics; the DISTINCT rides the (id) shuffle the window already
    paid for)."""
    return shingle_stream(df, id_col, text_col, n).distinct()


def _validate_shingles_df(shingles_df: DataFrame) -> DataFrame:
    """Guard for the ``shingles_df`` fast path: the caller-materialized
    stream must carry exactly the (id, shingle) columns :func:`shingles`
    produces.  When it is given, the ``id_col``/``text_col``/``n``
    arguments of the calling operator are IGNORED — the caller owns the
    shingling parameters — so a frame with a different shape is the only
    detectable misuse, and it must fail loudly instead of silently
    producing wrong pairs."""
    cols = set(shingles_df.columns)
    if cols != {"id", "shingle"}:
        raise ValueError(
            "shingles_df must have exactly columns ('id', 'shingle') as "
            f"produced by shingles(); got {sorted(cols)}. Note id_col/"
            "text_col/n are ignored when shingles_df is provided."
        )
    return shingles_df


def _shingles_sql(table: str, id_col: str, text_col: str, n: int) -> str:
    """DuckDB twin of :func:`shingles` (as a CTE body)."""
    return f"""
    toks AS (SELECT {id_col} AS id,
                    list_filter(regexp_split_to_array(trim(lower({text_col})), '\\s+'),
                                t -> t <> '') AS w
             FROM {table}),
    sh AS (SELECT DISTINCT id, array_to_string(w[i:i+{n - 1}], ' ') AS shingle
           FROM toks, UNNEST(range(1, len(w) - {n - 2})) AS u(i))
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


# Absolute per-shingle document-frequency cap for candidate generation in
# the exact-Jaccard pipeline.  Natural-language shingle frequencies are
# Zipfian, and the inverted-index self-join emits Σ df² rows — one shingle in
# 1% of a 10^8-doc corpus alone yields ~10^12 join rows, which no amount of
# AQE skew-splitting can shrink (the OUTPUT is quadratic).  An ABSOLUTE cap c
# bounds candidate rows by Σ df²·[df ≤ c] ≤ c·Σ df = c·|inverted index| —
# LINEAR in corpus size — where a relative cap (fraction of n_docs) would
# still grow quadratically.  Recall contract: a pair is discovered iff it
# shares ≥ 1 shingle with df ≤ cap; near-dups at threshold 0.5 share many
# rare shingles (measured on the test corpus: the worst true pair's
# best-shared shingle has df = 10 at sf0.1, max df overall = 25), so 128
# loses nothing at test scale and caps the hot tail at any scale.
JACCARD_MAX_DF = 128


def _rare_hot_split(sh: DataFrame, max_df: int) -> tuple[DataFrame, DataFrame]:
    """Split the inverted index by per-shingle document frequency: (df ≤
    max_df, df > max_df).  The df is a window count over the shingle — one
    shuffle on ``shingle`` that the rare self-join immediately reuses (same
    sub-plan, hash-partitioned on the join key)."""
    w = Window.partitionBy("shingle")
    flagged = sh.withColumn("__df", F.count(F.lit(1)).over(w))
    rare = flagged.filter(F.col("__df") <= max_df).select("id", "shingle")
    hot = flagged.filter(F.col("__df") > max_df).select("id", "shingle")
    return rare, hot


def _jaccard_candidates(sh: DataFrame, max_df: int) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs sharing ≥1 shingle with document
    frequency ≤ ``max_df`` — the discovery stage of the capped pipeline,
    exposed for the skew tests that assert its volume stays linear."""
    rare, _ = _rare_hot_split(sh, max_df)
    a, b = rare.alias("a"), rare.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over the shingle inverted index.

    intersection counts come from the shingle self-join (only co-occurring
    pairs exist), union = |A|+|B|-∩; one integer division at the end keeps it
    engine-exact.  Returns (id_a, id_b, jaccard), id_a < id_b.

    With ``max_df`` set (see :data:`JACCARD_MAX_DF`), the self-join runs
    over RARE shingles only (df ≤ cap) — its output goes from Σ df²
    (quadratic under Zipfian skew) to ≤ max_df·|index| (linear) — giving
    each discovered pair's rare-intersection count directly, at the same
    cost as the uncapped join on a clean corpus.  The hot-shingle
    contribution is then added exactly from per-document HOT-shingle sets:
    hot shingles are the Zipf head (few distinct values, so each document
    holds a tiny array), and one |pairs|-row join plus ``array_intersect``
    completes ic without ever joining hot postings against each other.
    Values are exact; only DISCOVERY is capped (a pair is found iff it
    shares ≥ 1 rare shingle).
    """
    sh = shingles(df, id_col, text_col, n)
    if max_df is None:
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
        inter = (
            sh.alias("a")
            .join(
                sh.alias("b"),
                (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("ic"))
        )
        sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
        sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
        return (
            inter.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                (
                    F.col("ic").cast("double")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("ic")).cast("double")
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
    # Capped path.  The flagged index feeds THREE subplans (rare self-join
    # ×2, the per-doc stats aggregate) — materialize it once, or each
    # consumer re-executes the whole shingle pipeline (measured 3× the
    # query wall time at sf0.1).  The uncapped two-consumer form stays
    # lazy: its identical subplans share one exchange within the job.
    w = Window.partitionBy("shingle")
    flagged = sh.withColumn("__df", F.count(F.lit(1)).over(w)).localCheckpoint()
    rare = flagged.filter(F.col("__df") <= max_df).select("id", "shingle")
    inter_rare = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("ic_r"))
    )
    # ONE per-doc table carries both the full set size and the (tiny) hot
    # shingle array, so the pair table joins per-doc state exactly twice —
    # the same join count as the uncapped form's size joins.
    per_id = flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("sz"),
        F.collect_set(F.when(F.col("__df") > max_df, F.col("shingle"))).alias("hots"),
    )
    pa = per_id.select(
        F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), F.col("hots").alias("hots_a")
    )
    pb = per_id.select(
        F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), F.col("hots").alias("hots_b")
    )
    ic = F.col("ic_r") + F.coalesce(
        F.size(F.array_intersect(F.col("hots_a"), F.col("hots_b"))), F.lit(0)
    )
    return (
        inter_rare.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            "id_a",
            "id_b",
            (ic.cast("double") / (F.col("sz_a") + F.col("sz_b") - ic).cast("double")).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    max_df: int | None = None,
) -> str:
    """DuckDB twin of :func:`jaccard_pairs` — same cap constant, same capped
    candidate + full-set verify shape, so the oracle stays value-exact."""
    if max_df is None:
        return f"""
    WITH {_shingles_sql(table, id_col, text_col, n)},
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS ic
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           CAST(ic AS DOUBLE) / CAST(sa.sz + sb.sz - ic AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(ic AS DOUBLE) / CAST(sa.sz + sb.sz - ic AS DOUBLE) >= {threshold}
    """
    return f"""
    WITH {_shingles_sql(table, id_col, text_col, n)},
    flagged AS (SELECT id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh),
    rare AS (SELECT id, shingle FROM flagged WHERE df <= {max_df}),
    per_id AS (SELECT id, COUNT(*) AS sz,
                      list(shingle) FILTER (WHERE df > {max_df}) AS hots
               FROM flagged GROUP BY id),
    inter_rare AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS ic_r
                   FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.id < b.id
                   GROUP BY 1, 2),
    scored AS (SELECT id_a, id_b,
                      ic_r + COALESCE(len(list_intersect(pa.hots, pb.hots)), 0) AS ic,
                      pa.sz AS sz_a, pb.sz AS sz_b
               FROM inter_rare
               JOIN per_id pa ON pa.id = id_a
               JOIN per_id pb ON pb.id = id_b)
    SELECT id_a, id_b,
           CAST(ic AS DOUBLE) / CAST(sz_a + sz_b - ic AS DOUBLE) AS jaccard
    FROM scored
    WHERE CAST(ic AS DOUBLE) / CAST(sz_a + sz_b - ic AS DOUBLE) >= {threshold}
    """


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def hashed_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct (id, h60) 60-bit-hashed shingle sets — the persisted-index
    representation of a document's shingle set (corpus_prep.build_dedup_index
    stores these so incremental batches verify exact Jaccard WITHOUT ever
    re-reading corpus text).  Jaccard over h60 sets equals Jaccard over
    shingle strings up to 60-bit collisions, and both engines hash with the
    identical md5→60-bit construction, so even a collision is mirrored in
    the SQL twin — parity stays bit-exact.

    ONE distinct, directly on (id, h60) over the raw occurrence stream
    (r16): distinct(md5(S)) ≡ distinct(md5(distinct(S))) for any multiset
    S — the image of a set under a function needs deduplication exactly
    once — so the former shingles()-then-distinct double aggregate
    collapses to a single one, and the aggregate dedups 8-byte hashes
    instead of shingle strings."""
    return (
        shingle_stream(df, id_col, text_col, n)
        .select("id", md5_long(F.col("shingle")).alias("h60"))
        .distinct()
    )


def _signatures_from_hashed(hashed: DataFrame, num_hashes: int, seed: int = 42) -> DataFrame:
    """MinHash signatures from an already-hashed (id, h60) shingle table —
    identical output to :func:`_signatures_from_shingles` composed with
    md5_long (duplicate or collided h60 values cannot change a MIN)."""
    h = F.col("h60") % F.lit(MERSENNE_P)
    aggs = [
        F.min((h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_minhash_params(num_hashes, seed))
    ]
    return hashed.groupBy("id").agg(*aggs)


def _signatures_from_shingles(sh: DataFrame, num_hashes: int, seed: int) -> DataFrame:
    # 31-bit residue keeps a*h+b inside native bigint on both engines —
    # no BigDecimal in the generated code (see functions.hashing.MERSENNE_P)
    h = md5_long(F.col("shingle")) % F.lit(MERSENNE_P)
    aggs = [
        F.min((h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_minhash_params(num_hashes, seed))
    ]
    return sh.groupBy("id").agg(*aggs)


def _band_key(num_hashes: int, rows_per_band: int, band: int) -> Column:
    cols = [F.col(f"mh_{band * rows_per_band + r}") for r in range(rows_per_band)]
    return F.concat_ws(",", *[c.cast("string") for c in cols])


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    seed: int = 42,
    shingles_df: DataFrame | None = None,
    signatures_df: DataFrame | None = None,
) -> DataFrame:
    """The LSH candidate stage alone: distinct (id_a, id_b) pairs agreeing on
    at least one MinHash band (P(candidate | J=s) = 1-(1-s^r)^b).  Exposed
    separately so callers that already have an exact-similarity table (e.g.
    the merged driver query) can intersect with it instead of re-verifying;
    ``shingles_df`` shares a caller-materialized (id, shingle) stream —
    when given, ``id_col``/``text_col``/``n`` are ignored (the caller owns
    the shingling parameters) and the frame's schema is validated.
    ``signatures_df`` likewise shares a caller-materialized signature
    table (id, mh_0..mh_{K-1}) so a caller that also needs the signatures
    (minhash_estimate_eval's agreement join) computes the aggregate once.
    """
    if shingles_df is not None:
        _validate_shingles_df(shingles_df)
    num_bands = num_hashes // rows_per_band
    # The candidate pair list (tiny — bucket-mates only) is eagerly
    # localCheckpoint-ed below, so the whole signature→band→join pipeline
    # runs exactly ONCE no matter how many downstream branches consume the
    # pairs (the broadcast job + main job in minhash_near_dup_pairs used to
    # recompute it, and an earlier .cache() of the signature table leaked
    # for the session lifetime).  Within the single job the band self-join's
    # identical children share one exchange (ReusedExchange).
    sh = shingles(df, id_col, text_col, n) if shingles_df is None else shingles_df
    if signatures_df is not None:
        expected = {"id"} | {f"mh_{i}" for i in range(num_hashes)}
        if set(signatures_df.columns) != expected:
            raise ValueError(
                "signatures_df must have exactly the columns "
                f"{sorted(expected)} as produced by the signature aggregate; "
                f"got {sorted(signatures_df.columns)}"
            )
        sig = signatures_df
    else:
        sig = _signatures_from_shingles(sh, num_hashes, seed)
    bands = F.array(*[
        F.struct(F.lit(i).alias("band"), _band_key(num_hashes, rows_per_band, i).alias("key"))
        for i in range(num_bands)
    ])
    keyed = sig.select("id", F.explode(bands).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
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
    return cand


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """MinHash → LSH bands → bucket equi-join → exact-Jaccard verification.

    shingle → minhash → band → bucket-join is the canonical near-dedup
    pipeline: candidates from :func:`minhash_candidate_pairs`, then verified
    with the exact Jaccard so the output is deterministic and
    threshold-precise.  Returns (id_a, id_b, jaccard).
    """
    # The shingle inverted index feeds multiple branches.  No explicit cache
    # on it: its distinct-shuffle is an identical subplan in every branch, so
    # Spark's ReusedExchange shares it within a job — measured faster than
    # .cache(), whose serialization cost lands inside the job.
    sh = shingles(df, id_col, text_col, n)
    cand = minhash_candidate_pairs(df, id_col, text_col, n, num_hashes, rows_per_band, seed)
    return verify_jaccard_pairs(sh, cand, threshold)


def verify_jaccard_pairs(sh: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair list against a
    (id, shingle) set table — (id_a, id_b, jaccard ≥ threshold).

    Candidate-spine form: attach side-A's full shingle list (join on id_a),
    keep the shingles side B also has (join on id_b AND shingle) — Σ_cand
    |A| rows, LINEAR in the candidate count.  A shingle-keyed self-join
    over the candidate docs would emit Σ df² rows per shingle WITHIN the
    candidate set, which a hot shingle (boilerplate shared by many
    near-dups) turns quadratic — the same Zipf-head failure the df cap
    removes from exact Jaccard's candidate stage.  Restricting sizes to
    candidate docs keeps that aggregate tiny."""
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # candidate-doc shingles materialize once (lazy checkpoint): the size
    # aggregate and both intersection joins below each re-derived this
    # semi-join otherwise (r15 optimization round)
    sh_cand = sh.join(cand_ids, "id", "left_semi").localCheckpoint(eager=False)
    sizes = sh_cand.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cand.join(sh_cand.select(F.col("id").alias("id_a"), "shingle"), "id_a")
        .join(sh_cand.select(F.col("id").alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ic"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("ic").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("ic")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _sig_band_cand_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    rows_per_band: int,
    seed: int,
) -> str:
    """The shared shingle->signature->band->candidate CTE scaffolding all
    three MinHash oracle builders compose — ONE definition so the hash
    formula, band-key separator, and id tie-break can never desynchronize
    between builders (a fix landed in only one would silently split the
    oracles from the Spark faces they verify).  Returns CTE text ending
    with ``cand`` (distinct bucket-mate id pairs); callers append their
    own CTEs/SELECT."""
    num_bands = num_hashes // rows_per_band
    params = _minhash_params(num_hashes, seed)
    mh_exprs = ",\n             ".join(
        f"MIN(((h60 % {MERSENNE_P}) * {a} + {b}) % {MERSENNE_P}) AS mh_{i}"
        for i, (a, b) in enumerate(params)
    )
    band_rows = "\n        UNION ALL\n".join(
        "        SELECT id, {band} AS band, concat_ws(',', {cols}) AS key FROM sig".format(
            band=i,
            cols=", ".join(
                f"CAST(mh_{i * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
            ),
        )
        for i in range(num_bands)
    )
    return f"""{_shingles_sql(table, id_col, text_col, n)},
    hashed AS (SELECT id, {md5_long_sql("shingle")} AS h60 FROM sh),
    sig AS (SELECT id,
             {mh_exprs}
            FROM hashed GROUP BY id),
    keyed AS (
{band_rows}
    ),
    cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
             FROM keyed a JOIN keyed b
               ON a.band = b.band AND a.key = b.key AND a.id < b.id)"""


def minhash_candidates_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    seed: int = 42,
) -> str:
    """DuckDB twin of :func:`minhash_candidate_pairs` alone — the distinct
    LSH bucket-mate (id_a, id_b) pairs, for oracles that intersect an
    existing exact-similarity table with the candidate set instead of
    re-running the full verify pipeline (the plan the merged driver entry
    uses)."""
    return f"""
    WITH {_sig_band_cand_sql(table, id_col, text_col, n, num_hashes, rows_per_band, seed)}
    SELECT id_a, id_b FROM cand
    """


def minhash_near_dup_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    seed: int = 42,
) -> str:
    """DuckDB twin of :func:`minhash_near_dup_pairs`, generated from the same
    hash constants (HUGEINT stands in for decimal(38,0))."""
    return f"""
    WITH {_sig_band_cand_sql(table, id_col, text_col, n, num_hashes, rows_per_band, seed)},
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS ic
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
              GROUP BY 1, 2)
    SELECT c.id_a, c.id_b,
           CAST(ic AS DOUBLE) / CAST(sa.sz + sb.sz - ic AS DOUBLE) AS jaccard
    FROM cand c
    JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN sizes sa ON sa.id = c.id_a
    JOIN sizes sb ON sb.id = c.id_b
    WHERE CAST(ic AS DOUBLE) / CAST(sa.sz + sb.sz - ic AS DOUBLE) >= {threshold}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # fits signed BIGINT on both engines


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash, frequency-weighted (the textbook Charikar/Manku form):
    bit j of the fingerprint is the sign of Σ_tokens tf(token)·(2·bit_j(h) − 1).
    Term weighting is what makes near-identical documents land at small
    hamming distance; an unweighted distinct-token variant is far noisier.

    Implemented single-pass: one groupBy(id) computing all 60 bit-majority
    sums as separate integer aggregates — the token rows shuffle ONCE (1× the
    token count), versus the naive (token × bit) explosion that shuffles 60×
    the rows.  All integer arithmetic, engine-exact; the SQL oracle keeps the
    explode form (DuckDB's UNNEST is cheap there) — values are identical.
    """
    toks = (
        df.select(F.col(id_col).alias("id"), F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("id", md5_long(F.col("tok")).alias("h"), "tf")
    )
    bit_sums = [
        F.sum(
            (F.expr(f"shiftright(h, {j}) & 1") * 2 - 1) * F.col("tf")
        ).alias(f"ssum_{j}")
        for j in range(SIMHASH_BITS)
    ]
    maj = toks.groupBy("id").agg(*bit_sums)
    fingerprint = None
    for j in range(SIMHASH_BITS):
        bit_j = F.when(F.col(f"ssum_{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fingerprint = bit_j if fingerprint is None else fingerprint + bit_j
    return maj.select("id", fingerprint.alias("simhash"))


def simhash_fingerprints_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
    WITH toks0 AS (SELECT {id_col} AS id,
                          UNNEST(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS tok
                   FROM {table}),
    toks AS (SELECT id, {md5_long_sql("tok")} AS h, COUNT(*) AS tf
             FROM toks0 WHERE tok <> '' GROUP BY id, tok),
    bits AS (SELECT id, j, (((h >> j) & 1) * 2 - 1) * tf AS s
             FROM toks, UNNEST(range(0, {SIMHASH_BITS})) AS u(j)),
    maj AS (SELECT id, j, SUM(s) AS ssum FROM bits GROUP BY id, j)
    SELECT id,
           -- CAST: DuckDB integer SUM returns HUGEINT; Spark returns bigint —
           -- pin to BIGINT so the driver's value-hash sees one representation.
           CAST(SUM(CASE WHEN ssum > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT)
             AS simhash
    FROM maj GROUP BY id
    """


def _simhash_block_layout(max_hamming: int) -> list[tuple[int, int, int]]:
    """Partition the 60 fingerprint bits into ``max_hamming + 1`` contiguous
    blocks, widest first: (blk, shift, width) rows.  Pigeonhole (Manku et
    al., "Detecting near-duplicates for web crawling", WWW'07 §3): a pair at
    hamming ≤ k differs in at most k blocks, so with k+1 blocks at least one
    block is bit-identical — single-block equality is a recall-EXACT LSH.

    The trade is key width: k=3 → 4 blocks of 15 bits (sharp buckets, the
    planet-scale setting); k=12 → 13 blocks of 4-5 bits (coarse buckets,
    heavier candidate verify — fine at corpus sizes where 2^5 buckets per
    block still bound pair counts, or as the verify stage after a stricter
    first pass)."""
    n_blocks = max_hamming + 1
    if not 1 <= n_blocks <= SIMHASH_BITS:
        raise ValueError(f"max_hamming must be in [0, {SIMHASH_BITS - 1}]")
    base, extra = divmod(SIMHASH_BITS, n_blocks)
    layout, shift = [], 0
    for blk in range(n_blocks):
        width = base + (1 if blk < extra else 0)
        layout.append((blk, shift, width))
        shift += width
    return layout


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 12
) -> DataFrame:
    """SimHash near-dup: candidates share one of ``max_hamming + 1`` blocks
    (pigeonhole — see :func:`_simhash_block_layout`; equality on any block is
    the LSH bucket), verified by exact ``bit_count(xor) <= max_hamming``.
    Recall is exact by construction.  Returns (id_a, id_b, hamming)."""
    fp = simhash_fingerprints(df, id_col, text_col)
    blocks = F.array(*[
        F.struct(
            F.lit(blk).alias("blk"),
            F.shiftright(F.col("simhash"), shift)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("key"),
        )
        for blk, shift, width in _simhash_block_layout(max_hamming)
    ])
    keyed = fp.select("id", "simhash", F.explode(blocks).alias("bk")).select(
        "id", "simhash", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        # verify BEFORE the de-dup shuffle: the hamming filter runs map-side
        # on the raw bucket-join output, so only true matches (not the full
        # candidate explosion) reach the distinct exchange
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dup_pairs_sql(table: str, id_col: str, text_col: str, max_hamming: int = 12) -> str:
    fp = simhash_fingerprints_sql(table, id_col, text_col)
    block_rows = ", ".join(
        f"({blk}, {shift}, {(1 << width) - 1})"
        for blk, shift, width in _simhash_block_layout(max_hamming)
    )
    return f"""
    WITH fp AS ({fp}),
    blocks(blk, sh, mask) AS (VALUES {block_rows}),
    keyed AS (SELECT id, simhash, blk, (simhash >> sh) & mask AS key
              FROM fp, blocks)
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM keyed a JOIN keyed b
      ON a.blk = b.blk AND a.key = b.key AND a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# Connected components (near-dup pairs -> dedup clusters)
# ---------------------------------------------------------------------------


def _star_edges(pairs: DataFrame) -> DataFrame:
    """Normalize an edge list to directed big→small form, self-loops dropped."""
    return (
        pairs.select(
            F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14 §3): every node connects its LARGER neighbors to the
    minimum of its closed neighborhood.  Input/output: directed u>v edges."""
    sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("u"), F.col("mn"))
    # (v, m) for v ∈ Γ(u), v > u; m ≤ u < v so output stays u>v-directed.
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node connects its smaller neighbors (and
    itself) to the minimum among them.  Input/output: directed u>v edges."""
    mins = edges.groupBy("u").agg(F.min("v").alias("mn"))
    moved = (
        edges.join(mins, "u")
        .filter(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
    )
    kept = mins.select("u", F.col("mn").alias("v"))
    return moved.unionByName(kept).distinct()


def connected_components_star(
    pairs: DataFrame, max_iterations: int = 50, stats: dict | None = None
) -> DataFrame:
    """Connected components over an undirected edge list ``(id_a, id_b)``:
    returns ``(id, cluster_id)`` for every node that appears in an edge,
    where ``cluster_id`` is the minimum node id in the component — the
    deterministic cluster representative.  This is the step that turns
    near-dup PAIRS into dedup CLUSTERS (a dup of a dup is a dup).

    Alternating large-star/small-star rounds (Kiveris et al., SoCC'14):
    O(log n) rounds on ANY graph, including adversarial long chains where
    min-label propagation needs O(diameter) rounds.  Each round is the same join+min-aggregate building
    blocks, fully distributed; the edge set is ``localCheckpoint``-ed once
    per round so the plan never grows.

    Convergence: the fixpoint of small∘large is a star per component
    (paper, Theorem 1), detected exactly — counts equal AND no edge of the
    new round outside the previous round's set (both sides distinct, so
    subset + equal cardinality ⇔ set equality).  The probe rides the
    round's checkpoint job itself (r16): each round left-joins its output
    against the previous (already-materialized) edge set to carry a
    ``__new`` flag, and the round count + new-edge count are ``observe()``
    metrics filled by the eager checkpoint's own materialization — ONE
    Spark job per round, no separate probe action (exact integer counts,
    shuffle-order-invariant).
    """
    from pyspark.sql import Observation

    # Materialize the input pairs ONCE — nodes and the edge normalization
    # are two consumers, and without this cut each would re-execute the
    # full upstream plan (for dedup_clusters that plan is the entire
    # inverted-index Jaccard pipeline).  The checkpoint is LAZY: the edge
    # materialization job below is its first consumer and materializes it;
    # nodes (final job) then reads the checkpointed rows.
    pairs_ck = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
    nodes = (
        pairs_ck.select(F.col("id_a").alias("id"))
        .unionByName(pairs_ck.select(F.col("id_b").alias("id")))
        .distinct()
    )
    obs0 = Observation()
    edges = (
        _star_edges(pairs_ck)
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    prev_count = observed(obs0)["n"]
    for it in range(max_iterations):
        stepped = _small_star(_large_star(edges))
        obs = Observation()
        flagged = (
            stepped.join(edges.withColumn("__seen", F.lit(1)), ["u", "v"], "left")
            .select("u", "v", F.col("__seen").isNull().alias("__new"))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("__new").cast("int")).alias("n_new"),
            )
            .localCheckpoint()
        )
        probe = observed(obs)
        edges = flagged.select("u", "v")
        if probe["n"] == prev_count and (probe["n_new"] or 0) == 0:
            if stats is not None:
                stats["rounds"] = it + 1
            break
        prev_count = probe["n"]
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} iterations"
        )
    # Fixpoint edges form a star per component: (node → component min).
    # Roots have no outgoing edge; defensive min-agg keeps the label unique
    # even if an input row pattern ever yielded a transient double edge.
    star = edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
    return nodes.join(star, nodes.id == star.u, "left").select(
        "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
    )


def connected_components_sql(pairs_sql: str) -> str:
    """DuckDB twin of :func:`connected_components_star`: min reachable node via a
    recursive CTE (UNION-dedup bounds the walk; min over the reachability
    set is the component representative)."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs),
    walk(id, lbl) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst
    )
    SELECT id, MIN(lbl) AS cluster_id FROM walk GROUP BY id
    """


def dedup_pipeline(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = JACCARD_MAX_DF,
) -> DataFrame:
    """The full production dedup chain in one call: exact dedup on the md5
    fingerprint (byte-identical copies collapse first — the cheap pass that
    typically removes most duplicates), then near-dup pairs via the n-gram
    Jaccard inverted index, connected components (large-star/small-star)
    to close transitively, and a keep-list of one canonical representative
    per cluster.

    Returns (id, cluster_id, keep): every surviving-exact-dedup document,
    its near-dup cluster representative (min id; singleton docs are their
    own cluster), and whether it is the kept canonical copy.  Filter
    ``keep`` and semi-join ids against the (bucketed) source to materialize
    the deduplicated corpus."""
    exact_ids = dedup_exact_keylist(df, text_col, id_col).select(F.col(id_col).alias("id"))
    survivors = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")).join(
        exact_ids, "id", "left_semi"
    )
    pairs = jaccard_pairs(survivors, "id", "text", n=n, threshold=threshold, max_df=max_df)
    cc = connected_components_star(pairs)
    labeled = survivors.join(cc, "id", "left").select(
        "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
    )
    return labeled.withColumn("keep", F.col("id") == F.col("cluster_id"))


# ---------------------------------------------------------------------------
# Fuzzy string matching (edit distance)
# ---------------------------------------------------------------------------


def _passjoin_candidates(names: DataFrame, max_dist: int) -> DataFrame:
    """EXACT-RECALL candidate pairs for edit distance ≤ k by PassJoin-style
    segment blocking (Li, Deng & Feng, PVLDB 2011): (name_a, name_b),
    name_a < name_b, guaranteed to contain every pair within distance k.

    Why it's exact: partition the SHORTER string of a pair into k+1
    contiguous segments.  An optimal alignment performs ≤ k edit
    operations, so by pigeonhole at least one segment is untouched — it
    appears VERBATIM in the longer string, shifted from its home position
    by the net insertions/deletions before it, which is bounded by ±k.
    So: every string INDEXES its own k+1 (position, length-anchored)
    segments, and PROBES, for each candidate shorter-side length
    la ∈ [L−k, L] and each segment slot, every substring within the ±k
    position window — an equi-join on (la, seg_i, seg).

    Why it's linear: per string the probe emits ≤ (k+1)²·(2k+1) keys (45
    at k=2) and the index k+1 keys, regardless of vocabulary.  Unlike
    token blocking — whose candidate count is Σ df² over the token index
    and degenerates to ~n² on closed vocabularies where every token's df
    grows with n — a key here is a position-anchored SUBSTRING of the
    name, so two names only collide when they agree on that exact slice:
    candidate volume tracks true near-duplicates, not vocabulary reuse
    (asserted on a closed vocabulary in
    tests/test_llm_ops.py::test_passjoin_linear_on_closed_vocabulary).

    Strings shorter than k+1 characters can't donate k+1 non-empty
    segments (and a ≤k-length string can be edited in EVERY character),
    so they pair through a tiny side branch keyed on exact length — both
    sides bounded by the count of near-empty strings."""
    k = int(max_dist)
    nseg = k + 1

    def seg_exprs(lv: str) -> tuple[str, str]:
        base, rem = f"({lv} div {nseg})", f"({lv} % {nseg})"
        start = f"(i * {base} + least(i, {rem}) + 1)"
        slen = f"({base} + if(i < {rem}, 1, 0))"
        return start, slen

    n = names.withColumn("L", F.length("name"))
    i_start, i_len = seg_exprs("L")
    idx = (
        n.filter(F.col("L") >= nseg)
        .select(
            F.col("name").alias("name_a"),
            F.explode(
                F.expr(
                    f"transform(sequence(0, {k}), i -> named_struct("
                    f"'la', L, 'seg_i', i, "
                    f"'seg', substring(name, {i_start}, {i_len})))"
                )
            ).alias("s"),
        )
        .select("name_a", "s.la", "s.seg_i", "s.seg")
    )
    p_start, p_len = seg_exprs("la")
    probe = (
        n.filter(F.col("L") >= nseg)
        .select(
            "name",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(greatest({nseg}, L - {k}), L), la -> "
                    f"flatten(transform(sequence(0, {k}), i -> "
                    f"transform(sequence(greatest(1, {p_start} - {k}), "
                    f"           least(L - {p_len} + 1, {p_start} + {k})), p -> "
                    f"named_struct('la', la, 'seg_i', i, "
                    f"'seg', substring(name, p, {p_len})))))))"
                )
            ).alias("s"),
        )
        .select(F.col("name").alias("name_b"), "s.la", "s.seg_i", "s.seg")
        .distinct()  # overlapping windows re-emit identical slices
    )
    long_cand = (
        idx.join(probe, ["la", "seg_i", "seg"])
        .filter(F.col("name_a") != F.col("name_b"))
        .select(
            F.least("name_a", "name_b").alias("__pa"),
            F.greatest("name_a", "name_b").alias("__pb"),
        )
        .select(F.col("__pa").alias("name_a"), F.col("__pb").alias("name_b"))
    )
    short_idx = n.filter(F.col("L") <= k).select(
        F.col("L").alias("t"), F.col("name").alias("name_s")
    )
    short_cand = (
        n.filter(F.col("L") <= 2 * k)
        .select(
            "name",
            F.explode(F.expr(f"sequence(greatest(0, L - {k}), least({k}, L))")).alias("t"),
        )
        .join(short_idx, "t")
        .filter(F.col("name") != F.col("name_s"))
        .select(
            F.least("name", "name_s").alias("name_a"),
            F.greatest("name", "name_s").alias("name_b"),
        )
    )
    return long_cand.unionByName(short_cand).distinct()


def fuzzy_pairs(df: DataFrame, name_col: str, max_dist: int = 2) -> DataFrame:
    """Near-identical string pairs by Levenshtein distance ≤ ``max_dist``
    over DISTINCT values of ``name_col`` — (name_a, name_b, dist), a < b.

    Scale design: never all-pairs.  Candidates come from PassJoin segment
    blocking (:func:`_passjoin_candidates`) — EXACT recall with
    per-string-linear candidate volume even on closed vocabularies, the
    failure mode that makes token blocking quadratic.  The verify stage is
    Spark's banded Levenshtein (``levenshtein(a, b, threshold)``): the DP
    early-exits as soon as the distance provably exceeds ``max_dist``, so
    each surviving candidate costs O(len·k) instead of O(len²).

    Because recall is exact, the DuckDB oracle is the DEFINITION (naive
    length-pregated all-pairs, :func:`fuzzy_pairs_sql`) rather than a
    mirrored blocking scheme — the hash gate therefore verifies the
    blocking's exactness, not just engine agreement on one heuristic."""
    names = df.select(F.trim(F.lower(F.col(name_col))).alias("name")).distinct()
    cand = _passjoin_candidates(names, max_dist)
    return (
        cand.withColumn(
            "dist", F.levenshtein(F.col("name_a"), F.col("name_b"), int(max_dist))
        )
        .filter(F.col("dist") >= 0)  # banded DP returns -1 past the threshold
    )


def fuzzy_pairs_sql(table: str, name_col: str, max_dist: int = 2) -> str:
    """DuckDB oracle of :func:`fuzzy_pairs` — the SEMANTIC definition
    (all distinct-value pairs within edit distance ``max_dist``), not the
    blocking scheme: segment blocking has exact recall, so matching this
    naive form IS the recall proof.  The length pregate is the only
    optimization (|len a − len b| ≤ k is necessary for edit ≤ k); fine at
    oracle scale, while the Spark side stays linear."""
    return f"""
    WITH names AS (SELECT DISTINCT trim(lower({name_col})) AS name FROM {table})
    SELECT a.name AS name_a, b.name AS name_b,
           levenshtein(a.name, b.name) AS dist
    FROM names a JOIN names b
      ON a.name < b.name
     AND abs(length(a.name) - length(b.name)) <= {max_dist}
    WHERE levenshtein(a.name, b.name) <= {max_dist}
    """


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Span-level exact dedup: merged token intervals of every ``n``-token
    passage that occurs ≥ ``min_count`` times ANYWHERE in the corpus —
    (doc_id, span_start, span_end, span_tokens), positions 0-based token
    offsets, intervals maximal (overlapping/adjacent hits coalesced).

    Catches the failure mode doc-level dedup can't see: boilerplate
    passages repeated inside otherwise-unique documents; feed the spans
    to :func:`cut_spans` for the passage-deduplicated corpus.  Shuffles
    move 60-bit hashes, never passage text; the duplicated-hash set is
    corpus-sized so it is NOT broadcast-hinted; the interval merge's two
    window passes share one exchange+sort (full plan narrative:
    SCALING.md 'Span-level dedup').
    """
    st = positional_shingle_stream(df, id_col, text_col, n).select(
        "id", "pos", md5_long(F.col("shingle")).alias("h")
    )
    dup = (
        st.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("h")
    )
    hits = st.join(dup, "h", "left_semi").select(
        "id", "pos", (F.col("pos") + F.lit(n - 1)).alias("e")
    )
    w = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = hits.withColumn(
        "ni", F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    )
    islands = flagged.withColumn(
        "island", F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy(F.col("id").alias("doc_id"), "island")
        .agg(F.min("pos").alias("s"), F.max("e").alias("x"))
        .select(
            "doc_id",
            F.col("s").cast("bigint").alias("span_start"),
            F.col("x").cast("bigint").alias("span_end"),
            (F.col("x") - F.col("s") + 1).cast("bigint").alias("span_tokens"),
        )
    )


def duplicate_spans_sql(
    table: str, id_col: str, text_col: str, n: int = 8, min_count: int = 2
) -> str:
    """DuckDB twin of :func:`duplicate_spans` — same tokenization as
    _shingles_sql, same 60-bit md5 hash, same gaps-and-islands merge
    (COALESCE(-1) ≡ the Spark isNull branch: positions are ≥ 0)."""
    h = md5_long_sql(f"array_to_string(w[i:i+{n - 1}], ' ')")
    return f"""
    WITH toks AS (SELECT {id_col} AS id,
                         list_filter(regexp_split_to_array(trim(lower({text_col})), '\\s+'),
                                     t -> t <> '') AS w
                  FROM {table}),
    st AS (SELECT id, i - 1 AS pos, {h} AS h
           FROM toks, UNNEST(range(1, len(w) - {n - 2})) AS u(i)),
    dup AS (SELECT h FROM st GROUP BY h HAVING COUNT(*) >= {min_count}),
    hits AS (SELECT id, pos, pos + {n - 1} AS e
             FROM st WHERE h IN (SELECT h FROM dup)),
    isl AS (SELECT id, pos, e,
                   CASE WHEN pos > COALESCE(MAX(e) OVER (
                            PARTITION BY id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                        THEN 1 ELSE 0 END AS ni
            FROM hits),
    isl2 AS (SELECT id, pos, e,
                    SUM(ni) OVER (PARTITION BY id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             FROM isl)
    SELECT id AS doc_id,
           MIN(pos) AS span_start,
           MAX(e) AS span_end,
           MAX(e) - MIN(pos) + 1 AS span_tokens
    FROM isl2
    GROUP BY id, island
    """


def cut_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The CUT step completing span-level dedup: given
    :func:`duplicate_spans` output, rebuild each document WITHOUT the
    tokens its duplicated spans cover — (id, clean_text, n_tokens,
    n_removed).  Works in the detector's normalized token space
    (trim/lower/whitespace-split), so positions line up by construction;
    a doc whose every token is covered comes back with empty text, and
    docs with no spans pass through untouched.

    Plan: tokens posexplode once (codegen Generate); covered tokens drop
    via a LEFT ANTI join on (id equi + pos BETWEEN span bounds) — the
    range residual rides the equi-join, and spans-per-doc is small, so the
    anti-join is linear; the rebuild is one groupBy(id) with an
    array_sort(collect_list(struct(pos, tok))) — order restored inside the
    aggregate, no extra sort exchange.  Token counts ride the same
    aggregates.

    Tokens are empty-filtered exactly like :func:`positional_shingle_stream`
    so the span positions line up with the detector's token grid; an
    empty/whitespace-only document has zero tokens and (like the detector)
    produces no output row."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    sp = spans.select(
        F.col("doc_id").alias("__sid"), "span_start", "span_end"
    )
    kept = toks.join(
        sp,
        (toks.id == sp.__sid)
        & (toks.pos >= sp.span_start)
        & (toks.pos <= sp.span_end),
        "left_anti",
    )
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s.tok
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n_tokens"))
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def cut_spans_sql(
    table: str, id_col: str, text_col: str, n: int = 8, min_count: int = 2
) -> str:
    """DuckDB twin of :func:`duplicate_spans` + :func:`cut_spans` composed
    — detect then cut in one query, same tokenization and interval
    algebra."""
    spans = duplicate_spans_sql(table, id_col, text_col, n=n, min_count=min_count)
    return f"""
    WITH spans AS ({spans}),
    toks AS (SELECT {id_col} AS id, i - 1 AS pos, w[i] AS tok
             FROM (SELECT {id_col},
                          list_filter(regexp_split_to_array(trim(lower({text_col})), '\\s+'),
                                      t -> t <> '') AS w
                   FROM {table}),
                  UNNEST(range(1, len(w) + 1)) AS u(i)),
    kept AS (SELECT t.id, t.pos, t.tok FROM toks t
             WHERE NOT EXISTS (SELECT 1 FROM spans s
                               WHERE s.doc_id = t.id
                                 AND t.pos BETWEEN s.span_start AND s.span_end)),
    rebuilt AS (SELECT id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                       COUNT(*) AS n_kept
                FROM kept GROUP BY id),
    totals AS (SELECT id, COUNT(*) AS n_tokens FROM toks GROUP BY id)
    SELECT t.id AS {id_col},
           COALESCE(r.clean_text, '') AS clean_text,
           t.n_tokens,
           t.n_tokens - COALESCE(r.n_kept, 0) AS n_removed
    FROM totals t LEFT JOIN rebuilt r ON r.id = t.id
    """


def snm_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    block_col: str,
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs (Hernandez/Stolfo SIGMOD'95):
    records sorted by ``key_col`` inside each ``block_col`` partition;
    every pair within ``window`` sort positions becomes a candidate —
    (id_a, id_b, key_a, key_b), id_a < id_b by sort position.  The third
    blocking family beside LSH banding and PassJoin segments: it catches
    near-dups whose ERRORS cluster under the sort key (prefix typos,
    transposed suffixes) at a guaranteed ``window·n`` candidate volume —
    no hot-bucket blowup possible, the property neither token blocking
    nor banding gives you.

    Scale shape: ``window`` LEADs share ONE window sort per block; the
    block column bounds the sort's partition (classic multi-pass SNM runs
    this several times under different keys/blocks to cover boundary
    misses — :func:`snm_pairs_multipass`).  The per-offset neighbors are
    packed into ONE struct array and exploded — a single scan + window +
    generate; the round-7 form unioned ``window`` filtered references of
    the lead frame instead, recompiling it (scan included) once per
    offset (the redundant-subtree pathology the plan-audit ceiling now
    rejects)."""
    base = df.select(
        F.col(id_col).alias("id"), F.col(key_col).alias("key"), F.col(block_col).alias("blk")
    )
    wb = Window.partitionBy("blk").orderBy(F.col("key"), F.col("id"))
    neighbors = F.array(
        *[
            F.struct(
                F.lead("id", k).over(wb).alias("id_b"),
                F.lead("key", k).over(wb).alias("key_b"),
            )
            for k in range(1, window + 1)
        ]
    )
    # two projections: window expressions may not appear inside a
    # generator argument, so the neighbor array materializes first
    return (
        base.select("id", "key", neighbors.alias("__nbs"))
        .select("id", "key", F.explode("__nbs").alias("nb"))
        .filter(F.col("nb.id_b").isNotNull())
        .select(
            F.col("id").alias("id_a"),
            F.col("nb.id_b").alias("id_b"),
            F.col("key").alias("key_a"),
            F.col("nb.key_b").alias("key_b"),
        )
    )


def snm_pairs_sql(
    table: str, id_col: str, key_expr: str, block_expr: str, window: int = 3
) -> str:
    """DuckDB twin of :func:`snm_pairs` — rank per block, pairs within
    ``window`` rank positions (identical ordering and tie-breaks)."""
    return f"""
    WITH ranked AS (
        SELECT {id_col} AS id, {key_expr} AS key, {block_expr} AS blk,
               ROW_NUMBER() OVER (PARTITION BY {block_expr}
                                  ORDER BY {key_expr}, {id_col}) AS rn
        FROM {table})
    SELECT a.id AS id_a, b.id AS id_b, a.key AS key_a, b.key AS key_b
    FROM ranked a JOIN ranked b
      ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + {window}
    """


def snm_pairs_multipass(
    df: DataFrame,
    id_col: str,
    passes: list[tuple[str, str]],
    window: int = 3,
) -> DataFrame:
    """MULTI-PASS sorted-neighborhood blocking (the standard SNM recall
    fix, Hernandez/Stolfo SIGMOD'95 §4): run :func:`snm_pairs` once per
    (key_col, block_col) in ``passes`` and union-dedup the candidates.
    A single pass misses any near-dup pair whose sort keys land more than
    ``window`` positions apart — e.g. a FIRST-character typo under a
    forward lexicographic key; the classic second pass sorts under a
    ROTATED key (reversed string, swapped fields) where the same error
    lands the pair adjacent.

    Output: (id_a, id_b, n_passes) with ids normalized (id_a < id_b by
    VALUE — per-pass sort positions disagree across passes) and
    ``n_passes`` = how many passes proposed the pair (an agreement signal
    the downstream verifier can weight).

    Scale shape: P passes = P independent window sorts (each the single
    exchange snm_pairs documents) + one dedup shuffle over candidate
    pairs — candidate volume stays ≤ P·window·n by construction, still no
    hot-bucket blowup."""
    u = None
    for i, (key_col, block_col) in enumerate(passes):
        p = snm_pairs(df, id_col, key_col, block_col, window).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.lit(i).alias("__pass"),
        )
        u = p if u is None else u.unionByName(p)
    return (
        u.distinct()  # one vote per pass even if found at several offsets
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_passes"))
    )


def snm_pairs_multipass_sql(
    table: str,
    id_col: str,
    passes: list[tuple[str, str]],
    window: int = 3,
) -> str:
    """DuckDB twin of :func:`snm_pairs_multipass` — same per-pass ranked
    joins, same value-normalized union-dedup and pass counting."""
    pass_sqls = [
        f"""SELECT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b,
               {i} AS pass_i
        FROM ({snm_pairs_sql(table, id_col, key_expr, block_expr, window)})"""
        for i, (key_expr, block_expr) in enumerate(passes)
    ]
    unioned = "\n        UNION ALL\n".join(pass_sqls)
    return f"""
    WITH votes AS (SELECT DISTINCT id_a, id_b, pass_i FROM ({unioned}))
    SELECT id_a, id_b, COUNT(*) AS n_passes
    FROM votes GROUP BY id_a, id_b
    """


# ---------------------------------------------------------------------------
# Prefix-filter (AllPairs/PPJoin-style) exact Jaccard join
# ---------------------------------------------------------------------------


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact-threshold Jaccard join via LOSSLESS prefix filtering (the
    AllPairs/PPJoin family, Bayardo et al. WWW'07; public algorithm).

    Where :func:`jaccard_pairs` with ``max_df`` trades a documented recall
    contract for linear candidate volume, prefix filtering keeps the output
    EXACTLY equal to the definitional all-pairs threshold join: order every
    document's shingle set by global rarity (df asc, shingle asc) and keep
    only the first ``|s| - ceil(t*|s|) + 1`` shingles as its *prefix*; any
    pair with Jaccard >= t provably shares a prefix shingle, so joining
    prefixes on the shingle loses nothing.  Because prefixes keep the
    RAREST shingles, the self-join volume is driven by the df of rare
    shingles, not the Zipf head — the hot shingles that blow up the naive
    inverted-index join are exactly the ones the prefix drops.

    A length filter tightens candidates further: J(A,B) >= t requires
    t*|A| <= |B| (and symmetrically), so prefix matches between wildly
    different sizes are dropped before the verify join.

    Scale shape: one shuffle on shingle (df count), one on id (rank window
    + per-doc set), the prefix self-join on shingle, and one |pairs|-row
    verify join against per-doc sorted arrays.  Verification is exact
    (array_intersect on full sets); no driver collects.

    Returns (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold.
    ``shingles_df`` lets a caller that already materialized the distinct
    (id, shingle) stream (e.g. an eval harness ALSO banding the same
    corpus) share it instead of paying a second tokenize pass — when
    given, ``id_col``/``text_col``/``n`` are ignored (the caller owns the
    shingling parameters) and the frame's schema is validated.
    """
    if shingles_df is not None:
        _validate_shingles_df(shingles_df)
    sh = shingles(df, id_col, text_col, n) if shingles_df is None else shingles_df
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    # The df-joined stream feeds BOTH the prefix build and the per-doc
    # verify sets — materialize once (the shared-stream discipline).
    flagged = sh.join(dfreq, "shingle").localCheckpoint()
    wid = Window.partitionBy("id").orderBy(F.col("__df").asc(), F.col("shingle").asc())
    ranked = flagged.select(
        "id",
        "shingle",
        F.row_number().over(wid).alias("__r"),
        F.count(F.lit(1)).over(Window.partitionBy("id")).alias("sz"),
    )
    # ceil(t*sz - eps), not ceil(t*sz): when t*sz rounds up past the exact
    # integer product in IEEE (0.55*100 = 55.000000000000007) a bare ceil
    # shortens the prefix by one and silently drops pairs sitting exactly
    # AT the threshold.  The epsilon under-ceil can only LENGTHEN the
    # prefix, which preserves losslessness.
    prefix = ranked.filter(
        F.col("__r")
        <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)) + 1
    ).select("id", "shingle", "sz")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: t*max(sz) <= min(sz) is necessary for J >= t;
            # the same epsilon as the prefix bound — at an exact integer
            # product the IEEE round-up (0.55*100 > 55) would falsely
            # exclude an at-threshold pair, and relaxing by eps only
            # admits extra candidates for the exact verify to drop.
            & (F.lit(threshold) * F.col("a.sz") - F.lit(1e-9) <= F.col("b.sz"))
            & (F.lit(threshold) * F.col("b.sz") - F.lit(1e-9) <= F.col("a.sz")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    per_id = flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("sz"), F.collect_set("shingle").alias("set")
    )
    pa = per_id.select(
        F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), F.col("set").alias("set_a")
    )
    pb = per_id.select(
        F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), F.col("set").alias("set_b")
    )
    ic = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    return (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            "id_a",
            "id_b",
            (ic.cast("double") / (F.col("sz_a") + F.col("sz_b") - ic).cast("double")).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """DIRECTED containment join: (id_a, id_b, containment) for every
    ordered pair with |A∩B| / |A| >= threshold (A = id_a's distinct
    n-gram set) — the asymmetric cousin of the Jaccard join, and the
    detector symmetric similarity is blind to: a short quote or snippet
    embedded in a much longer document scores near-1 containment but
    near-0 Jaccard.

    LOSSLESS candidates by the asymmetric prefix property: if
    |A∩B| >= ceil(t*|A|), then in ANY global shingle order A's prefix of
    size |A| - ceil(t*|A|) + 1 must contain an element of A∩B ⊆ B — so
    joining A-prefixes against the FULL inverted index misses nothing.
    Only the PROBE side can be prefixed (B's prefix length would depend
    on |A|); cost stays bounded because prefixes keep each document's
    RAREST shingles (df asc), so candidate volume is Σ_s prefix_df(s)·df(s)
    with prefix_df concentrated on small-df shingles — the Zipf head
    appears only on the indexed side where its prefix_df is ~0.  Verify
    is exact (array_intersect over full per-doc sets, |pairs| rows).

    Self-pairs are excluded; both directions emit when both hold."""
    sh = shingles(df, id_col, text_col, n)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    flagged = sh.join(dfreq, "shingle").localCheckpoint()
    wid = Window.partitionBy("id").orderBy(F.col("__df").asc(), F.col("shingle").asc())
    ranked = flagged.select(
        "id",
        "shingle",
        F.row_number().over(wid).alias("__r"),
        F.count(F.lit(1)).over(Window.partitionBy("id")).alias("sz"),
    )
    # ceil(t*sz - eps): see prefix_jaccard_pairs — the epsilon guards the
    # IEEE round-up past an exact integer product; under-ceil only
    # lengthens the prefix, preserving losslessness.
    prefix = ranked.filter(
        F.col("__r")
        <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)) + 1
    ).select("id", "shingle")
    full = flagged.select("id", "shingle")
    cand = (
        prefix.alias("a")
        .join(
            full.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    per_id = flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("sz"), F.collect_set("shingle").alias("set")
    )
    pa = per_id.select(
        F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), F.col("set").alias("set_a")
    )
    pb = per_id.select(F.col("id").alias("id_b"), F.col("set").alias("set_b"))
    ic = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    return (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            "id_a",
            "id_b",
            (ic.cast("double") / F.col("sz_a").cast("double")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def containment_pairs_sql(
    table: str, id_col: str, text_col: str, n: int = 3, threshold: float = 0.7
) -> str:
    """DuckDB twin of :func:`containment_pairs` — the DEFINITIONAL
    all-pairs form (losslessness of the prefix filter proved by the hash
    gate); the containment division is the identical IEEE expression."""
    return f"""
    WITH {_shingles_sql(table, id_col, text_col, n)},
    per AS (SELECT id, list(DISTINCT shingle) AS s, COUNT(*) AS sz
            FROM sh GROUP BY id)
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(a.sz AS DOUBLE) AS containment
    FROM per a JOIN per b ON a.id <> b.id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / CAST(a.sz AS DOUBLE) >= {float(threshold)!r}
    """


def dedup_keep_best(
    df: DataFrame,
    text_col: str,
    id_col: str,
    score_col,
) -> DataFrame:
    """Quality-aware exact dedup keep-list: one (fp, id, score) row per
    distinct ``text_col`` value, keeping the duplicate with the HIGHEST
    ``score_col`` (ties to the smallest id) — :func:`dedup_exact_keylist`
    keeps an arbitrary-but-deterministic min-id winner, which throws away
    information when duplicates differ in provenance quality (the common
    crawl case: the same article from a clean source and a boilerplate-
    ridden mirror).  ``score_col`` may be any column or expression (e.g.
    textstats.quality_score(text)).

    Scale shape is unchanged from the keylist: fp/score/id are computed
    map-side, the aggregate shuffles 32 bytes per row via a max_by-style
    struct-max partial+final — the document body never crosses an
    exchange.  The struct-MIN orders (-score, id): max score wins, smaller
    id wins ties — a total order, so the winner is unique and
    engine-reproducible.  Negating the (double) SCORE instead of the id
    keeps the operator generic: ids may be strings, and Long.MIN_VALUE
    can't overflow (double negation is total; a NaN score loses to any
    real score rather than winning, which is the sane quality contract).
    The raw score rides the struct as a third field (never compared — the
    id tie-break is unique), so no double-negation touches the output."""
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    picked = (
        df.select(
            F.md5(F.col(text_col)).alias("fp"),
            F.struct(
                (-score.cast("double")).alias("neg_s"),
                F.col(id_col).alias("idv"),
                score.cast("double").alias("s"),
            ).alias("__k"),
        )
        .groupBy("fp")
        .agg(F.min("__k").alias("__k"))
    )
    return picked.select(
        "fp",
        F.col("__k.idv").alias(id_col),
        F.col("__k.s").alias("score"),
    )


def dedup_keep_best_sql(table: str, text_col: str, id_col: str, score_sql: str) -> str:
    """DuckDB twin of :func:`dedup_keep_best` — mirrors the Spark
    struct-MIN over (-score, id) EXACTLY rather than paraphrasing it as
    ``ORDER BY s DESC`` (ADVICE r10): on the negated axis a NaN score is
    NaN and sorts GREATEST ascending in both engines (so it loses, per
    the docstring contract), and a NULL negated score sorts with
    NULLS FIRST to match Spark's null-smallest struct-field comparison
    (so it wins) — the DESC paraphrase got both special cases backwards
    (DuckDB DESC puts NaN first = wins, NULL last = loses)."""
    return f"""
    WITH scored AS (
        SELECT md5({text_col}) AS fp, {id_col} AS id,
               CAST({score_sql} AS DOUBLE) AS s
        FROM {table}
    ),
    ranked AS (
        SELECT fp, id, s,
               ROW_NUMBER() OVER (
                   PARTITION BY fp
                   ORDER BY -CAST(s AS DOUBLE) ASC NULLS FIRST, id ASC
               ) AS rn
        FROM scored
    )
    SELECT fp, id AS {id_col}, s AS score FROM ranked WHERE rn = 1
    """


def minhash_estimate_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    seed: int = 42,
) -> DataFrame:
    """MinHash CALIBRATION gate — the dedup family's analogue of the ANN
    recall rows (similarity_pq_recall): for every LSH candidate pair,
    the signature-agreement Jaccard ESTIMATE (E[n_agree/K] = J, Broder
    1997) side by side with the exact Jaccard and the absolute error —
    measuring what ``num_hashes`` actually buys, per pair, instead of
    assuming the textbook variance J(1-J)/K.

    Returns (id_a, id_b, n_agree, est_jaccard, jaccard, abs_err) over
    the LSH candidates (the pairs a production run would actually
    verify).  A banded collision with zero true overlap scores exact
    jaccard 0 (LEFT join, surfaced not dropped — those are precisely
    the estimator's worst misses).

    Exactness: n_agree is an exact integer; est/exact/err are the same
    three IEEE expressions in both engines.  Plan: ONE shingle stream
    feeds the signature aggregate AND the exact verify (the module's
    shared-stream discipline — localCheckpointed here because FOUR
    consumers re-derive it otherwise: the cand pipeline, the agreement
    signatures, and verify's size/intersection joins; unmaterialized it
    re-scanned the corpus 6x); the agreement join touches |cand| rows
    of K-column signatures.  The signature table is itself materialized
    once (lazy checkpoint) and shared by the candidate pipeline and BOTH
    sides of the agreement join — previously the groupBy-over-16-mins
    aggregate executed three times (r15 optimization round)."""
    sh = shingles(df, id_col, text_col, n).localCheckpoint()
    sig = _signatures_from_shingles(sh, num_hashes, seed).localCheckpoint(eager=False)
    cand = minhash_candidate_pairs(
        df, id_col, text_col, n, num_hashes, rows_per_band, seed,
        shingles_df=sh, signatures_df=sig,
    )
    agree = None
    for i in range(num_hashes):
        t = (F.col(f"a.mh_{i}") == F.col(f"b.mh_{i}")).cast("bigint")
        agree = t if agree is None else agree + t
    est = (
        cand.join(sig.alias("a"), F.col("a.id") == F.col("id_a"))
        .join(sig.alias("b"), F.col("b.id") == F.col("id_b"))
        .select("id_a", "id_b", agree.alias("n_agree"))
    )
    exact = verify_jaccard_pairs(sh, cand, threshold=0.0)
    ej = F.col("n_agree").cast("double") / F.lit(float(num_hashes))
    jx = F.coalesce(F.col("jaccard"), F.lit(0.0))
    return (
        est.join(exact, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            "n_agree",
            ej.alias("est_jaccard"),
            jx.alias("jaccard"),
            F.abs(ej - jx).alias("abs_err"),
        )
    )


def minhash_estimate_eval_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    seed: int = 42,
) -> str:
    """DuckDB twin of :func:`minhash_estimate_eval` — same hash
    constants, band keys, agreement count, and IEEE expressions (the
    scaffolding comes from :func:`_sig_band_cand_sql`, shared with the
    other two builders)."""
    agree = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return f"""
    WITH {_sig_band_cand_sql(table, id_col, text_col, n, num_hashes, rows_per_band, seed)},
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS ic
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
              GROUP BY 1, 2),
    est AS (SELECT c.id_a, c.id_b,
                   CAST({agree} AS BIGINT) AS n_agree
            FROM cand c JOIN sig sa ON sa.id = c.id_a
                        JOIN sig sb ON sb.id = c.id_b),
    exact AS (SELECT c.id_a, c.id_b,
                     CAST(i.ic AS DOUBLE)
                       / CAST(sa.sz + sb.sz - i.ic AS DOUBLE) AS jaccard
              FROM cand c
              JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
              JOIN sizes sa ON sa.id = c.id_a
              JOIN sizes sb ON sb.id = c.id_b)
    SELECT e.id_a, e.id_b, e.n_agree,
           CAST(e.n_agree AS DOUBLE) / {float(num_hashes)} AS est_jaccard,
           COALESCE(x.jaccard, 0.0) AS jaccard,
           abs(CAST(e.n_agree AS DOUBLE) / {float(num_hashes)}
               - COALESCE(x.jaccard, 0.0)) AS abs_err
    FROM est e LEFT JOIN exact x ON x.id_a = e.id_a AND x.id_b = e.id_b
    """
