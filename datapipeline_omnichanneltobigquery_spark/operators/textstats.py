"""Text analysis operators: quality scoring, language ID, token counting,
document fingerprinting (SURVEY.md §2.2 extension surface).

Everything is built-in-function expressions inside WholeStageCodegen — the
classic mistake in text pipelines is a row-at-a-time Python UDF per doc;
none of these need one.  Each operator has a same-named ``*_sql`` DuckDB
twin for the oracle gate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from datapipeline_omnichanneltobigquery_spark.functions.hashing import md5_long, md5_long_sql
from datapipeline_omnichanneltobigquery_spark.operators.dedup import shingle_stream

# Tiny per-language function-word profiles (public common stopwords).  The
# heuristic scores each language by profile-word hits per token and argmaxes;
# deterministic tie-break by profile order.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est", "que", "dans"),
    "es": ("el", "la", "de", "que", "los", "una", "es", "en", "por", "con"),
    "zh": ("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"),
}

# A BPE-ish tokenizer regex: words, numbers, or single non-space symbols —
# the shape GPT-style byte-pair pretokenizers use (public pattern family).
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def _ws_tokens(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def quality_score(text: Column) -> Column:
    """The composite [0,1] quality score as a bare column expression — long
    enough, mostly alphabetic, not punctuation soup.  Exposed separately so
    pipeline stages (operators/corpus_prep.py) can FILTER on it map-side
    without materializing the full metrics projection."""
    toks = _ws_tokens(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_alpha = F.length(F.regexp_replace(F.lower(text), "[^a-z]", ""))
    n_punct = F.length(F.regexp_replace(text, "[^.,;:!?]", ""))
    alpha_ratio = n_alpha.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    return (
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + alpha_ratio * F.lit(0.4)
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(10.0), F.lit(1.0))) * F.lit(0.2)
    )


def quality_exprs(text_col: str) -> list[Column]:
    """The per-document quality feature columns (aliased) as bare
    expressions — one projection, no shuffle.  Exposed so composed
    profiles (plans/llm_ops.py::text_profile) can compute every per-row
    feature family in a SINGLE scan instead of one scan per operator."""
    text = F.col(text_col)
    toks = _ws_tokens(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_alpha = F.length(F.regexp_replace(F.lower(text), "[^a-z]", ""))
    n_punct = F.length(F.regexp_replace(text, "[^.,;:!?]", ""))
    stop_hits = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])))
    alpha_ratio = n_alpha.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    mean_word_len = n_alpha.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")
    score = quality_score(text)
    return [
        n_chars.cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        n_alpha.cast("bigint").alias("n_alpha"),
        n_punct.cast("bigint").alias("n_punct"),
        stop_hits.cast("bigint").alias("stop_hits"),
        mean_word_len.alias("mean_word_len"),
        alpha_ratio.alias("alpha_ratio"),
        score.alias("quality_score"),
    ]


def text_quality(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality features: char/token counts, mean word length,
    alpha & punctuation & stopword ratios, plus a composite [0,1] score
    (heuristics in the C4/Gopher-rules family).  One projection, no shuffle.
    """
    return df.select(F.col(id_col), *quality_exprs(text_col))


def text_quality_sql(table: str, id_col: str, text_col: str) -> str:
    stops = ", ".join(f"'{w}'" for w in LANG_PROFILES["en"])
    t = text_col
    return f"""
    SELECT {id_col},
           length({t}) AS n_chars,
           len(regexp_split_to_array(trim(lower({t})), '\\s+')) AS n_tokens,
           length(regexp_replace(lower({t}), '[^a-z]', '', 'g')) AS n_alpha,
           length(regexp_replace({t}, '[^.,;:!?]', '', 'g')) AS n_punct,
           len(list_intersect(regexp_split_to_array(trim(lower({t})), '\\s+'),
                              [{stops}])) AS stop_hits,
           CAST(length(regexp_replace(lower({t}), '[^a-z]', '', 'g')) AS DOUBLE)
             / CAST(greatest(len(regexp_split_to_array(trim(lower({t})), '\\s+')), 1) AS DOUBLE)
             AS mean_word_len,
           CAST(length(regexp_replace(lower({t}), '[^a-z]', '', 'g')) AS DOUBLE)
             / CAST(greatest(length({t}), 1) AS DOUBLE) AS alpha_ratio,
           least(CAST(len(regexp_split_to_array(trim(lower({t})), '\\s+')) AS DOUBLE) / 100.0, 1.0) * 0.4
             + CAST(length(regexp_replace(lower({t}), '[^a-z]', '', 'g')) AS DOUBLE)
               / CAST(greatest(length({t}), 1) AS DOUBLE) * 0.4
             + (1.0 - least(CAST(length(regexp_replace({t}, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                            / CAST(greatest(length({t}), 1) AS DOUBLE) * 10.0, 1.0)) * 0.2
             AS quality_score
    FROM {table}
    """


def lang_exprs(text_col: str) -> list[Column]:
    """``lang_pred`` / ``lang_hits`` as bare expressions over the hit
    counts directly (single projection; codegen subexpression elimination
    shares the repeated array_intersects) — argmax via greatest + chained
    when, first profile wins ties."""
    toks = _ws_tokens(F.col(text_col))
    hits = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_PROFILES.items()
    }
    best = F.greatest(*hits.values())
    pick = None
    for lang, h in hits.items():
        cond = h == best
        pick = F.when(cond, F.lit(lang)) if pick is None else pick.when(cond, F.lit(lang))
    return [pick.alias("lang_pred"), best.cast("bigint").alias("lang_hits")]


def lang_id_sql(table: str, id_col: str, text_col: str) -> str:
    toks = f"regexp_split_to_array(trim(lower({text_col})), '\\s+')"
    hits = {
        lang: f"len(list_intersect({toks}, [{', '.join(repr(w) for w in words)}]))"
        for lang, words in LANG_PROFILES.items()
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    case = "CASE " + " ".join(
        f"WHEN {expr} = {best} THEN '{lang}'" for lang, expr in hits.items()
    ) + " END"
    return f"SELECT {id_col}, {case} AS lang_pred, {best} AS lang_hits FROM {table}"


def token_count_exprs(text_col: str) -> list[Column]:
    """``ws_tokens`` / ``bpe_tokens`` as bare expressions."""
    text = F.col(text_col)
    return [
        F.size(_ws_tokens(text)).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0)).cast("bigint").alias("bpe_tokens"),
    ]


def token_counts_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
    SELECT {id_col},
           len(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS ws_tokens,
           len(regexp_extract_all({text_col}, '{BPE_TOKEN_RE}')) AS bpe_tokens
    FROM {table}
    """


def fingerprint_expr(text_col: str) -> Column:
    """The 60-bit md5 fingerprint as a bare expression (aliased ``fp``)."""
    canon = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return md5_long(canon).alias("fp")


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Canonical document fingerprint: md5-based 60-bit id over the
    whitespace-normalized lower-cased text — the exact-dedup join key that
    costs 8 bytes instead of the document."""
    return df.select(F.col(id_col), fingerprint_expr(text_col))


def fingerprint_sql(table: str, id_col: str, text_col: str) -> str:
    canon = f"regexp_replace(trim(lower({text_col})), '\\s+', ' ', 'g')"
    return f"SELECT {id_col}, {md5_long_sql(canon)} AS fp FROM {table}"


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1 family):
    duplicate-token fraction, most-frequent-token fraction, and the same two
    over 2-grams.  High values flag boilerplate/spam documents that slip
    past length and alpha-ratio checks.

    Plan: explode tokens once, count per (doc, token) / (doc, 2-gram), then
    roll up per document — every stage is whole-stage-codegen aggregation
    shuffled on doc_id.  (The per-row array-lambda formulation is the trap
    here: Catalyst higher-order functions are INTERPRETED, and the nested
    distinct×filter scan re-evaluated per output column measured ~100 ms/doc
    at sf0.1 — three orders of magnitude slower than this aggregate form.)"""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_ws_tokens(F.col(text_col))).alias("pos", "tok"),
    )
    tok_stats = (
        toks.groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("nd"),
            F.max("c").alias("top"),
        )
    )
    w = Window.partitionBy("id").orderBy("pos")
    grams = (
        toks.select("id", F.concat_ws(" ", F.col("tok"), F.lead("tok", 1).over(w)).alias("gram"),
                    F.lead("tok", 1).over(w).alias("__nxt"))
        .filter(F.col("__nxt").isNotNull())
        .select("id", "gram")
    )
    gram_stats = (
        grams.groupBy("id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").alias("g"),
            F.count(F.lit(1)).alias("gd"),
            F.max("c").alias("top_g"),
        )
    )
    joined = tok_stats.join(gram_stats, "id", "left").na.fill(
        {"g": 0, "gd": 0, "top_g": 0}
    )
    safe_n = F.greatest(F.col("n"), F.lit(1)).cast("double")
    safe_g = F.greatest(F.col("g"), F.lit(1)).cast("double")
    return joined.select(
        F.col("id").alias(id_col),
        ((F.col("n") - F.col("nd")).cast("double") / safe_n).alias("dup_token_frac"),
        (F.col("top").cast("double") / safe_n).alias("top_token_frac"),
        ((F.col("g") - F.col("gd")).cast("double") / safe_g).alias("dup_2gram_frac"),
        (F.col("top_g").cast("double") / safe_g).alias("top_2gram_frac"),
    )


def repetition_stats_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
    WITH __rep AS (SELECT {id_col},
                          regexp_split_to_array(trim(lower({text_col})), '\\s+') AS w
                   FROM {table}),
    __rep2 AS (SELECT {id_col}, w,
                      CASE WHEN len(w) >= 2
                           THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                           ELSE [] END AS g
               FROM __rep)
    SELECT {id_col},
           CAST(len(w) - len(list_distinct(w)) AS DOUBLE)
             / CAST(greatest(len(w), 1) AS DOUBLE) AS dup_token_frac,
           CAST(list_max(list_transform(list_distinct(w),
                         t -> len(list_filter(w, x -> x = t)))) AS DOUBLE)
             / CAST(greatest(len(w), 1) AS DOUBLE) AS top_token_frac,
           CAST(len(g) - len(list_distinct(g)) AS DOUBLE)
             / CAST(greatest(len(g), 1) AS DOUBLE) AS dup_2gram_frac,
           CAST(coalesce(list_max(list_transform(list_distinct(g),
                         t -> len(list_filter(g, x -> x = t)))), 0) AS DOUBLE)
             / CAST(greatest(len(g), 1) AS DOUBLE) AS top_2gram_frac
    FROM __rep2
    """


# Public-pattern scrub regexes (emails / URLs / long digit runs) — the PII /
# boilerplate cleaning pass every training-data pipeline runs before dedup.
SCRUB_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", "https?://[^\\s]+", "<URL>"),
    ("number", "[0-9]{6,}", "<NUM>"),
)


def normalize_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Canonical cleaning pass: lowercase, collapse whitespace, scrub
    emails/URLs/long numbers to placeholder tokens, and report how many
    substitutions each rule made.  Pure regexp expressions in codegen —
    one narrow projection, no Python, safe at any scale."""
    cleaned = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    counts = []
    for name, pat, repl in SCRUB_PATTERNS:
        counts.append(F.regexp_count(cleaned, F.lit(pat)).cast("bigint").alias(f"n_{name}"))
        cleaned = F.regexp_replace(cleaned, pat, repl)
    return df.select(F.col(id_col), cleaned.alias("clean_text"), *counts)


def normalize_text_sql(table: str, id_col: str, text_col: str) -> str:
    base = f"regexp_replace(trim(lower({text_col})), '\\s+', ' ', 'g')"
    cleaned = base
    count_exprs = []
    for name, pat, repl in SCRUB_PATTERNS:
        count_exprs.append(
            f"len(regexp_extract_all({cleaned}, '{pat}')) AS n_{name}"
        )
        cleaned = f"regexp_replace({cleaned}, '{pat}', '{repl}', 'g')"
    return (
        f"SELECT {id_col}, {cleaned} AS clean_text, "
        + ", ".join(count_exprs)
        + f" FROM {table}"
    )


def unigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Unigram language-model score per document: mean log P(token) under
    the corpus's own add-one-smoothed unigram distribution — the cheap
    perplexity-style quality filter (gibberish and boilerplate score far
    from the corpus mode; no trained model needed).

    Plan: token explode → corpus frequency aggregate (one shuffle on term)
    → broadcast-join frequencies back to the token stream → per-doc ordered
    sum.  The vocabulary table stays distributed; only corpus totals (two
    scalars) broadcast.  ``ln`` agrees bitwise between the JVM and DuckDB's
    libm on this platform (same discipline as operators/ir.py), and the
    per-doc sum is term-ordered so the double addition order matches the
    oracle's ``ORDER BY``.

    Returns (id, n_tokens, avg_logprob) rounded to 6 decimals."""
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(_ws_tokens(F.col(text_col))).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
        .select("id", "pos", "term")
    )
    freqs = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    totals = freqs.agg(
        F.sum("tf").alias("n_total"), F.count(F.lit(1)).alias("n_vocab")
    )
    scored = toks.join(freqs, "term").crossJoin(F.broadcast(totals))
    logp = F.log(
        (F.col("tf").cast("double") + 1.0)
        / (F.col("n_total").cast("double") + F.col("n_vocab").cast("double"))
    )
    return (
        scored.select("id", "pos", "term", logp.alias("lp"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("pos", "term", "lp"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["lp"],
                )
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logprob"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "avg_logprob")
    )


def unigram_logprob_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
    WITH toks0 AS (SELECT {id_col} AS id,
                          UNNEST(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS term,
                          generate_subscripts(regexp_split_to_array(trim(lower({text_col})), '\\s+'), 1) AS pos
                   FROM {table}),
    toks AS (SELECT id, pos, term FROM toks0 WHERE term <> ''),
    freqs AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
    totals AS (SELECT SUM(tf) AS n_total, COUNT(*) AS n_vocab FROM freqs)
    SELECT id AS {id_col}, COUNT(*) AS n_tokens,
           ROUND(SUM(ln((CAST(tf AS DOUBLE) + 1.0)
                        / (CAST(n_total AS DOUBLE) + CAST(n_vocab AS DOUBLE)))
                     ORDER BY pos, term) / COUNT(*), 6) AS avg_logprob
    FROM toks JOIN freqs USING (term), totals
    GROUP BY id
    """


def bigram_logprob(
    df: DataFrame, id_col: str, text_col: str, lam: float = 0.8
) -> DataFrame:
    """Interpolated BIGRAM language-model score per document:
    mean log(λ·P(w|prev) + (1−λ)·P(w)) under the corpus's own counts,
    with the first token scored by its unigram MLE — one model class up
    from :func:`unigram_logprob` (catches scrambled word ORDER that
    unigram statistics cannot see, the next quality-filter rung).

    Determinism: all probabilities are ratios of exact integer counts
    combined in ONE fixed-order IEEE expression; ``ln`` agrees bitwise
    between engines (module discipline), the per-doc sum is position-
    ordered, and the result rounds to 6 decimals.

    Scale shape: unigram and bigram count tables are vocabulary-sized and
    localCheckpointed (each is referenced by several joins — without the
    cut every reference re-derives the counts from a fresh corpus scan,
    the plan-audit ceiling pathology); the token stream itself is scanned
    once in the final plan.  An unseen bigram backs off to the unigram
    term (coalesce 0), so P > 0 always.

    Returns (id, n_tokens, avg_logprob)."""
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(_ws_tokens(F.col(text_col))).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
        .select("id", "pos", "term")
    )
    lagged = toks.withColumn(
        "prev", F.lag("term").over(Window.partitionBy("id").orderBy("pos"))
    )
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cu")).localCheckpoint()
    totals = uni.agg(F.sum("cu").alias("n_total"))
    big = (
        lagged.filter(F.col("prev").isNotNull())
        .groupBy("prev", "term")
        .agg(F.count(F.lit(1)).alias("cb"))
        .localCheckpoint()
    )
    up = uni.select(F.col("term").alias("prev"), F.col("cu").alias("cu_prev"))
    scored = (
        lagged.join(uni, "term")
        .join(up, "prev", "left")
        .join(big, ["prev", "term"], "left")
        .crossJoin(F.broadcast(totals))
    )
    p_uni = F.col("cu").cast("double") / F.col("n_total").cast("double")
    p = F.when(F.col("prev").isNull(), p_uni).otherwise(
        F.lit(lam)
        * (F.coalesce(F.col("cb"), F.lit(0)).cast("double") / F.col("cu_prev").cast("double"))
        + F.lit(1.0 - lam) * p_uni
    )
    return (
        scored.select("id", "pos", F.log(p).alias("lp"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("pos", "lp"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["lp"],
                )
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logprob"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "avg_logprob")
    )


def bigram_logprob_sql(table: str, id_col: str, text_col: str, lam: float = 0.8) -> str:
    """DuckDB twin of :func:`bigram_logprob` — same counts, same
    fixed-order interpolation (decimal literals cast to DOUBLE so both
    engines mix in binary), same position-ordered sum."""
    l_ = f"CAST({lam!r} AS DOUBLE)"
    l1 = f"CAST({1.0 - lam!r} AS DOUBLE)"
    return f"""
    WITH toks0 AS (SELECT {id_col} AS id,
                          UNNEST(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS term,
                          generate_subscripts(regexp_split_to_array(trim(lower({text_col})), '\\s+'), 1) AS pos
                   FROM {table}),
    toks AS (SELECT id, pos, term FROM toks0 WHERE term <> ''),
    lagged AS (SELECT id, pos, term,
                      LAG(term) OVER (PARTITION BY id ORDER BY pos) AS prev
               FROM toks),
    uni AS (SELECT term, COUNT(*) AS cu FROM toks GROUP BY term),
    totals AS (SELECT SUM(cu) AS n_total FROM uni),
    big AS (SELECT prev, term, COUNT(*) AS cb FROM lagged
            WHERE prev IS NOT NULL GROUP BY prev, term),
    scored AS (
        SELECT l.id, l.pos,
               CASE WHEN l.prev IS NULL
                    THEN CAST(u.cu AS DOUBLE) / CAST(n_total AS DOUBLE)
                    ELSE {l_} * (CAST(COALESCE(b.cb, 0) AS DOUBLE)
                                 / CAST(up.cu AS DOUBLE))
                         + {l1} * (CAST(u.cu AS DOUBLE) / CAST(n_total AS DOUBLE))
               END AS p
        FROM lagged l
        JOIN uni u ON u.term = l.term
        LEFT JOIN uni up ON up.term = l.prev
        LEFT JOIN big b ON b.prev = l.prev AND b.term = l.term, totals)
    SELECT id AS {id_col}, COUNT(*) AS n_tokens,
           ROUND(SUM(ln(p) ORDER BY pos) / COUNT(*), 6) AS avg_logprob
    FROM scored GROUP BY id
    """


def ngram_topk(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 20
) -> DataFrame:
    """Corpus heavy hitters: the top-``k`` word n-grams by occurrence count
    — (ngram, n_occurrences, n_docs), ordered by count desc with the ngram
    itself as the deterministic tie-break.

    Plan: the positional shingle stream (dedup.shingle_stream — window-lead
    construction, one (id) shuffle of tokens) feeds ONE hash aggregate on
    the ngram (partial map-side combine collapses each partition's repeats
    before the exchange, so the shuffle carries ≤ |distinct ngrams per
    partition| rows); n_docs rides the same aggregate as a count-distinct
    expansion.  The top-k is TakeOrderedAndProject — a per-partition heap +
    k-row driver merge, never a global sort.  At 100 TB the aggregate keys
    are the distinct-ngram space, which partial aggregation + AQE size
    fine; for a cheaper screening pass swap count_distinct for
    approx_count_distinct (the exact form is kept here for the oracle)."""
    st = shingle_stream(df, id_col, text_col, n)
    return (
        st.groupBy(F.col("shingle").alias("ngram"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram"))
        .limit(k)
    )


def ngram_topk_sql(table: str, id_col: str, text_col: str, n: int = 3, k: int = 20) -> str:
    """DuckDB twin of :func:`ngram_topk` (same tokenization as
    dedup._shingles_sql, minus the DISTINCT — occurrences, not sets)."""
    return f"""
    WITH toks AS (SELECT {id_col} AS id,
                         list_filter(regexp_split_to_array(trim(lower({text_col})), '\\s+'),
                                     t -> t <> '') AS w
                  FROM {table}),
    st AS (SELECT id, array_to_string(w[i:i+{n - 1}], ' ') AS ngram
           FROM toks, UNNEST(range(1, len(w) - {n - 2})) AS u(i))
    SELECT ngram, COUNT(*) AS n_occurrences, COUNT(DISTINCT id) AS n_docs
    FROM st GROUP BY 1
    ORDER BY n_occurrences DESC, ngram
    LIMIT {k}
    """


def quality_calibrate(
    df: DataFrame, id_col: str, text_col: str, group_col: str
) -> DataFrame:
    """Per-domain quality calibration: the raw composite score's scale
    drifts between sources (a boilerplate-heavy domain saturates the
    punctuation term; a short-form domain the length term), so a single
    global threshold over-prunes some domains and under-prunes others.
    This returns each document's PERCENTILE of quality within its own
    source — (id, group, quality_score, quality_pctile) — making
    'keep the top 60%' mean the same thing in every domain.

    Plan: the quality features are map-side (text_quality: one projection,
    no shuffle); the calibration is a single percent_rank window per
    source — ONE shuffle on the group key, deterministic via the
    (score, id) tie-broken sort."""
    from pyspark.sql import Window

    q = text_quality(df, id_col, text_col).select(id_col, "quality_score")
    g = df.select(F.col(id_col), F.col(group_col))
    w = Window.partitionBy(group_col).orderBy("quality_score", id_col)
    return (
        q.join(g, id_col)
        .select(
            F.col(id_col),
            F.col(group_col),
            "quality_score",
            F.percent_rank().over(w).alias("quality_pctile"),
        )
    )


def quality_calibrate_sql(table: str, id_col: str, text_col: str, group_col: str) -> str:
    """DuckDB twin of :func:`quality_calibrate` — percent_rank over the
    generated quality twin, same (score, id) tie-break."""
    return f"""
    WITH q AS ({text_quality_sql(table, id_col, text_col)}),
    g AS (SELECT {id_col}, {group_col} FROM {table})
    SELECT q.{id_col}, g.{group_col}, q.quality_score,
           PERCENT_RANK() OVER (PARTITION BY g.{group_col}
                                ORDER BY q.quality_score, q.{id_col}) AS quality_pctile
    FROM q JOIN g ON g.{id_col} = q.{id_col}
    """


def ngram_novelty(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    n-grams that appear in NO other document — (id, n_shingles, n_novel,
    novelty).  Low novelty flags boilerplate/near-copies that slipped past
    pairwise dedup (their duplicates may have been deleted already, or
    spread one shingle at a time across many docs); high novelty marks the
    content that actually adds information to a corpus.

    Plan: one distinct shingle stream (the inverted-index construction
    every dedup op shares), document frequency via ONE partial-aggregated
    groupBy(shingle) counting distinct docs, then a doc-level rollup —
    novelty = a single double division over exact counts.  No pairwise
    work: this is the linear-cost screen to run when the quadratic
    question ('which doc copies which') isn't needed."""
    from datapipeline_omnichanneltobigquery_spark.operators.dedup import shingles

    sh = shingles(df, id_col, text_col, n)
    docfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(docfreq, "shingle")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_shingles").cast("double")).alias(
                "novelty"
            ),
        )
    )


def ngram_novelty_sql(table: str, id_col: str, text_col: str, n: int = 3) -> str:
    """DuckDB twin of :func:`ngram_novelty` — same distinct-shingle stream
    (dedup._shingles_sql construction), same counts and division."""
    from datapipeline_omnichanneltobigquery_spark.operators.dedup import _shingles_sql

    return f"""
    WITH {_shingles_sql(table, id_col, text_col, n)},
    docfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
    SELECT s.id AS {id_col},
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM sh s JOIN docfreq d ON d.shingle = s.shingle
    GROUP BY s.id
    """


def compression_ratio(df: DataFrame, id_col: str, text_col: str, level: int = 6) -> DataFrame:
    """Compression-ratio quality signal: zlib-compressed size over raw
    UTF-8 size per document — the model-free redundancy detector the
    Gopher/Dolma-style filter stacks use beside token statistics
    (machine-generated/boilerplate text compresses far below prose;
    near-random noise compresses above ~1.0).  Complements
    ``repetition_stats`` (which sees exact token/2-gram repeats) by
    catching LONG-RANGE and near-miss redundancy in one number.

    One Arrow ``mapInPandas`` crossing, per-batch (never per-row Python);
    cost is a linear scan of the bytes — scan-bound at 100 TB like the
    codec kernels.  zlib with a fixed level is deterministic for a given
    zlib build; treat the ratio as a score, not a cross-platform hash
    (hence pytest-pinned, no SQL oracle — DuckDB has no deflate).

    Output: (id, raw_bytes, zlib_bytes, ratio)."""
    import pyspark.sql.functions as F

    schema = f"{df.select(F.col(id_col)).schema[0].dataType.simpleString()}"
    out_schema = f"id {schema}, raw_bytes long, zlib_bytes long, ratio double"

    def kernel(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = [t.encode("utf-8") if t is not None else b"" for t in pdf[text_col]]
            rb = [len(b) for b in raw]
            zb = [len(zlib.compress(b, level)) for b in raw]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "raw_bytes": rb,
                    "zlib_bytes": zb,
                    "ratio": [z / r if r else 0.0 for z, r in zip(zb, rb)],
                }
            )

    return df.select(id_col, text_col).mapInPandas(kernel, schema=out_schema)


def kneser_ney_logprob(
    df: DataFrame, id_col: str, text_col: str, discount: float = 0.75
) -> DataFrame:
    """Kneser-Ney-smoothed BIGRAM language-model score per document — the
    smoothing that replaces :func:`bigram_logprob`'s linear interpolation
    with absolute discounting plus the CONTINUATION distribution:

        P_KN(w|prev) = (c(prev,w) − d)/c(prev·)
                       + (d·N1+(prev·)/c(prev·)) · N1+(·w)/|bigram types|

    The continuation term is what makes KN the standard: a word frequent
    only inside one collocation ("francisco") gets LOW backoff mass while
    a word following many contexts gets high — unigram-interpolated
    models cannot express that.  Scoring the corpus against its own
    counts means every scored bigram was observed, so c(prev,w) ≥ 1 > d
    and P > 0 without clamping; first tokens score by unigram MLE.

    Determinism and scale follow :func:`bigram_logprob` exactly: all
    count tables are vocabulary-sized and localCheckpointed (the bigram
    table feeds THREE consumers — direct counts, per-context N1+/totals,
    per-word continuation counts), probabilities are one fixed-order
    all-double expression, ln agrees bitwise, per-doc sums fold in
    position order, 6-decimal round.  Returns (id, n_tokens,
    avg_logprob)."""
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(_ws_tokens(F.col(text_col))).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
        .select("id", "pos", "term")
    )
    lagged = toks.withColumn(
        "prev", F.lag("term").over(Window.partitionBy("id").orderBy("pos"))
    )
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cu")).localCheckpoint()
    totals = uni.agg(F.sum("cu").alias("n_total"))
    big = (
        lagged.filter(F.col("prev").isNotNull())
        .groupBy("prev", "term")
        .agg(F.count(F.lit(1)).alias("cb"))
        .localCheckpoint()
    )
    ctx = big.groupBy("prev").agg(
        F.count(F.lit(1)).alias("np"), F.sum("cb").alias("cp")
    )
    cont = big.groupBy("term").agg(F.count(F.lit(1)).alias("nw"))
    n_types = big.agg(F.count(F.lit(1)).alias("n_types"))
    d = float(discount)
    scored = (
        lagged.join(uni, "term")
        .join(big, ["prev", "term"], "left")
        .join(ctx, "prev", "left")
        .join(cont, "term", "left")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(n_types))
    )
    p_uni = F.col("cu").cast("double") / F.col("n_total").cast("double")
    p_kn = (
        (F.col("cb").cast("double") - F.lit(d)) / F.col("cp").cast("double")
        + (F.lit(d) * F.col("np").cast("double") / F.col("cp").cast("double"))
        * (F.col("nw").cast("double") / F.col("n_types").cast("double"))
    )
    p = F.when(F.col("prev").isNull(), p_uni).otherwise(p_kn)
    return (
        scored.select("id", "pos", F.log(p).alias("lp"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("pos", "lp"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["lp"],
                )
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logprob"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "avg_logprob")
    )


def kneser_ney_logprob_sql(
    table: str, id_col: str, text_col: str, discount: float = 0.75
) -> str:
    """DuckDB twin of :func:`kneser_ney_logprob` — same counts, same
    fixed-order all-double KN expression, same position-ordered sum."""
    d = f"CAST({float(discount)!r} AS DOUBLE)"
    return f"""
    WITH toks0 AS (SELECT {id_col} AS id,
                          UNNEST(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS term,
                          generate_subscripts(regexp_split_to_array(trim(lower({text_col})), '\\s+'), 1) AS pos
                   FROM {table}),
    toks AS (SELECT id, pos, term FROM toks0 WHERE term <> ''),
    lagged AS (SELECT id, pos, term,
                      LAG(term) OVER (PARTITION BY id ORDER BY pos) AS prev
               FROM toks),
    uni AS (SELECT term, COUNT(*) AS cu FROM toks GROUP BY term),
    totals AS (SELECT SUM(cu) AS n_total FROM uni),
    big AS (SELECT prev, term, COUNT(*) AS cb FROM lagged
            WHERE prev IS NOT NULL GROUP BY prev, term),
    ctx AS (SELECT prev, COUNT(*) AS np, SUM(cb) AS cp FROM big GROUP BY prev),
    cont AS (SELECT term, COUNT(*) AS nw FROM big GROUP BY term),
    ntypes AS (SELECT COUNT(*) AS n_types FROM big),
    scored AS (
        SELECT l.id, l.pos,
               ln(CASE WHEN l.prev IS NULL
                       THEN CAST(u.cu AS DOUBLE) / CAST(t.n_total AS DOUBLE)
                       ELSE (CAST(b.cb AS DOUBLE) - {d}) / CAST(x.cp AS DOUBLE)
                            + ({d} * CAST(x.np AS DOUBLE) / CAST(x.cp AS DOUBLE))
                              * (CAST(w.nw AS DOUBLE) / CAST(n.n_types AS DOUBLE))
                  END) AS lp
        FROM lagged l
        JOIN uni u ON u.term = l.term
        LEFT JOIN big b ON b.prev = l.prev AND b.term = l.term
        LEFT JOIN ctx x ON x.prev = l.prev
        LEFT JOIN cont w ON w.term = l.term
        CROSS JOIN totals t CROSS JOIN ntypes n
    )
    SELECT id AS {id_col}, COUNT(*) AS n_tokens,
           round(list_sum(list_transform(
                     list(struct_pack(pos := pos, lp := lp) ORDER BY pos),
                     s -> s.lp)) / COUNT(*), 6) AS avg_logprob
    FROM scored GROUP BY id
    """


def boilerplate_scrub(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_len: int = 5,
    max_df: int = 2,
) -> DataFrame:
    """CCNet-style boilerplate removal at segment granularity: split each
    document into consecutive ``seg_len``-token segments, drop every segment
    whose exact text appears in more than ``max_df`` distinct documents
    (headers, footers, licence banners, nav chrome — the cross-document
    repeats), and reassemble the survivors in order.  Returns one row per
    document: (doc_id, clean_text, kept_segs, dropped_segs).

    Scale shape: the only corpus-sized shuffles are the two (id, seg_id) /
    (seg_text) aggregates — both map-side-combinable.  The blocklist of
    over-frequent segments is SMALL by construction (boilerplate is the
    repeated tail of the distribution), so the removal join is a broadcast
    ANTI join: no corpus-sized join ever materializes pair-wise.  Row
    identity: EVERY distinct input id survives — all-boilerplate docs and
    zero-token (empty/whitespace-only) docs alike come back as empty
    strings with kept_segs = dropped_segs = 0 for the latter (left joins
    from the distinct id keylist), so downstream length filters see them.
    No global sort: output order is unspecified, callers order if needed.
    """
    idc = F.col(id_col)
    raw = F.split(F.trim(F.col(text_col)), r"\s+")
    tok = (
        df.select(idc.alias("id"), F.posexplode(raw).alias("pos", "tok"))
        .filter(F.col("tok") != "")
    )
    seg = tok.groupBy(
        "id", F.floor(F.col("pos") / F.lit(seg_len)).cast("int").alias("seg_id")
    ).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
            ),
        ).alias("seg_text")
    )
    # Two downstream uses (blocklist + removal join) — materialize once, the
    # dedup.py shared-stream discipline, so the corpus tokenizes one time.
    seg = seg.localCheckpoint()
    block = (
        seg.groupBy("seg_text")
        .agg(F.count_distinct("id").alias("ndocs"))
        .filter(F.col("ndocs") > max_df)
        .select("seg_text")
    )
    kept = seg.join(F.broadcast(block), "seg_text", "left_anti")
    totals = seg.groupBy("id").agg(F.count(F.lit(1)).alias("n_segs"))
    kept_agg = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("kept_segs"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_id", "seg_text"))),
                lambda s: s["seg_text"],
            ),
        ).alias("clean_text"),
    )
    ids = df.select(idc.alias("id")).distinct()
    return (
        ids.join(totals, "id", "left")
        .join(kept_agg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("kept_segs"), F.lit(0)).cast("long").alias("kept_segs"),
            (
                F.coalesce(F.col("n_segs"), F.lit(0))
                - F.coalesce(F.col("kept_segs"), F.lit(0))
            )
            .cast("long")
            .alias("dropped_segs"),
        )
    )


def boilerplate_scrub_sql(
    table: str, id_col: str, text_col: str, seg_len: int = 5, max_df: int = 2
) -> str:
    """DuckDB twin of :func:`boilerplate_scrub` (same segmentation, same
    blocklist threshold, same reassembly order)."""
    return f"""
    WITH tok0 AS (
        SELECT {id_col} AS id,
               UNNEST(regexp_split_to_array(trim({text_col}), '\\s+')) AS tok,
               generate_subscripts(regexp_split_to_array(trim({text_col}), '\\s+'), 1) - 1 AS pos
        FROM {table}
    ),
    tok AS (SELECT id, tok, pos FROM tok0 WHERE tok <> ''),
    seg AS (
        SELECT id, CAST(FLOOR(pos / {seg_len}) AS INT) AS seg_id,
               string_agg(tok, ' ' ORDER BY pos) AS seg_text
        FROM tok GROUP BY 1, 2
    ),
    block AS (
        SELECT seg_text FROM seg GROUP BY seg_text
        HAVING COUNT(DISTINCT id) > {max_df}
    ),
    kept AS (
        SELECT s.* FROM seg s
        WHERE NOT EXISTS (SELECT 1 FROM block b WHERE b.seg_text = s.seg_text)
    ),
    totals AS (SELECT id, COUNT(*) AS n_segs FROM seg GROUP BY 1),
    kept_agg AS (
        SELECT id, COUNT(*) AS kept_segs,
               string_agg(seg_text, ' ' ORDER BY seg_id) AS clean_text
        FROM kept GROUP BY 1
    ),
    ids AS (SELECT DISTINCT {id_col} AS id FROM {table})
    SELECT i.id AS {id_col},
           COALESCE(k.clean_text, '') AS clean_text,
           COALESCE(k.kept_segs, 0) AS kept_segs,
           COALESCE(t.n_segs, 0) - COALESCE(k.kept_segs, 0) AS dropped_segs
    FROM ids i
    LEFT JOIN totals t ON t.id = i.id
    LEFT JOIN kept_agg k ON k.id = i.id
    """


def char_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Shannon entropy (nats) of each document's CHARACTER distribution —
    the model-free gibberish/encoded-blob detector beside
    :func:`compression_ratio` (zlib sees long-range structure, entropy
    sees the symbol histogram: base64 blobs and key-mash score high,
    natural text sits near ~3 nats).  Returns (id, n_chars, n_distinct,
    entropy); empty/NULL docs survive with entropy 0.0.

    Determinism: per-(id, char) counts are exact integers; the only
    floats are (c/n)·ln(c/n) per distinct character, folded in character
    order (the ordered-fold discipline), rounded to 6 — the MI precedent.
    Scale: one (id, char) shuffle (alphabet-bounded per doc) + one id
    aggregate; no UDF."""
    # length >= 1 guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) instead
    # of being empty, which would give empty docs two phantom '' chars
    chars = df.filter(F.length(text_col) >= 1).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.expr(f"transform(sequence(1, length({text_col})), i -> substr({text_col}, i, 1))")
        ).alias("ch"),
    )
    counts = chars.groupBy("id", "ch").agg(F.count(F.lit(1)).alias("c"))
    per_id = counts.groupBy("id").agg(
        F.sum("c").cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sort_array(F.collect_list(F.struct("ch", "c"))).alias("__cs"),
    )
    ent = F.round(
        -F.aggregate(
            F.col("__cs"),
            F.lit(0.0),
            lambda acc, s: acc
            + (s["c"].cast("double") / F.col("n_chars").cast("double"))
            * F.log(s["c"].cast("double") / F.col("n_chars").cast("double")),
        ),
        6,
    )
    out = per_id.select("id", "n_chars", "n_distinct", ent.alias("entropy"))
    ids = df.select(F.col(id_col).alias("id")).distinct()
    return ids.join(out, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
        F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
        # -0.0 from the single-char fold normalizes to 0.0 on both engines
        F.coalesce(F.col("entropy") + F.lit(0.0), F.lit(0.0)).alias("entropy"),
    )


def char_entropy_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`char_entropy` — same per-char counts, same
    (char asc) ordered fold, same rounding."""
    return f"""
    WITH chars AS (
        SELECT {id_col} AS id, UNNEST(list_transform(range(1, length({text_col}) + 1),
                                                     i -> {text_col}[i:i])) AS ch
        FROM {table}
    ),
    counts AS (SELECT id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2),
    grouped AS (
        SELECT id, CAST(SUM(c) AS BIGINT) AS n_chars,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               list(struct_pack(ch := ch, c := c) ORDER BY ch) AS cs
        FROM counts GROUP BY id
    ),
    per_id AS (
        SELECT id, n_chars, n_distinct,
               round(-list_sum(list_transform(cs,
                   s -> (CAST(s.c AS DOUBLE) / CAST(n_chars AS DOUBLE))
                        * ln(CAST(s.c AS DOUBLE) / CAST(n_chars AS DOUBLE)))), 6)
                 AS entropy
        FROM grouped
    )
    SELECT t.{id_col},
           COALESCE(p.n_chars, 0) AS n_chars,
           COALESCE(p.n_distinct, 0) AS n_distinct,
           COALESCE(p.entropy + 0.0, 0.0) AS entropy
    FROM (SELECT DISTINCT {id_col} FROM {table}) t
    LEFT JOIN per_id p ON p.id = t.{id_col}
    """


def quality_score_sql(t: str) -> str:
    """The composite [0,1] quality score as a DuckDB expression — the twin
    of :func:`quality_score` as a reusable snippet (the same text that
    text_quality_sql / corpus_report inline)."""
    return (
        f"least(CAST(len(regexp_split_to_array(trim(lower({t})), '\\s+')) AS DOUBLE) / 100.0, 1.0) * 0.4"
        f" + CAST(length(regexp_replace(lower({t}), '[^a-z]', '', 'g')) AS DOUBLE)"
        f" / CAST(greatest(length({t}), 1) AS DOUBLE) * 0.4"
        f" + (1.0 - least(CAST(length(regexp_replace({t}, '[^.,;:!?]', '', 'g')) AS DOUBLE)"
        f" / CAST(greatest(length({t}), 1) AS DOUBLE) * 10.0, 1.0)) * 0.2"
    )


def self_dedup(
    df: DataFrame, id_col: str, text_col: str, seg_len: int = 5
) -> DataFrame:
    """INTRA-document repetition removal: split each document into
    consecutive ``seg_len``-token segments and keep only the FIRST
    occurrence of each distinct segment text within its own document,
    reassembling survivors in order — the self-repetition cleaner for
    looped/templated crawl pages (where :func:`boilerplate_scrub` drops
    segments repeated ACROSS documents, this drops repeats WITHIN one).
    Returns (id, clean_text, kept_segs, dropped_segs); every input id
    survives (zero-token docs come back as empty rows — the scrub row-
    identity contract).

    Scale shape: segmentation is the shared tokenize-once stream; the
    first-occurrence pick and the reassembly both ride ONE exchange keyed
    by id (min-per-(id, seg_text) is partial-aggregated) — no cross-
    document state at all, so the operator is embarrassingly parallel
    over documents at any corpus size."""
    idc = F.col(id_col)
    raw = F.split(F.trim(F.col(text_col)), r"\s+")
    tok = (
        df.select(idc.alias("id"), F.posexplode(raw).alias("pos", "tok"))
        .filter(F.col("tok") != "")
    )
    seg = tok.groupBy(
        "id", F.floor(F.col("pos") / F.lit(seg_len)).cast("int").alias("seg_id")
    ).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
            ),
        ).alias("seg_text")
    ).localCheckpoint()  # totals + first-occurrence both read it
    first = seg.groupBy("id", "seg_text").agg(F.min("seg_id").alias("seg_id"))
    totals = seg.groupBy("id").agg(F.count(F.lit(1)).alias("n_segs"))
    kept = first.groupBy("id").agg(
        F.count(F.lit(1)).alias("kept_segs"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_id", "seg_text"))),
                lambda s: s["seg_text"],
            ),
        ).alias("clean_text"),
    )
    ids = df.select(idc.alias("id")).distinct()
    return (
        ids.join(totals, "id", "left")
        .join(kept, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("kept_segs", F.lit(0)).cast("long").alias("kept_segs"),
            (
                F.coalesce(F.col("n_segs"), F.lit(0))
                - F.coalesce(F.col("kept_segs"), F.lit(0))
            )
            .cast("long")
            .alias("dropped_segs"),
        )
    )


def self_dedup_sql(table: str, id_col: str, text_col: str, seg_len: int = 5) -> str:
    """DuckDB twin of :func:`self_dedup` (same segmentation, same
    first-occurrence pick, same reassembly order)."""
    return f"""
    WITH tok0 AS (
        SELECT {id_col} AS id,
               UNNEST(regexp_split_to_array(trim({text_col}), '\\s+')) AS tok,
               generate_subscripts(regexp_split_to_array(trim({text_col}), '\\s+'), 1) - 1 AS pos
        FROM {table}
    ),
    tok AS (SELECT id, tok, pos FROM tok0 WHERE tok <> ''),
    seg AS (
        SELECT id, CAST(FLOOR(pos / {seg_len}) AS INT) AS seg_id,
               string_agg(tok, ' ' ORDER BY pos) AS seg_text
        FROM tok GROUP BY 1, 2
    ),
    first AS (
        SELECT id, seg_text, MIN(seg_id) AS seg_id FROM seg GROUP BY 1, 2
    ),
    totals AS (SELECT id, COUNT(*) AS n_segs FROM seg GROUP BY 1),
    kept AS (
        SELECT id, COUNT(*) AS kept_segs,
               string_agg(seg_text, ' ' ORDER BY seg_id) AS clean_text
        FROM first GROUP BY 1
    ),
    ids AS (SELECT DISTINCT {id_col} AS id FROM {table})
    SELECT i.id AS {id_col},
           COALESCE(k.clean_text, '') AS clean_text,
           COALESCE(k.kept_segs, 0) AS kept_segs,
           COALESCE(t.n_segs, 0) - COALESCE(k.kept_segs, 0) AS dropped_segs
    FROM ids i
    LEFT JOIN totals t ON t.id = i.id
    LEFT JOIN kept k ON k.id = i.id
    """


def vocab_growth(df: DataFrame, id_col: str, text_col: str, n_buckets: int = 64) -> DataFrame:
    """Vocabulary growth curve (Heaps'-law diagnostic): scanning documents
    in id order, how many NEW token types each document introduces and
    the running vocabulary / token totals after it — (id, new_types,
    vocab_size, cum_tokens).  A flattening curve says the corpus has
    stopped contributing vocabulary (more data, same types — the
    diversity signal dataset-selection weighs against raw volume);
    tokenization is the shared empty-filtered whitespace stream.

    Scale: type introductions are one groupBy(token) MIN(id) — partial-
    aggregated, linear.  The prefix sums do NOT use a global
    single-partition window: doc-level rollup rows land in ``n_buckets``
    RANGE buckets by exact integer binning of the id (the profile.py
    histogram idiom), cumsum runs inside each bucket in parallel, and
    each bucket adds the offsets of its predecessors (an n_buckets-row
    window, broadcast back) — the global_shuffle two-level discipline
    applied to ordered prefix sums."""
    # localCheckpoint: the token stream feeds BOTH the type-introduction
    # aggregate and the per-doc counts (the ≥2-consumer discipline — the
    # r10 plan audit caught 8 source scans without it)
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .localCheckpoint()
    )
    intro = (
        toks.groupBy("tok")
        .agg(F.min("id").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    per_doc = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n_toks"))
    base = (
        df.select(F.col(id_col).alias("id"))
        .distinct()
        .join(intro, "id", "left")
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("new_types", F.lit(0)).cast("bigint").alias("new_types"),
            F.coalesce("n_toks", F.lit(0)).cast("bigint").alias("n_toks"),
        )
        .localCheckpoint()  # stats probe + bucketed consumers
    )
    stats = base.agg(
        F.min("id").alias("__lo"), F.max("id").alias("__hi")
    )
    # exact integer range binning: ((id - lo) * n) div (hi - lo + 1) — the
    # profile.py histogram idiom, monotone in id so bucket order == id order;
    # localCheckpoint: the bucketed frame feeds both the cumsum window and
    # the bucket-size aggregate
    bucketed = (
        base.crossJoin(F.broadcast(stats))
        .withColumn(
            "__b",
            F.expr(f"((id - __lo) * {int(n_buckets)}) div (__hi - __lo + 1)"),
        )
        .localCheckpoint()
    )
    win = (
        Window.partitionBy("__b")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = bucketed.select(
        "id",
        "new_types",
        "__b",
        F.sum("new_types").over(win).alias("__cv"),
        F.sum("n_toks").over(win).alias("__ct"),
    )
    sizes = bucketed.groupBy("__b").agg(
        F.sum("new_types").alias("__sv"), F.sum("n_toks").alias("__st")
    )
    wo = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    offs = sizes.select(
        "__b",
        (F.sum("__sv").over(wo) - F.col("__sv")).alias("__ov"),
        (F.sum("__st").over(wo) - F.col("__st")).alias("__ot"),
    )
    return local.join(F.broadcast(offs), "__b").select(
        F.col("id").alias(id_col),
        "new_types",
        (F.col("__cv") + F.col("__ov")).cast("bigint").alias("vocab_size"),
        (F.col("__ct") + F.col("__ot")).cast("bigint").alias("cum_tokens"),
    )


def vocab_growth_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`vocab_growth` — the definitional single
    running-sum form (the bucketed two-level Spark plan must equal it
    exactly; bucket boundaries cannot change a prefix sum)."""
    return f"""
    WITH toks AS (
        SELECT {id_col} AS id, tok FROM (
            SELECT {id_col},
                   UNNEST(list_filter(regexp_split_to_array(trim(lower({text_col})), '\\s+'),
                                      t -> t <> '')) AS tok
            FROM {table})
    ),
    intro AS (SELECT MIN(id) AS id, COUNT(*) AS new_types
              FROM (SELECT tok, MIN(id) AS id FROM toks GROUP BY tok)
              GROUP BY id),
    per_doc AS (SELECT id, COUNT(*) AS n_toks FROM toks GROUP BY id),
    base AS (
        SELECT d.id,
               CAST(COALESCE(i.new_types, 0) AS BIGINT) AS new_types,
               CAST(COALESCE(p.n_toks, 0) AS BIGINT) AS n_toks
        FROM (SELECT DISTINCT {id_col} AS id FROM {table}) d
        LEFT JOIN intro i ON i.id = d.id
        LEFT JOIN per_doc p ON p.id = d.id
    )
    SELECT id AS {id_col}, new_types,
           CAST(SUM(new_types) OVER (ORDER BY id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS vocab_size,
           CAST(SUM(n_toks) OVER (ORDER BY id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens
    FROM base
    """


def vocab_coverage(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """Unseen-vocabulary estimation per ``group_col`` — the question
    :func:`vocab_growth` (observed types) cannot answer: how much type
    mass has this source NOT shown yet, i.e. how much more data a
    tokenizer/LM needs before its vocabulary stops growing.

    Two classical estimators from the exact term-count stream:

    * **Good-Turing unseen mass** (Good 1953): P₀ = N₁/N — the
      probability the NEXT token is an unseen type, estimated by the
      singleton share.  Coverage of the observed vocabulary is 1 − P₀.
    * **Chao1 richness** (Chao 1984, bias-corrected form): the total
      (seen + unseen) type count V + N₁(N₁−1)/(2(N₂+1)) — defined even
      at zero doubletons, where the classical N₁²/(2N₂) blows up.

    Returns (group, n_tokens, n_types, n_singletons, n_doubletons,
    unseen_mass, chao1).  All five count columns are EXACT integers
    (the N₁(N₁−1) product goes through DECIMAL(38,0) — at corpus scale
    singleton counts square past int64); each estimator is ONE rounded
    division of exact operands, so the hash-compare is deterministic.
    Groups with zero tokens are absent (no token stream rows → no
    estimate, same on both engines).

    Scale: one token explode (map-side), one (group, term) partial
    aggregate, one per-group rollup of four counters — two shuffles,
    linear, no windows.  The frequency-of-frequencies never
    materializes beyond the four counters a 100 TB pass folds
    map-side."""
    d38 = "decimal(38,0)"
    toks = df.select(
        F.col(group_col).alias("__g"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    term_counts = toks.groupBy("__g", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    st = term_counts.groupBy("__g").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("n_singletons"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("bigint").alias("n_doubletons"),
    )
    return st.select(
        F.col("__g").alias(group_col),
        "n_tokens",
        "n_types",
        "n_singletons",
        "n_doubletons",
        F.round(
            F.col("n_singletons").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("unseen_mass"),
        F.round(
            F.col("n_types").cast("double")
            + (
                F.col("n_singletons").cast(d38)
                * (F.col("n_singletons") - F.lit(1)).cast(d38)
            ).cast("double")
            / (
                (F.lit(2) * (F.col("n_doubletons") + F.lit(1))).cast("double")
            ),
            6,
        ).alias("chao1"),
    )


def vocab_coverage_sql(table: str, group_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`vocab_coverage` — identical tokenizer,
    identical exact counters, the same two one-shot divisions."""
    return f"""
    WITH toks AS (
        SELECT {group_col} AS g, tok FROM (
            SELECT {group_col},
                   UNNEST(list_filter(regexp_split_to_array(trim(lower({text_col})), '\\s+'),
                                      t -> t <> '')) AS tok
            FROM {table})
    ),
    tc AS (SELECT g, tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
    st AS (
        SELECT g,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_doubletons
        FROM tc GROUP BY 1)
    SELECT g AS {group_col}, n_tokens, n_types, n_singletons, n_doubletons,
           round(CAST(n_singletons AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             AS unseen_mass,
           round(CAST(n_types AS DOUBLE)
                 + CAST(CAST(n_singletons AS DECIMAL(38,0))
                        * CAST(n_singletons - 1 AS DECIMAL(38,0)) AS DOUBLE)
                   / CAST(2 * (n_doubletons + 1) AS DOUBLE), 6)
             AS chao1
    FROM st
    """


def pmi_collocations(
    df: DataFrame, id_col: str, text_col: str, min_count: int = 5, k: int = 50
) -> DataFrame:
    """Top-``k`` bigram COLLOCATIONS by pointwise mutual information
    (Church & Hanks 1990): PMI(a,b) = ln( P(ab) / (P(a)·P(b)) ) with
    P(ab) = c_ab/T_big, P(a) = c_a/T_uni — the ASSOCIATION statistic the
    conditional-probability LMs (unigram/bigram/Kneser-Ney scoring) do
    not expose: a rare pair that always co-occurs ("san francisco")
    outranks a frequent pair that co-occurs by chance ("of the").  The
    vocabulary-building primitive for multi-word tokenizer entries and
    phrase mining over a training corpus.

    ``min_count`` floors c_ab (PMI's classic low-frequency pathology: a
    hapax pair has maximal PMI by construction).

    Determinism: every factor is an exact integer count converted once
    to double; the score is ONE fixed-order chain of lns
    (ln c_ab + ln T_uni + ln T_uni − ln T_big − ln c_a − ln c_b — left-
    associative in both engines), rounded to 6; ranking orders by the
    ROUNDED score with (term_a, term_b) tie-break, so the top-k is a
    total order.  Scale: one token-stream exchange builds both count
    tables (localCheckpointed — each feeds two consumers); the top-k is
    TakeOrderedAndProject, never a global sort.

    Returns (term_a, term_b, n_pair, pmi), pmi desc."""
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(_ws_tokens(F.col(text_col))).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
        .select("id", "pos", "term")
    )
    lagged = toks.withColumn(
        "prev", F.lag("term").over(Window.partitionBy("id").orderBy("pos"))
    )
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cu")).localCheckpoint()
    big = (
        lagged.filter(F.col("prev").isNotNull())
        .groupBy("prev", "term")
        .agg(F.count(F.lit(1)).alias("cab"))
        .localCheckpoint()
    )
    totals = (
        uni.agg(F.sum("cu").cast("bigint").alias("t_uni"))
        .crossJoin(big.agg(F.sum("cab").cast("bigint").alias("t_big")))
    )
    ua = uni.select(F.col("term").alias("prev"), F.col("cu").alias("ca"))
    ub = uni.select(F.col("term").alias("term"), F.col("cu").alias("cb"))
    scored = (
        big.filter(F.col("cab") >= min_count)
        .join(ua, "prev")
        .join(ub, "term")
        .crossJoin(F.broadcast(totals))
    )
    ln = F.log
    pmi = F.round(
        ln(F.col("cab").cast("double"))
        + ln(F.col("t_uni").cast("double"))
        + ln(F.col("t_uni").cast("double"))
        - ln(F.col("t_big").cast("double"))
        - ln(F.col("ca").cast("double"))
        - ln(F.col("cb").cast("double")),
        6,
    )
    return (
        scored.select(
            F.col("prev").alias("term_a"),
            F.col("term").alias("term_b"),
            F.col("cab").cast("bigint").alias("n_pair"),
            pmi.alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "term_a", "term_b")
        .limit(k)
    )


def pmi_collocations_sql(
    table: str, id_col: str, text_col: str, min_count: int = 5, k: int = 50
) -> str:
    """DuckDB twin of :func:`pmi_collocations` — same counts, the same
    left-associative ln chain, same (pmi desc, term_a, term_b) top-k."""
    return f"""
    WITH toks0 AS (SELECT {id_col} AS id,
                          UNNEST(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS term,
                          generate_subscripts(regexp_split_to_array(trim(lower({text_col})), '\\s+'), 1) AS pos
                   FROM {table}),
    toks AS (SELECT id, pos, term FROM toks0 WHERE term <> ''),
    lagged AS (SELECT id, term,
                      LAG(term) OVER (PARTITION BY id ORDER BY pos) AS prev
               FROM toks),
    uni AS (SELECT term, COUNT(*) AS cu FROM toks GROUP BY term),
    big AS (SELECT prev, term, COUNT(*) AS cab FROM lagged
            WHERE prev IS NOT NULL GROUP BY prev, term),
    totals AS (SELECT (SELECT CAST(SUM(cu) AS BIGINT) FROM uni) AS t_uni,
                      (SELECT CAST(SUM(cab) AS BIGINT) FROM big) AS t_big)
    SELECT b.prev AS term_a, b.term AS term_b,
           CAST(b.cab AS BIGINT) AS n_pair,
           round(ln(CAST(b.cab AS DOUBLE))
                 + ln(CAST(t.t_uni AS DOUBLE))
                 + ln(CAST(t.t_uni AS DOUBLE))
                 - ln(CAST(t.t_big AS DOUBLE))
                 - ln(CAST(ua.cu AS DOUBLE))
                 - ln(CAST(ub.cu AS DOUBLE)), 6) AS pmi
    FROM big b
    JOIN uni ua ON ua.term = b.prev
    JOIN uni ub ON ub.term = b.term
    CROSS JOIN totals t
    WHERE b.cab >= {min_count}
    ORDER BY pmi DESC, term_a, term_b
    LIMIT {k}
    """


def readability(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948; the classic
    education-level quality signal beside entropy/compression/repetition):
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with the
    standard cheap proxies — sentences = runs of [.!?] (floored at 1),
    syllables = per-word vowel-group ([aeiouy]+) runs floored at 1 per
    word (Σ_w max(vg(w),1) = total vowel-group runs + vowel-less words,
    since a run cannot cross whitespace).

    Pure map-side (regexp counts + one higher-order filter over the
    token array — no shuffle, no UDF); empty documents report NULL.
    Determinism: integer counts into ONE fixed-order double formula with
    CAST-exact literals, round 6.

    Returns (id, n_words, n_sentences, n_syllables, flesch)."""
    low = F.trim(F.lower(F.col(text_col)))
    toks = F.split(low, r"\s+")
    n_words = F.size(F.filter(toks, lambda t: t != "")).cast("bigint")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[.!?]+"), 0)), F.lit(1)
    ).cast("bigint")
    vg = F.size(F.regexp_extract_all(low, F.lit("[aeiouy]+"), 0)).cast("bigint")
    no_vowel = F.size(
        F.filter(toks, lambda t: (t != "") & ~t.rlike("[aeiouy]"))
    ).cast("bigint")
    n_syl = (vg + no_vowel).alias("n_syllables")
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words").cast("double")),
        6,
    )
    base = df.select(
        F.col(id_col).alias("id"),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl,
    )
    return base.select(
        F.col("id").alias(id_col),
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(F.col("n_words") > 0, flesch).alias("flesch"),
    )


def readability_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`readability` — same counts, same CAST-exact
    literals, same fixed-order formula."""
    return f"""
    WITH base AS (
        SELECT {id_col} AS id,
               CAST(len(list_filter(regexp_split_to_array(trim(lower({text_col})), '\\s+'),
                                    t -> t <> '')) AS BIGINT) AS n_words,
               CAST(GREATEST(len(regexp_extract_all({text_col}, '[.!?]+')), 1) AS BIGINT)
                 AS n_sentences,
               CAST(len(regexp_extract_all(trim(lower({text_col})), '[aeiouy]+'))
                    + len(list_filter(regexp_split_to_array(trim(lower({text_col})), '\\s+'),
                                      t -> t <> '' AND NOT regexp_matches(t, '[aeiouy]')))
                 AS BIGINT) AS n_syllables
        FROM {table})
    SELECT id AS {id_col}, n_words, n_sentences, n_syllables,
           CASE WHEN n_words > 0 THEN
             round(CAST(206.835 AS DOUBLE)
                   - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                   - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
           END AS flesch
    FROM base
    """


def js_divergence(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    top_k: int = 256,
) -> DataFrame:
    """Jensen-Shannon divergence between two corpus slices' unigram
    distributions (Lin 1991) — the bounded, symmetric domain-shift
    measure (0 = identical vocabularies, ln 2 = disjoint) a training-data
    pipeline tracks between sources, snapshots, or train/eval splits;
    the distributional complement of the per-document drift screens
    (KS tests values, PSI bins scores — this compares LANGUAGE).

    Distribution support is the TOP-``top_k`` terms by combined count
    (count desc, term asc — a total order) with everything else folded
    into one ``__other`` bucket, so the term table is bounded by
    construction and the final fold is ordered and exact (the MI
    ≤50-cell discipline at vocabulary scale).

    Determinism: counts are exact integers; p, q, and each
    ``p·ln(p / ((p+q)/2))`` term are built from ONE shared arithmetic
    text on both engines (identical IEEE tree), zero-count sides
    contribute exactly 0, the ≤ top_k+1 terms fold in term order, and
    the result rounds to 6.

    Returns ONE row: (n_terms, tokens_a, tokens_b, jsd)."""
    toks = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .select(
            F.col(group_col).alias("grp"),
            F.explode(_ws_tokens(F.col(text_col))).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    # localCheckpoint: the (grp, term) counts feed the top-k keep-list
    # AND the bucketed distribution (>=2-consumer discipline)
    cnt = toks.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("c")).localCheckpoint()
    top = (
        cnt.groupBy("term")
        .agg(F.sum("c").alias("tot"))
        .orderBy(F.col("tot").desc(), "term")
        .limit(int(top_k))
        .select("term", F.lit(1).alias("__keep"))
    )
    bucketed = (
        cnt.join(F.broadcast(top), "term", "left")
        .select(
            "grp",
            F.when(F.col("__keep").isNull(), F.lit("__other"))
            .otherwise(F.col("term"))
            .alias("bterm"),
            "c",
        )
        .groupBy("grp", "bterm")
        .agg(F.sum("c").cast("bigint").alias("c"))
        .localCheckpoint()  # feeds the per-side projections AND totals
    )
    # Global agg (not groupBy-then-filter): ALWAYS yields exactly one row,
    # with a NULL sum when the slice is empty — the exact semantics of the
    # SQL twin's scalar subquery, so the empty-slice boundary is identical
    # on both engines (n_terms counts the surviving side's terms, jsd NULL).
    ta = bucketed.filter(F.col("grp") == group_a).agg(
        F.sum("c").cast("bigint").alias("ta")
    )
    tb = bucketed.filter(F.col("grp") == group_b).agg(
        F.sum("c").cast("bigint").alias("tb")
    )
    ca = bucketed.filter(F.col("grp") == group_a).select("bterm", F.col("c").alias("ca"))
    cb = bucketed.filter(F.col("grp") == group_b).select("bterm", F.col("c").alias("cb"))
    wide = (
        ca.join(cb, "bterm", "full_outer")
        .select(
            "bterm",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
    )
    # one shared arithmetic text -> identical IEEE tree on both engines
    term_sql = (
        "0.5 * (CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / ta)"
        " * ln((CAST(ca AS DOUBLE) / ta)"
        " / (((CAST(ca AS DOUBLE) / ta) + (CAST(cb AS DOUBLE) / tb)) / 2.0))"
        " ELSE 0.0 END)"
        " + 0.5 * (CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / tb)"
        " * ln((CAST(cb AS DOUBLE) / tb)"
        " / (((CAST(ca AS DOUBLE) / ta) + (CAST(cb AS DOUBLE) / tb)) / 2.0))"
        " ELSE 0.0 END)"
    )
    terms = wide.select("bterm", F.expr(term_sql).alias("t"), "ta", "tb")
    # jsd is NULL (not 0) when either slice contributed zero tokens — the
    # divergence is undefined, and the CASE guard keeps Spark's ordered
    # fold (acc + NULL would poison it) identical to the SQL twin.
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.max("ta").cast("bigint").alias("tokens_a"),
        F.max("tb").cast("bigint").alias("tokens_b"),
        F.when(
            F.max("ta").isNull() | F.max("tb").isNull(),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                F.aggregate(
                    F.sort_array(F.collect_list(F.struct("bterm", "t"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["t"],
                ),
                6,
            )
        )
        .alias("jsd"),
    )


def js_divergence_sql(
    table: str,
    id_col: str,
    text_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    top_k: int = 256,
) -> str:
    """DuckDB twin of :func:`js_divergence` — same top-k keep-list, the
    same shared arithmetic text per term, ordered SUM fold."""
    term_sql = (
        "0.5 * (CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / ta)"
        " * ln((CAST(ca AS DOUBLE) / ta)"
        " / (((CAST(ca AS DOUBLE) / ta) + (CAST(cb AS DOUBLE) / tb)) / 2.0))"
        " ELSE 0.0 END)"
        " + 0.5 * (CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / tb)"
        " * ln((CAST(cb AS DOUBLE) / tb)"
        " / (((CAST(ca AS DOUBLE) / ta) + (CAST(cb AS DOUBLE) / tb)) / 2.0))"
        " ELSE 0.0 END)"
    )
    return f"""
    WITH toks0 AS (SELECT {group_col} AS grp,
                          UNNEST(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS term
                   FROM {table}
                   WHERE {group_col} IN ('{group_a}', '{group_b}')),
    cnt AS (SELECT grp, term, COUNT(*) AS c FROM toks0 WHERE term <> '' GROUP BY 1, 2),
    top AS (SELECT term FROM (SELECT term, SUM(c) AS tot FROM cnt GROUP BY 1)
            ORDER BY tot DESC, term LIMIT {int(top_k)}),
    bucketed AS (SELECT grp,
                        CASE WHEN t.term IS NULL THEN '__other' ELSE c.term END AS bterm,
                        CAST(SUM(c.c) AS BIGINT) AS c
                 FROM cnt c LEFT JOIN top t ON t.term = c.term
                 GROUP BY 1, 2),
    tot AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS t FROM bucketed GROUP BY 1),
    wide AS (SELECT COALESCE(a.bterm, b.bterm) AS bterm,
                    COALESCE(a.c, 0) AS ca, COALESCE(b.c, 0) AS cb
             FROM (SELECT bterm, c FROM bucketed WHERE grp = '{group_a}') a
             FULL OUTER JOIN (SELECT bterm, c FROM bucketed WHERE grp = '{group_b}') b
               ON b.bterm = a.bterm),
    scal AS (SELECT (SELECT t FROM tot WHERE grp = '{group_a}') AS ta,
                    (SELECT t FROM tot WHERE grp = '{group_b}') AS tb)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(MAX(ta) AS BIGINT) AS tokens_a,
           CAST(MAX(tb) AS BIGINT) AS tokens_b,
           CASE WHEN MAX(ta) IS NULL OR MAX(tb) IS NULL THEN NULL
                ELSE round(SUM({term_sql} ORDER BY bterm), 6) END AS jsd
    FROM wide CROSS JOIN scal
    """


def zipf_fit(
    df: DataFrame, group_col: str, text_col: str, top_n: int = 100
) -> DataFrame:
    """Zipf power-law fit of the term-frequency distribution per group —
    OLS slope of ln(freq) on ln(rank) over each group's ``top_n`` most
    frequent terms (Zipf 1949: natural language sits near slope −1;
    corpora drifting far from it are template spam, code, or synthetic
    junk — the distributional-health screen beside [[text_vocab_growth]]'s
    Heaps curve and the per-document quality scores).

    Returns (group, n_terms, zipf_slope, r2).  Determinism: term counts
    are exact bigints; the top-n cut orders by (freq DESC, term) — a
    total order; the four OLS sums fold over the ≤ top_n (rank-ordered)
    rows as fixed-order doubles (the bm25 fold discipline), and the
    slope/r² are fixed-order final expressions rounded to 6.  A group
    with < 3 distinct terms reports NULL slope/r² (a 2-point fit is not
    a law).

    Scale: one (group, term) partial-agg count; the per-group rank
    window sorts each group's DISTINCT vocabulary (bounded by language,
    ~1e6 terms — a contract, documented like the hypothesis-table bound
    of bh_fdr); everything after is ≤ top_n rows per group."""
    from pyspark.sql import Window

    tok = df.select(
        F.col(group_col).alias("g"),
        F.explode(_ws_tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    counts = tok.groupBy("g", "term").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    w = Window.partitionBy("g").orderBy(F.col("f").desc(), F.col("term"))
    top = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_n)
        .select(
            "g",
            "rk",
            F.log(F.col("rk").cast("double")).alias("x"),
            F.log(F.col("f").cast("double")).alias("y"),
        )
    )
    folded = top.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("rk", "x", "y"))),
            F.struct(
                F.lit(0.0).alias("sx"),
                F.lit(0.0).alias("sy"),
                F.lit(0.0).alias("sxy"),
                F.lit(0.0).alias("sxx"),
                F.lit(0.0).alias("syy"),
            ),
            lambda acc, r: F.struct(
                (acc["sx"] + r["x"]).alias("sx"),
                (acc["sy"] + r["y"]).alias("sy"),
                (acc["sxy"] + r["x"] * r["y"]).alias("sxy"),
                (acc["sxx"] + r["x"] * r["x"]).alias("sxx"),
                (acc["syy"] + r["y"] * r["y"]).alias("syy"),
            ),
        ).alias("s"),
    )
    n = F.col("n_terms").cast("double")
    sx, sy = F.col("s.sx"), F.col("s.sy")
    sxy, sxx, syy = F.col("s.sxy"), F.col("s.sxx"), F.col("s.syy")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    ok = F.col("n_terms") >= 3
    return folded.select(
        F.col("g").alias(group_col),
        "n_terms",
        F.when(ok, F.round(cov / varx, 6)).alias("zipf_slope"),
        F.when(
            ok & (vary > 0), F.round((cov * cov) / (varx * vary), 6)
        ).alias("r2"),
    )


def zipf_fit_sql(table: str, group_col: str, text_col: str, top_n: int = 100) -> str:
    """DuckDB twin of :func:`zipf_fit` — identical tokenizer, top-n cut,
    rank-ordered folds, and final expression order."""
    return f"""
    WITH toks AS (
        SELECT {group_col} AS g,
               UNNEST(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS term
        FROM {table}),
    counts AS (
        SELECT g, term, CAST(COUNT(*) AS BIGINT) AS f
        FROM toks WHERE term <> '' GROUP BY 1, 2),
    top AS (
        SELECT g, rk, ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
        FROM (SELECT g, f, term,
                     ROW_NUMBER() OVER (PARTITION BY g ORDER BY f DESC, term) AS rk
              FROM counts)
        WHERE rk <= {int(top_n)}),
    folded AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_terms,
               SUM(x ORDER BY rk) AS sx, SUM(y ORDER BY rk) AS sy,
               SUM(x * y ORDER BY rk) AS sxy,
               SUM(x * x ORDER BY rk) AS sxx,
               SUM(y * y ORDER BY rk) AS syy
        FROM top GROUP BY g)
    SELECT g AS {group_col}, n_terms,
           CASE WHEN n_terms >= 3 THEN
             round((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 6)
           END AS zipf_slope,
           CASE WHEN n_terms >= 3
                 AND n_terms * syy - sy * sy > 0 THEN
             round(((n_terms * sxy - sx * sy) * (n_terms * sxy - sx * sy))
                   / ((n_terms * sxx - sx * sx) * (n_terms * syy - sy * sy)), 6)
           END AS r2
    FROM folded
    """


#: public English stopword list for RAKE phrase boundaries (Rose et al.
#: 2010 use a stoplist as the delimiter set; this is the standard small
#: function-word inventory, shared verbatim with the SQL twin)
RAKE_STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "from",
    "has", "have", "he", "in", "is", "it", "its", "of", "on", "or", "that",
    "the", "this", "to", "was", "were", "will", "with", "not", "they",
)

#: RAKE candidate phrases longer than this are boilerplate runs, not
#: keyphrases — the standard cap
RAKE_MAX_PHRASE = 4


def rake_keywords(
    df: DataFrame, id_col: str, text_col: str, top_k: int = 20
) -> DataFrame:
    """RAKE keyphrase extraction over the corpus (Rose, Engel, Cramer &
    Cowley 2010): candidate phrases are maximal stopword-free token
    runs (≤ RAKE_MAX_PHRASE words), each word scores degree/frequency
    over ALL candidate occurrences (degree = Σ length of phrases
    containing it — co-occurrence weight that plain TF-IDF keywords
    lack), and a phrase scores the sum of its word scores.  Returns the
    corpus top-``top_k`` distinct phrases: (phrase, n_words, score).

    Determinism: word degree/frequency are exact bigints; a phrase's
    score folds its ≤ RAKE_MAX_PHRASE word ratios in POSITION order
    (fixed-order doubles); identical phrase texts collapse BEFORE the
    top-k (same words ⇒ same corpus-level score, so distinct is
    loss-free); the cut orders by (score desc, phrase) —
    TakeOrderedAndProject.

    Scale: one token-stream pass; the phrase segmentation window
    partitions by document (per-doc sort); word stats are one
    partial-agg groupBy over candidate words; the word-stats join
    broadcasts nothing corpus-sized (stats keyed by term ride the same
    hash exchange as the words)."""
    from pyspark.sql import Window

    stop_arr = F.array(*[F.lit(w) for w in RAKE_STOPWORDS])
    tok = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(_ws_tokens(F.col(text_col))).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
        .withColumn("is_stop", F.array_contains(stop_arr, F.col("term")).cast("int"))
    )
    w = Window.partitionBy("id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    words = (
        tok.withColumn("ph", F.sum("is_stop").over(w))
        .filter(F.col("is_stop") == 0)
        .select("id", "ph", "pos", "term")
        .localCheckpoint()  # feeds sizes, word stats, and the phrase fold
    )
    sizes = (
        words.groupBy("id", "ph")
        .agg(F.count(F.lit(1)).cast("bigint").alias("len"))
        .filter(F.col("len") <= RAKE_MAX_PHRASE)
    )
    # materialized once (lazy checkpoint): both the corpus word stats and
    # the scored-word fold consume this join, and unmaterialized each
    # re-ran the sizes aggregate + join (r15 optimization round)
    kept = words.join(sizes, ["id", "ph"]).localCheckpoint(eager=False)
    stats = kept.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("len").cast("bigint").alias("degree"),
    )
    scored_words = kept.join(stats, "term").select(
        "id",
        "ph",
        "pos",
        "term",
        (F.col("degree").cast("double") / F.col("freq").cast("double")).alias("ws"),
    )
    phrases = scored_words.groupBy("id", "ph").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "term"))),
                lambda x: x["term"],
            ),
        ).alias("phrase"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("pos", "ws"))),
                F.lit(0.0),
                lambda acc, x: acc + x["ws"],
            ),
            6,
        ).alias("score"),
    )
    return (
        phrases.select("phrase", "n_words", "score")
        .distinct()
        .orderBy(F.col("score").desc(), "phrase")
        .limit(top_k)
    )


def rake_keywords_sql(table: str, id_col: str, text_col: str, top_k: int = 20) -> str:
    """DuckDB twin of :func:`rake_keywords` — identical stoplist,
    segmentation, corpus word stats, position-ordered folds, and cut."""
    stops = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)
    return f"""
    WITH ex AS (
        SELECT {id_col} AS id,
               UNNEST(list_transform(
                   regexp_split_to_array(trim(lower({text_col})), '\\s+'),
                   (x, i) -> struct_pack(pos := i, term := x))) AS s
        FROM {table}),
    tok AS (
        SELECT id, s.pos AS pos, s.term AS term,
               CASE WHEN s.term IN ({stops}) THEN 1 ELSE 0 END AS is_stop
        FROM ex WHERE s.term <> ''),
    words AS MATERIALIZED (
        SELECT id, pos, term,
               SUM(is_stop) OVER (PARTITION BY id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
        FROM tok QUALIFY is_stop = 0),
    sizes AS (
        SELECT id, ph, CAST(COUNT(*) AS BIGINT) AS len
        FROM words GROUP BY 1, 2 HAVING COUNT(*) <= {RAKE_MAX_PHRASE}),
    kept AS (SELECT w.* , s.len FROM words w JOIN sizes s
             ON s.id = w.id AND s.ph = w.ph),
    stats AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(len) AS BIGINT) AS degree
        FROM kept GROUP BY 1),
    phrases AS (
        SELECT k.id, k.ph,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               string_agg(k.term, ' ' ORDER BY k.pos) AS phrase,
               round(SUM(CAST(st.degree AS DOUBLE) / CAST(st.freq AS DOUBLE)
                         ORDER BY k.pos), 6) AS score
        FROM kept k JOIN stats st ON st.term = k.term
        GROUP BY 1, 2)
    SELECT phrase, n_words, score
    FROM (SELECT DISTINCT phrase, n_words, score FROM phrases)
    ORDER BY score DESC, phrase LIMIT {int(top_k)}
    """
