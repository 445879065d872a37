"""Byte-pair-encoding tokenizer TRAINING and APPLICATION as Spark-native
operators (SURVEY.md §2.2 extension surface: the tokenizer-construction
step of an LLM data pipeline, complementing textstats.py's fixed
whitespace/BPE-regex token counting).

Algorithm (Sennrich et al. ACL'16): start from characters (plus an
end-of-word marker), repeatedly merge the most frequent adjacent symbol
pair.  The scale design keeps everything sublinear in the corpus:

- Training state is the WORD VOCABULARY (distinct word, corpus frequency,
  current segmentation as ``array<string>``) — Zipf makes this orders of
  magnitude smaller than the corpus, and pair counts weight by word
  frequency, so one pass over the vocab equals a pass over the corpus.
- Each merge round is pure DataFrame work: explode adjacent pairs
  (``arrays_zip`` of two slices), one partial-aggregated groupBy, a 1-ROW
  collect of the winning pair (the same bounded-collect class as the IVF
  centroid ids), then a JVM-side ``aggregate`` lambda that rewrites every
  segmentation left-to-right greedily — no regex (quoting hazards), no
  Python in the hot path.
- The vocab frame is localCheckpointed every few rounds so plan depth
  stays bounded (the PageRank discipline).
- Application re-derives each DISTINCT word's tokenization once (same
  lambda chain), joins it back to the positional word stream, and
  reassembles per-document token arrays order-exactly.

Ties in pair frequency break lexicographically — training is fully
deterministic, so the learned merge table is reproducible run to run.

No SQL-expressible oracle: the training loop is an iterative driver-side
fixed point (the kmeans_refine class, COVERAGE.md justification); tests
pin the merge sequence against an independent in-test reference
implementation of the textbook algorithm.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: end-of-word marker (standard BPE; keeps merges word-internal and makes
#: detokenization unambiguous)
EOW = "</w>"

#: hard ceiling on training merge rounds — the bounded-rounds contract
#: (operators/graph.py::kcore discipline).  EVERY round costs one full
#: pair-explode + aggregation over the word vocabulary plus a 1-row
#: collect, i.e. total training cost is n_merges × (vocab scan + small
#: shuffle): linear per round and bounded overall, but a caller asking for
#: a production-sized 100k-merge vocabulary would queue 100k sequential
#: Spark jobs — that regime wants fewer, larger rounds (batch merge
#: selection) or an off-cluster trainer over the extracted word-frequency
#: table, so it is refused loudly rather than run silently.
BPE_MAX_MERGES = 4096
#: merge rounds between localCheckpoints of the evolving segmentation, so
#: the plan's nested merge expressions stay a bounded depth
BPE_CHECKPOINT_EVERY = 8


def _word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """(w, freq) over whitespace-split lowercase words."""
    return (
        df.select(
            F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_seg(col):
    """Characters of ``col`` plus the end-of-word marker, as array<string>."""
    chars = F.expr(f"filter(split({col}, ''), x -> x != '')")
    return F.concat(chars, F.array(F.lit(EOW)))


def _merge_expr(arr_col: str, a: str, b: str):
    """Left-to-right greedy merge of adjacent (a, b) into a||b — a JVM
    ``aggregate`` lambda over the token array (no regex, so any symbol
    content is safe)."""
    return F.expr(
        f"""aggregate(
            {arr_col},
            CAST(array() AS array<string>),
            (acc, x) -> CASE
                WHEN size(acc) > 0
                     AND element_at(acc, size(acc)) = {_lit(a)}
                     AND x = {_lit(b)}
                THEN concat(slice(acc, 1, size(acc) - 1), array({_lit(a + b)}))
                ELSE concat(acc, array(x))
            END)"""
    )


def _lit(s: str) -> str:
    """SQL string literal with quote escaping (symbols come from text)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _adjacent_pairs(arr_col: str):
    """(a, b) structs for every adjacent position of the token array."""
    return F.expr(
        f"""CASE WHEN size({arr_col}) < 2 THEN CAST(array() AS array<struct<a:string,b:string>>)
            ELSE zip_with(
                slice({arr_col}, 1, size({arr_col}) - 1),
                slice({arr_col}, 2, size({arr_col}) - 1),
                (x, y) -> struct(x AS a, y AS b))
            END"""
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 50,
    min_pair_freq: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merge rules from the corpus; returns the
    ordered merge list (the tokenizer artifact to persist).  Stops early
    when the best pair's corpus frequency falls below ``min_pair_freq``.

    Cost contract: each merge round is one pair-explode + partial-
    aggregated groupBy over the WORD VOCABULARY (not the corpus) and a
    bounded 1-row collect — n_merges sequential rounds total, capped at
    ``BPE_MAX_MERGES`` (see its note for the >4k-merge regime)."""
    if n_merges > BPE_MAX_MERGES:
        raise ValueError(
            f"n_merges={n_merges} exceeds BPE_MAX_MERGES={BPE_MAX_MERGES}: "
            "each merge is a sequential vocab-wide Spark round; for "
            "production-sized vocabularies batch the merge selection or "
            "train off-cluster from _word_freqs output"
        )
    vocab = _word_freqs(df, text_col).select(
        "w", "freq", _initial_seg("w").alias("seg")
    ).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        top = (
            vocab.select("freq", F.explode(_adjacent_pairs("seg")).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("f"))
            .orderBy(F.col("f").desc(), "a", "b")
            .limit(1)
            .collect()  # bounded: exactly one row per round
        )
        if not top or top[0]["f"] < min_pair_freq:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        vocab = vocab.withColumn("seg", _merge_expr("seg", a, b))
        if (i + 1) % BPE_CHECKPOINT_EVERY == 0:
            vocab = vocab.localCheckpoint()
    return merges


def bpe_segment_words(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply an ordered merge list to a (w) frame of distinct words →
    (w, tokens array<string>)."""
    seg = words.select("w", _initial_seg("w").alias("seg"))
    for i, (a, b) in enumerate(merges):
        seg = seg.withColumn("seg", _merge_expr("seg", a, b))
        if (i + 1) % BPE_CHECKPOINT_EVERY == 0:
            seg = seg.localCheckpoint()
    return seg.select("w", F.col("seg").alias("tokens"))


def bpe_apply(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Tokenize every document with a learned merge list — (id, tokens,
    n_tokens).  Each DISTINCT word is segmented once (vocab-level work),
    then joined back onto the positional word stream and reassembled in
    word order (sort_array over (pos, tokens) structs → flatten) — the
    token stream is exactly the per-word tokenizations concatenated."""
    words_pos = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("pos", "w"),
    ).filter(F.col("w") != "")
    seg = bpe_segment_words(words_pos.select("w").distinct(), merges)
    joined = words_pos.join(seg, "w")
    return (
        joined.groupBy("id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tokens"))),
                    lambda s: s["tokens"],
                )
            ).alias("tokens")
        )
        .select(
            F.col("id").alias(id_col), "tokens", F.size("tokens").alias("n_tokens")
        )
    )


#: frozen 16-merge toy tokenizer for the fertility report — a COMPILE-TIME
#: literal merge table (the langid compile-time-profile discipline) so the
#: DuckDB twin is a static string: every rule references single characters
#: or earlier merges, in textbook BPE order (Sennrich et al. 2016).
FERTILITY_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("the", EOW),
    ("i", "n"), ("in", "g"), ("ing", EOW),
    ("a", "n"), ("an", "d"), ("and", EOW),
    ("e", "r"), ("o", "n"), ("r", "e"),
    ("e", EOW), ("s", EOW), ("d", EOW), ("o", "f"),
]


def _group_word_freqs(df: DataFrame, group_cols: list[str], text_col: str) -> DataFrame:
    """The fertility operators' shared corpus pass: (group..., w, freq)
    over the whitespace-split lowercase word stream, localCheckpointed
    (it feeds both the distinct vocabulary and the token rollup)."""
    words = df.select(
        *[F.col(c) for c in group_cols],
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    return words.groupBy(*group_cols, "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    ).localCheckpoint()


def _byte_rollup(df: DataFrame, group_cols: list[str], text_col: str) -> DataFrame:
    """(group..., n_docs, n_bytes) — the fertility operators' second
    corpus pass."""
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.octet_length(F.col(text_col))).cast("bigint").alias("n_bytes"),
    )


def _nullsafe_group_join(
    left: DataFrame, right: DataFrame, group_cols: list[str], right_cols: list[str]
) -> DataFrame:
    """Left-join ``right`` (renaming its group keys to ``__t_*``) onto
    ``left`` with NULL-SAFE group equality — a NULL group key (e.g. lang
    unset) aggregates on both sides, and null-unsafe equality would
    silently report NULL counts for a group that HAS words (the r14
    fertility lesson, shared so the dial cannot drift from it)."""
    right_r = right.select(
        *[F.col(c).alias(f"__t_{c}") for c in group_cols], *right_cols
    )
    cond = None
    for c in group_cols:
        piece = F.col(c).eqNullSafe(F.col(f"__t_{c}"))
        cond = piece if cond is None else (cond & piece)
    return left.join(right_r, cond, "left")


def tokenizer_fertility(
    df: DataFrame,
    group_cols: list[str],
    text_col: str,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Tokenizer fertility report per group: bytes/token and tokens/word
    (Rust et al. 2021, "How Good is Your Tokenizer?" — fertility is the
    mean subwords-per-word) through the BPE apply machinery — the
    measurement that turns mixture/temperature token BUDGETS from
    word-count proxies into real token counts before planning a mix.

    Returns (group..., n_docs, n_bytes, n_words, n_tokens,
    bytes_per_token, tokens_per_word); the ratios are each ONE rounded
    division of exact bigint sums, NULL when the denominator is 0 (a
    group of empty texts — surfaced, never defaulted).

    Plan: ONE word-frequency aggregate per (group, word) crosses the
    corpus; segmentation runs once per DISTINCT word (vocab-level, the
    bpe_apply discipline) and joins back onto the n_groups×|vocab|
    frequency table; byte counts ride a second corpus-pass aggregate.
    At 100 TB both passes are map-side partial aggregates; the vocab is
    sublinear in the corpus (Heaps' law)."""
    if merges is None:
        merges = FERTILITY_MERGES
    wf = _group_word_freqs(df, group_cols, text_col)
    seg = bpe_segment_words(wf.select("w").distinct(), merges)
    tok = (
        wf.join(seg, "w")
        .groupBy(*group_cols)
        .agg(
            F.sum("freq").cast("bigint").alias("n_words"),
            F.sum(F.col("freq") * F.size("tokens")).cast("bigint").alias("n_tokens"),
        )
    )
    byt = _byte_rollup(df, group_cols, text_col)
    return _nullsafe_group_join(byt, tok, group_cols, ["n_words", "n_tokens"]).select(
        *group_cols,
        "n_docs",
        "n_bytes",
        "n_words",
        "n_tokens",
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("n_bytes").cast("double") / F.col("n_tokens").cast("double"), 6),
        ).alias("bytes_per_token"),
        F.when(
            F.col("n_words") > 0,
            F.round(F.col("n_tokens").cast("double") / F.col("n_words").cast("double"), 6),
        ).alias("tokens_per_word"),
    )


#: frozen 32-merge extension of :data:`FERTILITY_MERGES` for the
#: fertility-vs-merges dial — the FIRST 16 rules ARE the fertility
#: table (BPE merge lists are ordered, so an n-merge tokenizer is
#: exactly the n-prefix of a longer one: the dial points are nested by
#: construction, the recall-dial discipline of similarity_pq_recall).
#: Every added rule references single characters or earlier merges.
FERTILITY_MERGES_DIAL: list[tuple[str, str]] = FERTILITY_MERGES + [
    ("e", "n"), ("en", EOW), ("o", "r"), ("or", EOW),
    ("a", "t"), ("at", EOW), ("e", "s"), ("es", EOW),
    ("t", "o"), ("to", EOW), ("i", "s"), ("is", EOW),
    ("a", EOW), ("y", EOW), ("t", EOW), ("n", EOW),
]


def tokenizer_fertility_dial(
    df: DataFrame,
    group_cols: list[str],
    text_col: str,
    merge_counts: tuple[int, ...] = (8, 16, 32),
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Fertility at several vocabulary sizes from ONE shared
    word-frequency pass — the measurement that justifies a merge-count
    (vocab-size) choice the way :func:`tokenizer_fertility` justifies a
    token budget: more merges → fewer tokens/word and more bytes/token,
    and the dial shows where the curve flattens per (group).

    ``merge_counts`` must be ascending prefixes of ``merges`` (BPE merge
    lists are ordered, so the n-merge tokenizer IS the n-prefix): the
    segmentation applies the merge chain ONCE, snapshotting the token
    count of every distinct word at each dial point — no re-tokenization
    per point.  Returns one row per (group..., n_merges):
    (…, n_merges, n_docs, n_bytes, n_words, n_tokens, bytes_per_token,
    tokens_per_word), ratio semantics identical to the fertility report.

    Scale: the same two corpus passes as tokenizer_fertility (one
    (group, word) frequency aggregate + one byte rollup); the merge
    chain runs over the DISTINCT vocabulary once for the LONGEST dial
    point, and the dial fan-out is a |dial|-element literal explode on
    n_groups rows."""
    if merges is None:
        merges = FERTILITY_MERGES_DIAL
    counts = list(merge_counts)
    if (
        not counts
        or counts != sorted(set(counts))
        or counts[0] < 1
        or counts[-1] > len(merges)
    ):
        raise ValueError(
            f"merge_counts={merge_counts} must be strictly ascending, >= 1, "
            f"and bounded by len(merges)={len(merges)}"
        )
    wf = _group_word_freqs(df, group_cols, text_col)
    # one incremental merge chain over the distinct vocabulary, token
    # count snapshotted at each dial point (the chain itself is
    # bpe_segment_words' loop with mid-chain snapshots)
    seg = wf.select("w").distinct().select("w", _initial_seg("w").alias("seg"))
    done = 0
    for cnt in counts:
        for i, (a, b) in enumerate(merges[done:cnt]):
            seg = seg.withColumn("seg", _merge_expr("seg", a, b))
            if (done + i + 1) % 8 == 0:
                seg = seg.localCheckpoint()
        seg = seg.withColumn(f"n_tok_{cnt}", F.size("seg").cast("bigint"))
        done = cnt
    segn = seg.select("w", *[f"n_tok_{c}" for c in counts])
    tok = (
        wf.join(segn, "w")
        .groupBy(*group_cols)
        .agg(
            F.sum("freq").cast("bigint").alias("n_words"),
            *[
                F.sum(F.col("freq") * F.col(f"n_tok_{c}")).cast("bigint").alias(f"n_tokens_{c}")
                for c in counts
            ],
        )
    )
    byt = _byte_rollup(df, group_cols, text_col)
    wide = _nullsafe_group_join(
        byt, tok, group_cols, ["n_words", *[f"n_tokens_{c}" for c in counts]]
    )
    dial = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).cast("int").alias("n_merges"),
                    F.col(f"n_tokens_{c}").alias("n_tokens"),
                )
                for c in counts
            ]
        )
    ).alias("__d")
    return wide.select(*group_cols, "n_docs", "n_bytes", "n_words", dial).select(
        *group_cols,
        F.col("__d.n_merges").alias("n_merges"),
        "n_docs",
        "n_bytes",
        "n_words",
        F.col("__d.n_tokens").alias("n_tokens"),
        F.when(
            F.col("__d.n_tokens") > 0,
            F.round(F.col("n_bytes").cast("double") / F.col("__d.n_tokens").cast("double"), 6),
        ).alias("bytes_per_token"),
        F.when(
            F.col("n_words") > 0,
            F.round(F.col("__d.n_tokens").cast("double") / F.col("n_words").cast("double"), 6),
        ).alias("tokens_per_word"),
    )


def tokenizer_fertility_dial_sql(
    table: str,
    group_cols: list[str],
    text_col: str,
    merge_counts: tuple[int, ...] = (8, 16, 32),
    merges: list[tuple[str, str]] | None = None,
) -> str:
    """DuckDB twin of :func:`tokenizer_fertility_dial` — one replace
    chain per dial point over the same DISTINCT vocabulary (each chain
    is the prefix of the next, so values agree with the incremental
    Spark snapshots), one shared frequency CTE, UNION ALL dial rows."""
    if merges is None:
        merges = FERTILITY_MERGES_DIAL
    counts = list(merge_counts)
    if (
        not counts
        or counts != sorted(set(counts))
        or counts[0] < 1
        or counts[-1] > len(merges)
    ):
        raise ValueError(
            f"merge_counts={merge_counts} must be strictly ascending, >= 1, "
            f"and bounded by len(merges)={len(merges)}"
        )
    g = ", ".join(group_cols)
    bg = ", ".join(f"b.{c}" for c in group_cols)
    seg_cols = ",\n               ".join(
        f"CAST(len(string_split(trim({fertility_seg_expr(merges[:c])}), '  '))"
        f" AS BIGINT) AS n_tok_{c}"
        for c in counts
    )
    tok_sums = ",\n               ".join(
        f"CAST(SUM(freq * n_tok_{c}) AS BIGINT) AS n_tokens_{c}" for c in counts
    )
    dial_rows = "\n    UNION ALL\n".join(
        f"""    SELECT {bg}, CAST({c} AS INT) AS n_merges, b.n_docs, b.n_bytes,
           t.n_words, t.n_tokens_{c} AS n_tokens,
           CASE WHEN t.n_tokens_{c} > 0
                THEN round(CAST(b.n_bytes AS DOUBLE) / CAST(t.n_tokens_{c} AS DOUBLE), 6)
           END AS bytes_per_token,
           CASE WHEN t.n_words > 0
                THEN round(CAST(t.n_tokens_{c} AS DOUBLE) / CAST(t.n_words AS DOUBLE), 6)
           END AS tokens_per_word
    FROM byt b LEFT JOIN tok t
      ON {" AND ".join(f"b.{cc} IS NOT DISTINCT FROM t.{cc}" for cc in group_cols)}"""
        for c in counts
    )
    return f"""
    WITH words AS (
        SELECT {g}, w FROM (
            SELECT {g},
                   unnest(list_filter(
                       regexp_split_to_array(trim(lower({text_col})), '\\s+'),
                       t -> t <> '')) AS w
            FROM {table})),
    wf AS MATERIALIZED (
        SELECT {g}, w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM words GROUP BY ALL),
    segn AS (
        SELECT w,
               {seg_cols}
        FROM (SELECT DISTINCT w FROM wf)),
    tok AS MATERIALIZED (
        SELECT {g}, CAST(SUM(freq) AS BIGINT) AS n_words,
               {tok_sums}
        FROM wf JOIN segn USING (w) GROUP BY ALL),
    byt AS MATERIALIZED (
        SELECT {g}, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(octet_length(encode({text_col}))) AS BIGINT) AS n_bytes
        FROM {table} GROUP BY ALL)
{dial_rows}
    """


def _dlit(s: str) -> str:
    """DuckDB string literal (quotes double-escaped)."""
    return "'" + s.replace("'", "''") + "'"


def fertility_seg_expr(merges: list[tuple[str, str]]) -> str:
    """The DuckDB segmentation of a word column ``w`` under ``merges`` as
    ONE nested-replace expression over a double-space-delimited token
    string: tokens never contain spaces (words are whitespace-split), so
    the encoding ``' ' || tok₁ || '  ' || tok₂ || … || ' '`` makes each
    adjacent pair (a, b) appear as exactly the substring ``' a  b '`` —
    and ``replace``'s left-to-right non-overlapping scan is then
    EXACTLY the greedy fold ``_merge_expr`` computes (both merge the
    leftmost eligible pair and continue after it; the replacement
    ``' ab '`` preserves the boundary invariant, so cascades within one
    rule agree too — pinned by the cross-engine property test)."""
    expr = f"(' ' || regexp_replace(w, '(.)', '\\1  ', 'g') || {_dlit(EOW + ' ')})"
    for a, b in merges:
        expr = f"replace({expr}, {_dlit(' ' + a + '  ' + b + ' ')}, {_dlit(' ' + a + b + ' ')})"
    return expr


def tokenizer_fertility_sql(
    table: str,
    group_cols: list[str],
    text_col: str,
    merges: list[tuple[str, str]] | None = None,
) -> str:
    """DuckDB twin of :func:`tokenizer_fertility` — identical word
    stream, the unrolled replace-chain segmentation, exact bigint sums,
    one rounded division per ratio."""
    if merges is None:
        merges = FERTILITY_MERGES
    g = ", ".join(group_cols)
    bg = ", ".join(f"b.{c}" for c in group_cols)
    return f"""
    WITH words AS (
        SELECT {g}, w FROM (
            SELECT {g},
                   unnest(list_filter(
                       regexp_split_to_array(trim(lower({text_col})), '\\s+'),
                       t -> t <> '')) AS w
            FROM {table})),
    wf AS MATERIALIZED (
        SELECT {g}, w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM words GROUP BY ALL),
    segn AS (
        SELECT w,
               CAST(len(string_split(trim({fertility_seg_expr(merges)}), '  '))
                    AS BIGINT) AS n_tok
        FROM (SELECT DISTINCT w FROM wf)),
    tok AS (
        SELECT {g}, CAST(SUM(freq) AS BIGINT) AS n_words,
               CAST(SUM(freq * n_tok) AS BIGINT) AS n_tokens
        FROM wf JOIN segn USING (w) GROUP BY ALL),
    byt AS (
        SELECT {g}, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(octet_length(encode({text_col}))) AS BIGINT) AS n_bytes
        FROM {table} GROUP BY ALL)
    SELECT {bg}, b.n_docs, b.n_bytes, t.n_words, t.n_tokens,
           CASE WHEN t.n_tokens > 0
                THEN round(CAST(b.n_bytes AS DOUBLE) / CAST(t.n_tokens AS DOUBLE), 6)
           END AS bytes_per_token,
           CASE WHEN t.n_words > 0
                THEN round(CAST(t.n_tokens AS DOUBLE) / CAST(t.n_words AS DOUBLE), 6)
           END AS tokens_per_word
    FROM byt b LEFT JOIN tok t
      ON {" AND ".join(f"b.{c} IS NOT DISTINCT FROM t.{c}" for c in group_cols)}
    """
