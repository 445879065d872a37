"""Physical-plan regression tests: the plan properties that decide 100 TB
behavior, pinned.  If one of these fails after a change, the change made a
plan worse, not just different."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

import bench
from datapipeline_omnichanneltobigquery_spark.plans import audit
from datapipeline_omnichanneltobigquery_spark.plans.queries import EXTRA_QUERIES, QUERIES
from datapipeline_omnichanneltobigquery_spark.sources.tables import read_table

from tests.conftest import SF_DIR
from tests.helpers import count_jobs


@pytest.fixture(scope="module")
def registry_facts(spark) -> dict:
    """name -> audit.PlanFacts, or the exception its build raised, for
    every gated and extra registry entry, each built once.  Facts, not
    DataFrames, are kept, so no entry's localCheckpoint blocks stay pinned
    while the module runs."""
    facts: dict = {}
    for name, fn in {**QUERIES, **EXTRA_QUERIES}.items():
        try:
            facts[name] = audit.plan_facts(fn(spark, SF_DIR))
        except Exception as exc:
            facts[name] = exc
    return facts


def _built(registry_facts: dict, names, build_errors_fail: bool = False):
    """(name, facts) of each entry in ``names``.  An entry that did not
    build is raised when ``build_errors_fail``, else skipped (build errors
    are other tests' business)."""
    for name in names:
        facts = registry_facts[name]
        if isinstance(facts, Exception):
            if build_errors_fail:
                raise facts
            continue
        yield name, facts


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["event_time_filter"](spark, SF_DIR)
    assert audit.has_pushed_filter(df, "ts"), audit.plan_string(df)


def test_flagship_pushes_date_filter(spark):
    df = QUERIES["flagship_monthly_revenue"](spark, SF_DIR)
    assert audit.has_pushed_filter(df, "o_orderdate"), audit.plan_string(df)


def test_column_pruning(spark):
    df = read_table(spark, SF_DIR, "lineitem").select("l_orderkey")
    schemas = audit.read_schemas(df)
    assert schemas and all("l_quantity" not in s for s in schemas), schemas


def test_dim_joins_broadcast(spark):
    df = EXTRA_QUERIES["join_inner_segment_revenue"](spark, SF_DIR)  # rotated out r5
    assert audit.broadcast_join_count(df) >= 1, audit.plan_string(df)


def test_multiway_join_shape(spark):
    """Q5 shape: the FIXED dims (nation/region) broadcast by hint; the
    customer-side join is AQE's call (it scales with the data), so the
    static plan may show it as a sort-merge join that AQE converts at
    runtime — at most the two data-scaling joins shuffle."""
    df = EXTRA_QUERIES["join_multiway_nation_revenue"](spark, SF_DIR)  # rotated out r10
    assert audit.broadcast_join_count(df) >= 2, audit.plan_string(df)
    assert audit.sort_merge_join_count(df) <= 2, audit.plan_string(df)


def test_cast_policy_is_shuffle_free(spark):
    df = EXTRA_QUERIES["cast_policy"](spark, SF_DIR)
    assert audit.exchange_count(df) == 0, audit.plan_string(df)


def test_q1_single_agg_shuffle(spark):
    df = EXTRA_QUERIES["q1_pricing_summary"](spark, SF_DIR)  # rotated out r10
    assert audit.exchange_count(df) == 1, audit.plan_string(df)


def test_topk_avoids_global_sort(spark):
    df = QUERIES["topk_orders"](spark, SF_DIR)
    assert "TakeOrderedAndProject" in audit.plan_string(df)
    assert audit.exchange_count(df) == 0, audit.plan_string(df)


def test_no_row_at_a_time_python(registry_facts):
    """No BatchEvalPython anywhere: Python only via Arrow (mapInPandas)."""
    for name, facts in _built(registry_facts, QUERIES, build_errors_fail=True):
        assert not facts.python_eval, f"{name} uses row-at-a-time Python"


def test_codegen_everywhere(spark):
    """Every relational query should have at least one codegen stage."""
    _all = {**QUERIES, **EXTRA_QUERIES}  # q1/window_topn rotated out r10
    for name in ("q1_pricing_summary", "flagship_monthly_revenue", "window_topn_orders_per_customer"):
        n = audit.codegen_stage_count_of(lambda s: _all[name](s, SF_DIR), spark)
        assert n >= 1, name


def test_sampling_split_and_filter_are_narrow(spark):
    """Split + stratified sample are map-side: ZERO exchanges — the property
    that makes them free at 100 TB."""
    from datapipeline_omnichanneltobigquery_spark.operators.sampling import (
        hash_split,
        stratified_sample,
    )

    d = read_table(spark, SF_DIR, "documents")
    split = hash_split(d, "doc_id", {"train": 0.9, "val": 0.1})
    assert audit.exchange_count(split) == 0, audit.plan_string(split)
    samp = stratified_sample(d, "doc_id", "lang", {"en": 0.5}, default_fraction=1.0)
    assert audit.exchange_count(samp) == 0, audit.plan_string(samp)


def test_cap_per_group_single_shuffle(spark):
    from datapipeline_omnichanneltobigquery_spark.operators.sampling import cap_per_group

    d = read_table(spark, SF_DIR, "documents")
    capped = cap_per_group(d, "doc_id", "source", 10)
    assert audit.exchange_count(capped) == 1, audit.plan_string(capped)


def test_pack_sequences_single_shard_shuffle(spark):
    """Packing shuffles once (per-shard window); no global single-partition
    sort may appear."""
    import pyspark.sql.functions as F2
    from datapipeline_omnichanneltobigquery_spark.operators.sampling import pack_sequences

    d = read_table(spark, SF_DIR, "documents").withColumn(
        "n_tokens", ((F2.col("n_chars") + 3) / 4).cast("bigint")
    )
    pk = pack_sequences(d, "doc_id", "n_tokens", 2048)
    plan = audit.plan_string(pk)
    assert audit.exchange_count(pk) == 1, plan
    assert "SinglePartition" not in plan, plan


def test_dedup_exact_shuffles_fingerprint_not_text(spark):
    """dedup_exact_docs must shuffle (fp, id) only: one exchange, and the
    exchange input carries the md5 fingerprint, never the document body."""
    df = EXTRA_QUERIES["dedup_exact_docs"](spark, SF_DIR)  # rotated out r9
    plan = audit.plan_string(df)
    assert audit.exchange_count(df) == 1, plan
    exchange_inputs = [
        blk for blk in plan.split("\n\n") if blk.lstrip().startswith("(") and "Exchange" in blk
    ]
    assert exchange_inputs and all("text" not in blk for blk in exchange_inputs), plan


def test_global_shuffle_no_global_sort_of_rows(spark):
    """The epoch shuffle ranks inside hash-shards; the only SinglePartition
    piece is the n_shards-row offsets window, and the offsets come back via
    broadcast — the row stream itself is never globally sorted."""
    from datapipeline_omnichanneltobigquery_spark.operators.sampling import global_shuffle

    d = read_table(spark, SF_DIR, "documents")
    gs = global_shuffle(d, "doc_id")
    plan = audit.plan_string(gs)
    assert plan.count("SinglePartition") == 1, plan
    assert audit.broadcast_join_count(gs) >= 1, plan
    assert audit.exchange_count(gs) <= 4, plan


def test_bm25_broadcasts_query_side(spark):
    """The query-term and df tables broadcast; the only key shuffles are the
    inverted-index aggregations."""
    from datapipeline_omnichanneltobigquery_spark.operators.ir import bm25_scores

    d = read_table(spark, SF_DIR, "documents")
    scores = bm25_scores(d, "doc_id", "text", ["vector", "stream"])
    assert audit.broadcast_join_count(scores) >= 2, audit.plan_string(scores)


def test_driver_outputs_have_no_complex_types(registry_facts):
    """Driver-contract guard: the driver's canonicalizer sorts pandas columns
    and crashes on array/map/struct cells (unhashable) — every EXPORTED query
    must return scalar columns only.  Round-2 regression
    (agg_collect_sorted_users) pinned forever."""
    bad = {
        name: list(facts.complex_columns)
        for name, facts in _built(registry_facts, QUERIES, build_errors_fail=True)
        if facts.complex_columns
    }
    assert not bad, f"driver-exported queries return complex-typed columns: {bad}"


def test_driver_registry_cap_and_oracles():
    """The driver verifies at most DRIVER_CAP entries: the exported registry
    must stay at exactly the cap with an oracle for every entry (new
    operator families merge into existing entries or displace one —
    COVERAGE.md 'standing rule')."""
    from datapipeline_omnichanneltobigquery_spark.plans.queries import (
        DRIVER_CAP,
        ORACLES,
        QUERIES,
    )

    assert len(QUERIES) == DRIVER_CAP
    assert set(ORACLES) == set(QUERIES)


def test_rebalance_resample_is_map_side(spark):
    """sampling_rebalance's realized corpus must stay a narrow map-side
    filter — zero shuffle exchanges in the resample plan (the n_groups-row
    fractions round-trip happens before plan construction, by design)."""
    from datapipeline_omnichanneltobigquery_spark.plans.queries import (
        EXTRA_QUERIES,
        QUERIES,
    )

    fn = QUERIES.get("sampling_rebalance") or EXTRA_QUERIES["sampling_rebalance"]
    df = fn(spark, SF_DIR)
    assert audit.exchange_count(df) == 0, audit.plan_string(df)


def test_capped_jaccard_has_no_extra_exchanges(spark):
    """The df-capped exact-Jaccard plan must not out-shuffle the uncapped
    form by more than the hot-set join pair: the cap's window reuses the
    self-join's shingle partitioning, so the delta stays ≤ 2 exchanges
    (hotsets aggregate + its join), not a recomputation blowup."""
    from datapipeline_omnichanneltobigquery_spark.operators.dedup import (
        JACCARD_MAX_DF,
        jaccard_pairs,
    )
    from datapipeline_omnichanneltobigquery_spark.sources.tables import read_table

    docs = read_table(spark, SF_DIR, "documents")
    plain = audit.exchange_count(jaccard_pairs(docs, "doc_id", "text", 3, 0.5))
    capped = audit.exchange_count(
        jaccard_pairs(docs, "doc_id", "text", 3, 0.5, max_df=JACCARD_MAX_DF)
    )
    assert capped <= plain + 2, (plain, capped)


# Forced-broadcast hints whose input is NOT mechanically provably bounded
# (audit.broadcast_hint_audit) but IS bounded by a documented CONTRACT.
# Every flagged hint in a driver query must be listed here with its reason;
# a new unbounded broadcast anywhere else fails the test below — the
# mechanical form of the round-4 lesson (the ANN corpus-id broadcast and
# the funnel stage broadcasts would both have tripped this).
BROADCAST_REVIEW_ALLOWLIST = {
    # decontam broadcasts riding inside the incremental (nightly) face,
    # gated since r7 (corpus_prep_full rotated out r9 — see the EXTRA list)
    "corpus_prep_incremental": 2,
    # (r7: the Bloom probe no longer broadcasts at all — the bounded words
    # table is materialized into a literal array, pure map-side probe)
    # (r8: bm25's per-query-term dfreq broadcast now rides on the
    # localCheckpointed tf_q frame — mechanically bounded, off this list)
    # (r15: similarity_ann_pq / similarity_pq_recall rotated OUT of the
    # gate — their ADC-LUT justifications moved back to the EXTRA list.)
    # (r15 optimization round: the composed IVF×PQ trio no longer carries
    # ANY review-grade broadcast — the ADC LUT became a literal map over
    # the collected bounded query batch, and the (query, cluster) probe
    # list now descends from a LocalRelation of that batch, which the
    # audit proves bounded mechanically.  Entries dropped from this list;
    # the audit asserts 0 flagged.)
    # semantic decontam (rotated INTO the gate r15): the normalized
    # EVAL-side embedding frame — bounded by the eval-suites-are-small
    # contract; broadcasting it IS the map-side screen (the
    # cosine_topk_join plan shape).  Justifications moved verbatim from
    # the EXTRA list where they sat in r14.
    "decontam_semantic_pairs": 1,
    "text_decontaminate_semantic": 1,
}


def test_no_unjustified_unbounded_broadcast_hints(registry_facts):
    """Every driver query's forced broadcasts are provably bounded
    (limit / scalar agg / point filter / inline data / fixed dim) or
    explicitly justified in BROADCAST_REVIEW_ALLOWLIST."""
    offenders = {}
    for name, facts in _built(registry_facts, QUERIES):
        _, flagged = facts.hints
        if flagged != BROADCAST_REVIEW_ALLOWLIST.get(name, 0):
            offenders[name] = flagged
    assert not offenders, offenders


# Same contract for the driver=False registry (PLANS_EXTRAS.md rows print
# REVIEW for these) — every flagged force-broadcast justified here or the
# test fails, so an unbounded hint can't hide in an extra either.
EXTRA_BROADCAST_REVIEW_ALLOWLIST = {
    # n_shards-row shard-offset aggregate (operators/sampling.py:321 —
    # bounded by the shard-count constant, not by data)
    "sampling_global_shuffle": 1,
    # (r10: vocab_growth's offset broadcast reads the localCheckpointed
    # bucketed frame — mechanically bounded via the LogicalRDD leaf, so it
    # needs no justification entry)
    # bounded ANN probe batch (literal vec_id range; the batch-ANN plan
    # shape per operators/similarity.py::ivf_topk_join_from_index)
    "similarity_ann_batch": 1,
    "similarity_ann_incremental": 1,
    # probe/threshold frames bounded by the caller's query contract
    "similarity_topk_join": 1,
    # eval-suite shingle index + contaminated-id list (decontam module
    # contract: evaluation suites are small by construction)
    "text_decontam_keep": 2,
    # (r15: decontam_semantic_pairs / text_decontaminate_semantic rotated
    # INTO the gate — their eval-side-broadcast justifications moved to
    # the gated list above.)
    # combined decontamination (r15): the bench shingle index + the
    # normalized eval embedding frame (both bounded by the
    # eval-suites-are-small contract, same two justifications as the
    # standalone faces) + the union of the two contaminated-id lists
    # (bounded by |matches| — the text_decontam_keep anti-join shape)
    "text_decontaminate_combined": 3,
    # same two decontam broadcasts, standalone face (rotated out of the
    # gate r10; justification unchanged)
    "text_decontaminate": 1,
    # the same two decontam broadcasts riding inside the composed pipeline
    # (rotated out of the gate r9; justification unchanged)
    "corpus_prep_full": 2,
    # batch-ANN probe set: the query batch (vec_id < 16 literal range) is
    # bounded by the caller's contract — broadcasting the probe batch IS
    # the batch-ANN plan shape (operators/similarity.py
    # ::ivf_topk_join_from_index); the exact-truth side's 2 hints moved
    # into ann_recall's localCheckpoint job in r8, leaving the candidate
    # probe's (rotated out of the gate r9)
    "similarity_ann_recall": 1,
    # PQ ADC lookup table (rotated out of the gate r15, green r13+r14):
    # |query batch| × m_sub × n_codes rows (4·8·16 = 512 here) — bounded
    # by the probe-batch contract times two fixed constants; broadcasting
    # the LUT IS the ADC plan shape (the code scan must not shuffle).
    "similarity_ann_pq": 1,
    "similarity_pq_recall": 1,
    # (r14: similarity_ivf_pq / _recall / _incremental rotated INTO the
    # gate — their probe-list + LUT justifications moved to the gated
    # list above.)
}


def test_no_unjustified_unbounded_broadcast_hints_extras(registry_facts):
    """The broadcast-boundedness contract extended to the whole registry:
    driver=False entries get the same audit as the gated 50."""
    offenders = {}
    for name, facts in _built(registry_facts, EXTRA_QUERIES):
        _, flagged = facts.hints
        if flagged != EXTRA_BROADCAST_REVIEW_ALLOWLIST.get(name, 0):
            offenders[name] = flagged
    assert not offenders, offenders


# Queries allowed to exceed audit.MAX_FILE_SCANS_PER_SOURCE, each with the
# reason the extra scans are the RIGHT plan (not a redundant subtree).
# Empty today — the round-7 offenders (tfidf 18, corpus_prep_incremental 18,
# text_profile 7, funnel 6, ann_recall 6, corpus_prep_full 7, bm25 5) were
# all fixed by materializing the shared frame (localCheckpoint) or composing
# per-row branches into one projection.
FILE_SCAN_ALLOWLIST: dict[str, int] = {}


def test_no_redundant_source_scans(registry_facts):
    """No gated query's compiled plan scans any single file source more
    than audit.MAX_FILE_SCANS_PER_SOURCE times (the round-7 lesson:
    text_tfidf_pairs compiled to 18 corpus scans with zero ReusedExchange
    because a shared postings frame was re-derived per reference — correct
    and invisible at sf0.1, 18 corpus reads+tokenizations at 100 TB).
    A frame referenced N ways must be localCheckpointed/persisted, or the
    query listed in FILE_SCAN_ALLOWLIST with why its scans are genuinely
    distinct pruned reads.  Covers the driver=False extras too — a
    rotation must never promote an N-scan plan into the gate."""
    offenders = {}
    for name, facts in _built(registry_facts, registry_facts):
        counts = facts.file_scans
        worst = max(counts.values()) if counts else 0
        cap = FILE_SCAN_ALLOWLIST.get(name, audit.MAX_FILE_SCANS_PER_SOURCE)
        if worst > cap:
            offenders[name] = counts
    assert not offenders, offenders


# Gated queries whose build (the builder call, before any action) runs no
# Spark job: the per-query jobs ceiling of the build phase.
JOBLESS_BUILDS = ("er_fs_weights", "event_time_filter", "upsert_merge")


def test_jobless_builds(spark):
    """Tables are read under declared schemas, so a builder that runs no
    eager action of its own runs no job at all until its sink does."""
    jobs = {q: count_jobs(spark, lambda q=q: QUERIES[q](spark, SF_DIR)) for q in JOBLESS_BUILDS}
    assert jobs == dict.fromkeys(JOBLESS_BUILDS, 0)


def test_every_gated_aggregate_combines_map_side(registry_facts):
    """Spill/memory evidence for the wide aggregates (r5 VERDICT #6), made
    mechanical: every gated query whose plan carries a GROUPED final
    aggregate also carries partial/merge stages — the full pre-aggregation
    row stream never crosses an exchange uncombined.  A query that loses
    its partial stage (e.g. by aggregating on a non-deterministic column
    or disabling partial agg) fails here, not on a 100 TB shuffle."""
    offenders = {}
    for name, facts in _built(registry_facts, QUERIES):
        final, partial = facts.partial_agg
        if final > 0 and partial == 0:
            offenders[name] = (final, partial)
    assert not offenders, offenders


def _audit_table_rows(path: str) -> dict[str, str]:
    """Query name -> row line of the generated plan-audit markdown table."""
    rows = {}
    for line in open(path):
        if not line.startswith("| "):
            continue
        first = line.split("|")[1].strip()
        if first in ("query", "---"):
            continue
        rows[first] = line.rstrip("\n")
    return rows


def _audit_table_row_names(path: str) -> set[str]:
    """First-column names of the generated plan-audit markdown table."""
    return set(_audit_table_rows(path))


def test_plans_markdown_rows_match_registries():
    """PLANS.md / PLANS_EXTRAS.md are generated plan-audit artifacts, not
    prose: their row sets must equal the live registries (r14 verdict —
    PLANS_EXTRAS lagged 5 families behind EXTRA_QUERIES; the live CI
    audits never lagged, but the reviewable table did).  Regenerate with
    `python bench.py plans [--extras]` after any registry change."""

    from datapipeline_omnichanneltobigquery_spark.plans.queries import (
        EXTRA_QUERIES,
        QUERIES,
    )

    root = os.path.join(os.path.dirname(__file__), "..")
    gated = _audit_table_row_names(os.path.join(root, "PLANS.md"))
    assert gated == set(QUERIES), (
        "PLANS.md drift — missing: %s; stale: %s"
        % (sorted(set(QUERIES) - gated), sorted(gated - set(QUERIES)))
    )
    extras = _audit_table_row_names(os.path.join(root, "PLANS_EXTRAS.md"))
    assert extras == set(EXTRA_QUERIES), (
        "PLANS_EXTRAS.md drift — missing: %s; stale: %s"
        % (sorted(set(EXTRA_QUERIES) - extras), sorted(extras - set(EXTRA_QUERIES)))
    )


def test_plans_markdown_values_match_plan_facts(registry_facts):
    """Every committed PLANS.md / PLANS_EXTRAS.md row equals the entry's
    live plan facts rendered by bench.py's row formatter (bench.plans_row),
    in every column but `codegen stages` (bench.py counts those on a
    separate AQE-off rebuild).  The tables are generated on local[4] with 8
    shuffle partitions at sf0.001, the test session's confs; regenerate
    them with `python bench.py plans [--extras]` after a plan change."""
    stale = {}
    for table in ("PLANS.md", "PLANS_EXTRAS.md"):
        for name, line in _audit_table_rows(os.path.join(bench.ROOT, table)).items():
            facts = registry_facts.get(name)
            if isinstance(facts, audit.PlanFacts):
                codegen = line.split("|")[5].strip()  # the committed cell
                live = bench.plans_row(name, facts, codegen)
            else:
                live = f"no plan facts: {facts!r}"
            if live != line:
                stale[name] = f"{name}:\n  committed {line}\n  live      {live}"
    assert not stale, "\n".join(stale.values())


def test_baseline_floors_file_is_live():
    """BASELINE_FLOORS.json (bench.py's worst_vs_floor source) parses,
    pins a scale factor, and names only real registry entries — a
    renamed/rotated-away query must not leave a stale floor behind.
    (Floors are re-recorded per rotation round — `python bench.py floors` —
    so subset, not equality: a new family may lack a floor until the
    next idle re-record.)"""
    import json

    from datapipeline_omnichanneltobigquery_spark.plans.queries import (
        EXTRA_QUERIES,
        QUERIES,
    )

    path = os.path.join(os.path.dirname(__file__), "..", "BASELINE_FLOORS.json")
    doc = json.load(open(path))
    assert doc.get("sf") == 0.1
    floors = doc.get("floors", {})
    assert floors, "floors must be non-empty"
    known = set(QUERIES) | set(EXTRA_QUERIES)
    stale = sorted(set(floors) - known)
    assert not stale, f"floors name unknown queries: {stale}"
    assert all(isinstance(v, (int, float)) and v > 0 for v in floors.values())


def test_coverage_header_counts_match_registry():
    """The COVERAGE.md current-round header's registry counts are
    generated facts, not prose — pin them to the live registry so the
    r11 one-off drift (header said 189/186, registry had 190/187)
    cannot recur."""
    import re

    from datapipeline_omnichanneltobigquery_spark.plans.queries import (
        EXTRA_ORACLES,
        EXTRA_QUERIES,
        ORACLES,
        QUERIES,
    )


    cov = os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    head = open(cov).read().split("**Round-", 3)[1]
    m = re.search(r"(\d+)\s+driver-gated entries", "Round-" + head)
    assert m and int(m.group(1)) == len(QUERIES) == len(ORACLES)
    m = re.search(r"(\d+)\s+driver=False extras \((\d+)", head)
    assert m, "header must state the extras counts"
    assert int(m.group(1)) == len(EXTRA_QUERIES)
    assert int(m.group(2)) == len(EXTRA_ORACLES)
