"""Physical-plan audit helpers — the engine's own '.explain and iterate'
discipline, made assertable.

These inspect the formatted plan for the properties that matter at 100 TB:
filters reaching the parquet scan (PushedFilters), projections pruning the
scan (ReadSchema), dimension joins broadcasting, codegen coverage, and
shuffle (Exchange) counts.  :func:`plan_facts` reads one DataFrame's plans
once and returns every per-entry fact; tests/test_plans.py audits the whole
registry (gated queries and extras) with it, and ``bench.py plans`` renders
the same facts into PLANS.md / PLANS_EXTRAS.md, so a regression in plan
shape fails CI, not a cluster bill.
"""

from __future__ import annotations

import contextlib
import io
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, MapType, StructType

from datapipeline_omnichanneltobigquery_spark.session import scoped_conf


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _pushed_filters(plan: str) -> list[str]:
    """All PushedFilters entries across a formatted plan's scans."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def has_pushed_filter(df: DataFrame, column: str) -> bool:
    return any(column in entry for entry in _pushed_filters(plan_string(df)))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of each scan — column pruning evidence."""
    return re.findall(r"ReadSchema: (\S+)", plan_string(df))


def broadcast_join_count(df: DataFrame) -> int:
    return plan_string(df).count("BroadcastHashJoin")


def sort_merge_join_count(df: DataFrame) -> int:
    return plan_string(df).count("SortMergeJoin")


def _shuffle_exchanges(plan: str) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges).

    Matches both the pre-AQE detail form ('Exchange hashpartitioning(...)')
    and the AQE formatted tree form ('Exchange (5)')."""
    return len(re.findall(r"(?<!Broadcast)Exchange (?:hash|range|\()", plan))


def exchange_count(df: DataFrame) -> int:
    return _shuffle_exchanges(plan_string(df))


#: per-source scan ceiling for a single compiled plan — above this, a query
#: is re-deriving a shared frame from the scan instead of materializing it
#: (localCheckpoint/persist) and must be fixed or allowlisted with a
#: justification in tests/test_plans.py.
MAX_FILE_SCANS_PER_SOURCE = 4


def file_scan_counts(plan: str) -> dict[str, int]:
    """How many times a formatted plan scans each file source (keyed by
    the location's basename, e.g. ``documents.parquet``).

    THE 100 TB redundancy detector: a subtree referenced N ways without a
    persist/localCheckpoint is recompiled N times from the scan — correct,
    and invisible at local scale, but N corpus scans (and N tokenizations)
    for one job at 100× (the round-7 ``text_tfidf_pairs`` finding: 18
    scans, zero ReusedExchange).  tests/test_plans.py asserts a ceiling
    per source for every registry entry, gated and extra."""
    locs = re.findall(r"Location: \S+ \[([^\]]*)\]", plan)
    out: dict[str, int] = {}
    for loc in locs:
        for path in loc.split(","):
            base = path.strip().rstrip("/").rsplit("/", 1)[-1]
            if base:
                out[base] = out.get(base, 0) + 1
    return out


def codegen_stage_count_of(build, spark) -> int:
    """Distinct WholeStageCodegen stages of the plan ``build(spark)`` returns.

    Under AQE the pre-execution explain hides codegen stars (stages are
    finalized at runtime), so this helper re-plans with AQE off; ``build``
    must construct the DataFrame fresh (a cached queryExecution would keep
    the AQE plan)."""
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        s = plan_string(build(spark), mode="simple")
    return len(set(re.findall(r"\*\((\d+)\)", s)))


def _hint_subtrees(analyzed: str) -> list[str]:
    """The subtree text of every ResolvedHint node in an analyzed-plan tree
    string (a hint's subtree = the following lines whose tree-marker sits
    deeper than the hint's own)."""
    lines = analyzed.splitlines()

    def depth(line: str) -> int:
        m = re.search(r"[+:]- ", line)
        return m.start() if m else -1

    out = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line:
            continue
        d = depth(line)
        sub = [line]
        for nxt in lines[i + 1 :]:
            nd = depth(nxt)
            if nd >= 0 and nd <= d:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


#: Leaf relations whose cardinality is FIXED by the data model at every
#: scale factor (TPC-H nation=25, region=5) — safe to force-broadcast.
_FIXED_DIM_FIRST_COLS = ("n_nationkey", "r_regionkey", "cid", "cv")


def broadcast_hint_audit(analyzed: str) -> tuple[int, int]:
    """(n broadcast hints, n NOT provably bounded) in an analyzed-plan tree
    string.

    A forced broadcast is only safe when its input's cardinality is bounded
    by CONSTRUCTION, not by today's data size — at 100× a "small" side
    that scales with the data becomes a multi-GB driver/executor OOM (the
    round-4 ANN and funnel findings).  Provably bounded, mechanically, is:

    * a limit in the subtree (top-k, ``limit(n_probe)`` probe lists);
    * an ungrouped aggregate (single-row scalar statistics);
    * an equality filter against a literal (point lookup, e.g. the 1-row
      query-vector fetch);
    * an inline ``LocalRelation``/``range(n)`` (tile grids, salt lists);
    * leaf relations that are all fixed-cardinality dims (nation/region,
      the IVF centroid table).

    Everything else is flagged.  Flags are not automatically errors —
    inputs bounded by CONTRACT (a BM25 query's term list, a benchmark's
    eval suite) legitimately carry hints — but every flag must appear in
    tests/test_plans.py's justification allowlist, so a new unbounded
    broadcast fails CI instead of an executor."""
    n = flagged = 0
    for sub in _hint_subtrees(analyzed):
        head, _, body = sub.partition("\n")
        if "broadcast" not in head.lower():
            continue
        n += 1
        if not _subtree_bounded(body):
            flagged += 1
    return n, flagged


def _subtree_bounded(body: str) -> bool:
    """Recursive cardinality-bound check over an analyzed-plan subtree text.

    A node is bounded when it is itself a hard bound — a limit, an
    UNGROUPED aggregate (one row), a point filter (= literal on an
    id/key-named column), inline data (LocalRelation / LogicalRDD /
    OneRowRelation / Range(n)), or a fixed-cardinality dim scan — or when
    it merely preserves/reduces cardinality (project, filter, distinct,
    grouped aggregate, sort, window, join) and ALL its children are
    bounded.  A scan of anything else is unbounded, and unboundedness
    propagates up through joins and grouped aggregates."""

    def node_depth(line: str) -> int:
        m = re.search(r"[+:]- ", line)
        return m.start() if m else 0

    lines = [ln for ln in body.splitlines() if ln.strip()]
    if not lines:
        return False

    def is_self_bounded(text: str) -> bool:
        return bool(
            "GlobalLimit" in text
            or "LocalLimit" in text
            # ungrouped Aggregate prints ONE bracket list; grouped prints
            # "Aggregate [keys], [outputs]"
            or (re.search(r"Aggregate \[", text) and "], [" not in text)
            or re.search(r"Filter \(*\w*(?:id|key)#\d+L? = (?:cast\()?-?\d+", text)
            or "LocalRelation" in text
            or "LogicalRDD" in text
            or "OneRowRelation" in text
            or re.search(r"Range \(", text)
            or any(
                cols.split(",")[0].split("#")[0].strip() in _FIXED_DIM_FIRST_COLS
                for cols in re.findall(r"Relation\w* \[([^\]]*)\]", text)
            )
        )

    def walk(i: int) -> tuple[bool, int]:
        """(bounded, next index) for the subtree rooted at lines[i]."""
        line = lines[i]
        d = node_depth(line)
        children = []
        j = i + 1
        while j < len(lines) and node_depth(lines[j]) > d:
            ok, j2 = walk(j)
            children.append(ok)
            j = j2
        if is_self_bounded(line):
            return True, j
        if "Relation" in line and "LocalRelation" not in line:
            return False, j  # a scan that scales with the data
        # pass-through/reducing operators: bounded iff every input is
        return bool(children) and all(children), j

    ok, _ = walk(0)
    return ok


# ---------------------------------------------------------------------------
# Partial-aggregation audit (map-side combine evidence)
# ---------------------------------------------------------------------------

_AGG_LINE_RE = re.compile(
    r"(?:HashAggregate|SortAggregate|ObjectHashAggregate)\(keys=\[(.*?)\], functions=\[(.*?)\]",
)


def partial_agg_audit(simple: str) -> tuple[int, int]:
    """(n final grouped aggregates, n partial/merge stages) in a simple-mode
    physical plan — the mechanical form of the 'every shuffled aggregate combines
    map-side' claim.  A GROUPED final aggregate (non-empty keys, non-empty
    non-partial functions) without any partial stage in the plan means the
    full pre-aggregation row stream crosses the exchange — the shape that
    melts at 100 TB.  tests/test_plans.py asserts partial >= final for
    every gated query; PLANS.md carries the counts."""
    final = partial = 0
    for m in _AGG_LINE_RE.finditer(simple):
        keys, fns = m.group(1).strip(), m.group(2).strip()
        if not fns:
            # distinct-style dedup node (functions=[]) — keys-only partial
            # and final stages look identical; they neither prove nor
            # violate map-side combine
            continue
        if "partial_" in fns or "merge_" in fns:
            partial += 1
        elif keys:
            final += 1
    return final, partial


# ---------------------------------------------------------------------------
# One pass over an entry's plans
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class PlanFacts:
    """Every per-entry plan fact the registry-wide audits and PLANS*.md use."""

    exchanges: int  # shuffle exchanges, broadcast exchanges excluded
    broadcast_joins: int
    sort_merge_joins: int
    pushed_filter: bool  # any scan carries a non-empty PushedFilters
    hints: tuple[int, int]  # broadcast_hint_audit's (n, flagged)
    partial_agg: tuple[int, int]  # partial_agg_audit's (final, partial)
    file_scans: dict[str, int]  # file_scan_counts
    reused_exchanges: int
    python_eval: bool  # BatchEvalPython: row-at-a-time, not Arrow, Python
    complex_columns: tuple[str, ...]  # array/map/struct output columns


def plan_facts(df: DataFrame) -> PlanFacts:
    """Read ``df``'s formatted, simple and analyzed plans once each."""
    plan = plan_string(df)
    return PlanFacts(
        exchanges=_shuffle_exchanges(plan),
        broadcast_joins=plan.count("BroadcastHashJoin"),
        sort_merge_joins=plan.count("SortMergeJoin"),
        pushed_filter=any(e.strip() for e in _pushed_filters(plan)),
        hints=broadcast_hint_audit(df._jdf.queryExecution().analyzed().toString()),
        partial_agg=partial_agg_audit(plan_string(df, mode="simple")),
        file_scans=file_scan_counts(plan),
        reused_exchanges=plan.count("ReusedExchange"),
        python_eval="BatchEvalPython" in plan,
        complex_columns=tuple(
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ),
    )

