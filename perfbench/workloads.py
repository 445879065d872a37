"""The three benchmark workloads.

Each drives one group of engine layers hard and leaves the others idle:

* ``fetch_load``  — paginated source -> cast -> sort -> truncate-load;
* ``merge_upsert`` — staging write -> MERGE on ``id`` -> swap -> re-count;
* ``query_mix``   — gated query registry (build + execute) over parquet.

A workload builds its fixtures in ``setup``, runs one closed-loop iteration
in ``iterate`` (the timed part) and verifies the iteration's output in
``check`` (untimed).  ``layers`` turns a traced iteration's spans into the
per-layer metrics.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
from contextlib import contextmanager
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import Observation

from datapipeline_omnichanneltobigquery_spark import pipeline
from datapipeline_omnichanneltobigquery_spark.operators.normalize import (
    cast_columns,
    sort_by_created_at,
)
from datapipeline_omnichanneltobigquery_spark.pipeline import run_pipeline
from datapipeline_omnichanneltobigquery_spark.sinks import catalog
from datapipeline_omnichanneltobigquery_spark.sinks.catalog import overwrite_table
from datapipeline_omnichanneltobigquery_spark.sources.paginated import paginated_to_df

from perfbench import deals, starschema
from perfbench.sparkstats import Span, Tracer

# Fixture sizes and warm-up counts, recorded in BENCHMARK.json.
FETCH_PAGES = 8
MERGE_MAIN_ROWS = 100_000
MERGE_INC_ROWS = MERGE_MAIN_ROWS // 100
QUERY_SF = 0.01
MIX = ("er_fs_weights", "event_time_filter", "upsert_merge")


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    work_dir: str
    warehouse: str


@dataclass
class Iteration:
    seconds: float
    roots: list[Span]
    payload: dict = field(default_factory=dict)
    jobs: int = 0  # Spark jobs under the first root span


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def part_files(table_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(table_dir, "part-*.parquet")))


# ---------------------------------------------------------------------------
# Tracing the pipeline's public calls from outside
# ---------------------------------------------------------------------------


def _plan_exchanges(df) -> tuple[int, int]:
    """(exchanges, broadcast exchanges) in the DataFrame's physical plan."""
    shuffles = broadcasts = 0
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        node = line.lstrip(" :+-*(0123456789)").split(" ", 1)[0]
        if node.endswith("Exchange"):
            shuffles += 1
            broadcasts += node == "BroadcastExchange"
    return shuffles, broadcasts


@contextmanager
def instrument(tracer: Tracer):
    """Wrap the pipeline's calls into each layer in spans, for a traced
    iteration; the engine's modules are restored on exit."""
    targets = [
        (pipeline, "paginated_to_df", "sources.paginated_to_df", None),
        (pipeline, "cast_columns", "normalize.cast_columns", None),
        (pipeline, "sort_by_created_at", "normalize.sort_by_created_at", None),
        (pipeline, "overwrite_table", "catalog.overwrite_table", None),
        (pipeline, "upsert_into_table", "catalog.upsert_into_table", None),
        (catalog, "row_count", "catalog.row_count", None),
        (catalog, "upsert", "upsert.upsert", _plan_exchanges),
    ]
    saved = []
    for mod, attr, name, capture in targets:
        fn = getattr(mod, attr)
        saved.append((mod, attr, fn))

        def wrapped(*a, _fn=fn, _name=name, _capture=capture, **kw):
            with tracer.span(_name) as sp:
                out = _fn(*a, **kw)
                if _capture is not None:
                    sp.result = _capture(out)
                return out

        setattr(mod, attr, wrapped)
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def spark_totals(spans: list[Span]) -> dict[str, float]:
    jobs = [j for s in spans for j in s.jobs]
    return {
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.stages": sum(j.stages for j in jobs),
        "spark.executor_run_s": sum(j.run_s for j in jobs),
        "spark.executor_cpu_s": sum(j.cpu_s for j in jobs),
        "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "tables.schema_jobs": sum(j.name.startswith("parquet at") for j in jobs),
    }


def catalog_layers(tracer: Tracer, spans: list[Span], table_dir: str) -> dict[str, float]:
    """Catalog and upsert figures of one pipeline iteration.  ``catalog.write_s``
    here is the write calls' self time less the merge materialization;
    ``fetch_load`` further subtracts the re-run input chain."""
    writes = [s for s in spans if s.name in ("catalog.overwrite_table", "catalog.upsert_into_table")]
    verifies = [s for s in spans if s.name == "catalog.row_count"]
    upserts = [s for s in spans if s.name == "upsert.upsert"]
    # the merge materializes with a count() inside upsert_into_table
    merge_jobs = [j for s in writes for j in s.jobs if j.action.startswith("count at")]
    write_jobs = [j for s in writes for j in s.jobs if not j.action.startswith("count at")]
    upsert_s = sum(s.seconds for s in upserts) + sum(j.seconds for j in merge_jobs)
    plan = upserts[0].result if upserts else (0, 0)
    return {
        "catalog.write_s": sum(tracer.self_seconds(s) for s in writes) - upsert_s,
        "catalog.write_jobs": len(write_jobs),
        "catalog.verify_s": sum(s.seconds for s in verifies),
        "catalog.verify_scans": len(verifies),
        "catalog.bytes_written": sum(j.output_bytes for s in writes for j in s.jobs),
        "catalog.files_written": len(part_files(table_dir)),
        "upsert.s": upsert_s,
        "upsert.jobs": len(merge_jobs),
        "upsert.exchanges": plan[0],
        "upsert.broadcast": plan[1],
    }


# ---------------------------------------------------------------------------
# fetch_load
# ---------------------------------------------------------------------------


class FetchLoad:
    """``run_pipeline(action="new")`` over the seeded in-process deals API."""

    name = "fetch_load"
    cores = 4  # one task per page: every core fetches
    warmups = 2
    table = "deals"

    def setup(self, ctx: Ctx) -> None:
        sc = ctx.spark.sparkContext
        self.pages = deals.DealsPages(
            ctx.seed, FETCH_PAGES, calls=sc.accumulator(0), fetch_s=sc.accumulator(0.0)
        )
        expected = deals.expected_table(self.pages)
        self.rows = len(expected)
        self.expected_hash = deals.content_hash(expected)
        self.expected_nulls = {c: int(n) for c, n in expected.isna().sum().items()}
        self.table_dir = os.path.join(ctx.warehouse, self.table)

    def sizes(self) -> dict:
        return {"pages": FETCH_PAGES, "page_rows": deals.PAGE_SIZE, "rows": self.rows}

    def _run(self, ctx: Ctx):
        return run_pipeline(
            ctx.spark,
            fetch_page=self.pages,
            n_pages=FETCH_PAGES,
            schema=deals.SCHEMA_DDL,
            action="new",
            table=self.table,
        )

    def iterate(self, ctx: Ctx, traced: bool) -> Iteration:
        tr = ctx.tracer
        calls0, fetch0 = self.pages.calls.value, self.pages.fetch_s.value
        with tr.span("pipeline.run_pipeline") as root:
            if traced:
                with instrument(tr):
                    res = self._run(ctx)
            else:
                res = self._run(ctx)
        it = Iteration(root.seconds, [root], {"rows_loaded": res.rows_loaded})
        if traced:
            it.payload["page_calls"] = self.pages.calls.value - calls0
            it.payload["fetch_s"] = self.pages.fetch_s.value - fetch0
            # Lazy chain: materialize growing prefixes to noop; their
            # differences split the sink's action into source/cast/sort.
            src = lambda: paginated_to_df(ctx.spark, self.pages, FETCH_PAGES, deals.SCHEMA_DDL)  # noqa: E731
            for name, build in (
                ("prefix.source", src),
                ("prefix.cast", lambda: cast_columns(src())),
                ("prefix.sort", lambda: sort_by_created_at(cast_columns(src()))),
            ):
                with tr.span(name) as sp:
                    noop(build())
                it.roots.append(sp)
        return it

    def check(self, ctx: Ctx, it: Iteration) -> str | None:
        if it.payload["rows_loaded"] != self.rows:
            return f"row_count returned {it.payload['rows_loaded']}, expected {self.rows}"
        files = part_files(self.table_dir)
        table = pa.concat_tables([pq.read_table(f) for f in files])
        if table.num_rows != self.rows:
            return f"table holds {table.num_rows} rows, expected {self.rows}"
        nulls = {c: table.column(c).null_count for c in deals.FIELDS}
        if nulls != self.expected_nulls:
            return f"null counts {nulls} != expected {self.expected_nulls}"
        created = table.column("created_at").to_pylist()
        n_valid = len(created) - nulls["created_at"]
        head = created[:n_valid]
        if any(v is None for v in head) or any(a > b for a, b in zip(head, head[1:])):
            return "table is not sorted by created_at with nulls last"
        text = pa.table({c: pc.cast(table.column(c), pa.string()) for c in deals.FIELDS})
        if deals.content_hash(text.to_pandas()) != self.expected_hash:
            return "content hash differs from the generator's expected table"
        return None

    def layers(self, ctx: Ctx, it: Iteration) -> dict[str, float]:
        tr = ctx.tracer
        root, p_src, p_cast, p_sort = it.roots
        spans = tr.subtree(root)
        out = catalog_layers(tr, spans, self.table_dir)
        out["catalog.write_s"] -= p_sort.seconds
        out.update(
            {
                "sources.page_calls": it.payload["page_calls"],
                "sources.calls_per_page": it.payload["page_calls"] / FETCH_PAGES,
                "sources.fetch_s": it.payload["fetch_s"],
                "sources.scan_s": p_src.seconds,
                "sources.scan_tasks": sum(j.tasks for j in p_src.jobs),
                "normalize.cast_s": p_cast.seconds - p_src.seconds,
                "normalize.sort_s": p_sort.seconds - p_cast.seconds,
                "normalize.sort_jobs": len(p_sort.jobs) - len(p_cast.jobs),
                "normalize.sort_shuffle_bytes": sum(j.shuffle_write_bytes for j in p_sort.jobs),
            }
        )
        # source + cast + sort + write + verify: the part of run_s the
        # prefix breakdown explains
        out["trace.accounted_s"] = p_sort.seconds + out["catalog.write_s"] + out["catalog.verify_s"]
        out.update(spark_totals(spans))
        return out


# ---------------------------------------------------------------------------
# merge_upsert
# ---------------------------------------------------------------------------

_MERGE_COLS = "id, created_at, amount, status, subject"
_STATUS = ("open", "won", "lost", "pending")


def _fixture_rows(spark, n: int, seed: int, ids, version: str):
    """Deal rows keyed by ``ids`` (a column over ``spark.range(n)``), already
    in the cast policy's output types so the merge's cast is the identity."""
    h = F.xxhash64(ids, F.lit(seed % (1 << 63)), F.lit(version))
    return spark.range(n).select(
        ids.alias("id"),
        F.date_format(
            F.timestamp_seconds(F.lit(1_704_067_200) + F.pmod(h, F.lit(366 * 86_400))),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("created_at"),
        F.pmod(F.xxhash64(h), F.lit(10_000_000)).alias("amount"),
        F.element_at(F.array(*map(F.lit, _STATUS)), (F.pmod(h, F.lit(4)) + 1).cast("int")).alias(
            "status"
        ),
        F.concat(F.lit(f"deal {version} "), ids.cast("string")).alias("subject"),
    )


class MergeUpsert:
    """``run_pipeline(action="update")``: the same ~1 % increment merged into
    the main table every iteration.  Half its keys exist in main, half are
    new, so after the warm-up's merge main is a fixed point."""

    name = "merge_upsert"
    cores = 4
    warmups = 2
    table = "main"

    def setup(self, ctx: Ctx) -> None:
        spark = ctx.spark
        main = _fixture_rows(spark, MERGE_MAIN_ROWS, ctx.seed, F.col("id") * 2, "v1")
        overwrite_table(main, self.table)
        # increment: even ids hit main (spread over its key range), odd ids
        # are new
        stride = MERGE_MAIN_ROWS // (MERGE_INC_ROWS // 2)
        inc_ids = F.expr(f"(id div 2) * {stride * 2} + id % 2")
        inc_path = os.path.join(ctx.work_dir, "increment")
        _fixture_rows(spark, MERGE_INC_ROWS, ctx.seed, inc_ids, "v2").write.parquet(inc_path)
        self.increment = spark.read.parquet(inc_path)
        self.table_dir = os.path.join(ctx.warehouse, self.table)
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 2")
        main_files = f"read_parquet('{self.table_dir}/part-*.parquet')"
        inc_files = f"read_parquet('{inc_path}/part-*.parquet')"
        self.expected = self.duck.sql(
            f"SELECT count(*), sum(hash({_MERGE_COLS})) FROM ("
            f" SELECT {_MERGE_COLS} FROM {main_files} m"
            f" WHERE NOT EXISTS (SELECT 1 FROM {inc_files} i WHERE i.id = m.id)"
            f" UNION ALL SELECT {_MERGE_COLS} FROM {inc_files})"
        ).fetchone()
        self.rows = self.expected[0]

    def sizes(self) -> dict:
        return {"main_rows": MERGE_MAIN_ROWS, "increment_rows": MERGE_INC_ROWS, "rows": self.rows}

    def iterate(self, ctx: Ctx, traced: bool) -> Iteration:
        tr = ctx.tracer
        with tr.span("pipeline.run_pipeline") as root:
            if traced:
                with instrument(tr):
                    res = run_pipeline(ctx.spark, source_df=self.increment, action="update", table=self.table)
            else:
                res = run_pipeline(ctx.spark, source_df=self.increment, action="update", table=self.table)
        return Iteration(root.seconds, [root], {"rows_loaded": res.rows_loaded})

    def check(self, ctx: Ctx, it: Iteration) -> str | None:
        got = self.duck.sql(
            f"SELECT count(*), sum(hash({_MERGE_COLS}))"
            f" FROM read_parquet('{self.table_dir}/part-*.parquet')"
        ).fetchone()
        if it.payload["rows_loaded"] != self.rows:
            return f"row_count returned {it.payload['rows_loaded']}, expected {self.rows}"
        if got != self.expected:
            return f"main table (rows, hash) {got} != DuckDB anti-join+union {self.expected}"
        return None

    def layers(self, ctx: Ctx, it: Iteration) -> dict[str, float]:
        spans = ctx.tracer.subtree(it.roots[0])
        out = catalog_layers(ctx.tracer, spans, self.table_dir)
        out.update(spark_totals(spans))
        return out


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


def _canon_cell(v) -> str:
    """One value as text, the way the registry's hash gate compares them."""
    import datetime as dt
    from decimal import Decimal

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, (float, Decimal)):
        return repr(float(v))
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, list):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: sorted column names, then the
    sorted rows of canonical cells."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("\x1f".join(_canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(cols[i] for i in order).encode())
    for line in canon:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def _fingerprint(df):
    """Observe (rows, hash-sum) on ``df``'s next action; order-insensitive
    and computed inside the action, so the noop sink still stands in for
    delivery."""
    obs = Observation()
    cols = [F.col(f"`{c}`") for c in df.columns]
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(20,0)")).alias("h"),
    )
    return observed, obs


class QueryMix:
    """Gated registry queries over seeded parquet, each built and executed
    under its own spans; an iteration is one pass over :data:`MIX`."""

    name = "query_mix"
    # A pass runs about a dozen tasks; its time is the driver planning and
    # scheduling, and many hand-offs between Python, the driver and the
    # executor.  On one CPU no hand-off waits for an idle virtual CPU to
    # be run again; with 10-15 % of the host's CPU time stolen, those waits
    # made passes on four CPUs 45-110 % slower.
    cores = 1
    warmups = 6

    def setup(self, ctx: Ctx) -> None:
        from datapipeline_omnichanneltobigquery_spark.plans import persistence
        from datapipeline_omnichanneltobigquery_spark.plans.queries import ORACLES, QUERIES
        from datapipeline_omnichanneltobigquery_spark.sources.tables import TABLES

        # queries that persist an index write it under the run's directory
        persistence.SCRATCH = os.path.join(ctx.work_dir, "scratch")
        self.queries = QUERIES
        self.data_dir = os.path.join(ctx.work_dir, "data")
        self.rows = starschema.write_tables(ctx.seed, QUERY_SF, self.data_dir)
        duck = duckdb.connect()
        duck.execute("SET threads TO 2")
        for t in TABLES:
            duck.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')")
        self.oracle = {}
        for q in MIX:
            tbl = duck.sql(ORACLES[q]).arrow()
            rows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_columns else []
            self.oracle[q] = value_hash(tbl.column_names, rows)
        duck.close()
        self.reference: dict[str, tuple] = {}
        self.oracle_failures: list[str] = []

    def sizes(self) -> dict:
        return {"sf": QUERY_SF, "queries": list(MIX), "input_rows": self.rows}

    def iterate(self, ctx: Ctx, traced: bool) -> Iteration:
        """One pass.  The first (warm-up) pass collects each result and
        compares it with its DuckDB oracle; every pass observes a
        fingerprint that later passes must reproduce."""
        tr = ctx.tracer
        first = not self.reference and not self.oracle_failures
        fps = {}
        with tr.span("plans.pass") as root:
            for q in MIX:
                with tr.span(f"query.{q}.build"):
                    df, obs = _fingerprint(self.queries[q](ctx.spark, self.data_dir))
                with tr.span(f"query.{q}.exec"):
                    if first:
                        rows = [tuple(r) for r in df.collect()]
                    else:
                        noop(df)
                fps[q] = obs
                if first and value_hash(df.columns, rows) != self.oracle[q]:
                    self.oracle_failures.append(q)
        got = {q: (o.get["n"], o.get["h"]) for q, o in fps.items()}
        if first:
            self.reference = {q: v for q, v in got.items() if q not in self.oracle_failures}
        return Iteration(root.seconds, [root], {"fingerprints": got})

    def check(self, ctx: Ctx, it: Iteration) -> str | None:
        if self.oracle_failures:
            return f"results differ from the DuckDB oracle: {self.oracle_failures}"
        bad = [q for q, v in it.payload["fingerprints"].items() if self.reference.get(q) != v]
        return f"fingerprint differs from the oracle-checked pass: {bad}" if bad else None

    def layers(self, ctx: Ctx, it: Iteration) -> dict[str, float]:
        spans = ctx.tracer.subtree(it.roots[0])
        by = {s.name: s for s in spans}
        out: dict[str, float] = {}
        for phase in ("build", "exec"):
            ph = [by[f"query.{q}.{phase}"] for q in MIX]
            out[f"plans.{phase}_s"] = sum(s.seconds for s in ph)
            out[f"plans.{phase}_jobs"] = sum(len(s.jobs) for s in ph)
        out["plans.shuffle_bytes"] = sum(j.shuffle_write_bytes for s in spans for j in s.jobs)
        for q in MIX:
            b, e = by[f"query.{q}.build"], by[f"query.{q}.exec"]
            out[f"query.{q}.build_s"] = b.seconds
            out[f"query.{q}.exec_s"] = e.seconds
            out[f"query.{q}.jobs"] = len(b.jobs) + len(e.jobs)
        out.update(spark_totals(spans))
        return out


WORKLOADS = {w.name: w for w in (FetchLoad, MergeUpsert, QueryMix)}

