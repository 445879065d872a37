"""Name-driven cast policy, canonical sort, preview — reference fidelity core.

Reproduces ``DataFrameProcessor`` (omnichannel_to_bq.py:63-123) semantics on
Spark columns (SURVEY.md §2.3 items 1-4):

1. exact name lists, case-insensitive match (:67-74, :78);
2. coercion, not failure — bad ints and bad dates become NULL (:82, :89-90);
3. timestamps canonicalized to second-precision strings
   ``yyyy-MM-dd HH:mm:ss`` (:90);
4. sort ASC by ``created_at`` with NULLs last (pandas NaT-last, :111),
   no-op when the column is absent (:114-115).

Every rule is a single Catalyst expression — ``try_cast`` / ``to_timestamp``
/ ``date_format`` / ``coalesce`` — so the whole policy compiles into one
projection inside WholeStageCodegen: zero shuffles, zero Python.

Documented deviation (SURVEY.md §1.2): pandas ``astype(str)`` turns NaN into
the literal string ``"nan"`` before ``fillna`` can act (:96); we use the sane
``coalesce(cast(string), '')`` instead — NULL→``""`` as the code *intended*.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# omnichannel_to_bq.py:67-70 — verbatim column-name allowlist.
INT_COLS = (
    "id",
    "deal_no",
    "requester_id",
    "lead_id",
    "customer_id",
    "user_id",
    "count",
    "so_luong",
    "amount",
    "qty",
    "is_active",
    "is_overdue",
)

# omnichannel_to_bq.py:71-74 — verbatim column-name allowlist.
DATE_COLS = (
    "created_at",
    "updated_at",
    "created_time",
    "updated_time",
    "start_date",
    "end_date",
    "date",
    "timestamp",
    "closed_at",
)

CANONICAL_TS_FMT = "yyyy-MM-dd HH:mm:ss"  # :90 "%Y-%m-%d %H:%M:%S"


def _to_ts(col: Column, dtype: str) -> Column:
    """Parse-with-coercion to timestamp (pandas to_datetime errors='coerce').

    ``try_to_timestamp`` returns NULL on unparseable strings regardless of
    the session's ANSI setting (Spark 4 is ANSI-on by default, where plain
    ``to_timestamp`` would THROW — the reference's contract is coerce).
    """
    if dtype.startswith("timestamp") or dtype == "date":
        return col.cast("timestamp")
    if dtype in ("bigint", "int", "double", "float"):
        # numeric epoch-seconds interpretation, matching pd.to_datetime units
        return F.timestamp_seconds(col)
    return F.try_to_timestamp(col)


def int_rule(col: Column) -> Column:
    """INT branch (:80-85): numeric parse, invalid→NULL, 64-bit.

    Fractional inputs ('3.7') parse numerically then truncate toward zero.
    (Documented deviation: pandas ``astype('Int64')`` on a non-integral
    float raises, which would abort the WHOLE column's cast at :84 — a
    footgun, not a semantic.  Integer strings take the exact bigint path,
    so values beyond 2^53 never round through double.)
    """
    return F.coalesce(
        col.try_cast("bigint"),
        col.try_cast("double").try_cast("bigint"),
    )


def date_rule(col: Column, dtype: str = "string") -> Column:
    """DATE branch (:87-93): parse (coerce), format to second-precision text."""
    return F.date_format(_to_ts(col, dtype), CANONICAL_TS_FMT)


def string_rule(col: Column) -> Column:
    """STRING branch (:95-97): stringify, NULL→'' (sane-deviation, see above)."""
    return F.coalesce(col.cast("string"), F.lit(""))


def _cast_kind(name: str) -> str:
    """The name-driven cast policy: 'int', 'timestamp' or 'string'."""
    low = name.lower()
    return "int" if low in INT_COLS else "timestamp" if low in DATE_COLS else "string"


def cast_columns(df: DataFrame) -> DataFrame:
    """Apply the full name-driven cast policy as ONE narrow projection."""
    dtypes = dict(df.dtypes)
    out = []
    for name in df.columns:
        kind = _cast_kind(name)
        col = F.col(name)
        if kind == "int":
            out.append(int_rule(col).alias(name))
        elif kind == "timestamp":
            out.append(date_rule(col, dtypes[name]).alias(name))
        else:
            out.append(string_rule(col).alias(name))
    return df.select(*out)


def cast_report(df: DataFrame) -> dict[str, list[str]]:
    """Cast telemetry (:99-104) as data instead of prints."""
    report: dict[str, list[str]] = {"int": [], "timestamp": [], "string": []}
    for name in df.columns:
        report[_cast_kind(name)].append(name)
    return report


def sort_by_created_at(df: DataFrame, col: str = "created_at") -> DataFrame:
    """Global ASC sort by event time, NULLs LAST; absent column → no-op.

    Matches :107-116 (pandas sorts NaT last; Spark ASC default is nulls
    first, so the null ordering is explicit).  Physical plan: range-partition
    exchange + per-partition sort — the scalable global sort.  The column
    stays in canonical string form; we sort on the parsed timestamp.
    """
    if col not in df.columns:
        return df
    dtype = dict(df.dtypes)[col]
    return df.orderBy(_to_ts(F.col(col), dtype).asc_nulls_last())


def preview(df: DataFrame, n: int = 5) -> tuple[list, list[str], int]:
    """Head-n + columns + count (:118-123).  Two jobs; the limit is a
    LocalLimit that short-circuits the scan."""
    return df.limit(n).collect(), df.columns, df.count()


def observe_cast_nulls(df: DataFrame, cols: list[str] | None = None, name: str = "cast_telemetry"):
    """Zero-pass cast telemetry: returns ``(df, observation)`` where the
    observation collects row count and per-column null counts DURING the
    caller's next action on ``df`` (``df.observe`` piggybacks the aggregates
    on the job itself — at 100 TB the data-quality numbers ride the load
    job instead of paying a second full scan, which is what a follow-up
    ``SELECT COUNT(*) WHERE x IS NULL`` audit would cost).  Nulls created
    by the cast policy's TRY-style coercions surface here; read them with
    :func:`observed` after the action completes."""
    from pyspark.sql import Observation

    cols = list(cols) if cols is not None else list(df.columns)
    obs = Observation(name)
    aggs = [F.count(F.lit(1)).alias("rows")] + [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nulls_{c}") for c in cols
    ]
    return df.observe(obs, *aggs), obs


def observed(obs) -> dict:
    """The metrics of an ``Observation`` whose action has run.

    ``Observation.get`` waits without a bound until the observed frame's
    first action finishes, so reading one whose action never ran (or was
    optimised away) blocks the driver forever.  This raises instead.

    The metrics arrive through Spark's listener bus a moment after the
    action returns, so an incomplete observation is checked again once the
    bus is drained (a wait Spark bounds at 10 s)."""
    from pyspark import SparkContext

    jo = obs._jo
    if jo is not None and not jo.future().isCompleted():
        SparkContext._active_spark_context._jsc.sc().listenerBus().waitUntilEmpty()
    if jo is None or not jo.future().isCompleted():
        raise RuntimeError("observation read before its action ran")
    return obs.get
