"""Every ORACLES entry must hash-match its Spark twin — the same check the
driver's t2 gate runs (at sf0.01; here sf0.001 for speed, sf0.01 in CI via
SPARK_GRAFT_TEST_SF).

Covers BOTH registries: the ≤50 driver-exported entries (QUERIES/ORACLES)
and the driver=False entries (EXTRA_*), which the driver never checks, so
this is their only hash gate.  Each entry checks a behaviour no other entry
checks; a query without an oracle must be listed in NO_ORACLE with why.
"""

from __future__ import annotations

import pytest

from datapipeline_omnichanneltobigquery_spark.plans.queries import (
    DRIVER_CAP,
    EXTRA_ORACLES,
    EXTRA_QUERIES,
    ORACLES,
    QUERIES,
)

from tests.conftest import SF_DIR
from tests.helpers import compare_spark_duckdb

_ALL_QUERIES = {**QUERIES, **EXTRA_QUERIES}
_ALL_ORACLES = {**ORACLES, **EXTRA_ORACLES}


def test_registry_within_driver_cap():
    """The driver verifies only the first DRIVER_CAP exported entries —
    exporting more would leave queries invisibly unverified."""
    assert len(QUERIES) <= DRIVER_CAP, (
        f"{len(QUERIES)} driver entries > cap {DRIVER_CAP}; "
        "merge or mark driver=False"
    )
    assert not set(QUERIES) & set(EXTRA_QUERIES)


def _hugeint_cols(duck, sql: str) -> list[str]:
    rel = duck.sql(sql)
    return [c for c, t in zip(rel.columns, rel.types) if str(t) in ("HUGEINT", "UHUGEINT")]


def test_no_hugeint_oracle_outputs(duck):
    """Registry lint (VERDICT r8 #2): no oracle may expose an uncast integer
    SUM (or other HUGEINT-typed expression) as a final output column —
    DuckDB renders HUGEINT through Arrow as decimal128, which the driver's
    value hash sees as ``N.0`` while Spark's BIGINT renders ``N`` (the r8
    ``events_overlap_duration`` red row). Binding is lazy: no execution."""
    # self-check: the detector must flag a deliberately-broken fixture
    assert _hugeint_cols(duck, "SELECT SUM(x) AS s FROM (VALUES (1),(2)) t(x)") == ["s"]
    assert _hugeint_cols(
        duck, "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (VALUES (1),(2)) t(x)"
    ) == []
    offenders = {}
    for name, sql in _ALL_ORACLES.items():
        bad = _hugeint_cols(duck, sql)
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"oracles with HUGEINT output columns (add CAST(... AS BIGINT)): {offenders}"
    )


def test_no_truncating_div_on_signed_epochs():
    """Registry lint (VERDICT r9 #3): Spark's ``div`` truncates toward zero
    while DuckDB's ``//`` floors, so any ``unix_micros(...) div`` /
    ``epoch_us(...) div`` bucketing silently disagrees with its oracle for
    pre-1970 timestamps.  Epoch bucketing must use the floor-consistent
    ``a - pmod(a, w)`` idiom (rate_cap / streaming_rate_cap precedent);
    this sweep pins that no source file reintroduces the trap.  Same class
    as the r8 signed-% and HUGEINT sweeps."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "datapipeline_omnichanneltobigquery_spark"
    pat = re.compile(r"(unix_micros|unix_millis|epoch_us|epoch_ms)\s*\([^)]*\)\s*div\b")
    offenders = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert not offenders, (
        f"truncating `div` on signed epoch values (use a - pmod(a, w)): {offenders}"
    )


def test_round6_half_boundary_cross_engine(spark, duck):
    """Determinism pin (VERDICT r10 #2): every family reporting
    ``round(int_micro / n / 1e6, 6)`` can land the quotient on an exact
    7th-decimal half, where the ROUNDING RULE (not arithmetic) decides
    the output.  Spark routes doubles through BigDecimal.valueOf — the
    SHORTEST decimal repr of the double — then HALF_UP; DuckDB agrees on
    every probed half (verified live in r10 on -0.7148435 -> -0.714844).
    Python's builtin round() is half-even on the BINARY double and is
    the odd one out (the r10 red CUSUM property test), which is why
    tests/test_properties.py::round6_half_up exists.  This pins the
    Spark<->DuckDB agreement on a fixed boundary battery so a Spark or
    DuckDB upgrade that changes either rule fails loudly here instead of
    as an opaque driver hash mismatch."""
    cases = [
        (-1429687, 2),  # the r10 falsifying case: -0.7148435
        (1429687, 2),
        (1, 2),         # 5e-07: HALF_UP -> 1e-06, half-even -> 0.0
        (-1, 2),
        (3, 2),
        (7, 4),
        (2859375, 4),   # 0.71484375 (8th-decimal half, exact binary)
        (12345675, 10),
        (-12345675, 10),
        (105, 2),
        (9999995, 10),
        (5, 10),
    ]
    exprs = ", ".join(
        f"round(CAST({p} AS DOUBLE)/CAST({n} AS DOUBLE)/1000000.0, 6) AS c{i}"
        for i, (p, n) in enumerate(cases)
    )
    got_spark = spark.sql(f"SELECT {exprs}").collect()[0]
    got_duck = duck.execute(f"SELECT {exprs}").fetchone()
    for i, (p, n) in enumerate(cases):
        s, d = got_spark[i], got_duck[i]
        assert s == d, f"round6 half-boundary split on {p}/{n}/1e6: spark={s} duckdb={d}"
    # the discipline note: at least one probed case MUST discriminate
    # against Python half-even, else the battery isn't testing the rule
    assert round(1 / 2 / 1e6, 6) != got_spark[2]


def test_ln_exp_cross_engine_battery(spark, duck):
    """Determinism pin for the ordered ln/exp fold discipline: every LM /
    entropy / KM family assumes Spark's java.lang.Math.log/exp and
    DuckDB's libm agree BITWISE on identical double inputs.  That has
    held across ~12 gated families for 10 rounds (ln) and the KM curve
    (exp, new in r11); this battery makes an engine upgrade that breaks
    either fail loudly here instead of as an opaque hash mismatch.
    Inputs are exact integer ratios (the repo's only ln/exp operand
    shape)."""
    cases = [(1, 2), (2, 3), (9, 10), (1, 150), (149, 150), (77, 150),
             (1, 3), (10, 37), (26, 37), (999999, 1000000)]
    exprs = ", ".join(
        f"ln(CAST({a} AS DOUBLE)/CAST({b} AS DOUBLE)) AS l{i}, "
        f"exp(ln(CAST({a} AS DOUBLE)/CAST({b} AS DOUBLE))) AS e{i}"
        for i, (a, b) in enumerate(cases)
    )
    gs = spark.sql(f"SELECT {exprs}").collect()[0]
    gd = duck.execute(f"SELECT {exprs}").fetchone()
    for i in range(len(cases) * 2):
        assert gs[i] == gd[i], f"ln/exp split at col {i}: {gs[i]!r} vs {gd[i]!r}"


@pytest.mark.parametrize("name", sorted(_ALL_ORACLES))
def test_oracle_parity(spark, duck, name):
    sdf = _ALL_QUERIES[name](spark, SF_DIR)
    compare_spark_duckdb(sdf, duck, _ALL_ORACLES[name])


# Queries registered without a DuckDB oracle, each with the reason none can
# exist.  A new oracle-less query must be added here on purpose.
NO_ORACLE = {
    "text_bpe_tokens": "BPE training is an iterative driver-side fixed point; "
    "tests/test_bpe.py pins the merge sequence against a reference implementation",
}


def test_every_query_runs(spark):
    """The oracle-less set is exactly NO_ORACLE, and those queries still
    run; the rest already run in test_oracle_parity."""
    assert set(NO_ORACLE) == set(_ALL_QUERIES) - set(_ALL_ORACLES)
    for name in sorted(NO_ORACLE):
        df = _ALL_QUERIES[name](spark, SF_DIR)
        assert df.count() >= 0, name
