"""Property-based tests (hypothesis): the cast policy is total (coerces,
never throws) and the upsert is idempotent and key-unique for arbitrary
dirty inputs — SURVEY.md §5.2's 'merge twice ≡ merge once' property."""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, example, given, settings, strategies as st

from datapipeline_omnichanneltobigquery_spark.operators.normalize import cast_columns
from datapipeline_omnichanneltobigquery_spark.operators.upsert import upsert


def round6_half_up(x: float) -> float:
    """Round to 6 decimals the way BOTH engines do — Spark's round()
    goes through BigDecimal.valueOf (shortest decimal repr of the
    double) then HALF_UP, and DuckDB's round() agrees on exact
    7th-decimal halves (verified live on -0.7148435 -> -0.714844).
    Python's builtin round() is half-even on the BINARY double and
    diverges exactly on those halves, so property-test references
    must never use it for engine comparisons."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )

dirty_scalar = st.one_of(
    st.none(),
    st.integers(-(2**40), 2**40).map(str),
    st.text(alphabet="abc129 -:T.Z", max_size=20),
    st.sampled_from(["2024-01-02 03:04:05", "garbage", "", "3.7", "1e3"]),
)

records = st.lists(
    st.tuples(dirty_scalar, dirty_scalar, dirty_scalar), min_size=1, max_size=12
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=records)
def test_cast_policy_total_and_typed(spark, rows):
    df = spark.createDataFrame(rows, "id string, created_at string, note string")
    out = cast_columns(df)
    assert dict(out.dtypes) == {"id": "bigint", "created_at": "string", "note": "string"}
    collected = out.collect()  # must never raise, whatever the input
    assert len(collected) == len(rows)
    assert all(r["note"] is not None for r in collected)  # NULL→'' on strings


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    main_ids=st.lists(st.integers(0, 20), min_size=1, max_size=15, unique=True),
    stage_ids=st.lists(st.integers(0, 20), min_size=1, max_size=15, unique=True),
)
def test_upsert_idempotent_and_key_unique(spark, main_ids, stage_ids):
    main = spark.createDataFrame([(i, f"m{i}") for i in main_ids], "id long, v string")
    staging = spark.createDataFrame([(i, f"s{i}") for i in stage_ids], "id long, v string")
    once = upsert(main, staging)
    twice = upsert(once, staging)
    got_once = sorted(map(tuple, once.collect()))
    assert got_once == sorted(map(tuple, twice.collect()))  # idempotent
    ids = [r[0] for r in got_once]
    assert len(ids) == len(set(ids)) == len(set(main_ids) | set(stage_ids))
    # staging wins on every overlapping key
    assert all(v.startswith("s") for i, v in got_once if i in set(stage_ids))


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=30,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Large-star/small-star connected components ≡ a sequential
    union-find, for arbitrary small graphs (chains, cliques, isolated pairs,
    multi-edges)."""
    from datapipeline_omnichanneltobigquery_spark.operators.dedup import (
        connected_components_star,
    )

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    nodes = {n for e in edges for n in e}
    expected = {}
    for n in nodes:
        root = find(n)
        expected.setdefault(root, []).append(n)
    want = {n: min(members) for members in expected.values() for n in members}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got_star = {r["id"]: r["cluster_id"] for r in connected_components_star(df).collect()}
    assert got_star == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "aa", "x"]), min_size=1, max_size=12).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    )
)
def test_repetition_stats_match_python_reference(spark, docs):
    """The explode+aggregate repetition fractions equal a direct per-doc
    Python computation for arbitrary small token streams."""
    from collections import Counter

    from datapipeline_omnichanneltobigquery_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df, "doc_id", "text").collect()}
    for i, text in enumerate(docs):
        toks = text.strip().lower().split()
        n = len(toks)
        tc = Counter(toks)
        grams = [" ".join(p) for p in zip(toks, toks[1:])]
        g = len(grams)
        gc = Counter(grams)
        r = got[i]
        assert r.dup_token_frac == (n - len(tc)) / max(n, 1)
        assert r.top_token_frac == max(tc.values()) / max(n, 1)
        assert r.dup_2gram_frac == (g - len(gc)) / max(g, 1)
        assert r.top_2gram_frac == (max(gc.values()) if gc else 0) / max(g, 1)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=10).map(" ".join),
        min_size=2,
        max_size=12,
    ),
    max_df=st.integers(1, 6),
)
def test_jaccard_cap_invariants(spark, docs, max_df):
    """On ANY corpus: capped discovery is a SUBSET of uncapped with
    identical Jaccard values on shared pairs (verify uses full shingle
    sets), and a cap at/above the corpus size changes nothing."""
    from datapipeline_omnichanneltobigquery_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(df, "doc_id", "text", 3, 0.3).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(df, "doc_id", "text", 3, 0.3, max_df=max_df).collect()
    }
    assert set(capped) <= set(full)
    for pair, j in capped.items():
        assert j == full[pair]  # values exact — only discovery is capped
    uncut = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(df, "doc_id", "text", 3, 0.3, max_df=len(docs)).collect()
    }
    assert uncut == full


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 3),      # user
            st.integers(0, 7200),   # second offset within 2 hours
        ),
        min_size=1,
        max_size=24,
    ),
    cap=st.integers(1, 3),
)
def test_rate_cap_matches_bruteforce(spark, events, cap):
    """rate_cap ≡ the obvious per-(key, window) Python recompute: sort by
    (ts, id), keep the first `cap` per (user, hour bucket) — for arbitrary
    bursts, ties, and caps."""
    import datetime as dt

    from datapipeline_omnichanneltobigquery_spark.operators.sampling import rate_cap

    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (i, u, t0 + dt.timedelta(seconds=s)) for i, (u, s) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {r.event_id for r in rate_cap(df, "user_id", "ts", "event_id", 3600, cap).collect()}
    want, seen = set(), {}
    for i, u, ts in sorted(rows, key=lambda r: (r[2], r[0])):
        b = (u, int((ts - dt.datetime(1970, 1, 1)).total_seconds()) // 3600)
        seen[b] = seen.get(b, 0) + 1
        if seen[b] <= cap:
            want.add(i)
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=12).map(
            lambda toks: " ".join(toks)
        ),
        min_size=1,
        max_size=6,
    ),
    # 0.55 / 0.67 exercise the IEEE round-up-past-exact-product ceil trap
    # (0.55*|A| for |A| in {20, 40, ...} lands above the exact integer)
    threshold=st.sampled_from([0.5, 0.55, 0.67, 0.7, 0.9]),
)
def test_containment_matches_bruteforce(spark, docs, threshold):
    """containment_pairs ≡ the definitional all-pairs |A∩B|/|A| >= t over
    arbitrary tiny corpora (unigram shingles so even short docs have
    sets) — the lossless-prefix claim under random inputs, including
    shared-everything and empty docs."""
    from datapipeline_omnichanneltobigquery_spark.operators.dedup import containment_pairs

    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in containment_pairs(df, "doc_id", "text", n=1, threshold=threshold).collect()
    }
    sets = {i: set(t.split()) - {""} for i, t in rows}
    want = {
        (a, b)
        for a in sets
        for b in sets
        if a != b and sets[a]
        and len(sets[a] & sets[b]) / len(sets[a]) >= threshold
    }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    series=st.lists(
        st.tuples(st.integers(0, 2), st.floats(0.0, 100.0, allow_nan=False)),
        min_size=1,
        max_size=25,
    ),
    slack=st.sampled_from([0.0, 2.0, 10.0]),
)
# binary-fraction boundary: floor(1.4296875e6)=1429687 over n=2 puts the
# quotient on the exact 7th-decimal half -0.7148435, where Spark/DuckDB
# (HALF_UP -> -0.714844) and Python round (half-even -> -0.714843) split
@example(series=[(0, 0.0), (0, 1.4296875)], slack=0.0)
@example(series=[(1, 1.4296875), (1, 0.0), (1, 1.4296875)], slack=0.0)
def test_cusum_closed_form_matches_recurrence(spark, series, slack):
    """The prefix-sum/running-extremum closed form == the classic
    sequential CUSUM recurrences for arbitrary per-key series, slacks,
    and the empty-prefix boundary (sample-mean variant)."""
    import datetime as dt

    from datapipeline_omnichanneltobigquery_spark.operators.timeseries import (
        cusum_changepoints,
    )

    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (i, f"k{k}", t0 + dt.timedelta(minutes=i), v)
        for i, (k, v) in enumerate(series)
    ]
    df = spark.createDataFrame(rows, "event_id long, key string, ts timestamp, v double")
    got = {
        r.event_id: (r.cusum_pos, r.cusum_neg)
        for r in cusum_changepoints(
            df, "key", "ts", "v", "event_id", slack=slack, threshold=1e9
        ).collect()
    }
    from collections import defaultdict

    by_key = defaultdict(list)
    for i, (k, v) in enumerate(series):
        by_key[k].append((i, v))
    k_micro = int(round(slack * 1_000_000))
    for _, items in by_key.items():
        n = len(items)
        xms = [int(__import__("math").floor(v * 1_000_000.0)) for _, v in items]
        s_total = sum(xms)
        sp = sn = 0
        for (i, _), xm in zip(items, xms):
            centered = n * xm - s_total
            sp = max(0, sp + centered - n * k_micro)
            sn = min(0, sn + centered + n * k_micro)
            assert got[i] == (
                round6_half_up(sp / n / 1e6),
                round6_half_up(sn / n / 1e6),
            ), i


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 1),       # key
            st.integers(0, 7200),    # second offset (2 windows)
            st.floats(0.0, 50.0, allow_nan=False),
        ),
        min_size=1,
        max_size=20,
    )
)
# TWAP half-boundary: 0.0 held 1800s then floor(1.4296875e6)=1429687
# held 1800s -> mean micro 714843.5 -> 0.7148435, the HALF_UP/half-even
# split point (same class as the CUSUM falsifying example)
@example(events=[(0, 0, 0.0), (0, 1800, 1.4296875)])
def test_ohlc_and_twap_match_bruteforce(spark, events):
    """OHLC endpoint picks and TWAP held-duration averaging equal direct
    per-(key, hour) Python recomputes — arbitrary ties (same-ts events
    break by event_id), bursts, and single-event windows."""
    import datetime as dt
    import math
    from collections import defaultdict

    from datapipeline_omnichanneltobigquery_spark.operators.timeseries import (
        ohlc_bars,
        twap_bars,
    )

    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (i, f"k{k}", t0 + dt.timedelta(seconds=s), v)
        for i, (k, s, v) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "event_id long, key string, ts timestamp, v double")
    got_ohlc = {
        (r.key, r.win_start): (r.open, r.high, r.low, r.close, r.n_events)
        for r in ohlc_bars(df, "key", "ts", "v", "event_id", 3600).collect()
    }
    got_twap = {
        (r.key, r.win_start): r.twap
        for r in twap_bars(df, "key", "ts", "v", "event_id", 3600).collect()
    }
    base_us = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    groups = defaultdict(list)
    for i, (k, s, v) in enumerate(events):
        us = base_us + s * 1_000_000
        win = us - us % 3_600_000_000
        groups[(f"k{k}", win)].append((us, i, v))
    assert set(got_ohlc) == set(groups) == set(got_twap)
    for gk, items in groups.items():
        items.sort()
        vals = [v for _, _, v in items]
        o, h, lo, c, n = got_ohlc[gk]
        assert (o, c, n) == (items[0][2], items[-1][2], len(items))
        assert (h, lo) == (max(vals), min(vals))
        win_end = gk[1] + 3_600_000_000
        num = 0
        for j, (us, _, v) in enumerate(items):
            nxt = items[j + 1][0] if j + 1 < len(items) else win_end
            num += math.floor(v * 1_000_000.0) * (nxt - us)
        den = win_end - items[0][0]
        assert got_twap[gk] == round6_half_up(num / den / 1e6), gk


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    orders=st.lists(
        st.tuples(
            st.integers(1, 8),        # customer
            st.integers(0, 90),       # days before anchor
            # integer CENTS: a float amount here would race Python round()
            # against Spark's double->DECIMAL(18,2) cast on .005 halves
            st.integers(100, 50_000),
        ),
        min_size=2,
        max_size=30,
    )
)
def test_rfm_scores_match_bruteforce(spark, orders):
    """rfm_scores ≡ a direct Python recompute: per-customer rollup,
    ascending (value, cust) ranks, the uniform 1+((rank-1)*5)//n bucket
    formula, recency inverted — for arbitrary order histories including
    single-order customers and monetary ties."""
    import datetime as dt
    from collections import defaultdict

    from datapipeline_omnichanneltobigquery_spark.operators.segments import rfm_scores

    anchor = dt.datetime(2024, 6, 1)
    rows = [
        (c, anchor - dt.timedelta(days=d), cents / 100.0)
        for c, d, cents in orders
    ]
    df = spark.createDataFrame(rows, "cust long, odate timestamp, amount double")
    got = {
        r.cust: (r.recency_days, r.frequency, r.r_score, r.f_score, r.m_score)
        for r in rfm_scores(df, "cust", "odate", "amount").collect()
    }
    per = defaultdict(lambda: [None, 0, 0])  # last, freq, cents
    for c, od, amt in rows:
        p = per[c]
        p[0] = od if p[0] is None or od > p[0] else p[0]
        p[1] += 1
        p[2] += round(amt * 100)  # cents/100.0 is 2-decimal exact-roundable
    real_anchor = max(p[0] for p in per.values())
    stats = {
        c: ((real_anchor - p[0]).days, p[1], p[2]) for c, p in per.items()
    }
    n = len(stats)

    def score(vals):
        order = sorted(vals)  # (value, cust) ascending
        return {cust: 1 + ((order.index((v, cust))) * 5) // n for v, cust in vals}

    r_asc = score([(s[0], c) for c, s in stats.items()])
    f_sc = score([(s[1], c) for c, s in stats.items()])
    m_sc = score([(s[2], c) for c, s in stats.items()])
    for c, (rec, freq, _cents) in stats.items():
        assert got[c] == (rec, freq, 6 - r_asc[c], f_sc[c], m_sc[c]), c
