"""Seeded Caresoft-style ``deals`` pages and their expected load result.

The page function runs inside Spark's Python workers; the expected values
are computed here in plain Python from the same seed, so the ``fetch_load``
check never trusts the engine it measures.

Every raw field is a string (or ``None``), as an untyped JSON API hands it
over.  Dirty values appear at fixed row positions, so their counts are a
function of the row count alone:

* ``id``: non-numeric (``"ID-<n>"``) every 50th row -> NULL;
* ``amount``: ``"12.5k"`` every 45th row -> NULL;
* ``qty``: a fractional ``"<n>.9"`` every 53rd row -> truncated to ``n``;
* ``is_active``: ``"yes"`` every 61st row -> NULL;
* ``deal_no``: empty string every 97th row -> NULL;
* ``created_at``: unparseable every 40th row, ``None`` every 60th row,
  ISO ``T``-separated (valid, non-canonical) every 70th row;
* ``updated_at``/``customer_id``/``subject``/``assignee``: ``None`` at
  fixed strides.
"""

from __future__ import annotations

import datetime as dt
import random
import time

import pandas as pd

PAGE_SIZE = 500
LAST_PAGE_ROWS = 250  # fixed, so every seed loads the same row count

INT_FIELDS = ("id", "deal_no", "customer_id", "user_id", "amount", "qty", "is_active")
DATE_FIELDS = ("created_at", "updated_at", "closed_at")
STR_FIELDS = ("subject", "status", "assignee", "channel")
FIELDS = INT_FIELDS + DATE_FIELDS + STR_FIELDS
SCHEMA_DDL = ", ".join(f"{f} string" for f in FIELDS)

_EPOCH = dt.datetime(2024, 1, 1)
_FMT = "%Y-%m-%d %H:%M:%S"
_STATUS = ("open", "won", "lost", "pending")
_CHANNEL = ("web", "phone", "email", "chat", "zalo")
_AGENTS = ("an", "binh", "chi", "dung", "hoa", "khanh", "linh", "minh")
_WORDS = ("renewal", "upgrade", "trial", "bulk", "refund", "promo", "support")


class DealsPages:
    """Page function ``page -> list[dict]`` for ``paginated_to_df``.

    ``n_pages`` pages; every page holds :data:`PAGE_SIZE` rows except the
    last, which holds :data:`LAST_PAGE_ROWS`.  Picklable by reference, so
    Spark's workers import this module instead of receiving a copy of it.
    """

    def __init__(self, seed: int, n_pages: int, calls=None, fetch_s=None) -> None:
        self.seed = seed
        self.n_pages = n_pages
        # Spark accumulators: page calls, seconds inside this function
        self.calls = calls
        self.fetch_s = fetch_s

    def __call__(self, page: int) -> list[dict]:
        t0 = time.perf_counter()
        rows = self.page(page)
        self.fetch_s.add(time.perf_counter() - t0)
        self.calls.add(1)
        return rows

    def page(self, page: int) -> list[dict]:
        if page < 1 or page > self.n_pages:
            return []
        rng = random.Random(f"deals:{self.seed}:{page}")
        n = LAST_PAGE_ROWS if page == self.n_pages else PAGE_SIZE
        first = (page - 1) * PAGE_SIZE
        return [_row(rng, first + i, self.seed) for i in range(n)]


def _row(rng: random.Random, r: int, seed: int) -> dict:
    created = _EPOCH + dt.timedelta(seconds=rng.randrange(366 * 86400))
    updated = created + dt.timedelta(seconds=rng.randrange(30 * 86400))
    if r % 40 == 3:
        created_at = "31/13/2024 25:61"
    elif r % 60 == 11:
        created_at = None
    elif r % 70 == 13:
        created_at = created.strftime("%Y-%m-%dT%H:%M:%S")
    else:
        created_at = created.strftime(_FMT)
    return {
        "id": f"ID-{r}" if r % 50 == 7 else str(10_000_000 * (1 + seed % 89) + r),
        "deal_no": "" if r % 97 == 5 else str(rng.randrange(1, 100_000)),
        "customer_id": None if r % 31 == 2 else str(rng.randrange(1, 20_000)),
        "user_id": str(rng.randrange(1, 500)),
        "amount": "12.5k" if r % 45 == 9 else str(rng.randrange(10_000_000)),
        "qty": f"{rng.randrange(1, 100)}.9" if r % 53 == 4 else str(rng.randrange(1, 100)),
        "is_active": "yes" if r % 61 == 8 else str(rng.randrange(2)),
        "created_at": created_at,
        "updated_at": None if r % 33 == 1 else updated.strftime(_FMT),
        "closed_at": updated.strftime(_FMT) if r % 3 == 0 else None,
        "subject": None if r % 29 == 6 else f"Deal {r} {rng.choice(_WORDS)}",
        "status": rng.choice(_STATUS),
        "assignee": None if r % 23 == 4 else rng.choice(_AGENTS),
        "channel": rng.choice(_CHANNEL),
    }


def _expect_int(v: str | None) -> int | None:
    """The cast policy's INT rule on the values this generator emits:
    integer text parses, fractional text truncates toward zero, anything
    else is NULL."""
    if v is None:
        return None
    try:
        return int(v)
    except ValueError:
        pass
    try:
        return int(float(v))
    except ValueError:
        return None


def _expect_date(v: str | None) -> str | None:
    """The DATE rule: parse with coercion, re-format to second precision."""
    if v is None:
        return None
    try:
        return dt.datetime.fromisoformat(v).strftime(_FMT)
    except ValueError:
        return None


def expected_table(pages: DealsPages) -> pd.DataFrame:
    """The loaded table as canonical text: one column per field, NULL as
    ``None``, integers in decimal, timestamps as ``yyyy-MM-dd HH:mm:ss``."""
    cols: dict[str, list] = {f: [] for f in FIELDS}
    for p in range(1, pages.n_pages + 1):
        for row in pages.page(p):
            for f in INT_FIELDS:
                v = _expect_int(row[f])
                cols[f].append(None if v is None else str(v))
            for f in DATE_FIELDS:
                cols[f].append(_expect_date(row[f]))
            for f in STR_FIELDS:
                cols[f].append("" if row[f] is None else row[f])
    return pd.DataFrame(cols, columns=list(FIELDS))


def content_hash(table: pd.DataFrame) -> int:
    """Order-insensitive hash of a canonical-text table (NULL distinct from
    every string): the wrapping sum of per-row hashes."""
    canon = table[list(FIELDS)].astype(object).where(table[list(FIELDS)].notna(), "\\N")
    return int(pd.util.hash_pandas_object(canon, index=False).sum())
