"""Deterministic cross-engine hashing primitives for dedup/fingerprinting.

Spark's native ``hash``/``xxhash64`` have no DuckDB equivalent, so oracle-
checkable operators hash through **md5**, which both engines implement
identically, then project 60 bits into a BIGINT:

* Spark : ``conv(substring(md5(s), 1, 15), 16, 10)  :: bigint``
* DuckDB: ``CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)``

(verified equal, e.g. md5('abc') → 648541476951500027).

MinHash uses the standard universal-hash family h_i(x) = (a_i*x + b_i) mod p
over the 60-bit base hash, with fixed seeds — deterministic everywhere.
md5 is ~10× slower than xxhash64, so non-oracle paths (pure-Spark dedup at
scale) should prefer ``F.xxhash64``; both are exposed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# MinHash universal-hash modulus.  2^31-1 (Mersenne) keeps every product
# a*h + b below 2^62 — native 64-bit arithmetic on BOTH engines (no Spark
# decimal/BigDecimal codegen, no DuckDB HUGEINT), ~2× faster signatures.
# A 31-bit sketch space is ample for MinHash: collisions only perturb the
# min-statistic at ~n²/2^31 odds per doc pair.
MERSENNE_P = (1 << 31) - 1


def md5_long(col: Column) -> Column:
    """60-bit bigint from md5 — DuckDB-reproducible (see module docstring)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("bigint")


def md5_long_sql(expr: str) -> str:
    """The DuckDB oracle spelling of :func:`md5_long`."""
    return f"CAST('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15) AS BIGINT)"


def _minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Fixed (a, b) pairs via a tiny deterministic LCG — NOT Python's random
    module, so the exact constants can be re-generated inside a SQL oracle."""
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % MERSENNE_P
        a = state | 1  # odd, nonzero
        state = (state * 6364136223846793005 + 1442695040888963407) % MERSENNE_P
        b = state
        params.append((a, b))
    return params


def minhash_expr(hash_col: Column, num_hashes: int, seed: int = 42) -> list[Column]:
    """Per-row columns h_i = (a_i * h + b_i) mod p for MinHash min-reduction.

    Applied before a groupBy(doc).agg(min(h_i)...) — the min over a doc's
    shingle set is the MinHash signature component.
    """
    h = hash_col % F.lit(MERSENNE_P)  # 31-bit residue; a*h+b stays < 2^62
    cols = []
    for i, (a, b) in enumerate(_minhash_params(num_hashes, seed)):
        expr = (h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_P)
        cols.append(expr.alias(f"mh_{i}"))
    return cols
