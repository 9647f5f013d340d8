"""Deterministic, engine-portable hashing.

The fuzzy-dedup / fingerprinting extensions need hash functions whose
values are reproducible both in Spark (JVM) and in the DuckDB oracle so
the driver's value-hash correctness gate can cover them.  `xxhash64` /
`hash` differ between engines; **MD5 of a UTF-8 string does not**.  We
derive a non-negative integer in [0, 2^60) from the first 15 hex digits of the
MD5 digest:

  Spark : ``conv(substring(md5(s), 1, 15), 16, 10)  ::bigint``
  DuckDB: ``('0x' || substr(md5(s), 1, 15))::BIGINT``

15 hex digits = 60 bits < 2^63, so the bigint cast never overflows and
the value is always >= 0.  Cheap enough (one MD5 per token) and uniform
enough for MinHash / SimHash / LSH bucketing at any scale — hashing is
embarrassingly parallel and never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_BITS = 59
# Large Mersenne prime for universal-hash permutations (2^61 - 1).
MERSENNE_P = (1 << 61) - 1


def hash59(col: Column | str) -> Column:
    """Deterministic hash of a string column, portable to DuckDB.

    15 hex md5 digits -> values in [0, 2^60) (a 60-bit range, despite
    the historical name; round-5 ADVICE corrected the stated bound —
    overflow reasoning downstream must budget for hi = h DIV 2^30
    < 2^30, not 2^29).  A salted hash concatenates its salt in the
    caller (`F.concat(F.lit(s), c)` / `'s' || c`): both are NULL when
    the column is, where DuckDB's `concat` would skip the NULL."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def hash59_sql(expr: str) -> str:
    """The DuckDB-side twin of :func:`hash59` (ANSI-ish SQL text)."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def minhash_permutation(h: Column, a: int, b: int) -> Column:
    """Universal-hash permutation ``(a*h + b) mod p`` over a base hash.

    Used by MinHash: k permutations of one base hash beat k fresh MD5s
    (one digest per token instead of k).  Arithmetic stays in bigint
    range because h < 2^59 and a,b < 2^31 would overflow — so we reduce
    via modular multiplication in two 30-bit halves.  For simplicity and
    portability we instead keep a,b < 2^20 and h < 2^40 by masking.
    """
    h40 = h % F.lit(1 << 40)
    return (h40 * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_P)


def minhash_columns(token_hash: Column, num_hashes: int, seed: int = 7) -> list[Column]:
    """k permutation columns for MinHash over a token-hash column."""
    cols = []
    a, b = seed | 1, seed * 31 + 1
    for i in range(num_hashes):
        a_i = (a * (2 * i + 1) + 13) % (1 << 20) | 1
        b_i = (b * (i + 7) + 101) % (1 << 20)
        cols.append(minhash_permutation(token_hash, a_i, b_i))
    return cols
