"""Cross-engine-stable hashing expressions.

Dedup/fingerprint operators need a hash that is bit-identical in Spark (for
the engine) and DuckDB (for the correctness oracle). Spark's ``xxhash64`` and
DuckDB's ``hash`` are different algorithms, so we derive a 28-bit integer from
the first 7 hex chars of ``md5`` — md5 is identical everywhere, and 28 bits
keeps ``a*h + b`` inside int64 for the MinHash permutations below
(2^28 * 2^28 = 2^56 < 2^63).

On the JVM side this stays inside whole-stage codegen (md5/substring/conv are
all built-ins) — no Python boundary in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Largest prime below 2^28; the MinHash universe.
HASH_PRIME = 268435399

# Fixed (a, b) pairs for 16 MinHash permutations h_i(x) = (a*x + b) mod P.
# Chosen once (odd multipliers, spread offsets); order defines signature order.
MINHASH_COEFFS: tuple[tuple[int, int], ...] = (
    (131071, 8191),
    (524287, 131),
    (2147483647 % HASH_PRIME, 7919),
    (6700417, 104729),
    (179424673 % HASH_PRIME, 15485863 % HASH_PRIME),
    (32452843, 49979687 % HASH_PRIME),
    (67867967, 86028121 % HASH_PRIME),
    (49979693 % HASH_PRIME, 2038074743 % HASH_PRIME),
    (15485867 % HASH_PRIME, 452930477 % HASH_PRIME),
    (86028157 % HASH_PRIME, 715225739 % HASH_PRIME),
    (122949829 % HASH_PRIME, 982451653 % HASH_PRIME),
    (141650963 % HASH_PRIME, 295075153 % HASH_PRIME),
    (160481219 % HASH_PRIME, 533000401 % HASH_PRIME),
    (198491329 % HASH_PRIME, 613651369 % HASH_PRIME),
    (217645199 % HASH_PRIME, 694847539 % HASH_PRIME),
    (236887699 % HASH_PRIME, 756065179 % HASH_PRIME),
)


def stable_hash(col: Column | str) -> Column:
    """28-bit engine-stable hash of a string column (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("bigint")


def dd_stable_hash(expr: str) -> str:
    """The identical hash as a DuckDB SQL fragment.

    ``||`` rather than ``concat()``: DuckDB's concat IGNORES NULL arguments,
    so a NULL input would yield the string ``'0x'`` (a cast error) instead of
    propagating NULL the way Spark's md5→conv chain does."""
    return f"CAST('0x' || substr(md5({expr}), 1, 7) AS BIGINT)"


def minhash_perm(hash_col: Column, i: int) -> Column:
    """i-th MinHash permutation of an already-stable-hashed column."""
    a, b = MINHASH_COEFFS[i]
    return (hash_col * F.lit(a) + F.lit(b)) % F.lit(HASH_PRIME)
