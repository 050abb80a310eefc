"""Deterministic, engine-portable hashing.

The dedup/similarity operators need hash functions computable **bit-for-
bit identically** in both Spark SQL and the DuckDB oracle. Engine-native
hashes (Spark ``xxhash64`` vs DuckDB ``hash``) use different algorithms,
so everything builds on md5 (identical everywhere):

    base_hash(s) = int(md5(utf8(s))[:15 hex], 16)   ∈ [0, 2^60)

MinHash then uses the classic universal family
``h_i(x) = (a_i * (x mod P31) + b_i) mod P31`` with ``P31 = 2^31 - 1``;
all products stay < 2^62, safely inside int64 for both engines (Spark
wraps on overflow silently, DuckDB raises — staying in-range sidesteps
both). Constants ``a_i``/``b_i`` are fixed literals derived once from
md5 (no RNG at runtime; reproducible builds).
"""

from __future__ import annotations

import hashlib

P31 = (1 << 31) - 1
NUM_HASHES = 16
BANDS = 8
ROWS_PER_BAND = NUM_HASHES // BANDS
SIMHASH_BITS = 48


def _const(tag: str, i: int, lo: int) -> int:
    v = int(hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:15], 16) % P31
    return max(v, lo)


MINHASH_A = [_const("a", i, 1) | 1 for i in range(NUM_HASHES)]  # odd, >0
MINHASH_B = [_const("b", i, 0) for i in range(NUM_HASHES)]


def spark_base_hash(expr: str) -> str:
    """Spark SQL text: md5-derived 60-bit integer hash of a string expr."""
    return (f"cast(conv(substring(md5(cast(({expr}) as binary)), 1, 15), "
            f"16, 10) as bigint)")


def duckdb_base_hash(expr: str) -> str:
    """DuckDB SQL text computing the identical value."""
    return f"(('0x' || substring(md5({expr}), 1, 15))::bigint)"


def base_hash_py(s: str) -> int:
    """Python twin (used by unit tests to pin all three engines)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def minhash_term(i: int, h_expr: str) -> str:
    """SQL text (valid in both engines): i-th universal hash of a base
    hash expression."""
    return f"(({MINHASH_A[i]} * (({h_expr}) % {P31}) + {MINHASH_B[i]}) % {P31})"


DUCKDB_BASE_HASH2 = "(('0x' || substring(md5({expr}), 16, 15))::bigint)"


def duckdb_base_hash2(expr: str) -> str:
    """DuckDB SQL text of a second independent 60-bit hash: md5 hex
    chars 16-30. Paired with ``duckdb_base_hash`` it gives the 120-bit
    keys of operators where a truncated-hash collision would be
    destructive (substring dedup removes text on key equality) rather
    than merely a candidate to verify."""
    return DUCKDB_BASE_HASH2.format(expr=expr)


def gram_array_col(text_col, n: int):
    """Column: array of space-joined word n-grams of ``text_col`` in
    position order (index = 0-based start), empty below n tokens —
    the O(len) zip_with construction shared by dedup.word_shingles and
    substrings.substring_dedup (one copy, one set of semantics)."""
    from pyspark.sql import functions as F
    w = F.split(text_col, " ")
    cnt = F.size(w) - (n - 1)
    g = F.slice(w, 1, cnt)
    for k in range(2, n + 1):
        g = F.zip_with(g, F.slice(w, k, cnt),
                       lambda a, b: F.concat_ws(" ", a, b))
    return F.when(F.size(w) >= n, g).otherwise(
        F.expr("array()").cast("array<string>"))
