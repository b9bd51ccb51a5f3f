"""Deterministic, cross-engine pseudo-randomness.

The reference's randomness (``include/hipipe/core/utility/random.hpp:21``
— a thread-local mt19937 seeded from ``random_device``) is irreproducible
by design. This engine upgrades it to *key-derived* determinism so results
are identical across cluster sizes and checkable against a SQL oracle:
every "random" draw is a pure function of (key columns, op seed).

Two hash families:

- :func:`det_hash01` / :func:`det_hash01_sql` — a double-round LCG kept
  inside 62-bit intermediates so the SAME arithmetic is exact in Spark
  (Java long) and DuckDB (BIGINT, which raises on overflow). Used wherever
  a DuckDB oracle must reproduce the draw bit-for-bit.
- ``F.xxhash64`` — Spark's native 64-bit hash, used for salts and
  bucketing where no SQL oracle needs to reproduce the value.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Classic glibc LCG constants; two rounds for mixing. All intermediates
# fit in 62 bits provided the input is < 2^31 (we mod inputs first).
_A = 1103515245
_C = 12345
_M = 2147483648  # 2^31


def det_hash_i64(key: Column, seed: int = 0) -> Column:
    """Deterministic integer hash in [0, 2^31) of an integer column."""
    x = F.pmod(key + F.lit(int(seed)), F.lit(_M))
    x = F.pmod(x * F.lit(_A) + F.lit(_C), F.lit(_M))
    x = F.pmod(x * F.lit(_A) + F.lit(_C), F.lit(_M))
    return x


def det_hash01(key: Column, seed: int = 0) -> Column:
    """Deterministic uniform double in [0, 1) from an integer column."""
    return det_hash_i64(key, seed) / F.lit(float(_M))


def det_hash_mix_i64_py(key: int, seed: int = 0) -> int:
    """Plan-time Python twin of :func:`det_hash_mix_i64` (same
    rounds). Use when the consumer needs uniform BITS — the LCG
    family's top bit ALTERNATES on consecutive keys (affine bijection),
    which would make e.g. Rademacher sign rows perfectly correlated."""
    h0 = (int(key) + int(seed)) % _M
    h1 = h0 ^ 61 ^ (h0 >> 16)
    h2 = (h1 * 9) % _M
    h3 = h2 ^ (h2 >> 4)
    h4 = (h3 * 0x27D4EB2D) % _M
    return h4 ^ (h4 >> 15)


def det_hash_i64_sql(key_expr: str, seed: int = 0) -> str:
    """ANSI-SQL (DuckDB-runnable) text of :func:`det_hash_i64`."""
    x = f"(({key_expr}) + {int(seed)}) % {_M}"
    x = f"((({x}) % {_M} + {_M}) % {_M})"  # pmod
    for _ in range(2):
        x = f"((({x}) * {_A} + {_C}) % {_M})"
    return x


def det_hash01_sql(key_expr: str, seed: int = 0) -> str:
    """ANSI-SQL text of :func:`det_hash01`."""
    return f"(CAST({det_hash_i64_sql(key_expr, seed)} AS DOUBLE) / {float(_M)})"


def det_hash_str_i64(s: Column, seed: int = 0) -> Column:
    """Deterministic integer hash in [0, 2^31) of a STRING column,
    reproducible bit-for-bit by DuckDB (:func:`det_hash_str_i64_sql`):
    left-fold polynomial-31 over codepoints mod 2^31, then the LCG
    double-round mix. All intermediates ≤ 36 bits — exact in Java long
    and DuckDB BIGINT."""
    # split(s, "") materializes the char array in ONE pass — the
    # sequence+substr(i,1) formulation is O(len²) (UTF8String substr
    # walks from the start each call) and measured 1.4x slower on the
    # dsir feature stream; the fold itself is unchanged, so DuckDB
    # parity (det_hash_str_i64_sql) is untouched.
    chars = F.when(F.length(s) > 0, F.split(s, "")).otherwise(
        F.array().cast("array<string>"))
    codes = F.transform(chars, lambda c: F.ascii(c).cast("long"))
    base = F.aggregate(codes, F.lit(int(seed) % _M).cast("long"),
                       lambda acc, x: (acc * 31 + x) % _M)
    return det_hash_i64(base)


def det_hash_str_i64_sql(s_expr: str, seed: int = 0) -> str:
    """DuckDB SQL text of :func:`det_hash_str_i64` (same fold, same
    constants). Uses list_reduce with the seed prepended so the fold
    order matches Spark's F.aggregate exactly."""
    codes = (f"list_transform(range(1, length({s_expr}) + 1), "
             f"i -> CAST(ascii(substring({s_expr}, i, 1)) AS BIGINT))")
    base = (f"list_reduce(list_prepend(CAST({int(seed) % _M} AS BIGINT), {codes}), "
            f"(acc, x) -> (acc * 31 + x) % {_M})")
    return det_hash_i64_sql(base, 0)


def det_hash_mix_i64(key: Column, seed: int = 0) -> Column:
    """Wang-style avalanche hash in [0, 2^31) of an integer column —
    xor/shift/multiply rounds, all intermediates < 2^62, reproducible
    bit-for-bit in DuckDB (:func:`det_hash_mix_i64_sql`).

    Use this (not :func:`det_hash_i64`) when the CONSUMER needs
    uniform BITS, not just uniform order statistics: the LCG family
    is an affine bijection, so contiguous key ranges map to a lattice
    whose leading-zero counts are wildly biased — fine for KMV's
    k-th-minimum, fatal for HyperLogLog register ranks (measured:
    +84% bias at 100k keys vs ±4% with this mix)."""
    h0 = F.pmod(key + F.lit(int(seed)), F.lit(_M))
    h1 = h0.bitwiseXOR(F.lit(61)).bitwiseXOR(F.shiftright(h0, 16))
    h2 = F.pmod(h1 * F.lit(9), F.lit(_M))
    h3 = h2.bitwiseXOR(F.shiftright(h2, 4))
    h4 = F.pmod(h3 * F.lit(0x27D4EB2D), F.lit(_M))
    return h4.bitwiseXOR(F.shiftright(h4, 15))


def det_hash_mix_i64_sql(key_expr: str, seed: int = 0) -> str:
    """DuckDB SQL text of :func:`det_hash_mix_i64` (same rounds, same
    constants; xor()/>> are exact on non-negative BIGINTs)."""
    h0 = f"((CAST(({key_expr}) AS BIGINT) + {int(seed)}) % {_M})"
    h0 = f"((({h0}) % {_M} + {_M}) % {_M})"  # pmod
    h1 = f"xor(xor({h0}, 61), ({h0} >> 16))"
    h2 = f"((({h1}) * 9) % {_M})"
    h3 = f"xor({h2}, ({h2} >> 4))"
    h4 = f"((({h3}) * {0x27D4EB2D}) % {_M})"
    return f"xor({h4}, ({h4} >> 15))"
