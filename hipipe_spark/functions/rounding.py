"""Cross-engine exact-rounding helpers for the oracle gate.

Two rules of the driver's bitwise value comparison, kept as shared
helpers so every query uses them instead of re-deriving the rule:

**Signed zero breaks the value hash.** Spark's ``round()`` goes through
Java ``BigDecimal`` HALF_UP and returns ``+0.0`` for a tiny negative
(e.g. ``cos(3*pi/2)`` ~ ``-1.8e-16``), while DuckDB's libm-based
``round()`` preserves the sign bit and returns ``-0.0``. Float ``==``
hides the difference; the driver's byte-level value hash does not
(``bigram_pmi``, ``calendar`` and ``cuped`` each failed on it). IEEE 754 defines ``-0.0 + 0.0 == +0.0`` and
``x + 0.0 == x`` for every other ``x``, so appending ``+ 0.0`` on BOTH
engines normalizes the sign bit without changing any value. Use
:func:`round_norm` / :func:`round_norm_sql` for every rounded output
column whose value can reach zero from below (trig, correlations,
log-ratios, differences, reductions) — it is always safe, so prefer it
whenever in doubt.

**Raw float arrays can't be hashed or JSON'd portably.** The driver's
canonicalizer refuses raw ``ArrayType`` output columns (unhashable
``list``), and float JSON rendering diverges between engines (Spark's
Jackson emits ``1.0E-6`` where DuckDB emits ``0.000001``, and DuckDB's
``to_json`` drops the ``-0.0`` sign while Spark keeps it). Integer JSON
rendering is identical everywhere. So: round to ``ndigits``, scale by
``10^ndigits``, cast to BIGINT, and ``to_json`` the integer array —
:func:`json_units` / :func:`json_units_sql`. Pure integer arrays just
need :func:`pyspark.sql.functions.to_json` / DuckDB ``to_json``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_norm(col: Column | str, ndigits: int) -> Column:
    """``round(col, ndigits)`` with the IEEE signed-zero normalized
    away (``-0.0`` -> ``+0.0``); bit-identical to DuckDB's
    ``round(expr, ndigits) + 0.0`` (:func:`round_norm_sql`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, ndigits) + F.lit(0.0)


def round_norm_sql(expr: str, ndigits: int) -> str:
    """DuckDB twin of :func:`round_norm`."""
    return f"(round({expr}, {ndigits}) + 0.0)"


def json_units(col: Column | str, ndigits: int = 6) -> Column:
    """Canonical JSON of a double array for the hash gate: each element
    rounded to ``ndigits`` decimals, expressed in integer
    ``10^-ndigits`` units (BIGINT), serialized with ``to_json``.
    Identical text on both engines because integer JSON rendering is
    portable while float rendering is not (module docstring)."""
    c = F.col(col) if isinstance(col, str) else col
    scale = float(10 ** ndigits)
    return F.to_json(F.transform(
        c, lambda x: F.round(x * F.lit(scale), 0).cast("bigint")))


def json_units_sql(expr: str, ndigits: int = 6) -> str:
    """DuckDB twin of :func:`json_units`."""
    scale = float(10 ** ndigits)
    return (f"to_json(list_transform({expr}, "
            f"x -> CAST(round(x * {scale}, 0) AS BIGINT)))")
