"""Driver queries: every registered query and its DuckDB oracle.

Each query is one function ``q_<name>(spark, sf_dir) -> DataFrame`` in
a family module, declared with ``@query(oracle=...)``. The name comes
from the function name; ``oracle`` is the DuckDB SQL that must return
the same rows, or ``None`` for a query that is checked by row count
only. Registering a name twice raises. ``__spark_entry__.queries()``
and ``oracle_sql()`` read the registry; to add a query, write one
decorated function in the family module of the operator it exercises.

Column names are aliased identically on both sides; floats are rounded
identically on both sides (the driver hash-compares values). Oracle
strings are built when the modules load and read no data.

Oracle-author rules (enforced by the driver-strength bitwise replica
in tools/check_oracles.py):

1. **Signed zero**: Spark ``round()`` (BigDecimal HALF_UP) returns
   ``+0.0`` where DuckDB (libm) returns ``-0.0`` for a tiny negative.
   Any rounded output that can reach zero from below (trig,
   correlations, log-ratios, differences) must use
   ``functions.rounding.round_norm`` on the Spark side and
   ``round(expr, n) + 0.0`` in the SQL.
2. **Timestamps are MICROSECONDS**: testdata ``ts`` carries µs
   components. Never difference timestamps via ``epoch_ms`` (truncates)
   or via epoch-second doubles (loses the tail); use
   ``(epoch_us(a) - epoch_us(b)) / 1000000.0`` in SQL and
   ``unix_micros`` integer subtraction before the divide in Spark so
   the operation order matches.
3. **No raw array/struct output columns**: the driver's canonicalizer
   TypeErrors on them. ``to_json`` integer arrays directly; route
   float arrays through ``functions.rounding.json_units`` (integer
   micro-units — float JSON rendering differs between engines).
4. **DuckDB integer sums are HUGEINT** (fetch as float64):
   ``CAST(sum(...) AS BIGINT)`` every count-like aggregate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, Query] = {}
ORACLES: dict[str, str] = {}


def query(*, oracle: str | None) -> Callable[[Query], Query]:
    """Register ``q_<name>`` under ``<name>`` with its oracle SQL."""
    def register(fn: Query) -> Query:
        name = fn.__name__.removeprefix("q_")
        if name == fn.__name__:
            raise ValueError(f"query function {name!r} must be named q_*")
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return register


# Importing a family module registers its queries; this order is the
# registry order.
from driver_queries import (  # noqa: E402,F401
    temporal, joins, text, dedup, similarity, features, stats, evaluation,
    graph, relational,
)
