"""Guards for the driver contract: the query registry in driver_queries/
and the view of it that __spark_entry__.py hands the driver. No Spark
session."""

import ast
import glob
import json
import os
import subprocess
import sys
from collections import Counter

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _decorated_query_functions():
    """Names of the functions declared with ``@query(...)``, one entry
    per declaration."""
    names = []
    for path in glob.glob(os.path.join(REPO, "driver_queries", "*.py")):
        for n in ast.walk(ast.parse(open(path).read())):
            if isinstance(n, ast.FunctionDef) and any(
                    isinstance(d, ast.Call)
                    and getattr(d.func, "id", None) == "query"
                    for d in n.decorator_list):
                names.append(n.name)
    return names


def test_driver_window_names_registered_queries():
    """The driver records correctness rows for the first 50 queries:
    the window names 50 distinct registered queries and leads
    queries()."""
    import __spark_entry__ as E
    from driver_queries import QUERIES
    window = E.DRIVER_WINDOW
    assert len(window) == len(set(window)) == 50
    assert not set(window) - set(QUERIES)
    assert list(E.queries())[:50] == list(window)
    assert list(E.queries()) == list(window) + [
        n for n in QUERIES if n not in window]


def test_each_query_declared_once():
    """Every registered query is exactly one ``@query`` function named
    ``q_<name>``."""
    from driver_queries import QUERIES
    declared = Counter(_decorated_query_functions())
    twice = {k: v for k, v in declared.items() if v > 1}
    assert not twice, f"query functions declared more than once: {twice}"
    assert set(declared) == {f"q_{n}" for n in QUERIES}
    assert all(fn.__name__ == f"q_{n}" for n, fn in QUERIES.items())


def test_second_registration_raises():
    """Registering a name twice raises and leaves the first entry."""
    from driver_queries import ORACLES, QUERIES, query
    first = QUERIES["sessionize"]

    def q_sessionize(spark, sf_dir):
        raise AssertionError("never registered")

    with pytest.raises(ValueError, match="sessionize"):
        query(oracle="SELECT 1")(q_sessionize)
    assert QUERIES["sessionize"] is first
    assert ORACLES["sessionize"] != "SELECT 1"


# queries() keys with no oracle_sql() entry, by construction
ROWS_ONLY = {"bpe_merges", "embedding_ivf_topk",
             "embedding_pca", "media_features",
             # zlib deflate runs in the Arrow batch, not in SQL —
             # pinned instead by tests/test_round4_ops.py
             "compress_ratio"}


def test_every_query_has_oracle_or_is_disclosed():
    """Each queries() key must have an oracle_sql() entry unless it is
    on the explicit rows-only-by-construction list."""
    import __spark_entry__ as E
    q, o = set(E.queries()), set(E.oracle_sql())
    assert q - o == ROWS_ONLY, (
        f"undisclosed rows-only queries: {(q - o) - ROWS_ONLY} / "
        f"stale disclosure: {ROWS_ONLY - (q - o)}")
    assert not o - q, f"oracles without a query: {o - q}"


def test_oracle_sql_reads_no_data():
    """Oracle strings are built when driver_queries loads: a fresh
    import with DuckDB unusable still yields an oracle for every query
    that has one."""
    script = (
        "import json, duckdb\n"
        "def refuse(*a, **kw):\n"
        "    raise RuntimeError('oracle SQL must not open DuckDB')\n"
        "for f in ('connect', 'sql', 'query', 'execute'):\n"
        "    setattr(duckdb, f, refuse)\n"
        "import __spark_entry__ as E\n"
        "print(json.dumps([sorted(E.queries()), sorted(E.oracle_sql())]))\n")
    out = subprocess.run([sys.executable, "-c", script], cwd=REPO,
                         capture_output=True, text=True, check=True)
    queries, oracles = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(oracles) == set(queries) - ROWS_ONLY
