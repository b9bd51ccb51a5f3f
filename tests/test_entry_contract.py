"""Static guards for the driver contract in __spark_entry__.py.

Two real incidents motivated these: a mid-dict insert once silently
dropped an anchor key, and two late-round `def q_*` redefinitions
shadowed earlier query functions (the dict literal had duplicate keys,
so two operators lost their driver queries without any error). Pure
AST checks — no Spark session."""

import ast
import os

ENTRY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "__spark_entry__.py")


def _tree():
    return ast.parse(open(ENTRY).read())


def _queries_literal_keys(tree):
    for n in ast.walk(tree):
        if isinstance(n, ast.FunctionDef) and n.name == "queries":
            for r in ast.walk(n):
                if isinstance(r, ast.Return) and isinstance(r.value, ast.Dict):
                    return [k.value for k in r.value.keys]
    raise AssertionError("queries() dict literal not found")


def test_no_duplicate_query_keys():
    keys = _queries_literal_keys(_tree())
    seen, dups = set(), set()
    for k in keys:
        (dups if k in seen else seen).add(k)
        seen.add(k)
    assert not dups, f"duplicate queries() keys silently shadow: {dups}"


def test_no_shadowed_query_functions():
    """No module-level function name may be defined twice — the later
    def silently replaces the earlier operator's driver query."""
    from collections import Counter
    names = Counter(
        n.name for n in ast.iter_child_nodes(_tree())
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)))
    shadowed = {k: v for k, v in names.items() if v > 1}
    assert not shadowed, f"redefined module functions: {shadowed}"


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


def test_oracle_sql_reads_no_data(monkeypatch):
    """oracle_sql() is a pure string builder: with DuckDB unusable it
    still returns an oracle for every query that has one."""
    import duckdb

    import __spark_entry__ as E

    def refuse(*a, **kw):
        raise RuntimeError("oracle_sql() must not open DuckDB")
    monkeypatch.setattr(duckdb, "connect", refuse)
    assert set(E.oracle_sql()) == set(E.queries()) - ROWS_ONLY


def test_oracle_dict_no_reassigned_keys():
    """d['name'] = ... must appear at most once per oracle-building
    function — a second assignment silently replaces the first."""
    tree = _tree()
    for fn in ast.iter_child_nodes(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        if "oracle" not in fn.name and fn.name != "oracle_sql":
            continue
        assigned = []
        for n in ast.walk(fn):
            if (isinstance(n, ast.Assign) and len(n.targets) == 1
                    and isinstance(n.targets[0], ast.Subscript)
                    and isinstance(n.targets[0].slice, ast.Constant)):
                assigned.append(n.targets[0].slice.value)
        dups = {k for k in assigned if assigned.count(k) > 1}
        assert not dups, f"{fn.name}: reassigned oracle keys {dups}"
