"""Local replica of the driver's correctness gate — DRIVER STRENGTH.

Runs every __spark_entry__.queries() entry at the given SF and compares
against oracle_sql() via DuckDB: row count, sorted column names, and an
order-insensitive EXACT value comparison.

Round-5 hardening (VERDICT r4 next-round #2): the r4 version compared
floats at rtol=1e-8 and stringified raw arrays — exactly the two gaps
that let seven driver/judge-visible defects through a "293/293 green"
self-sweep. Now:

- every float is compared BITWISE (IEEE-754 big-endian struct-pack
  hex): signed zeros, last-ulp drift and NaN payloads all count.
  ``-0.0`` vs ``+0.0`` is a mismatch here because it is one in the
  driver's value hash (see functions/rounding.round_norm).
- a raw array/struct/map output column is a HARD ERROR, not a
  stringified pass: the driver's canonicalizer raises
  ``TypeError: unhashable type: 'list'`` on them (r4: embedding_pool,
  hash_features, onehot_encode). Queries must ``to_json`` such columns
  (functions/rounding.json_units for float arrays).
- timestamps canonicalize to their integer epoch value, not a
  formatted string, so ns-vs-us pandas units can't mask or fake a
  diff.
- NaN canonicalizes to ``<NaN>``, its own token, never to ``<NULL>``.
- a selection naming an unknown query (e.g. a path passed where the
  comma-separated name list goes) exits 2 instead of passing 0/0.
"""

from __future__ import annotations

import os
import struct
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class ArrayOutputError(TypeError):
    """A query returned a raw array/struct column the driver's
    canonicalizer cannot hash. to_json it (functions/rounding.py)."""


def _canon_cell(x):
    if isinstance(x, (list, tuple, dict, set, np.ndarray)):
        raise ArrayOutputError(
            f"raw array/struct output value {type(x).__name__}: the "
            "driver gate TypeErrors on these — to_json the column "
            "(hipipe_spark/functions/rounding.py)")
    if x is None or x is pd.NaT:
        return "<NULL>"
    if isinstance(x, (float, np.floating)):
        if x != x:
            return "<NaN>"
        return struct.pack(">d", float(x)).hex()
    if isinstance(x, (bool, np.bool_)):
        return str(bool(x))
    if isinstance(x, (int, np.integer)):
        return str(int(x))
    if isinstance(x, (bytes, bytearray)):
        return bytes(x).hex()
    if isinstance(x, pd.Timestamp):
        return str(x.value)  # integer ns — unit-independent
    try:
        if pd.isna(x):
            return "<NULL>"
    except (TypeError, ValueError):
        pass
    return str(x)


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize every cell to a comparison string (driver-strength:
    floats bitwise), sort columns by name and rows by all columns."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    out = {}
    for c in pdf.columns:
        col = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(col.dtype):
            out[c] = col.map(
                lambda x: "<NULL>" if pd.isna(x) else str(pd.Timestamp(x).value))
        elif pd.api.types.is_integer_dtype(col.dtype):
            out[c] = col.astype("Int64").map(
                lambda x: "<NULL>" if pd.isna(x) else str(int(x)))
        elif pd.api.types.is_float_dtype(col.dtype):
            out[c] = col.astype("float64").map(_canon_cell)
        else:
            out[c] = col.map(_canon_cell)
    res = pd.DataFrame(out, columns=list(pdf.columns))
    if len(res):
        res = res.sort_values(list(res.columns),
                              kind="mergesort").reset_index(drop=True)
    return res


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    import __spark_entry__ as E
    from hipipe_spark.session import get_spark

    qs, oracles = E.queries(), E.oracle_sql()
    unknown = sorted(set(only or ()) - set(qs))
    if unknown:
        print(f"no such queries: {unknown}; the argument is a "
              "comma-separated list of query names", file=sys.stderr)
        return 2
    spark = get_spark(cores=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            plan = fn(spark, sf_dir)
            sdf = plan.toPandas()
            from hipipe_spark.operators.core import release_cached
            release_cached(plan)  # 293 queries, one session: free caches
        except Exception:
            results[name] = ("SPARK-ERROR", traceback.format_exc(limit=4))
            continue
        if name not in oracles:
            # rows-only queries still must not emit raw array columns
            try:
                normalize(sdf.head(50))
                results[name] = (f"rows-only ({len(sdf)} rows)", None)
            except ArrayOutputError as e:
                results[name] = ("ARRAY-OUTPUT", str(e))
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            results[name] = ("ORACLE-ERROR", traceback.format_exc(limit=2))
            continue
        try:
            a, b = normalize(sdf), normalize(odf)
        except ArrayOutputError as e:
            results[name] = ("ARRAY-OUTPUT", str(e))
            continue
        if list(a.columns) != list(b.columns):
            results[name] = ("SCHEMA-MISMATCH",
                             f"spark={list(a.columns)} oracle={list(b.columns)}")
        elif len(a) != len(b):
            results[name] = ("ROWCOUNT-MISMATCH",
                             f"spark={len(a)} oracle={len(b)}")
        elif a.equals(b):
            results[name] = (f"OK ({len(a)} rows, {time.time()-t0:.1f}s)", None)
        else:
            diff_cols = [c for c in a.columns if not a[c].equals(b[c])]
            detail = [f"cols={diff_cols}"]
            for c in diff_cols[:3]:
                neq = a[c] != b[c]
                idx = list(a.index[neq])[:5]
                detail.append(
                    f"  {c}: {int(neq.sum())} diff cells, first "
                    f"{[(a[c][i], b[c][i]) for i in idx]}")
            results[name] = ("VALUE-MISMATCH (bitwise)", "\n".join(detail))
    print("\n===== RESULTS =====")
    n_ok = 0
    for name, (status, detail) in results.items():
        flag = "✓" if status.startswith(("OK", "rows-only")) else "✗"
        if flag == "✓":
            n_ok += 1
        print(f"{flag} {name:22s} {status}")
        if detail and flag == "✗":
            print(f"    {detail[:800]}")
    print(f"\n{n_ok}/{len(results)} pass")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    only = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    sys.exit(main(only=only))
