"""The local oracle gate must not pass vacuously."""

import pandas as pd

from tools import check_oracles


def test_nan_and_null_get_distinct_tokens():
    assert check_oracles._canon_cell(float("nan")) == "<NaN>"
    assert check_oracles._canon_cell(None) == "<NULL>"
    spark_side = check_oracles.normalize(
        pd.DataFrame({"x": pd.Series([float("nan")], dtype=object)}))
    oracle_side = check_oracles.normalize(
        pd.DataFrame({"x": pd.Series([None], dtype=object)}))
    assert not spark_side.equals(oracle_side)


def test_selection_matching_no_query_fails():
    # a data directory passed where the query-name list goes
    assert check_oracles.main(only=["testdata/sf0.1"]) != 0
    assert check_oracles.main(only=["flagship", "no_such_query"]) != 0
