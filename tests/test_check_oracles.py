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


def test_two_empty_answers_are_vacuous():
    empty = pd.DataFrame({"id": pd.Series([], dtype="int64")})
    status, _ = check_oracles.verdict(empty, empty.copy())
    assert status == "VACUOUS"


def test_equal_nonempty_answers_pass():
    spark_side = pd.DataFrame({"id": [2, 1], "x": [0.5, 1.5]})
    oracle_side = pd.DataFrame({"x": [1.5, 0.5], "id": [1, 2]})
    assert check_oracles.verdict(spark_side, oracle_side) == ("OK", None)
    status, _ = check_oracles.verdict(spark_side, oracle_side.head(1))
    assert status == "ROWCOUNT-MISMATCH"
