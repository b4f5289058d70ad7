"""The oracle gate's compare step, without Spark: the type-exact value
hash and the absent-table SKIP classifier of scripts/verify_driver_gate.py."""

from __future__ import annotations

import numpy as np
import pandas as pd

from scripts.verify_driver_gate import (
    TABLES,
    _pdf_rows,
    absent_table_reason,
    value_hash,
)


def test_value_hash_is_type_exact():
    # a DuckDB HUGEINT sum fetched as float64 must not hash like
    # Spark's BIGINT
    assert value_hash(["n"], [(150.0,)]) != value_hash(["n"], [(150,)])
    assert value_hash(["n"], [(np.float64(150.0),)]) == value_hash(
        ["n"], [(150.0,)]
    )
    assert value_hash(["n"], [(np.int64(150),)]) == value_hash(["n"], [(150,)])


def test_missing_values_hash_alike_on_both_sides():
    spark_side = pd.DataFrame({"v": [1.5, None], "s": ["a", None]})
    duck_side = pd.DataFrame({"v": [1.5, np.nan], "s": ["a", None]})
    assert value_hash(["v", "s"], _pdf_rows(spark_side)) == value_hash(
        ["v", "s"], _pdf_rows(duck_side)
    )
    assert value_hash(["v"], [(float("nan"),)]) == value_hash(
        ["v"], [(np.float64("nan"),)]
    )
    assert value_hash(["v"], [(None,)]) == value_hash(["v"], [(None,)])
    # NaN and NULL stay distinct values
    assert value_hash(["v"], [(float("nan"),)]) != value_hash(["v"], [(None,)])


def test_value_hash_ignores_column_and_row_order():
    h = value_hash(["a", "b"], [(1, "x"), (2, "y")])
    assert value_hash(["b", "a"], [("y", 2), ("x", 1)]) == h
    assert value_hash(["a", "b"], [(2, "y"), (1, "x")]) == h
    assert value_hash(["a", "b"], [(1, "y"), (2, "x")]) != h


def test_skip_only_for_a_table_the_slice_lacks():
    all_tables = set(TABLES)
    no_part = all_tables - {"part"}
    err = Exception("boom")
    oracle = "SELECT p_partkey FROM part"
    assert absent_table_reason(err, oracle, no_part) is not None
    assert absent_table_reason(err, oracle, all_tables) is None
    # 'part' is a word match: 'parquet' and 'partition' are not 'part'
    oracle = (
        "SELECT * FROM read_parquet('x') "
        "QUALIFY row_number() OVER (PARTITION BY k) = 1"
    )
    assert absent_table_reason(err, oracle, no_part) is None
    # an error naming the absent table's path
    missing = Exception(
        "[PATH_NOT_FOUND] Path does not exist: file:/d/part.parquet."
    )
    assert absent_table_reason(missing, "", no_part) is not None
    assert absent_table_reason(missing, "", all_tables) is None
    # an error naming a present table is a FAIL
    other = Exception("[PATH_NOT_FOUND] Path does not exist: /d/events.parquet")
    assert absent_table_reason(other, "", no_part) is None
