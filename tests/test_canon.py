"""Pin the local gate's canonicalization (tools/check_correctness.canon)
to the driver's observed behavior, so the gate stays predictive:

- Decimal('123.40') vs float 123.4  -> DIFFERENT (r1 driver hash-fails)
- int64 17825 vs float64 17825.0    -> DIFFERENT (HUGEINT .df() class)
- datetime.date vs datetime64 at midnight -> SAME (r1 driver passes)
- list cells -> TypeError (r1 driver canon error)
- row/column order -> irrelevant
"""

from __future__ import annotations

import datetime
import decimal
import importlib.util
import sys

from pathlib import Path

import pandas as pd
import pytest

REPO = Path(__file__).resolve().parents[1]


def _load_canon():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", REPO / "tools" / "check_correctness.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["check_correctness"] = mod
    spec.loader.exec_module(mod)
    return mod.canon


canon = _load_canon()


def test_decimal_trailing_zero_differs_from_float():
    a = pd.DataFrame({"v": [decimal.Decimal("123.40")]})
    b = pd.DataFrame({"v": [123.4]})
    assert canon(a)[2] != canon(b)[2]


def test_int_differs_from_float_rendering():
    a = pd.DataFrame({"v": pd.array([17825], dtype="int64")})
    b = pd.DataFrame({"v": pd.array([17825.0], dtype="float64")})
    assert canon(a)[2] != canon(b)[2]


def test_date_objects_match_datetime64_at_midnight():
    a = pd.DataFrame({"d": [datetime.date(1997, 8, 20)]})  # Spark toPandas
    b = pd.DataFrame({"d": pd.to_datetime(["1997-08-20"])})  # DuckDB .df()
    assert canon(a)[2] == canon(b)[2]


def test_list_cells_raise_like_the_driver():
    with pytest.raises(TypeError):
        canon(pd.DataFrame({"l": [[1, 2, 3]]}))


def test_row_and_column_order_invariant():
    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
    assert canon(a)[2] == canon(b)[2]


def test_identical_doubles_match_and_differ_when_perturbed():
    a = pd.DataFrame({"v": [0.1 + 0.2]})
    assert canon(a)[2] == canon(pd.DataFrame({"v": [0.1 + 0.2]}))[2]
    assert canon(a)[2] != canon(pd.DataFrame({"v": [0.3]}))[2]
