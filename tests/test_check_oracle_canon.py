"""Driver-canon parity unit tests for tools/check_oracle.py.

The only failure class that has ever produced a driver red row (r01 x6,
r04 x1) is local-green/driver-red encoding divergence: the old local
checker stringified cells the driver's pandas sort_values/factorize
canonicalizer could not hash. These tests pin that the rewritten checker
REPRODUCES the driver's behavior: it must throw on exactly the frames
the driver throws on, and hash identical logical values identically
across the Spark-toPandas and DuckDB-.df() scalar repertoires."""

from __future__ import annotations

import datetime as dt
import decimal
import importlib.util
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

_spec = importlib.util.spec_from_file_location(
    "check_oracle", Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py"
)
check_oracle = importlib.util.module_from_spec(_spec)
sys.modules["check_oracle"] = check_oracle
_spec.loader.exec_module(check_oracle)

canon_frame = check_oracle.canon_frame
canon_value = check_oracle.canon_value
DriverCanonError = check_oracle.DriverCanonError


def test_array_cell_raises_driver_canon_error():
    """The r04 red row: array<bigint> output -> pandas object column of
    lists -> factorize throws. The checker must fail it, not hash it."""
    pdf = pd.DataFrame({"k": [1, 2], "v": [[1, 2], [3]]})
    with pytest.raises(DriverCanonError, match="unhashable|sort_values"):
        canon_frame(pdf)


def test_ndarray_cell_raises_driver_canon_error():
    """Spark toPandas renders array<T> as numpy arrays, not lists —
    equally unhashable at the driver."""
    pdf = pd.DataFrame({"k": [1, 2], "v": [np.array([1, 2]), np.array([3])]})
    with pytest.raises(DriverCanonError):
        canon_frame(pdf)


def test_dict_cell_raises_driver_canon_error():
    """map<K,V> output -> dict cells -> unorderable AND unhashable."""
    pdf = pd.DataFrame({"k": [1, 2], "v": [{"a": 1}, {"b": 2}]})
    with pytest.raises(DriverCanonError):
        canon_frame(pdf)


def test_tz_aware_column_rejected():
    """The gate's data contract is TIMESTAMP_NTZ end-to-end; a tz-aware
    Spark result would hash differently from the naive oracle."""
    pdf = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01"]).tz_localize("UTC")}
    )
    with pytest.raises(DriverCanonError, match="tz-aware"):
        canon_frame(pdf)


def test_scalar_frame_passes_and_is_order_insensitive():
    a = pd.DataFrame({"k": [2, 1], "v": ["b", "a"]})
    b = pd.DataFrame({"v": ["a", "b"], "k": [1, 2]})  # other order, both axes
    assert canon_frame(a) == canon_frame(b)


def test_cross_engine_scalar_repertoires_hash_alike():
    """Same logical values through Spark-toPandas-style dtypes (numpy
    scalars, us-resolution datetimes) and DuckDB-.df()-style dtypes
    (python scalars via object, ns datetimes, Decimal) must hash equal."""
    spark_like = pd.DataFrame(
        {
            "i": np.array([1, 2], dtype=np.int64),
            "f": np.array([1.5, float("nan")], dtype=np.float64),
            "b": np.array([True, False]),
            "s": ["x", "y"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00.123456", "2024-01-02 00:00:00.000000"]
            ).astype("datetime64[us]"),
        }
    )
    duck_like = pd.DataFrame(
        {
            "i": pd.Series([1, 2], dtype="int64"),
            "f": pd.Series([1.5, np.nan]),
            "b": pd.Series([True, False]),
            "s": pd.Series(["x", "y"]),
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00.123456", "2024-01-02 00:00:00.000000"]
            ).astype("datetime64[ns]"),
        }
    )
    assert canon_frame(spark_like) == canon_frame(duck_like)


def test_nullable_int_vs_float_promotion_hash_alike():
    """A nullable BIGINT column arrives as float64-with-NaN from BOTH
    fetch paths; values must canonicalize identically either way."""
    assert canon_value(np.float64(5.0)) == canon_value(5.0)
    assert canon_value(np.int64(5)) == "5"
    assert canon_value(None) == "NULL"
    assert canon_value(pd.NaT) == "NULL"
    # NaN == NULL at the gate: a NULL boolean is None via Spark-toPandas
    # but NaN via DuckDB-.df(); factorize sends both to the NA sentinel.
    assert canon_value(float("nan")) == "NULL"


def test_scalar_value_canon_pins():
    assert canon_value(decimal.Decimal("2.50")) == repr(2.5)
    assert canon_value(True) == "1"
    assert canon_value(np.bool_(True)) == "1"
    assert canon_value(b"\x01\xff") == "01ff"
    assert canon_value(bytearray(b"\x01\xff")) == "01ff"
    assert canon_value(dt.date(2024, 1, 2)) == "2024-01-02"
    assert (
        canon_value(pd.Timestamp("2024-01-02 03:04:05.000006"))
        == canon_value(dt.datetime(2024, 1, 2, 3, 4, 5, 6))
    )
