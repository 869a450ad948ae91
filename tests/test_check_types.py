"""The local gate's Arrow-type comparison must catch oracle type
drift the driver's value hash is sensitive to (decimal vs int64 —
the round-1/2 failure mode) while tolerating differences the driver
provably ignores (integer width, timestamp unit, string width)."""

from __future__ import annotations

import importlib.util
import os
import sys

import pyarrow as pa


def _load_check():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check.py")
    spec = importlib.util.spec_from_file_location("check", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["check"] = mod
    spec.loader.exec_module(mod)
    return mod


check = _load_check()


def test_decimal_vs_int_flagged():
    # DuckDB SUM(BIGINT) -> decimal128(38,0): must differ from int64
    assert check._type_sig(pa.decimal128(38, 0)) != check._type_sig(pa.int64())


def test_integer_width_tolerated():
    # Spark rank() int32 vs DuckDB ROW_NUMBER() int64 passed the
    # driver hash in rounds 1-2 — must NOT be flagged
    assert check._type_sig(pa.int32()) == check._type_sig(pa.int64())


def test_timestamp_unit_and_tz_tolerated():
    assert check._type_sig(pa.timestamp("us")) == check._type_sig(pa.timestamp("ns", tz="UTC"))


def test_string_width_tolerated():
    assert check._type_sig(pa.string()) == check._type_sig(pa.large_string())


def test_float_vs_decimal_flagged():
    assert check._type_sig(pa.float64()) != check._type_sig(pa.decimal128(18, 2))


def test_list_value_type_recurses():
    assert check._type_sig(pa.list_(pa.decimal128(38, 0))) != check._type_sig(pa.list_(pa.int64()))
    assert check._type_sig(pa.list_(pa.int32())) == check._type_sig(pa.large_list(pa.int64()))


def test_norm_cell_distinguishes_decimal_from_int():
    from decimal import Decimal

    # Python equality says Decimal(5) == 5; the gate must not
    assert check._norm_cell(Decimal(5)) != check._norm_cell(5)
    assert check._norm_cell(5) == check._norm_cell(5)
    assert check._norm_cell(True) != check._norm_cell(1)
