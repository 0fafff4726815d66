"""Round-9 regression gates for the output-dtype-KIND doctrine.

The stats_kaplan_meier / stats_nelson_aalen r06-r08 driver-only hash reds
were an output-dtype divergence (oracle HUGEINT -> pandas float64 vs Spark
int64 — identical values, different hash), invisible to the old
float-coercing local compare. These tests keep the whole class dead,
together with the per-key DuckDB DESCRIBE vs Spark schema kind check in
tests/test_oracle_parity.py::test_query_matches_oracle:

- tests/parity.assert_frames_match must REJECT an int/float dtype split
  even when values are numerically equal (the driver-faithful behavior),
  while tolerating the decimal/float split the driver demonstrably
  accepts (agg_decimal_exact driver-green r04).
"""

from __future__ import annotations

import pandas as pd
import pytest

from tests.parity import assert_frames_match


def test_parity_compare_rejects_int_float_split():
    a = pd.DataFrame({"k": [1, 2], "v": [10, 20]})  # int64
    b = pd.DataFrame({"k": [1, 2], "v": [10.0, 20.0]})  # float64: equal values
    with pytest.raises(AssertionError, match="dtype-kind"):
        assert_frames_match(a, b, name="int_float_split")


def test_parity_compare_tolerates_decimal_float_split():
    import decimal

    a = pd.DataFrame(
        {"k": [1, 2], "v": [decimal.Decimal("1.50"), decimal.Decimal("2.25")]}
    )
    b = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.25]})
    assert_frames_match(a, b, name="decimal_float_split")
