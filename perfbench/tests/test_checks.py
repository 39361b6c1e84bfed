"""The output checks the benchmark counts failures with."""

import pytest

from perfbench.layers import op_id, split_op_id
from perfbench.workloads import CheckFailed, _expect, _rowset


def test_rowset_orders_columns_by_name_and_rows_by_value():
    spark_rows = [(2, "b", 0.5), (1, "a", None)]
    duck_rows = [("a", float("nan"), 1), ("b", 0.5, 2)]
    assert _rowset(spark_rows, ["n", "s", "x"]) == _rowset(duck_rows, ["s", "x", "n"])


def test_rowset_compares_floats_exactly():
    assert _rowset([(0.1 + 0.2,)], ["x"]) != _rowset([(0.3,)], ["x"])


def test_expect_raises_check_failed():
    _expect(True, "fine")
    with pytest.raises(CheckFailed, match="wrong"):
        _expect(False, "wrong")


def test_op_ids_round_trip():
    assert split_op_id(op_id("query.dedup_exact.exec", 2)) == ("query.dedup_exact.exec", 2)
    assert split_op_id("decode_verify") == ("decode_verify", None)
