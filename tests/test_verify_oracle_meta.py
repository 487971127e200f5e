"""Negative tests of the oracle comparator ITSELF (r11): every
correctness receipt in this repo flows through
tools/verify_oracle.compare — if it failed open (reported OK on a
real difference), the whole chain would be hollow and nothing else
would notice. These pin that it fails closed on every mismatch class
and passes only genuine agreement.
"""

import datetime
import decimal
import os
import sys

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
)
sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)

from verify_oracle import compare, normalize, values_close  # noqa: E402


def test_identical_results_pass():
    assert compare(["a", "b"], [(1, "x"), (2, "y")],
                   ["a", "b"], [(1, "x"), (2, "y")]) == []


def test_row_order_and_column_order_are_insensitive():
    # spark (b, a) in one order, duck (a, b) in another — same data
    assert compare(
        ["b", "a"], [("y", 2), ("x", 1)],
        ["a", "b"], [(1, "x"), (2, "y")],
    ) == []


def test_column_name_mismatch_fails():
    out = compare(["a", "total"], [(1, 2)], ["a", "sum"], [(1, 2)])
    assert out and "cols" in out[0]


def test_row_count_mismatch_fails():
    out = compare(["a"], [(1,), (2,)], ["a"], [(1,)])
    assert out and "count" in out[0]


def test_single_value_mismatch_fails():
    out = compare(["a", "b"], [(1, "x"), (2, "y")],
                  ["a", "b"], [(1, "x"), (2, "z")])
    assert out and "row diff" in out[0]


def test_float_repr_near_miss_still_fails():
    """Values within 1e-9 are NOT silently OK: the driver hashes exact
    values, so the comparator must fail with the tighten-rounding
    message rather than fail open."""
    out = compare(["v"], [(1.0,)], ["v"], [(1.0 + 1e-12,)])
    assert out and "HASH WOULD FAIL" in out[0]


def test_genuine_float_divergence_reports_row_diff():
    out = compare(["v"], [(1.0,)], ["v"], [(1.01,)])
    assert out and "row diff" in out[0]


def test_nan_equals_nan_across_engines():
    assert compare(["v"], [(float("nan"),)], ["v"], [(float("nan"),)]) == []


def test_normalize_canonicalizes_engine_types():
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    rows = normalize([(b"\x00\xff", ts, decimal.Decimal("1.5"), [1, 2])],
                     ["b", "t", "d", "l"])
    assert rows == [("00ff", 1.5, (1, 2), "2024-01-02T03:04:05")]


def test_values_close_tolerances():
    assert values_close(1.0, 1.0 + 1e-12)
    assert not values_close(1.0, 1.01)
    assert values_close("x", "x") and not values_close("x", "y")


def test_unknown_key_is_rejected_before_any_spark_work(monkeypatch, capsys):
    """A mistyped key in a re-verification used to match nothing, check
    nothing and print ALL OK. It must exit non-zero, naming the key,
    before a SparkSession is started."""
    import kafka_parquet_writer_spark
    import verify_oracle

    def no_spark(*a, **k):
        raise AssertionError("started Spark for an unknown key")

    monkeypatch.setattr(kafka_parquet_writer_spark, "get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", ["verify_oracle.py", "agg_hash", "agg_hsah"])
    assert verify_oracle.main() == 2
    err = capsys.readouterr().err
    assert "agg_hsah" in err and "'agg_hash'" not in err
