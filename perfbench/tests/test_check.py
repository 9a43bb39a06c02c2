"""Output comparison helpers."""

from decimal import Decimal

import numpy as np
import pyarrow as pa

from perfbench import check


def _table(n=50, seed=0):
    rng = np.random.default_rng(seed)
    return pa.table({"k": pa.array(np.arange(n), pa.int64()),
                     "g": [f"g{i % 3}" for i in range(n)],
                     "v": rng.normal(size=n)})


def test_checksum_ignores_row_order():
    t = _table()
    shuffled = t.take(np.random.default_rng(1).permutation(t.num_rows))
    assert check.checksum(t) == check.checksum(shuffled)


def test_checksum_ignores_column_order():
    t = _table()
    assert check.checksum(t) == check.checksum(t.select(["v", "g", "k"]))


def test_checksum_sees_one_changed_value():
    t = _table()
    v = t.column("v").to_numpy().copy()
    v[7] += 1e-12
    assert check.checksum(t) != check.checksum(t.set_column(2, "v", pa.array(v)))


def test_exact_mismatch_is_order_insensitive_and_type_faithful():
    t = _table()
    assert check.exact_mismatch(t.take(list(reversed(range(t.num_rows)))), t) is None
    ints = pa.table({"x": pa.array([5], pa.int64())})
    decimals = pa.table({"x": pa.array([Decimal(5)], pa.decimal128(38, 0))})
    assert check.exact_mismatch(ints, decimals) is not None


def test_exact_mismatch_sees_type_class_and_value_changes():
    t = _table()
    as_float = t.set_column(0, "k", t.column("k").cast(pa.float64()))
    assert check.exact_mismatch(as_float, t) is not None
    v = t.column("v").to_numpy().copy()
    v[3] = np.nextafter(v[3], 1.0)
    assert check.exact_mismatch(t.set_column(2, "v", pa.array(v)), t) is not None
    assert check.exact_mismatch(t.set_column(1, "g", t.column("g").cast(pa.large_string())),
                                t) is None


def test_close_mismatch_tolerates_summation_order_only():
    t = _table()
    v = t.column("v").to_numpy()
    near = t.set_column(2, "v", pa.array(v * (1 + 1e-13)))
    far = t.set_column(2, "v", pa.array(v * (1 + 1e-6)))
    assert check.close_mismatch(near.take(list(reversed(range(t.num_rows)))), t) is None
    assert check.close_mismatch(far, t) is not None
