"""Output checks: DuckDB oracle connections and result comparison.

Two comparisons, one per kind of oracle:

- :func:`exact_mismatch` reproduces ``tools/compare.py --exact``: column
  names compared as sets, row counts, and every value compared together
  with its type class, so a Decimal on one side and an int on the other
  fails. Rows compare order-insensitively: flat tables sorted by every
  column in Arrow, others row by row in Python (sorted by ``repr``, or
  above :data:`HASH_THRESHOLD` rows by an order-insensitive checksum).
- :func:`close_mismatch` is for project queries whose float sums run in
  a different order on each engine: rows are aligned by their non-float
  columns and floats must agree within a relative tolerance.
"""

from __future__ import annotations

from datetime import date, datetime, timezone
from decimal import Decimal

import numpy as np
import pyarrow as pa

HASH_THRESHOLD = 100_000
REL_TOL = 1e-9


def duck(tables: dict[str, str]):
    """A DuckDB connection with one view per parquet file. Extension
    auto-install is off, so a query needing a missing extension fails
    instead of trying to fetch it."""
    import duckdb

    con = duckdb.connect(config={"autoinstall_known_extensions": False,
                                 "autoload_known_extensions": False})
    con.execute("SET TimeZone = 'UTC'")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _norm_cell(v):
    if isinstance(v, Decimal):
        return ("decimal", str(v))
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, float):
        return ("float", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return str(v)
    if isinstance(v, date):
        return str(v)
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def normalized_rows(table: pa.Table) -> list[tuple]:
    """Rows with columns in name order and type-tagged cells."""
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    return [tuple(_norm_cell(c[i]) for c in cols)
            for i in range(table.num_rows)]


def checksum(table: pa.Table) -> int:
    """Order-insensitive checksum: the sum of per-row hashes mod 2^64.
    Equal within one process for equal row multisets, whatever the row
    order."""
    h = 0
    for row in normalized_rows(table):
        h = (h + hash(row)) % (1 << 64)
    return h


#: type classes the vectorized exact compare handles; a column of any
#: other type (decimal, date, nested) sends the compare down the row path
_FLAT = {"int": pa.types.is_integer, "float": pa.types.is_floating,
         "bool": pa.types.is_boolean, "timestamp": pa.types.is_timestamp,
         "str": lambda t: pa.types.is_string(t) or pa.types.is_large_string(t)}


def _flat_class(t: pa.DataType) -> str | None:
    if pa.types.is_dictionary(t):
        t = t.value_type
    return next((c for c, test in _FLAT.items() if test(t)), None)


def exact_mismatch(got: pa.Table, expected: pa.Table) -> str | None:
    """None when ``got`` equals ``expected`` bit for bit (as a row
    multiset), else a one-line reason."""
    names = sorted(got.column_names)
    if names != sorted(expected.column_names):
        return f"columns {names} vs {sorted(expected.column_names)}"
    if got.num_rows != expected.num_rows:
        return f"rows {got.num_rows} vs {expected.num_rows}"
    classes = [(_flat_class(got.schema.field(n).type),
                _flat_class(expected.schema.field(n).type)) for n in names]
    if all(a and b for a, b in classes):
        for n, (a, b) in zip(names, classes):
            if a != b:
                return f"column {n}: {a} vs {b}"
        order = [(n, "ascending") for n in names]
        a = pa.table({n: _plain(got.column(n)) for n in names}).sort_by(order)
        b = pa.table({n: _plain(expected.column(n)) for n in names}).sort_by(order)
        bad = [n for n in names if not a.column(n).combine_chunks().equals(
            b.column(n).combine_chunks())]
        return f"column {bad[0]} differs" if bad else None
    if got.num_rows > HASH_THRESHOLD:
        return None if checksum(got) == checksum(expected) else "checksum"
    a = sorted(normalized_rows(got), key=repr)
    b = sorted(normalized_rows(expected), key=repr)
    if a != b:
        bad = next((x, y) for x, y in zip(a, b) if x != y)
        return f"value mismatch, e.g. {bad}"
    return None


def _plain(col: pa.ChunkedArray) -> pa.ChunkedArray:
    t = col.type
    if pa.types.is_dictionary(t):
        return _plain(col.cast(t.value_type))
    if pa.types.is_timestamp(t):
        return col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
    if pa.types.is_integer(t):
        return col.cast(pa.int64())
    if pa.types.is_floating(t):
        return col.cast(pa.float64())
    if pa.types.is_large_string(t):
        return col.cast(pa.string())
    return col


def close_mismatch(got: pa.Table, expected: pa.Table,
                   rel_tol: float = REL_TOL) -> str | None:
    """None when both tables hold the same rows, matching non-float
    columns exactly and float columns within ``rel_tol``; timestamps
    compare as UTC microseconds."""
    names = sorted(got.column_names)
    if names != sorted(expected.column_names):
        return f"columns {names} vs {sorted(expected.column_names)}"
    if got.num_rows != expected.num_rows:
        return f"rows {got.num_rows} vs {expected.num_rows}"
    got = pa.table({n: _plain(got.column(n)) for n in names})
    expected = pa.table({n: _plain(expected.column(n)) for n in names})
    keys = [n for n in names if not pa.types.is_floating(got.schema.field(n).type)]
    floats = [n for n in names if n not in keys]
    # floats break ties between rows with equal keys (the repeated
    # wall-clock hour of a fall-back DST change, for one)
    order = [(k, "ascending") for k in keys + floats]
    got, expected = got.sort_by(order), expected.sort_by(order)
    for k in keys:
        if not got.column(k).equals(expected.column(k)):
            return f"column {k} differs"
    for f in floats:
        a = got.column(f).to_numpy(zero_copy_only=False)
        b = expected.column(f).to_numpy(zero_copy_only=False)
        if not np.array_equal(np.isnan(a), np.isnan(b)):
            return f"column {f} nulls differ"
        ok = np.isclose(a, b, rtol=rel_tol, atol=0.0, equal_nan=True)
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {f} row {i}: {a[i]!r} vs {b[i]!r}"
    return None
