"""Output checks, computed apart from the engine.

Result sets are compared as sorted rows of rendered cells, columns in
name order. Rendering follows the pandas form the repository's oracle
gate compares: an integer column that holds a NULL, and a DuckDB HUGEINT
column, render as floats ("50.0"), so an int-vs-float disagreement in
the engine's output shows as a mismatch rather than being hidden.
"""

from __future__ import annotations

import datetime
import decimal

_INT_DUCK = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
_INT_SPARK = {"byte", "short", "int", "bigint", "long", "tinyint", "smallint"}


def _cell(v, as_float: bool) -> str:
    if v is None:
        return "None"
    if as_float and isinstance(v, int) and not isinstance(v, bool):
        return str(float(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canonical(columns: list[str], rows: list[tuple], float_cols: set[str]) -> tuple[list, list]:
    """(sorted column names, sorted rendered rows)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    names = [columns[i] for i in order]
    out = sorted(tuple(_cell(r[i], columns[i] in float_cols) for i in order) for r in rows)
    return names, out


def _nullable_ints(columns, rows, int_cols) -> set[str]:
    return {c for i, c in enumerate(columns) if c in int_cols and any(r[i] is None for r in rows)}


def spark_canonical(df, rows: list) -> tuple[list, list]:
    """Render the collected `rows` of DataFrame `df`."""
    columns = df.columns
    ints = {f.name for f in df.schema.fields if f.dataType.simpleString() in _INT_SPARK}
    rows = [tuple(r) for r in rows]
    return canonical(columns, rows, _nullable_ints(columns, rows, ints))


def duck_canonical(con, sql: str) -> tuple[list, list]:
    """Run `sql` on DuckDB and render the result."""
    rel = con.sql(sql)
    columns = rel.columns
    types = [str(t).upper() for t in rel.types]
    rows = rel.fetchall()
    ints = {c for c, t in zip(columns, types) if t in _INT_DUCK}
    floats = {c for c, t in zip(columns, types) if t == "HUGEINT"}
    return canonical(columns, rows, floats | _nullable_ints(columns, rows, ints))


def diff(got: tuple[list, list], want: tuple[list, list]) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"{len(got[1])} rows != {len(want[1])}"
    for a, b in zip(got[1], want[1]):
        if a != b:
            return f"row {a} != {b}"
    return None


def json_rows(records: list[dict], columns: list[str]) -> tuple[list, list]:
    """Render JSON records (as the HTTP route returns them) like a
    result set with the given columns; absent keys are NULL."""
    rows = [tuple(r.get(c) for c in columns) for r in records]
    return canonical(columns, rows, set())


class Tally:
    """Attempted and failed operations, and the first few failure notes."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, note: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 5:
                self.notes.append(note)


def money(x) -> decimal.Decimal:
    """A cents-valued double as an exact Decimal."""
    return decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.01"))
