"""Per-job correctness gate.

Results are compared in the canonical, order-insensitive form of the
repository's DuckDB-parity test (``tests/test_oracle_parity.py``):
columns sorted by name, each value tagged by type (floats by exact
``repr``), rows sorted. ``perfbench/tests/test_perfbench_check.py`` pins this copy
to the test's own ``_normalize``.
"""

from __future__ import annotations

import math


def _canon(v):
    if v is None:
        return ("\x00null",)
    if isinstance(v, bool):
        return ("b", int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    return ("s", str(v))


def normalize(rows, columns) -> list[tuple]:
    """Sort columns by name, canonicalize values, sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def to_json(norm: list[tuple]) -> list:
    """JSON-storable form of :func:`normalize` output (tuples -> lists)."""

    def conv(x):
        return [conv(y) for y in x] if isinstance(x, (list, tuple)) else x

    return conv(norm)


def compare(expected: dict, columns, rows) -> str | None:
    """None when ``rows`` match ``expected`` ({"columns", "rows"} with rows
    already normalized and JSON-converted); otherwise a one-line reason."""
    if sorted(columns) != sorted(expected["columns"]):
        return f"columns {sorted(columns)} != {sorted(expected['columns'])}"
    if len(rows) != len(expected["rows"]):
        return f"row count {len(rows)} != {len(expected['rows'])}"
    got = to_json(normalize(rows, list(columns)))
    for i, (g, w) in enumerate(zip(got, expected["rows"])):
        if g != w:
            return f"sorted row {i}: got {g} want {w}"
    return None
