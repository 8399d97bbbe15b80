"""Spark SQL text for literal-heavy expressions.

Each ``F.lit`` is a Py4J round trip, so a Column built from hundreds of
literals (a bin-coordinate array, a quantile grid, a chain of boundary
comparisons) costs the driver 50-300 ms before any job runs.  The same
expression written as SQL text is one ``F.expr`` call and parses to the same
Catalyst tree.  Doubles print exactly: ``repr`` is the shortest string that
round-trips, and the ``D`` suffix makes it a DOUBLE literal (a bare ``0.1``
would parse as DECIMAL).
"""

from __future__ import annotations

import math
from typing import Iterable

_NON_FINITE = {math.inf: "Infinity", -math.inf: "-Infinity"}


def sql_double(x: float) -> str:
    """The DOUBLE literal ``x``, bit for bit (signed zero and non-finite
    values included)."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    return f"CAST('{_NON_FINITE.get(x, 'NaN')}' AS DOUBLE)"


def sql_doubles(xs: Iterable[float]) -> str:
    """An ``array<double>`` literal of ``xs`` in order."""
    return "array(" + ", ".join(map(sql_double, xs)) + ")"


def sql_longs(xs: Iterable[int]) -> str:
    """An ``array<bigint>`` literal of ``xs`` in order."""
    return "array(" + ", ".join(f"{int(x)}L" for x in xs) + ")"
