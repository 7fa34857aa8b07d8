"""The cross-engine rounding rule: emit a float as an integer via
``floor(x * scale + EPS)``.

Why not ``round(x, k)``: Spark rounds the shortest-decimal repr of a
double HALF_UP while DuckDB rounds the binary double, so exact .x5 ties
(common for integer-ratio formulas) diverge between the engines.  The
floor of the identical double is bit-stable on both, and the 1e-9 nudge
sends exact-tie doubles the same way on both sides.

Why one folded constant: Spark adds ``EPS`` (``0.5 + 1e-9`` folded in
Python) in ONE IEEE addition.  The SQL spelling must be the identical
single addition, ``+ 0.500000001e0``: the shortest round-trip repr of
the folded constant, which DuckDB and Spark SQL both parse to the
bit-identical double (the ``e0`` makes it a DOUBLE, not a DECIMAL).
Spelling it ``+ 0.5 + 1e-9`` is two left-associated additions, up to
1 ulp apart, enough to flip ``floor()`` at the very boundary ties the
nudge exists to pin.

``tools/float_margin_audit.py`` re-runs every oracle carrying
``EPS_SQL`` with the nudge at 0 and at 2e-9 to prove no emitted value
sits near a floor boundary on the test data.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EPS = 0.5 + 1e-9
EPS_SQL = f"{EPS!r}e0"


def floor_eps(col: Column, scale: int = 1) -> Column:
    """``floor(col * scale + EPS)`` as a Spark Column (scale 1 adds no
    multiplication, so the expression tree stays minimal)."""
    if scale != 1:
        col = col * scale
    return F.floor(col + F.lit(EPS))


def floor_eps_sql(expr: str, scale: int = 1) -> str:
    """The same rule as a SQL fragment valid in DuckDB and Spark SQL,
    cast to BIGINT (DuckDB's floor() of a DOUBLE is a DOUBLE)."""
    scaled = f"({expr})" if scale == 1 else f"({expr}) * {scale}"
    return f"CAST(floor({scaled} + {EPS_SQL}) AS BIGINT)"
