"""The two cross-engine rules for turning a double into an integer, each
spelled once here so Spark and its DuckDB oracle agree bit for bit.

Money is exact integer cents, ``round(x * 100)`` cast to BIGINT
(``cents`` / ``cents_sql``).  Bigint sums do not depend on aggregation
order, so a Spark sum over any partitioning equals its DuckDB oracle
bit for bit, where a double sum can differ in the last ulp and land on
the other side of a half-cent.  Rounding to an integer is engine-stable,
unlike ``round(x, k)``: a double whose shortest repr is ``k.5`` is
exactly ``k.5``, and both engines round that half away from zero.

Other scaled values use ``floor(x * scale + EPS)`` (``floor_eps`` /
``floor_eps_sql``).  Why not ``round(x, k)``: Spark rounds the
shortest-decimal repr of a double HALF_UP while DuckDB rounds the binary
double, so exact .x5 ties (common for integer-ratio formulas) diverge
between the engines.  The floor of the identical double is bit-stable on
both, and the 1e-9 nudge sends exact-tie doubles the same way on both
sides.

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


def cents(col: Column) -> Column:
    """Money as exact integer cents: ``round(col * 100)`` as a long."""
    return F.round(col * 100).cast("long")


def cents_sql(expr: str) -> str:
    """The same rule as a SQL fragment valid in DuckDB and Spark SQL.
    Unlike ``floor_eps_sql`` it adds no parentheses, so a caller passing
    an operator of lower precedence than ``*`` (a sum, ``a + b``) must
    parenthesise it."""
    return f"CAST(round({expr} * 100) AS BIGINT)"
