"""The one exact scaled division of the engine.

Every ratio a catalog query reports (shares, Jaccard, PMI, chi², KS
distance, conductance) is an exact BIGINT, usually in parts per
million, so Spark and the DuckDB oracle agree row for row. They all
come from ``exact_muldiv``; the oracle SQL restates each formula on
its own, with DuckDB ``//``, and never calls this module.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_WIDE = "decimal(38,0)"


def _factors(x) -> list:
    return list(x) if isinstance(x, (list, tuple)) else [x]


def _product(factors: list) -> Column:
    out = None
    for f in factors:
        f = F.lit(f) if isinstance(f, int) else F.expr(f) if isinstance(f, str) else f
        out = f.cast(_WIDE) if out is None else out * f.cast(_WIDE)
    return out


def exact_muldiv(num, den, scale: int) -> Column:
    """trunc(∏num · scale / ∏den) as a BIGINT Column.

    ``num`` and ``den`` are one factor or a list of them; a factor is
    a Column, a SQL expression string (aggregates included) or an int.
    The quotient truncates toward zero, as Spark ``div`` and DuckDB
    ``//`` do, and a NULL factor gives NULL.

    Headroom: both products are formed as DECIMAL(38,0), so the result
    is exact while |∏num · scale| < 10^38 and |∏den| < 10^38; two
    counts of 10^15 times 10^6 reach 10^36. Past either bound, and
    whenever the quotient does not fit a BIGINT, the query raises
    under ANSI mode (Spark's default; with ANSI off the value is
    NULL): it never returns a wrapped value. The remainder is taken
    off before ``/``, so the decimal division is exact; plain ``div``
    on DECIMAL operands wraps its quotient.
    """
    n = _product([*_factors(num), scale])
    d = _product(_factors(den))
    return ((n - n % d) / d).cast("long")
