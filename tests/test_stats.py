"""functions/stats.py: the scipy-free quantile constants feeding the
BH-FDR gate (a22), pinned against published tables; and
functions/exact.py's exact_muldiv, checked against Python Fractions."""

import functools
import math
import random
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from information_extraction_spark.functions.stats import (
    bh_crit_ppm,
    chi2_1_crit,
    inv_norm_cdf,
)


def test_inv_norm_cdf_known_quantiles():
    # Published z-values (Abramowitz & Stegun table precision).
    for p, z in [
        (0.975, 1.959964),
        (0.95, 1.644854),
        (0.999, 3.090232),
        (0.5, 0.0),
        (0.025, -1.959964),
        (0.001, -3.090232),
    ]:
        assert math.isclose(inv_norm_cdf(p), z, abs_tol=5e-6), p


def test_chi2_1_crit_published_values():
    for q, x in [(0.05, 3.841459), (0.01, 6.634897), (0.001, 10.827566)]:
        assert math.isclose(chi2_1_crit(q), x, abs_tol=5e-6), q


def test_bh_table_monotone_and_endpoints():
    t = bh_crit_ppm(50, alpha=0.05)
    assert len(t) == 50 and t[0][0] == 1 and t[-1][0] == 50
    # Rank-m threshold equals the raw-alpha critical value; thresholds
    # strictly decrease as the rank (allowed p) grows.
    assert t[-1][1] == 3841459
    crits = [c for _, c in t]
    assert all(a > b for a, b in zip(crits, crits[1:]))


# --- exact_muldiv: the engine's one scaled division ---------------------------

_BIG = 2**63


def _trunc(q: Fraction) -> int:
    """Python's Fraction quotient truncated toward zero."""
    t = abs(q.numerator) // q.denominator
    return t if q >= 0 else -t


def _operand(rng: random.Random, nonzero: bool = False) -> int:
    """A BIGINT of uniformly drawn bit length, either sign."""
    v = rng.getrandbits(rng.randint(1, 63))
    if nonzero and v == 0:
        v = 1
    return -v if rng.random() < 0.4 else v


def _muldiv_cases(seed: int):
    """(num, den, scale, expected) for seeded operands across the full
    BIGINT range: expected is the truncated quotient when it is within
    the stated headroom, else None (the helper must raise)."""
    rng = random.Random(seed)
    fits, over = [], []
    while len(fits) < 2100:
        num = [_operand(rng) for _ in range(rng.randint(1, 3))]
        den = [_operand(rng, nonzero=True) for _ in range(rng.randint(1, 3))]
        scale = rng.choice([1, 20, 1000, 1_000_000])
        n, d = math.prod(num) * scale, math.prod(den)
        q = _trunc(Fraction(n, d))
        ok = abs(n) < 10**38 and abs(d) < 10**38 and -_BIG <= q < _BIG
        (fits if ok else over).append((num, den, scale, q if ok else None))
    return fits, over


def _muldiv_frame(spark, kn, kd, scale, rows):
    """exact_muldiv over rows (n0.., d0.., i): names for the dividend
    factors, Columns for the divisors."""
    from information_extraction_spark.functions.exact import exact_muldiv

    num = [f"n{i}" for i in range(kn)]
    den = [f"d{i}" for i in range(kd)]
    df = spark.createDataFrame(
        rows, ", ".join(f"{c} long" for c in num + den + ["i"])
    )
    return df.select(
        "i", exact_muldiv(num, [F.col(c) for c in den], scale).alias("q")
    )


def test_exact_muldiv_matches_fraction_across_bigint_range(spark):
    """2,100 seeded cases, one to three factors on each side, negative
    dividends and divisors: every result equals the Fraction quotient
    truncated toward zero."""
    fits, _ = _muldiv_cases(20261019)
    shapes: dict = {}
    for i, (num, den, scale, q) in enumerate(fits):
        shapes.setdefault((len(num), len(den), scale), []).append(
            (*num, *den, i)
        )
    frames = [
        _muldiv_frame(spark, kn, kd, scale, rows)
        for (kn, kd, scale), rows in shapes.items()
    ]
    got = dict(functools.reduce(lambda a, b: a.unionByName(b), frames).collect())
    assert len(shapes) == 36 and len(got) == len(fits)
    assert [got[i] for i in range(len(fits))] == [c[3] for c in fits]
    assert any(c[3] < 0 for c in fits) and any(len(c[0]) == 3 for c in fits)


def test_exact_muldiv_raises_instead_of_wrapping(spark):
    """Past the headroom, or when the quotient leaves BIGINT, the query
    raises; it never returns a value."""
    from pyspark.errors import ArithmeticException

    _, over = _muldiv_cases(20261019)
    quotient = [
        c for c in over
        if abs(math.prod(c[0]) * c[2]) < 10**38 and abs(math.prod(c[1])) < 10**38
    ]
    cases = quotient[:6] + [c for c in over if c not in quotient][:6]
    cases.append(([_BIG - 1, _BIG - 1], [3], 1, None))  # 2.8e37: fits, q does not
    for num, den, scale, _q in cases:
        df = _muldiv_frame(spark, len(num), len(den), scale, [(*num, *den, 0)])
        with pytest.raises(ArithmeticException):
            df.collect()
