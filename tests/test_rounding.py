"""The NumPy HALF_UP replicas agree with their Decimal oracle at large
magnitudes, where the product error of ``y * 10**scale`` outgrows a fixed
.5-boundary window."""

from __future__ import annotations

import numpy as np
import pytest

from prefect_flow_arc_indexer_spark.functions.rounding import (
    _decimal_round,
    spark_round_half_up,
    spark_round_half_up_long,
)


def _cases(scale: int) -> np.ndarray:
    """Values whose ``|y * 10**scale|`` spans 1e9..1e15: random ones, and
    engineered .5 boundaries written in decimal (their binary value sits a
    fraction of an ulp off the boundary) with their float neighbours."""
    rng = np.random.default_rng(scale)
    out = []
    for mag in range(9, 15):
        ys = rng.uniform(10.0**mag, 10.0**(mag + 1), 200)
        out.extend(ys / 10.0**scale)
        for k in rng.integers(10**mag, 10**(mag + 1), 50):
            half = float(f"{k}5e-{scale + 1}")
            out.extend(
                [half, np.nextafter(half, 0.0), np.nextafter(half, np.inf)]
            )
    out = np.array(out)
    return np.concatenate([out, -out])


@pytest.mark.parametrize("scale", [0, 2, 6])
def test_round_half_up_matches_decimal_at_large_magnitudes(scale):
    y = _cases(scale)
    want = np.array([_decimal_round(float(v), scale) for v in y])
    got = spark_round_half_up(y, scale)
    bad = np.nonzero(got != want)[0]
    assert bad.size == 0, [(repr(y[i]), got[i], want[i]) for i in bad[:5]]


def test_round_half_up_long_matches_decimal_at_large_magnitudes():
    y = _cases(0)
    want = np.array([int(_decimal_round(float(v), 0)) for v in y])
    got = spark_round_half_up_long(y)
    assert got.dtype == np.int64
    bad = np.nonzero(got != want)[0]
    assert bad.size == 0, [(repr(y[i]), got[i], want[i]) for i in bad[:5]]


def test_round_half_up_edge_values():
    empty = np.array([], dtype=np.float64)
    assert spark_round_half_up(empty, 6).shape == (0,)
    assert spark_round_half_up_long(empty).shape == (0,)

    got = spark_round_half_up(np.array([np.nan, -0.0, 2.5e9 + 0.5]), 0)
    assert np.isnan(got[0])
    # Java BigDecimal has no signed zero: -0.0 rounds to +0.0
    assert got[1] == 0.0 and not np.signbit(got[1])
    assert got[2] == _decimal_round(2.5e9 + 0.5, 0)
    assert np.isnan(_decimal_round(float("nan"), 0))

    # a NaN does not disturb its neighbours in the long form
    with np.errstate(invalid="ignore"):
        got = spark_round_half_up_long(np.array([-0.0, np.nan, -2.5e9 - 0.5]))
    assert got[0] == 0 and got[2] == int(_decimal_round(-2.5e9 - 0.5, 0))
