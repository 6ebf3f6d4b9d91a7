"""Bit-exact NumPy replica of Catalyst ``round(double, scale)`` (HALF_UP),
for Arrow kernels that must reproduce JVM-rounded values exactly.

Catalyst's Round on a double builds ``BigDecimal.valueOf(d)`` — the
SHORTEST decimal representation (``Double.toString``), not the exact
binary expansion — and half-up rounds that. Python's ``repr(float)`` is
the same shortest round-trip representation, so
``Decimal(repr(x)).quantize(..., ROUND_HALF_UP)`` reproduces it digit for
digit (verified bitwise against Spark 4.1 on 6200 cases including
engineered half-boundaries; the one divergence class is the sign of zero —
Java BigDecimal has no signed zero, so results are normalized with
``+ 0.0``).

The vectorized fast path (``floor(y*10^s + 0.5)`` sign-aware) agrees with
the decimal semantics except within a tiny window of the .5 boundaries
(binary product error vs decimal shifting); values inside the window are
re-evaluated through Decimal. The window is 1e-4 of a unit in the rounded
digit, or 2**-44 of the scaled value where that is wider: the product
error that can move a value across a boundary is a few ulps of the scaled
value, which outgrows the fixed window above ~5e11 (and from 2**52 every
double is an integer, so ``ys + 0.5`` itself rounds). Below ~1.8e9 the
fixed window is the wider one.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np

_BOUNDARY_WINDOW = 1e-4


def _decimal_round(x: float, scale: int) -> float:
    d = Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
    )
    return float(d) + 0.0


def _near_half(ys: np.ndarray) -> np.ndarray:
    """The elements of ``ys`` too close to a .5 boundary for the fast path."""
    frac = np.abs(ys - np.trunc(ys))
    window = np.maximum(_BOUNDARY_WINDOW, np.abs(ys) * 2.0**-44)
    return np.abs(frac - 0.5) < window


def spark_round_half_up(y: np.ndarray, scale: int) -> np.ndarray:
    """round(y, scale) for a float64 array, bit-identical to Spark."""
    s = float(10**scale)
    ys = y * s
    fast = np.where(ys >= 0, np.floor(ys + 0.5), np.ceil(ys - 0.5))
    out = fast / s + 0.0
    sus = _near_half(ys)
    if sus.any():
        for i in np.nonzero(sus)[0]:
            out[i] = _decimal_round(float(y[i]), scale)
    return out


def spark_round_half_up_long(y: np.ndarray) -> np.ndarray:
    """``round(y).cast('bigint')`` for a float64 array, bit-identical to
    Spark (scale 0, result as int64)."""
    fast = np.where(y >= 0, np.floor(y + 0.5), np.ceil(y - 0.5))
    sus = _near_half(y)
    if sus.any():
        fast = fast.copy()
        for i in np.nonzero(sus)[0]:
            fast[i] = float(
                Decimal(repr(float(y[i]))).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
    return fast.astype(np.int64)
