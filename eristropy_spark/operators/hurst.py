"""Hurst exponent via rescaled-range (R/S) analysis — Hurst 1951 /
Mandelbrot & Wallis 1969: the long-range-dependence diagnostic
(H ≈ 0.5 random walk increments, H > 0.5 persistent/trending,
H < 0.5 mean-reverting).

Per signal: for each dyadic window size s (min_size, 2·min_size, …
while 2s <= n) the series splits into floor(n/s) consecutive blocks;
each block contributes R/S = (range of the cumulative mean-adjusted
sum) / (sample std); RS(s) = mean over blocks.  H = least-squares
slope of ln RS(s) vs ln s.

Determinism contract (the repo's quantize-then-derive rule): block
means are exact (integer token sums / s); the cumulative-deviation
scan is a sequential fold (np.cumsum ≡ an ORDER BY-ed running SQL
sum, bit-for-bit); the only engine-ordered float reduction — the
block std — is absorbed by quantizing RS(s) to the 6-dp grid BEFORE
the log-log fit, whose sums then fold sequentially in size order.
An independent DuckDB replay therefore reproduces H exactly.

Scale shape: zero shuffle — one mapInArrow boundary over the array
row layout; O(n·#sizes) work per signal (each size is one linear
pass), trivially bounded.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, StructField

from eristropy_spark.functions.entropy_arrow import map_signals

__all__ = ["hurst_points", "hurst_rs"]


def _r6(v: float) -> float:
    return math.floor(v * 1000000.0 + 0.5) / 1000000.0


def hurst_rs(x, min_size: int = 4) -> tuple[int, float | None]:
    """(n_sizes, H) of one sequence; H is None with fewer than two
    valid dyadic sizes (series too short) or a degenerate fit."""
    import numpy as np

    x = np.ascontiguousarray(x, dtype=np.float64)
    n = x.size
    pts: list[tuple[float, float]] = []
    s = min_size
    while 2 * s <= n:
        nb = n // s
        acc = 0.0
        k = 0
        for b in range(nb):
            xb = x[b * s:(b + 1) * s]
            mu = float(xb.sum()) / s
            dev = xb - mu
            var = float(dev @ dev) / (s - 1)
            if var <= 0.0:
                continue
            y = np.cumsum(dev)
            r = float(y.max()) - float(y.min())
            acc += r / math.sqrt(var)
            k += 1
        if k:
            rs = _r6(acc / k)
            if rs > 0.0:
                pts.append((math.log(float(s)), math.log(rs)))
        s *= 2
    if len(pts) < 2:
        return len(pts), None
    kk = float(len(pts))
    sx = sy = sxy = sxx = 0.0
    for a, b in pts:  # size-ascending, sequential — matches ORDER BY s
        sx += a
        sy += b
        sxy += a * b
        sxx += a * a
    den = kk * sxx - sx * sx
    if den == 0.0:
        return len(pts), None
    return len(pts), (kk * sxy - sx * sy) / den


def hurst_points(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
    min_size: int = 4,
) -> DataFrame:
    """(``*keep_cols``, n, n_sizes, hurst) — one row per signal."""
    if min_size < 2:
        raise ValueError("min_size must be >= 2 (sample std needs 2 points)")

    def _kernel(views):
        ns: list[int] = []
        ks: list[int] = []
        hs: list[float | None] = []
        for v in views:
            n = 0 if v is None else int(v.size)
            ns.append(n)
            if n == 0:
                ks.append(0)
                hs.append(None)
                continue
            k, h = hurst_rs(v, min_size)
            ks.append(k)
            hs.append(h)
        return None, [ns, ks, hs]

    return map_signals(
        df,
        keep_cols,
        [
            StructField("n", IntegerType()),
            StructField("n_sizes", IntegerType()),
            StructField("hurst", DoubleType()),
        ],
        _kernel,
        (array_col,),
    )
