"""Multiscale Sample Entropy (MSE) per signal — the Costa curve.

``multiscale_entropy`` implements Costa, Goldberger & Peng 2002 (Phys.
Rev. Lett. 89, "Multiscale entropy analysis of complex physiologic
time series"): z-normalize the signal ONCE, coarse-grain it at scales
s = 1..S by averaging non-overlapping windows of s points (complete
windows only), and compute SampEn(m=2, r=0.2) on each coarse series
with the tolerance FIXED at the scale-1 normalization — the canonical
form, under which white noise's entropy falls with scale while
1/f-type complexity stays flat.  This is the signature multi-
resolution reading of the SampEn kernel the reference engine computes
only at scale 1 (/root/reference/eristropy/utils.py:144-193 — pair
semantics mirrored, code independent).

Engine-exactness (the repo's exact-integer rule): every coarse value
is derived from EXACT int64 sums —

    c_{s,g} = (T_g/s − S/n) / sd,
    sd = √((Q − S²/n) / (n−1)),

with T_g = Σ tokens in window g, S = Σ tokens, Q = Σ tokens² all
exact int64, so each c is ONE fixed IEEE-double expression computed
identically by the NumPy kernel and the DuckDB replay (z-norming then
averaging equals averaging then z-norming — the transform is affine).
The strict |Δ| < r template comparisons therefore flip identically in
both engines, the match counts A and B are exact integers, and
SampEn = −ln(A/B) is one final float op.  Pair convention matches the
repo's SampEn kernel: templates of length m restricted to the first
n_c − 1 positions (boundary-excluded B), strict ``< r``.

Scale shape: ONE ``mapInArrow`` boundary over the array layout (zero
shuffle beyond tokenize's own), O(Σ_s (n/s)²) = O(n²·π²/6) work per
signal — same task-bound class as SampEn itself; long sequences go
through ``operators.windowed`` slicing first, exactly like the other
entropy kernels.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField

from eristropy_spark.functions.entropy_arrow import map_signals

__all__ = ["multiscale_entropy", "mse_one"]


def mse_one(
    x: np.ndarray,
    scales: Sequence[int],
    m: int = 2,
    r: float = 0.2,
) -> list[tuple[int, int, int, int, float | None]]:
    """(scale, n_coarse, b_cnt, a_cnt, sampen) rows for one signal.

    ``x`` is the integer token sequence; coarse values are the fixed
    float expression documented in the module docstring.  Degenerate
    cases (n < 2, zero variance, n_coarse too short, no matches) yield
    b_cnt = a_cnt = 0 and sampen = None — never an error.
    """
    xi = np.asarray(x, dtype=np.int64)
    n = int(xi.size)
    s_sum = int(xi.sum())
    q_sum = int((xi * xi).sum())
    sd = 0.0
    if n >= 2:
        var = (float(q_sum) - float(s_sum) * float(s_sum) / n) / (n - 1)
        sd = math.sqrt(var) if var > 0 else 0.0
    mu = float(s_sum) / n if n else 0.0
    out: list[tuple[int, int, int, int, float | None]] = []
    for s in scales:
        nc = n // s
        if nc < m + 1 or sd == 0.0:
            out.append((s, nc, 0, 0, None))
            continue
        t = xi[: nc * s].reshape(nc, s).sum(axis=1)
        c = (t.astype(np.float64) / float(s) - mu) / sd
        # templates restricted to the first nc-1 positions; strict < r
        c0 = c[: nc - 1]
        c1 = c[1:nc]
        d0 = np.abs(c0[:, None] - c0[None, :]) < r
        d1 = np.abs(c1[:, None] - c1[None, :]) < r
        iu = np.triu_indices(nc - 1, k=1)
        if m == 2:
            b_cnt = int(d0[iu].sum())
            a_cnt = int((d0[iu] & d1[iu]).sum())
        else:  # pragma: no cover - m=2 is the contract configuration
            raise ValueError("mse_one supports m=2 (the Costa default)")
        se = -math.log(a_cnt / b_cnt) if a_cnt > 0 and b_cnt > 0 else None
        out.append((s, nc, b_cnt, a_cnt, se))
    return out


def multiscale_entropy(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
    scales: Sequence[int] = (1, 2, 3),
    m: int = 2,
    r: float = 0.2,
) -> DataFrame:
    """(*keep_cols, scale, n_coarse, b_cnt, a_cnt, sampen) per signal
    and scale — one output row per (signal, scale), NULL sampen where
    the coarse series is too short, constant, or match-free.
    """
    if m != 2:
        raise ValueError("multiscale_entropy supports m=2 (Costa default)")
    if not scales or any(int(s) < 1 for s in scales):
        raise ValueError(f"scales must be positive ints, got {scales!r}")
    scales = [int(s) for s in scales]
    r = float(r)

    def _kernel(views):
        rows: list[int] = []
        cols: tuple[list, ...] = ([], [], [], [], [])
        for i, v in enumerate(views):
            if v is None or v.size == 0:
                continue
            for out_row in mse_one(v, scales, m=m, r=r):
                rows.append(i)
                for col, val in zip(cols, out_row):
                    col.append(val)
        return rows, list(cols)

    return map_signals(
        df,
        keep_cols,
        [
            StructField("scale", IntegerType()),
            StructField("n_coarse", IntegerType()),
            StructField("b_cnt", LongType()),
            StructField("a_cnt", LongType()),
            StructField("sampen", DoubleType()),
        ],
        _kernel,
        (array_col,),
    )
