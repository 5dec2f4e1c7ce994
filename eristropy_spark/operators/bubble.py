"""Bubble-Entropy projection over the array row layout — one point per
signal (kernels/bubble.py; Manis et al. 2017), the same zero-shuffle
mapInArrow shape as the SampEn/PermEn/ApEn/FuzzyEn projections.  Rank
arithmetic only: no tolerance parameter, no normalization pass."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, StructField

from eristropy_spark.functions.entropy_arrow import map_signals
from eristropy_spark.kernels.bubble import bubble_entropy, swap_renyi2

__all__ = ["bubble_points"]


def bubble_points(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
    m: int = 4,
) -> DataFrame:
    """(``*keep_cols``, n, h_m, h_m1, bubble) — one row per signal.
    Too-short signals (n < m + 1) emit NULLs (never NaN)."""
    if m < 2:
        raise ValueError(f"m must be >= 2, got {m}")

    def _kernel(views):
        ns, hm, hm1, bb = [], [], [], []
        for v in views:
            n = 0 if v is None else int(v.size)
            ns.append(n)
            if n < m + 1:
                hm.append(None)
                hm1.append(None)
                bb.append(None)
                continue
            x = np.asarray(v, dtype=np.float64)
            hm.append(swap_renyi2(x, m))
            hm1.append(swap_renyi2(x, m + 1))
            c = bubble_entropy(x, m=m)
            bb.append(None if math.isnan(c) else c)
        return None, [ns, hm, hm1, bb]

    return map_signals(
        df,
        keep_cols,
        [
            StructField("n", IntegerType()),
            StructField("h_m", DoubleType()),
            StructField("h_m1", DoubleType()),
            StructField("bubble", DoubleType()),
        ],
        _kernel,
        (array_col,),
    )
