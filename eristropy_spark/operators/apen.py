"""Approximate-Entropy projection over the array row layout — one
ApEn point per signal (kernels/apen.py; Pincus 1991), the same
zero-shuffle mapInArrow shape as the SampEn/PermEn projection: each
signal is one row carrying its token array, the O(n²·m) kernel runs
vectorized per row, and nothing shuffles beyond the tokenize layout's
own exchange."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, StructField

from eristropy_spark.functions.entropy_arrow import map_signals
from eristropy_spark.kernels.apen import apen, apen_znormed

__all__ = ["apen_points"]


def apen_points(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
    m: int = 1,
    r: float = 0.2,
    normalize: bool = True,
) -> DataFrame:
    """(``*keep_cols``, n, apen) — one row per signal.  ``normalize``
    z-norms each signal first (ddof=1) so ``r`` is in SD units.
    Constant or too-short signals emit NULL apen (never NaN)."""
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    fn = apen_znormed if normalize else apen

    def _kernel(views):
        ns: list[int] = []
        vals: list[float | None] = []
        for v in views:
            n = 0 if v is None else int(v.size)
            ns.append(n)
            if n == 0:
                vals.append(None)
                continue
            a = fn(np.asarray(v, dtype=np.float64), m=m, r=r)
            vals.append(None if math.isnan(a) else a)
        return None, [ns, vals]

    return map_signals(
        df,
        keep_cols,
        [StructField("n", IntegerType()), StructField("apen", DoubleType())],
        _kernel,
        (array_col,),
    )
