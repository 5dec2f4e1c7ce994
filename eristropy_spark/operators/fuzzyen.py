"""Fuzzy-Entropy projection over the array row layout — one FuzzyEn
point per signal (kernels/fuzzyen.py; Chen et al. 2007), the same
zero-shuffle mapInArrow shape as the SampEn/PermEn/ApEn projections:
each signal is one row carrying its token array, the O(n²·m) kernel
runs vectorized per row, and nothing shuffles beyond the tokenize
layout's own exchange."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, StructField

from eristropy_spark.functions.entropy_arrow import map_signals
from eristropy_spark.kernels.fuzzyen import fuzzyen, fuzzyen_znormed

__all__ = ["fuzzyen_points"]


def fuzzyen_points(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
    m: int = 2,
    r: float = 0.2,
    normalize: bool = True,
) -> DataFrame:
    """(``*keep_cols``, n, fuzzyen) — one row per signal.
    ``normalize`` z-norms each signal first (ddof=1).  Constant or
    too-short signals emit NULL fuzzyen (never NaN)."""
    if m < 2:
        raise ValueError(f"m must be >= 2, got {m}")
    fn = fuzzyen_znormed if normalize else fuzzyen

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
        [StructField("n", IntegerType()), StructField("fuzzyen", DoubleType())],
        _kernel,
        (array_col,),
    )
