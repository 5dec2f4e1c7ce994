"""Token-level alignment similarity between signal pairs.

``align_pairs`` — Levenshtein 1966 (edit distance) and the classic
longest-common-subsequence length (Wagner & Fischer 1974 dp), computed
together over pairs of token sequences:

    edit:  dp[i][j] = min(dp[i-1][j]+1, dp[i][j-1]+1,
                          dp[i-1][j-1] + [u_i != v_j])
    lcs:   dp[i][j] = max(dp[i-1][j], dp[i][j-1],
                          dp[i-1][j-1] + [u_i == v_j])

The token-IDENTITY member of the pair family: DTW tolerates tempo
drift but charges value gaps; edit/LCS charge insert/delete/substitute
events regardless of magnitude — the "same token stream, small edits"
detector a training-data curation pass wants next to MinHash (set
overlap) and DTW (shape).  ``edit_sim = 1 - edit/max(n)`` is the
normalized similarity.

Exactness contract: both dp tables are pure int64 counts, so results
are EXACT and the contract oracle replays both recurrences in SQL —
each unrolled into max_len chained window-function CTEs via the same
entry-point identities the vectorized kernels use:

    edit: dp[i][j] = j + min( i, min_{1<=k<=j}( min(dp[i-1][k]+1,
                          dp[i-1][k-1]+sub(i,k)) - k ) )
          (horizontal moves cost 1 each; k=0 entry = down column 0)
    lcs:  dp[i][j] = runmax_{k<=j}( max(dp[i-1][k],
                          dp[i-1][k-1]+eq(i,k)) )
          (horizontal moves are free; rows are monotone)

Scale shape: identical to ``dtw_pairs`` — pairs form within a small
per-key label set via one self-join, arrays truncate to ``max_len``
BEFORE the join (explicit O(max_len²) per-pair bound, narrow shuffle
rows), and both dp sweeps run vectorized (prefix/running extrema per
row) in ONE ``mapInArrow`` boundary sharing a single pass over the
pair batch.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
)

from eristropy_spark.functions.entropy_arrow import map_signals

__all__ = ["edit_distance_kernel", "lcs_kernel", "align_pairs"]


def edit_distance_kernel(u: np.ndarray, v: np.ndarray) -> int:
    """Exact Levenshtein distance via the row-sweep min-plus identity
    (prefix index + running min per row; all int64)."""
    u = np.asarray(u, dtype=np.int64)
    v = np.asarray(v, dtype=np.int64)
    la, lb = u.size, v.size
    if la == 0:
        return int(lb)
    if lb == 0:
        return int(la)
    prev = np.arange(1, lb + 1, dtype=np.int64)  # dp[0][j] = j
    j1 = np.arange(1, lb + 1, dtype=np.int64)
    for i in range(1, la + 1):
        sub = (u[i - 1] != v).astype(np.int64)
        prev_shift = np.concatenate(([np.int64(i - 1)], prev[:-1]))
        f = np.minimum(prev + 1, prev_shift + sub)
        run = np.minimum.accumulate(f - j1)
        prev = j1 + np.minimum(run, np.int64(i))
    return int(prev[-1])


def lcs_kernel(u: np.ndarray, v: np.ndarray) -> int:
    """Exact LCS length via the row-sweep running-max identity
    (rows are monotone, horizontal moves free; all int64)."""
    u = np.asarray(u, dtype=np.int64)
    v = np.asarray(v, dtype=np.int64)
    la, lb = u.size, v.size
    if la == 0 or lb == 0:
        return 0
    prev = np.zeros(lb, dtype=np.int64)
    for i in range(1, la + 1):
        eq = (u[i - 1] == v).astype(np.int64)
        prev_shift = np.concatenate(([np.int64(0)], prev[:-1]))
        prev = np.maximum.accumulate(np.maximum(prev, prev_shift + eq))
    return int(prev[-1])


def align_pairs(
    df: DataFrame,
    key_col: str = "user",
    label_col: str = "source",
    array_col: str = "tokens",
    max_len: int = 64,
) -> DataFrame:
    """(key, src_a, src_b, n_a, n_b, edit_dist, lcs_len, edit_sim) —
    one row per unordered label pair (src_a < src_b) within each key.

    ``edit_dist``/``lcs_len`` are exact int64 over the first
    ``max_len`` tokens of each sequence; ``edit_sim = 1 -
    edit_dist / max(n_a, n_b)`` (NULL when both sides are empty).
    """
    if max_len < 1:
        raise ValueError(f"max_len must be >= 1, got {max_len}")
    trunc = F.slice(F.col(array_col), 1, max_len)
    a = df.select(
        F.col(key_col).alias("key"),
        F.col(label_col).alias("src_a"),
        trunc.alias("_u"),
    )
    b = df.select(
        F.col(key_col).alias("key"),
        F.col(label_col).alias("src_b"),
        trunc.alias("_v"),
    )
    pairs = a.join(b, "key").filter(F.col("src_a") < F.col("src_b"))

    def _kernel(us, vs):
        n_a: list[int] = []
        n_b: list[int] = []
        eds: list[int] = []
        lcss: list[int] = []
        sims: list[float | None] = []
        for u, v in zip(us, vs):
            u = np.empty(0, dtype=np.int64) if u is None else u
            v = np.empty(0, dtype=np.int64) if v is None else v
            nu, nv = int(u.size), int(v.size)
            n_a.append(nu)
            n_b.append(nv)
            ed = edit_distance_kernel(u, v)
            eds.append(ed)
            lcss.append(lcs_kernel(u, v))
            mx = max(nu, nv)
            sims.append(None if mx == 0 else 1.0 - ed / mx)
        return None, [n_a, n_b, eds, lcss, sims]

    return map_signals(
        pairs,
        ("key", "src_a", "src_b"),
        [
            StructField("n_a", IntegerType()),
            StructField("n_b", IntegerType()),
            StructField("edit_dist", LongType()),
            StructField("lcs_len", LongType()),
            StructField("edit_sim", DoubleType()),
        ],
        _kernel,
        ("_u", "_v"),
    )
