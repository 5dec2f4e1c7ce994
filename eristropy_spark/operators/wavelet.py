"""Haar wavelet energy spectrum + wavelet entropy per signal — Rosso
et al. 2001 (J. Neurosci. Methods 105:65, "Wavelet entropy: a new tool
for analysis of short duration brain electrical signals").

The scale-domain complement of the engine's period detectors:
``dominant_period`` folds on candidate periods, the wavelet spectrum
bins VARIANCE BY TIME SCALE in one pass — which octave (2, 4, 8, …
samples) carries the signal's energy, and how concentrated is it?
White noise spreads energy ~uniformly (entropy near ln L); a
band-limited rhythm concentrates it (entropy near 0, dominant level =
the octave holding the cycle).  No trigonometry anywhere — libm
sin/cos differ across engines, integer block sums don't (the same
reason dominant_period uses epoch folding).

For level k = 1..L (L = floor(log2 n)), over blocks of 2^k
consecutive tokens (the first floor(n/2^k) complete blocks):

    d_{k,b} = sum(left half of block b) - sum(right half)    (EXACT int)
    E_k     = sum_b d_{k,b}²                                  (EXACT int)
    Ẽ_k     = E_k / 2^k     (unnormalized Haar energy; division by a
                             power of two is EXACT in binary floats)
    p_k     = Ẽ_k / Σ Ẽ      and  H = -Σ p_k ln p_k   (nats)

Determinism contract: every energy is an exact integer divided by a
power of two — bit-identical under any partitioning or engine; the
only order-sensitive float reductions are the two <= L-term sums over
levels, which both the kernel and the SQL replay fold in ascending-k
order (ordered aggregates).  E_k ≤ n·(2^k·max|token|)² — int64-safe
for billion-token sequences of 32-bit tokens at the levels that
matter; the kernel accumulates in Python ints regardless (no silent
wrap).

Scale shape: zero extra shuffle — one ``mapInArrow`` boundary over
the array row layout, vectorized prefix-sum block math per row.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, StructField

from eristropy_spark.functions.entropy_arrow import map_signals

__all__ = ["wavelet_entropy"]


def haar_spectrum(x, max_level: int = 12):
    """[(level, E_int, e_scaled)] for level = 1..min(L, max_level) of
    an integer sequence; exact integer energies."""
    import numpy as np

    x = np.asarray(x, dtype=np.int64)
    n = x.size
    out = []
    csum = np.concatenate([[0], np.cumsum(x, dtype=np.int64)])
    k = 1
    while (1 << k) <= n and k <= max_level:
        size = 1 << k
        half = size >> 1
        nb = n // size
        starts = np.arange(nb, dtype=np.int64) * size
        left = csum[starts + half] - csum[starts]
        right = csum[starts + size] - csum[starts + half]
        d = (left - right).astype(object)  # python ints: no overflow
        e_int = int(sum(int(v) * int(v) for v in d))
        out.append((k, e_int, float(e_int) / float(size)))
        k += 1
    return out


def wavelet_entropy(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
    max_level: int = 12,
) -> DataFrame:
    """(``*keep_cols``, n, n_levels, h_wavelet, dominant_level,
    p_dominant) — one row per signal.  ``h_wavelet`` is the Shannon
    entropy (nats) of the relative Haar energy distribution;
    ``dominant_level`` the octave (smallest level wins ties) holding
    the largest energy share ``p_dominant``.  Signals with n < 2 or
    zero total detail energy (constant) emit NULL statistics.
    """
    if not 1 <= max_level <= 30:
        raise ValueError(f"max_level must be in 1..30, got {max_level}")

    def _kernel(views):
        ns, nl, hw, dl, pd_ = [], [], [], [], []
        for v in views:
            n = 0 if v is None else int(v.size)
            ns.append(n)
            spec = haar_spectrum(v, max_level) if n >= 2 else []
            nl.append(len(spec))
            # ascending-k folds mirror the SQL ordered aggregates
            total = 0.0
            for _, _, e in spec:
                total = total + e
            if not spec or total <= 0.0:
                hw.append(None)
                dl.append(None)
                pd_.append(None)
                continue
            h = 0.0
            best_k, best_e = spec[0][0], spec[0][2]
            for k, _, e in spec:
                p = e / total
                if p > 0.0:
                    h = h + p * math.log(p)
                if e > best_e:
                    best_k, best_e = k, e
            hw.append(-h)
            dl.append(best_k)
            pd_.append(best_e / total)
        return None, [ns, nl, hw, dl, pd_]

    return map_signals(
        df,
        keep_cols,
        [
            StructField("n", IntegerType()),
            StructField("n_levels", IntegerType()),
            StructField("h_wavelet", DoubleType()),
            StructField("dominant_level", IntegerType()),
            StructField("p_dominant", DoubleType()),
        ],
        _kernel,
        (array_col,),
    )
