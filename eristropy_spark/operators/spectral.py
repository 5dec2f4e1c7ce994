"""Walsh–Hadamard power spectrum + spectral entropy per signal.

The frequency-domain complement of the engine's regularity kernels
(SampEn/PermEn are phase-space; ``wavelet_entropy`` is scale-domain;
``dominant_period`` is a point probe on candidate periods).  Spectral
entropy over a FOURIER basis needs libm trig, whose last-ulp behavior
differs across engines — the classic reason frequency operators can't
be hash-verified.  The Walsh–Hadamard transform (WHT) sidesteps that:
its basis functions are ±1 square waves, so every coefficient is an
EXACT signed integer sum of the tokens,

    c_j = Σ_i (-1)^{popcount(i & j)} · x_i ,    j = 0 .. n'-1 ,

over the first n' = 2^⌊log2 n⌋ tokens (capped at ``2^max_log2``).
Power spectrum: e_j = c_j² for j ≥ 1 (DC excluded — j=0 is the total
sum, i.e. the mean; excluding it makes the spectrum level-invariant,
mirroring classical spectral entropy on the demeaned series).  Then

    p_j = e_j / Σe ,   H = -Σ p_j ln p_j      (nats, ascending-j fold)

White noise spreads power across all n'-1 sequencies (H near
ln(n'-1)); a periodic/structured signal concentrates it (H small,
``dominant_j`` = the Walsh index in natural/Hadamard order carrying
the largest share ``p_dominant``; smallest index wins ties).

Determinism contract: coefficients and energies are exact integers
(Python-int squaring — no silent int64 wrap), so the spectrum is
bit-identical under any partitioning or engine; the only float steps
are one HUGEINT→DOUBLE cast pair per level plus the two ≤ n'-term
ordered folds (total in exact ints; entropy folded ascending-j, the
same order the SQL replay's ordered aggregate uses).  The butterfly
runs in int64 when n'·max|x| < 2^62 (vectorized), else falls back to
exact object-int math.

Scale shape: zero extra shuffle — one ``mapInArrow`` boundary over the
array row layout; O(n' log n') butterfly per row, n' capped (default
4096) so the per-row cost is bounded regardless of sequence length.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, StructField

from eristropy_spark.functions.entropy_arrow import map_signals

__all__ = ["wht_spectrum", "spectral_entropy_wht"]


def wht_spectrum(x, max_log2: int = 12):
    """[(j, e_int)] for j = 1..n'-1 — exact Walsh–Hadamard energies of
    the first n' = 2^⌊log2 len(x)⌋ (≤ 2^max_log2) values.  Empty for
    len(x) < 2."""
    import numpy as np

    x = np.asarray(x, dtype=np.int64)
    n = int(x.size)
    if n < 2:
        return []
    lg = min(n.bit_length() - 1, max_log2)
    np_ = 1 << lg
    v = x[:np_]
    max_abs = int(np.abs(v).max()) if np_ else 0
    if max_abs * np_ < 2**62:
        a = v.copy()
        h = 1
        while h < np_:
            a = a.reshape(-1, 2 * h)
            left, right = a[:, :h].copy(), a[:, h:].copy()
            a[:, :h] = left + right
            a[:, h:] = left - right
            a = a.reshape(-1)
            h *= 2
        coefs = [int(c) for c in a]
    else:  # exact slow path: object-int butterfly, no wrap possible
        a = [int(t) for t in v]
        h = 1
        while h < np_:
            for s in range(0, np_, 2 * h):
                for i in range(s, s + h):
                    l, r = a[i], a[i + h]
                    a[i], a[i + h] = l + r, l - r
            h *= 2
        coefs = a
    return [(j, coefs[j] * coefs[j]) for j in range(1, np_)]


def spectral_entropy_wht(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
    max_log2: int = 12,
) -> DataFrame:
    """(``*keep_cols``, n, n_fft, h_spectral, dominant_j, p_dominant)
    — one row per signal.  ``n_fft`` = n' (the analyzed power-of-two
    prefix length); ``h_spectral`` the Shannon entropy (nats) of the
    relative Walsh power distribution over j = 1..n'-1; ``dominant_j``
    the natural-order Walsh index holding the largest share
    ``p_dominant``.  Signals with n < 2 or zero AC power (constant
    prefix) emit NULL statistics.
    """
    if not 1 <= max_log2 <= 20:
        raise ValueError(f"max_log2 must be in 1..20, got {max_log2}")

    def _kernel(views):
        ns, nf, hs, dj, pd_ = [], [], [], [], []
        for v in views:
            n = 0 if v is None else int(v.size)
            ns.append(n)
            spec = wht_spectrum(v, max_log2) if n >= 2 else []
            nf.append((len(spec) + 1) if spec else (1 if n >= 1 else 0))
            total = 0
            for _, e in spec:  # exact int total (order-free)
                total += e
            if not spec or total == 0:
                hs.append(None)
                dj.append(None)
                pd_.append(None)
                continue
            ftot = float(total)
            h = 0.0
            best_j, best_e = spec[0][0], spec[0][1]
            for j, e in spec:  # ascending-j fold = SQL ordered agg
                p = float(e) / ftot
                if p > 0.0:
                    h = h + p * math.log(p)
                if e > best_e:
                    best_j, best_e = j, e
            hs.append(-h)
            dj.append(best_j)
            pd_.append(float(best_e) / ftot)
        return None, [ns, nf, hs, dj, pd_]

    return map_signals(
        df,
        keep_cols,
        [
            StructField("n", IntegerType()),
            StructField("n_fft", IntegerType()),
            StructField("h_spectral", DoubleType()),
            StructField("dominant_j", IntegerType()),
            StructField("p_dominant", DoubleType()),
        ],
        _kernel,
        (array_col,),
    )
