"""Lempel–Ziv sequence complexity per signal.

``lz_complexity`` — the LZ76 exhaustive-history phrase count (Lempel &
Ziv 1976, IEEE IT-22; production algorithm: Kaspar & Schuster 1987,
Phys. Rev. A 36): scan the sequence left to right, and end the current
phrase at the first position q where the phrase x[p..q] does NOT occur
as a substring of x[..q−1] (reproduction with self-overlap — the match
may extend into the growing phrase, just never reach q).  The phrase
count c, with the normalization c·ln(n)/(n·ln(α)) over alphabet size
α, is the classic randomness/compressibility score of the EEG and
symbolic-dynamics literature — deterministic or templated sequences
give c ≪ n/log n, i.i.d. sequences approach 1 after normalization.
Complements the statistical entropies (SampEn/PermEn/renyi/markov):
LZ76 sees ALGORITHMIC structure (e.g. a de Bruijn sequence has maximal
unigram/bigram entropy but low LZ76).

Exactness: the phrase count is a pure integer computed by integer
comparisons — no floats anywhere until the final normalization, which
is one fixed expression (c·ln n)/(n·ln α) quantized to 6 dp.  The SQL
replay encodes tokens fixed-width (',' + 10-digit offset decimal, so
every substring match is token-aligned), marks each candidate phrase
(p, q) novel via ``contains`` over the length-(q−1) prefix, and walks
the greedy parse with a recursive CTE over the per-position jump
table — phrase-for-phrase identical to the kernel.

Scale shape: ONE ``mapInArrow`` boundary over the array layout; the
kernel is O(n²·L̄) integer comparisons per signal (same task-bound
class as SampEn's O(n²); long sequences go through
``operators.windowed`` slicing, exactly like the entropy kernels).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, StructField

from eristropy_spark.functions.entropy_arrow import map_signals

__all__ = ["lz_complexity", "lz76_phrases", "lz76_phrases_fast", "match_lengths", "lz_entropy_rate"]


def lz76_phrases(x: np.ndarray) -> int:
    """Exhaustive-history LZ76 phrase count of a 1-D integer array.

    Definition-direct form: phrase x[p..q] ends at the smallest q such
    that x[p..q] does not occur in x[0..q−1] (occurrence start may be
    any i < p; the match may overlap the phrase, never reaching q).
    A final phrase whose every extension still reproduces counts as
    one phrase.  Agreement with the Kaspar–Schuster pointer algorithm
    is pinned by test.
    """
    n = int(x.size)
    p = 0
    c = 0
    while p < n:
        q = p
        advanced = False
        while q < n:
            L = q - p + 1
            # does x[p:q+1] occur in x[0:q] (starts i = 0..p−1)?
            occurs = False
            for i in range(p):
                if i + L <= q and np.array_equal(x[i : i + L], x[p : q + 1]):
                    occurs = True
                    break
            if not occurs:
                c += 1
                p = q + 1
                advanced = True
                break
            q += 1
        if not advanced:
            c += 1  # suffix fully reproducible — terminal phrase
            break
    return c


def lz76_phrases_fast(x: np.ndarray) -> int:
    """Same parse as ``lz76_phrases`` via C-speed substring search:
    tokens encode fixed-width (',' + 10-digit offset decimal — the
    SAME encoding the SQL oracle uses), so ``str.find`` over the
    length-(q−1) prefix answers "does x[p..q] occur earlier?" with
    comma-anchored alignment (a match starting with ',' can only sit
    on an 11-char boundary).  O(n²·L̄) like the reference loop but in
    memchr-accelerated C instead of per-window Python; equivalence is
    fuzz-pinned in tests."""
    n = int(x.size)
    s = "".join(f",{int(t) + 2147483648:010d}" for t in x)
    w = 11
    p = 0
    c = 0
    while p < n:
        q = p
        advanced = False
        while q < n:
            if s[: q * w].find(s[p * w : (q + 1) * w]) == -1:
                c += 1
                p = q + 1
                advanced = True
                break
            q += 1
        if not advanced:
            c += 1
            break
    return c


def lz_complexity(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """(*keep_cols, n, alpha, c, c_norm) — one row per signal.  ``c``
    is the LZ76 phrase count (0 for empty signals), ``alpha`` the
    alphabet size (distinct tokens), and

        c_norm = (c · ln n) / (n · ln α)

    the Kaspar–Schuster normalized complexity (NULL when n < 2 or
    α < 2, where the normalizer is degenerate).
    """

    def _kernel(views):
        ns: list[int] = []
        alphas: list[int] = []
        cs: list[int] = []
        norms: list[float | None] = []
        for v in views:
            if v is None or v.size == 0:
                ns.append(0)
                alphas.append(0)
                cs.append(0)
                norms.append(None)
                continue
            x = np.ascontiguousarray(v, dtype=np.int64)
            n = int(x.size)
            alpha = int(np.unique(x).size)
            c = lz76_phrases_fast(x)
            ns.append(n)
            alphas.append(alpha)
            cs.append(c)
            if n < 2 or alpha < 2:
                norms.append(None)
            else:
                norms.append(
                    math.floor(
                        (c * math.log(n)) / (n * math.log(alpha)) * 1e6 + 0.5
                    )
                    / 1e6
                )
        return None, [ns, alphas, cs, norms]

    return map_signals(
        df,
        keep_cols,
        [
            StructField("n", IntegerType()),
            StructField("alpha", IntegerType()),
            StructField("c", IntegerType()),
            StructField("c_norm", DoubleType()),
        ],
        _kernel,
        (array_col,),
    )


def match_lengths(x: np.ndarray) -> np.ndarray:
    """L_p for p = 1..n (1-based): the longest L such that x[p..p+L−1]
    occurs as a substring of the STRICT prefix x[1..p−1] (fully
    contained; L = 0 when the next symbol is novel).  Same fixed-width
    string encoding as ``lz76_phrases_fast`` so each probe is one
    C-speed find."""
    n = int(x.size)
    s = "".join(f",{int(t) + 2147483648:010d}" for t in x)
    w = 11
    out = np.zeros(n, dtype=np.int64)
    for p in range(n):  # 0-based start
        hay = s[: p * w]
        lmax = 0
        while p + lmax < n and hay.find(
            s[p * w : (p + lmax + 1) * w]
        ) != -1:
            lmax += 1
        out[p] = lmax
    return out


def lz_entropy_rate(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """(*keep_cols, n, m, h_bits, h_nats) — the Kontoyiannis et al.
    1998 (IEEE IT-44) increasing-window entropy-rate estimator per
    signal:

        ĥ_bits = m / Σ_p Λ_p / log2(p−1),   Λ_p = L_p + 1

    over 1-based positions p = 3..n (prefix length p−1 ≥ 2, so the
    log weight is positive), with L_p the longest prefix-contained
    match (``match_lengths``).  Converges to the true entropy rate
    for stationary ergodic sources — the NONPARAMETRIC complement of
    ``markov_rate`` (first-order model) and the calibrated cousin of
    ``lz_complexity``'s phrase count.  ``h_nats`` = ln 2 · ĥ_bits.
    NULL when m = 0 (n < 3).

    Exactness: each term Λ_p / log2(p−1) is ONE fixed float
    expression of integers, quantized to the 12-dp grid and
    accumulated as an exact INTEGER count of 1e-12 units (the
    DECIMAL(38,12) sum in SQL) — the per-doc reduce is
    order-invariant and the final division bit-reproducible.

    Scale shape: ONE ``mapInArrow`` boundary; O(Σ L_p · p) C-level
    search per signal (LZ76's task-bound class — window long signals
    upstream).
    """

    def _kernel(views):
        ns: list[int] = []
        ms: list[int] = []
        hb: list[float | None] = []
        hn: list[float | None] = []
        for v in views:
            if v is None or v.size == 0:
                ns.append(0)
                ms.append(0)
                hb.append(None)
                hn.append(None)
                continue
            x = np.ascontiguousarray(v, dtype=np.int64)
            n = int(x.size)
            ns.append(n)
            if n < 3:
                ms.append(max(0, n - 2))
                hb.append(None)
                hn.append(None)
                continue
            ls = match_lengths(x)
            acc = 0  # exact integer count of 1e-12 units
            m = n - 2
            for p in range(3, n + 1):  # 1-based position
                term = (int(ls[p - 1]) + 1) / math.log2(p - 1)
                acc += math.floor(term * 1e12 + 0.5)
            denom = acc / 1e12  # == CAST(DECIMAL(38,12) AS DOUBLE)
            h_bits = m / denom
            ms.append(m)
            hb.append(math.floor(h_bits * 1e6 + 0.5) / 1e6)
            hn.append(math.floor(math.log(2.0) * h_bits * 1e6 + 0.5) / 1e6)
        return None, [ns, ms, hb, hn]

    return map_signals(
        df,
        keep_cols,
        [
            StructField("n", IntegerType()),
            StructField("m", IntegerType()),
            StructField("h_bits", DoubleType()),
            StructField("h_nats", DoubleType()),
        ],
        _kernel,
        (array_col,),
    )
