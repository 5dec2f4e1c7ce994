"""Batch-vectorized SampEn — one NumPy pass over a whole Arrow batch.

Semantics are identical to :func:`eristropy_spark.kernels.sampen.sampen`
(equivalence-tested); the difference is purely mechanical: instead of
one O(n²) loop per sequence, all B sequences of a batch advance through
the anti-diagonal sweep together as (B, n) matrices, amortizing NumPy
dispatch overhead ~B-fold.  This is the hot path of the entropy
projection (``functions.entropy_arrow.entropy_points_arrow``, once per
Arrow batch) and of ``sampen_udf`` — with Numba unavailable (SURVEY.md §7.5), batch vectorization is the
NumPy-native answer to the reference's JIT kernels.

Ragged batches are padded with ``+inf``: a padded position never
matches (|inf − x| < r is false), so padded tails contribute nothing;
the B-boundary exclusion ("matches whose right endpoint is the last
sample", utils.py:181-182) is applied per row at its TRUE last index
via a vectorized gather.
"""

from __future__ import annotations

import numpy as np

from eristropy_spark.kernels.transforms import znorm

__all__ = ["sampen_many"]


def _sampen_matrix(X: np.ndarray, lens: np.ndarray, m: int, r) -> np.ndarray:
    """SampEn per row of a padded (B, n_max) float64 matrix.

    ``r`` is a scalar or per-row (B,) vector of tolerances.
    """
    B, n_max = X.shape
    mm = m + 1
    if mm < 2:
        raise ValueError(f"m must be >= 1, got {m}")
    r_col = np.asarray(r, dtype=np.float64)
    if r_col.ndim == 1:
        r_col = r_col[:, None]

    # Only a[mm-1] (order-(m+1) matches) and b[mm-2] (order-m matches
    # excluding last-endpoint pairs) feed the output, so only those two
    # accumulate — the full a[0..mm]/b[0..mm] ladder of the scalar
    # kernel costs mm·2 threshold passes per sweep step for counts the
    # result never reads.  ``capped = min(run, mm)`` disappears too:
    # (capped > mm-1) ≡ (run >= mm) and (capped > mm-2) ≡ (run >= mm-1)
    # — identical integer counts, bit-identical output.
    a_hi = np.zeros(B, dtype=np.float64)
    b_lo = np.zeros(B, dtype=np.float64)
    lastrun = np.zeros((B, n_max - 1), dtype=np.int64)
    rows = np.arange(B)

    for i in range(n_max - 1):
        nj = n_max - i - 1
        with np.errstate(invalid="ignore"):
            match = np.abs(X[:, i + 1 :] - X[:, i : i + 1]) < r_col
        run = np.where(match, lastrun[:, :nj] + 1, 0)
        # per-row column of the pair whose right endpoint is the row's
        # true last sample: jj = len - i - 2
        last_col = lens - i - 2
        valid_last = last_col >= 0
        gathered = run[rows, np.clip(last_col, 0, nj - 1)]
        a_hi += (run >= mm).sum(axis=1)
        b_lo += (run >= mm - 1).sum(axis=1) - (
            valid_last & (gathered >= mm - 1)
        )
        lastrun[:, :nj] = run

    with np.errstate(divide="ignore", invalid="ignore"):
        out = np.where(a_hi > 0.0, -np.log(a_hi / b_lo), np.nan)
    return out


def sampen_many(
    seqs: list,
    m: int,
    r,
    normalize: bool = False,
    max_batch_cells: int = 16_384,
) -> np.ndarray:
    """SampEn for a list of 1-D arrays (None → NaN).

    ``r`` may be a scalar or a per-sequence vector.  Sequences are
    padded to the batch max length and processed in length-sorted
    blocks of at most ``max_batch_cells`` B×n cells.  The default block
    (~128 KB of float64) keeps the matrix L2-resident: the sweep
    re-reads the whole block every one of its n steps, so a
    cache-resident block turns ~n DRAM passes into one — measured 2x
    single-core and ~2x 32-core aggregate throughput vs large blocks
    on this host (memory-bandwidth ceiling otherwise).
    """
    n_seq = len(seqs)
    out = np.full(n_seq, np.nan, dtype=np.float64)
    r_vec = np.broadcast_to(np.asarray(r, dtype=np.float64), (n_seq,))

    items = []  # (length, index, array)
    for idx, s in enumerate(seqs):
        if s is None:
            continue
        x = np.asarray(s, dtype=np.float64)
        if x.size < 2:
            continue
        items.append((x.size, idx, x))
    if not items:
        return out
    items.sort(key=lambda t: t[0])

    start = 0
    while start < len(items):
        # grow the chunk while the padded matrix stays under the cap
        end = start + 1
        while end < len(items):
            n_max = items[end][0]
            if (end - start + 1) * n_max > max_batch_cells:
                break
            end += 1
        chunk = items[start:end]
        n_max = chunk[-1][0]
        B = len(chunk)
        X = np.full((B, n_max), np.inf, dtype=np.float64)
        lens = np.empty(B, dtype=np.int64)
        idxs = np.empty(B, dtype=np.int64)
        for j, (ln, idx, x) in enumerate(chunk):
            if normalize:
                x = znorm(x)
            X[j, :ln] = x
            lens[j] = ln
            idxs[j] = idx
        out[idxs] = _sampen_matrix(X, lens, m, r_vec[idxs])
        start = end
    return out
