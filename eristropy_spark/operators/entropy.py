"""Per-sequence entropy operator — the engine's flagship analytic.

Reference parity: the final pass of
``SampleEntropy.compute_all_sampen`` (sample_entropy.py:346-402) —
one output row per signal with ``sampen`` — plus PermEn, which the
reference advertises but never shipped (SURVEY.md §2.6 E16).

Plan shape: a single narrow projection over the token table — each
sequence is one row, so there is **no shuffle**; the only boundary is
one Arrow batch hop into the Python worker per partition
(``functions.entropy_arrow.map_signals``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from eristropy_spark.functions.entropy_arrow import entropy_points_arrow

__all__ = ["compute_entropy"]


def compute_entropy(
    tokens_df: DataFrame,
    m: int = 2,
    r: float = 0.2,
    permen_m: int = 3,
    permen_delay: int = 1,
    keep_cols: tuple[str, ...] = ("source",),
    normalize: bool = False,
) -> DataFrame:
    """(doc_id, [keep_cols...,] sampen, permen) per sequence.

    ``r`` is an absolute tolerance on the (float64-cast) token scale,
    matching the reference's convention of applying r to the signal's
    own units.  With ``normalize=True`` each sequence is z-normalized
    (ddof=1) inside the SampEn kernel — NumPy-side, mirroring the
    reference's ``normalize_signals=True`` default
    (stationarity.py:278-281).  PermEn is invariant under the affine
    z-norm (ordinal patterns are order statistics), so it always runs
    on the raw sequence.
    """
    return entropy_points_arrow(
        tokens_df,
        m=m,
        r=r,
        permen_m=permen_m,
        permen_delay=permen_delay,
        normalize=normalize,
        keep_cols=("doc_id", *keep_cols),
        ts_col=None,
    )
