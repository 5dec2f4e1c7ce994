"""Windowed entropy — bounded-compute entropy for LONG sequences.

SampEn is O(n²) per sequence, so a single 10⁶-token sequence would pin
one task for minutes (SURVEY.md §7.3 hazard 9).  This operator splits
each sequence into fixed-size windows JVM-side (``slice`` over a
``sequence`` of starts — no Python until the entropy kernel), then the
standard zero-shuffle entropy projection runs per (doc, window) row:

* worst-case task cost is O(window²) regardless of sequence length,
* each window becomes its own entropy point; when the token table
  carries a start timestamp (``ts_col``) and a known sample interval
  (``dt`` seconds/token), each window's point is stamped
  ``ts = start + window_id·stride·dt`` — so a long signal's points
  SPREAD across retention buckets instead of stacking in the one
  bucket of its start time (round-2 gap: all windows inherited the
  sequence timestamp),
* windows are rows, so a single long sequence parallelizes ACROSS the
  cluster instead of serializing on one core.

The explode multiplies row count, not bytes: each window row carries
only its own slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eristropy_spark.functions.entropy_arrow import entropy_points_arrow

__all__ = ["windowed_entropy"]


def windowed_entropy(
    tokens_df: DataFrame,
    window: int = 512,
    stride: int | None = None,
    min_window: int = 16,
    m: int = 2,
    r: float = 0.2,
    permen_m: int = 3,
    permen_delay: int = 1,
    normalize: bool = True,
    keep_cols: tuple[str, ...] = ("source",),
    ts_col: str | None = None,
    dt: float = 1.0,
) -> DataFrame:
    """(doc_id, window_id, [ts,] n_tok, [keep_cols...,] sampen, permen).

    ``stride`` defaults to ``window`` (tumbling); pass a smaller stride
    for overlapping (sliding) windows.  Trailing fragments shorter than
    ``min_window`` are dropped (too short for a stable estimate).

    ``ts_col`` names the sequence-start timestamp column; with ``dt``
    (seconds per token) each window emits its own real timestamp
    ``ts = ts_col + window_id·stride·dt`` (JVM-side epoch arithmetic),
    so the retention cascade buckets a long signal over its actual time
    span.  ``ts_col=None`` keeps the positional-only schema.
    """
    if stride is None:
        stride = window
    if window < 2 or stride < 1:
        raise ValueError("window must be >= 2 and stride >= 1")
    if not (0 < min_window <= window):
        raise ValueError("min_window must be in (0, window]")
    if ts_col is not None and dt <= 0:
        raise ValueError("dt (seconds per token) must be > 0")

    # ts_col may also appear in keep_cols (the round-2 call shape passed
    # first_ts through keep_cols) — dedupe or the double selection makes
    # every later F.col(ts_col) reference ambiguous
    keep_cols = tuple(c for c in keep_cols if c != ts_col)
    passthrough = (ts_col,) + keep_cols if ts_col else keep_cols
    n = F.size("tokens")
    # window start positions (1-based for slice): 1, 1+stride, ...
    n_win = F.when(
        n >= min_window,
        F.floor((n - F.lit(min_window)) / F.lit(stride)).cast("int") + 1,
    ).otherwise(F.lit(0))
    starts = F.when(
        n_win > 0, F.sequence(F.lit(0), n_win - 1)
    ).otherwise(F.array().cast("array<int>"))
    win = tokens_df.select(
        "doc_id",
        *passthrough,
        F.posexplode(
            F.transform(
                starts,
                lambda i: F.slice("tokens", i * stride + 1, window),
            )
        ).alias("window_id", "wtokens"),
    ).where(F.size("wtokens") >= min_window)

    ts_cols = []
    if ts_col is not None:
        # epoch-seconds arithmetic keeps sub-second precision and stays
        # whole-stage-codegen'd; window w of a stride-s sequence starts
        # s·w tokens (= s·w·dt seconds) after the sequence start.  The
        # leading cast("timestamp") lifts TIMESTAMP_NTZ columns (parquet
        # default for naive timestamps) into the session-UTC timeline —
        # NTZ cannot cast to double directly
        ts_cols = [
            F.timestamp_seconds(
                F.col(ts_col).cast("timestamp").cast("double")
                + F.col("window_id").cast("double") * F.lit(float(stride) * dt)
            ).alias("ts")
        ]
    staged = win.select(
        "doc_id",
        "window_id",
        *ts_cols,
        F.size("wtokens").cast("int").alias("n_tok"),
        *keep_cols,
        F.col("wtokens").alias("tokens"),
    )
    return entropy_points_arrow(
        staged,
        m=m,
        r=r,
        permen_m=permen_m,
        permen_delay=permen_delay,
        normalize=normalize,
        keep_cols=tuple(staged.columns[:-1]),
        ts_col=None,
    )
