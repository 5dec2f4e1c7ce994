"""The engine's one Arrow boundary for per-signal kernels.

Every operator whose unit of work is one signal — one row carrying a
list column — crosses into Python through :func:`map_signals`.  The
RecordBatch is consumed directly: each list column's flat values
buffer is split into per-row *views* (slices on the offsets — no
copies, native dtype), the kernel sees the views of the WHOLE batch at
once (so batch kernels like ``sampen_many`` stay vectorized), and the
passthrough columns are re-emitted zero-copy.

``entropy_points_arrow`` (SampEn + PermEn per sequence) is the
flagship consumer; ``operators.entropy.compute_entropy`` and
``operators.windowed.windowed_entropy`` run the same projection.
Results equal the scalar reference kernels (tests/test_spark_pipeline.py).
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DoubleType, StructField, StructType

from eristropy_spark.kernels.permen import permen_many
from eristropy_spark.kernels.sampen_batch import sampen_many

__all__ = ["map_signals", "entropy_points_arrow"]


def _token_views(col: pa.ChunkedArray | pa.Array) -> list[np.ndarray | None]:
    """Per-row views over the flat Arrow values buffer (None for NULL)."""
    chunks = col.chunks if isinstance(col, pa.ChunkedArray) else [col]
    out: list[np.ndarray | None] = []
    for chunk in chunks:
        if isinstance(chunk, pa.ListArray):
            # slice offsets relative to the (possibly offset) chunk.
            # The flat values buffer keeps its NATIVE dtype (int32 for
            # token tables): the kernels cast per sequence into small
            # L2-resident float64 blocks, so the 2x-wider float64 image
            # of the whole batch never hits DRAM — this matters on the
            # bandwidth-bound high-core runs of the scaling ladder.
            offsets = chunk.offsets.to_numpy()
            values = chunk.values.to_numpy(zero_copy_only=False)
            valid = chunk.is_valid().to_numpy(zero_copy_only=False)
            for i in range(len(chunk)):
                if not valid[i]:
                    out.append(None)
                else:
                    out.append(values[offsets[i] : offsets[i + 1]])
        else:  # pragma: no cover - defensive
            for v in chunk.to_pylist():
                out.append(None if v is None else np.asarray(v, dtype=np.float64))
    return out


def map_signals(
    df: DataFrame,
    keep_cols: Sequence[str],
    out_fields: Sequence[StructField],
    kernel: Callable[..., tuple],
    array_cols: Sequence[str] = ("tokens",),
) -> DataFrame:
    """(``*keep_cols``, ``*out_fields``) via ONE ``mapInArrow`` boundary.

    Per Arrow batch, ``kernel`` is called with one list of per-row
    views for each of ``array_cols`` (NumPy arrays in the column's
    native dtype, ``None`` for a NULL array) and returns
    ``(rows, columns)``:

    * ``columns`` — one sequence per out field (a list with ``None``
      for NULL, or a NumPy array; a masked array masks NULLs), cast to
      the field's Arrow type;
    * ``rows`` — ``None`` when output row i belongs to input row i,
      else the input-row index of every output row (one-to-many
      kernels); the keep columns are gathered with ``take``.
    """
    keep_cols = list(keep_cols)
    out_fields = list(out_fields)
    src = df.select(*keep_cols, *array_cols)
    schema = StructType([src.schema[c] for c in keep_cols] + out_fields)
    out_types = [to_arrow_type(f.dataType) for f in out_fields]
    names = schema.fieldNames()

    def _compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows, cols = kernel(*(_token_views(batch.column(c)) for c in array_cols))
            keep = [batch.column(c) for c in keep_cols]
            if rows is not None:
                idx = pa.array(rows, type=pa.int64())
                keep = [k.take(idx) for k in keep]
            out = [pa.array(c, type=t) for c, t in zip(cols, out_types)]
            yield pa.RecordBatch.from_arrays(keep + out, names)

    return src.mapInArrow(_compute, schema)


def _nan_as_null(x: np.ndarray) -> np.ndarray:
    """Mask NaN so it crosses as SQL NULL (undefined entropy is NULL
    engine-wide)."""
    return np.ma.masked_array(x, mask=np.isnan(x))


def entropy_points_arrow(
    tokens_df: DataFrame,
    m: int = 2,
    r: float = 0.2,
    permen_m: int = 3,
    permen_delay: int = 1,
    normalize: bool = True,
    keep_cols: tuple[str, ...] = ("doc_id", "source", "first_ts"),
    ts_col: str | None = "first_ts",
) -> DataFrame:
    """(keep_cols..., sampen, permen) per sequence of ``tokens``.

    ``normalize`` z-norms (ddof=1) inside the SampEn kernel; PermEn is
    invariant under it.  A ``ts_col`` among ``keep_cols`` is renamed
    to ``ts``.
    """
    r = float(r)

    def _kernel(views):
        s = sampen_many(views, m, r, normalize=normalize)
        p = permen_many(views, permen_m, permen_delay, normalize=True)
        return None, [_nan_as_null(s), _nan_as_null(p)]

    out = map_signals(
        tokens_df,
        keep_cols,
        [StructField("sampen", DoubleType()), StructField("permen", DoubleType())],
        _kernel,
    )
    if ts_col in keep_cols and ts_col != "ts":
        out = out.withColumnRenamed(ts_col, "ts")
    return out
