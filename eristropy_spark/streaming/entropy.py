"""Streaming sequence assembly + entropy — the flagship pipeline as a
Structured Streaming job.

The batch path assembles one token sequence per (user, event_type) via
a groupBy shuffle (sources/tokens.events_to_tokens).  A stream cannot
wait for "all" events, so assembly becomes a CUSTOM STATEFUL operator
(``applyInPandasWithState``): per signal, state accumulates the
(ts, event_id, value) triples seen so far; when the signal goes quiet —
no events for ``gap`` in EVENT time, i.e. the watermark passes
last_ts + gap — the group times out, the buffered triples are sorted
exactly like the batch path (by ts, then event_id), quantized to
tokens, and ONE entropy point (SampEn + PermEn, same kernels) is
emitted.  Output rows are therefore directly comparable to the batch
``compute_entropy`` result (the same SampEn/PermEn batch kernels the
Arrow projection runs) — equality is pinned in
tests/test_streaming_entropy.py.

Scale properties:
* state is O(active signals) × O(min(seq_len, 2·max_tokens)) triples;
  a runaway signal is truncated to its earliest samples (matching the
  batch ``max_tokens`` cap semantics),
* the only shuffle is the groupBy(user, event_type) into state-store
  partitions,
* timeouts fire on watermark advance — late events inside the gap
  extend the sequence; events later than that would start a NEW
  sequence (the inherent streaming-vs-batch semantic difference).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = ["streaming_sequence_entropy"]

_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("source", StringType()),
        StructField("ts", TimestampType()),
        StructField("n_tok", IntegerType()),
        StructField("sampen", DoubleType()),
        StructField("permen", DoubleType()),
    ]
)

# buffered triples as parallel arrays (state rows must be flat columns)
_STATE_SCHEMA = StructType(
    [
        StructField("ts_us", ArrayType(LongType())),
        StructField("event_id", ArrayType(LongType())),
        StructField("value", ArrayType(DoubleType())),
    ]
)


def _half_up(vals: np.ndarray, scale: int) -> np.ndarray:
    """Round-half-away-from-zero quantization — Spark's round() semantics
    (batch tokenize parity)."""
    return np.where(
        vals >= 0,
        np.floor(vals * scale + 0.5),
        np.ceil(vals * scale - 0.5),
    ).astype(np.int64)


def _make_update(
    m, r, permen_m, permen_delay, normalize, quant_scale, max_tokens, gap_ms
):
    from eristropy_spark.kernels.permen import permen as permen_kernel
    from eristropy_spark.kernels.sampen_batch import sampen_many

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            ts_us, event_id, value = state.get
            state.remove()
            ts_arr = np.asarray(ts_us, dtype=np.int64)
            order = np.lexsort((np.asarray(event_id, dtype=np.int64), ts_arr))
            vals = np.asarray(value, dtype=np.float64)[order][:max_tokens]
            tokens = _half_up(vals, quant_scale)
            s = float(sampen_many([tokens], m, r, normalize=normalize)[0])
            p = (
                permen_kernel(
                    tokens.astype(np.float64), permen_m, permen_delay, normalize=True
                )
                if tokens.size
                else float("nan")
            )
            yield pd.DataFrame(
                {
                    "doc_id": [f"{key[0]}:{key[1]}"],
                    "source": [key[1]],
                    "ts": [pd.Timestamp(int(ts_arr[order][0]), unit="us")],
                    "n_tok": [int(tokens.size)],
                    "sampen": [s if s == s else None],
                    "permen": [p if p == p else None],
                }
            )
            return

        ts_us, event_id, value = state.get if state.exists else ([], [], [])
        ts_us, event_id, value = list(ts_us), list(event_id), list(value)
        for pdf in pdfs:
            ts_us.extend((pdf["ts"].astype("int64") // 1000).tolist())  # ns -> us
            event_id.extend(pdf["event_id"].astype("int64").tolist())
            value.extend(pdf["value"].astype("float64").tolist())
        # cap state growth: keep the earliest samples by (ts, event_id)
        if len(ts_us) > 4 * max_tokens:
            order = np.lexsort(
                (np.asarray(event_id, dtype=np.int64), np.asarray(ts_us, dtype=np.int64))
            )[: 2 * max_tokens]
            ts_us = [ts_us[i] for i in order]
            event_id = [event_id[i] for i in order]
            value = [value[i] for i in order]
        state.update((ts_us, event_id, value))
        if ts_us:
            # fire once the watermark passes last event + gap (ms epoch)
            state.setTimeoutTimestamp(max(ts_us) // 1000 + gap_ms)
        if False:  # pragma: no cover — keep this branch a generator
            yield pd.DataFrame()

    return _update


def _gap_to_ms(gap: str) -> int:
    num, unit = gap.split()
    unit_ms = {
        "second": 1_000,
        "seconds": 1_000,
        "minute": 60_000,
        "minutes": 60_000,
        "hour": 3_600_000,
        "hours": 3_600_000,
        "day": 86_400_000,
        "days": 86_400_000,
    }
    return int(num) * unit_ms[unit]


def streaming_sequence_entropy(
    events_stream: DataFrame,
    m: int = 2,
    r: float = 0.2,
    permen_m: int = 3,
    permen_delay: int = 1,
    normalize: bool = True,
    quant_scale: int = 100,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    max_tokens: int = 4096,
) -> DataFrame:
    """events stream -> one entropy point per quiesced (user, event_type).

    ``events_stream`` needs columns (user_id, event_type, event_id, ts,
    value).  A sequence is emitted when its signal has been silent for
    ``gap`` of event time (watermark-driven), matching the batch token
    assembly exactly for signals whose events all fall within one gap.
    """
    update = _make_update(
        m,
        float(r),
        permen_m,
        permen_delay,
        normalize,
        quant_scale,
        max_tokens,
        _gap_to_ms(gap),
    )
    # watermarks require TIMESTAMP (LTZ); parquet event times are often
    # TIMESTAMP_NTZ — under the engine's pinned-UTC sessions the cast is
    # a pure re-tagging of the same instant
    from pyspark.sql import functions as F

    stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            update,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
