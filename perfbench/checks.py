"""Correctness gates.  They run outside every timed region.

Each function returns a list of failure messages; an empty list passes.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np


def same_float(got, want: float) -> bool:
    """Bit-exact equality where SQL NULL stands for NaN."""
    if got is None:
        return math.isnan(want)
    return got == want or (math.isnan(got) and math.isnan(want))


def entropy_sample(rows, m: int, r: float) -> list[str]:
    """Recompute SampEn and PermEn with the scalar kernels.

    ``rows`` carry ``doc_id``, ``x`` (the sequence the engine fed to its
    batch kernels) and the engine's ``sampen`` / ``permen``.
    """
    from eristropy_spark.kernels.permen import permen
    from eristropy_spark.kernels.sampen import sampen
    from eristropy_spark.kernels.transforms import znorm

    bad = []
    for row in rows:
        x = np.asarray(row["x"], dtype=np.float64)
        want_s = sampen(znorm(x), m, r)
        want_p = permen(x, 3, 1, normalize=True)
        if not same_float(row["sampen"], want_s):
            bad.append(f"sampen {row['doc_id']}: engine {row['sampen']!r} != scalar {want_s!r}")
        if not same_float(row["permen"], want_p):
            bad.append(f"permen {row['doc_id']}: engine {row['permen']!r} != scalar {want_p!r}")
    if not rows:
        bad.append("entropy sample is empty")
    return bad[:5]


_EXACT = ("n_seq", "n_sampen", "n_permen", "min_sampen", "max_sampen",
          "min_permen", "max_permen")
_CLOSE = ("sum_sampen", "sum_permen", "avg_sampen", "avg_permen")


def tier_parity(through_cascade, direct) -> list[str]:
    """Rows of the cascaded tier must equal the tier rolled up from raw.

    Counts, minima and maxima are exact; sums and averages differ only
    in float summation order, so they compare at a relative 1e-9.
    """
    a = {(r["source"], r["bucket"]): r for r in through_cascade}
    b = {(r["source"], r["bucket"]): r for r in direct}
    if a.keys() != b.keys():
        return [f"tier parity: {len(a)} cascaded buckets vs {len(b)} direct"]
    bad = []
    for key, ra in a.items():
        rb = b[key]
        for c in _EXACT:
            if ra[c] != rb[c]:
                bad.append(f"tier parity {key} {c}: {ra[c]!r} != {rb[c]!r}")
        for c in _CLOSE:
            x, y = ra[c], rb[c]
            if (x is None) != (y is None) or (
                x is not None and not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12)
            ):
                bad.append(f"tier parity {key} {c}: {x!r} != {y!r}")
    return bad[:5]


def frames_equal(got, want) -> str | None:
    """Engine rows against oracle rows: names, dtype family, values.

    Order-insensitive; doubles compared after 6-dp rounding, as the
    contract's queries and oracles both round.
    """
    import pandas as pd

    def family(dtype) -> str:
        if pd.api.types.is_datetime64_any_dtype(dtype):
            return "datetime"
        if pd.api.types.is_bool_dtype(dtype):
            return "bool"
        if pd.api.types.is_integer_dtype(dtype):
            return "int"
        if pd.api.types.is_float_dtype(dtype):
            return "float"
        return "object"

    def normalize(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
            elif pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].round(6)
            elif pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
        return df.sort_values(by=list(df.columns), ignore_index=True)

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    for c in got.columns:
        if family(got[c].dtype) != family(want[c].dtype):
            return f"dtype family of {c}: {got[c].dtype} != {want[c].dtype}"
    g, w = normalize(got), normalize(want)
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=False,
                                      rtol=0, atol=1e-9)
    except AssertionError as exc:
        return f"values differ: {str(exc)[:300]}"
    return None


def hashes_match_record(path: str, key: str, hashes: dict, record_new: bool) -> list[str]:
    """Compare result hashes with those an earlier run of the same
    workload, seed and parallelism recorded; record them if new and
    ``record_new`` (a run that failed a check records nothing)."""
    record = {}
    if os.path.exists(path):
        with open(path) as f:
            record = json.load(f)
    want = record.get(key)
    if want is None:
        if not record_new:
            return []
        record[key] = hashes
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
        return []
    return [f"{name}: hash {hashes.get(name)} != earlier run's {h}"
            for name, h in want.items() if hashes.get(name) != h]
