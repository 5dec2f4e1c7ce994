"""The benchmark's correctness gate must fail on a corrupted result.

    python3 -m pytest perfbench/test_gate.py -q

The first tests feed corrupted rows to the gate's comparisons.  The last
one runs the benchmark command end to end (about a minute) with a
``sitecustomize`` module on ``PYTHONPATH`` that nudges every SampEn the
engine's batch kernel returns; the benchmark process and the Spark
Python workers both load it, and the command must exit non-zero with
``correct: false``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402

CORRUPT_SAMPEN = """
import eristropy_spark.kernels.sampen_batch as batch

_sampen_many = batch.sampen_many


def sampen_many(*args, **kwargs):
    return _sampen_many(*args, **kwargs) + 1e-12


batch.sampen_many = sampen_many
"""


def _tier_row(**over):
    row = {"source": "src0", "bucket": 0, "n_seq": 3, "n_sampen": 3, "n_permen": 3,
           "min_sampen": 0.5, "max_sampen": 1.5, "min_permen": 0.2, "max_permen": 0.9,
           "sum_sampen": 3.0, "sum_permen": 1.5, "avg_sampen": 1.0, "avg_permen": 0.5}
    row.update(over)
    return row


def test_tier_parity_rejects_a_changed_count_and_sum():
    assert checks.tier_parity([_tier_row()], [_tier_row()]) == []
    assert checks.tier_parity([_tier_row(n_seq=4)], [_tier_row()])
    assert checks.tier_parity([_tier_row(sum_sampen=3.001)], [_tier_row()])


def test_oracle_compare_rejects_a_changed_value():
    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
    assert checks.frames_equal(want.iloc[::-1], want) is None
    assert checks.frames_equal(want.assign(v=[0.5, 0.26]), want)
    assert checks.frames_equal(want.assign(v=want["v"].astype("int64")), want)


def test_entropy_sample_rejects_one_ulp():
    from eristropy_spark.kernels.permen import permen
    from eristropy_spark.kernels.sampen import sampen
    from eristropy_spark.kernels.transforms import znorm

    x = np.random.default_rng(0).integers(0, 1000, 128)
    good = sampen(znorm(x), 2, 0.2)
    assert np.isfinite(good)
    row = {"doc_id": "d", "x": x, "sampen": good, "permen": permen(x, 3, 1, True)}
    assert checks.entropy_sample([row], 2, 0.2) == []
    row["sampen"] = float(np.nextafter(good, np.inf))
    assert checks.entropy_sample([row], 2, 0.2)


def test_command_fails_on_corrupted_sampen(tmp_path):
    (tmp_path / "sitecustomize.py").write_text(CORRUPT_SAMPEN)
    env = dict(os.environ, PYTHONPATH=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "headline", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode != 0
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] >= 1
    assert "sampen" in proc.stdout
