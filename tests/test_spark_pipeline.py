"""Spark-vs-kernel equivalence and pipeline tests (SURVEY.md §5 strategy b).

Fixtures mirror the reference's canonical test signals (FIXTURES.md §3);
token tables are built with float64 arrays (the operators cast to
double regardless, and the reference kernels are float64 — int32
quantization is exercised separately by the sources tests).
"""

import math

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from eristropy_spark.kernels.adf import holm_sidak_reject
from eristropy_spark.kernels.permen import permen as permen_kernel
from eristropy_spark.kernels.sampen import sampen as sampen_kernel
from eristropy_spark.kernels.transforms import znorm
from eristropy_spark.operators.entropy import compute_entropy
from eristropy_spark.operators.sample_entropy import SampleEntropyOp
from eristropy_spark.operators.stationarity import holm_sidak_filter, make_stationary


def _tokens_df(spark, signals: dict[str, np.ndarray], source: str = "srcA"):
    rows = [
        Row(doc_id=k, tokens=[float(v) for v in x], n_tok=len(x), source=source)
        for k, x in signals.items()
    ]
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def linear_sine_df(spark):
    # tests/test_stationarity.py:8-19
    return _tokens_df(
        spark,
        {
            "abc": np.linspace(0, 100, 100),
            "def": np.sin(np.linspace(0, 2 * np.pi, 100)),
        },
    )


# ------------------------------------------------------------- entropy op


def test_compute_entropy_matches_kernel(spark):
    rng = np.random.default_rng(17)
    sigs = {f"s{i}": rng.normal(size=120) for i in range(5)}
    df = _tokens_df(spark, sigs)
    got = {
        r["doc_id"]: (r["sampen"], r["permen"])
        for r in compute_entropy(df, m=2, r=0.2).collect()
    }
    for k, x in sigs.items():
        np.testing.assert_almost_equal(got[k][0], sampen_kernel(x, 2, 0.2))
        np.testing.assert_almost_equal(
            got[k][1], permen_kernel(x, 3, 1, normalize=True)
        )


def test_compute_entropy_normalized_matches_kernel(spark):
    rng = np.random.default_rng(3)
    sigs = {f"s{i}": rng.normal(loc=50, scale=9, size=100) for i in range(3)}
    df = _tokens_df(spark, sigs)
    got = {r["doc_id"]: r["sampen"] for r in compute_entropy(df, m=1, r=0.2, normalize=True).collect()}
    for k, x in sigs.items():
        want = sampen_kernel(znorm(x), 1, 0.2)
        np.testing.assert_almost_equal(got[k], want, decimal=8)


# --------------------------------------------------------- stationarity


def test_make_stationary_linear_sine(spark, linear_sine_df):
    # reference expectation (tests/test_stationarity.py:62-75):
    # fraction 0.5, survivor {"def"}
    res = make_stationary(linear_sine_df, method="difference", normalize=False)
    assert res.stationary_frac == 0.5
    assert res.n_signals == 2
    rows = res.df.collect()
    assert [r["doc_id"] for r in rows] == ["def"]
    # difference output drops the first element
    assert rows[0]["n_tok"] == 99
    want = np.diff(np.sin(np.linspace(0, 2 * np.pi, 100)))
    np.testing.assert_allclose(np.array(rows[0]["tokens"]), want, atol=1e-12)


def test_make_stationary_normalize(spark, linear_sine_df):
    res = make_stationary(linear_sine_df, method="difference", normalize=True)
    x = np.array(res.df.collect()[0]["tokens"])
    np.testing.assert_almost_equal(x.mean(), 0.0)
    np.testing.assert_almost_equal(x.std(ddof=1), 1.0)  # hazard 4: ddof=1


def test_make_stationary_detrend_lr(spark):
    rng = np.random.default_rng(17)
    sigs = {
        "noisy": rng.uniform(-5, 5, size=100),
        "trendy": 3.0 * np.arange(100) + rng.normal(size=100),
    }
    res = make_stationary(
        _tokens_df(spark, sigs), method="detrend", detrend_type="lr", normalize=False
    )
    # both detrend to stationary noise
    assert res.stationary_frac == 1.0
    rows = {r["doc_id"]: np.array(r["tokens"]) for r in res.df.collect()}
    assert rows["trendy"].shape == (100,)
    assert abs(rows["trendy"].mean()) < 1.0  # residuals, trend removed


def test_make_stationary_validation(spark, linear_sine_df):
    with pytest.raises(ValueError):
        make_stationary(linear_sine_df, method="invalid")
    with pytest.raises(ValueError):
        make_stationary(linear_sine_df, detrend_type="zz", method="detrend")
    with pytest.raises(ValueError):
        make_stationary(linear_sine_df, alpha=-0.1)
    with pytest.raises(ValueError):
        make_stationary(linear_sine_df, ls_range=(0.0, 50.0), method="detrend")


def test_holm_sidak_filter_matches_kernel(spark):
    rng = np.random.default_rng(5)
    p = np.concatenate([rng.uniform(0, 0.01, 40), rng.uniform(0, 1, 160)])
    df = spark.createDataFrame(
        [Row(doc_id=f"d{i}", pvalue=float(v)) for i, v in enumerate(p)]
    )
    got = {
        r["doc_id"]: r["is_stationary"] for r in holm_sidak_filter(df, 0.05).collect()
    }
    want = holm_sidak_reject(p, 0.05)
    assert sum(got.values()) == int(want.sum())
    for i in range(len(p)):
        assert got[f"d{i}"] == bool(want[i]), f"mismatch at {i} (p={p[i]})"


# -------------------------------------------------------- param search


def test_sample_entropy_op_end_to_end(spark):
    rng = np.random.default_rng(17)
    sigs = {f"s{i}": rng.normal(size=60) for i in range(3)}
    df = _tokens_df(spark, sigs)
    op = SampleEntropyOp(
        df, n_boot=10, n_trials=3, random_seed=42, lam=0.33
    )
    import warnings as w

    with w.catch_warnings():
        w.simplefilter("ignore")  # low n_boot/n_trials warnings are expected
        out = op.compute_all_sampen(optimize=True, estimate_uncertainty=True)
    rows = out.collect()
    assert len(rows) == 3
    assert set(out.columns) == {"doc_id", "sampen", "se_sampen"}
    assert not math.isnan(op.r_star_)
    trials = op.get_optimization_results()
    assert len(trials) == 3


def test_sample_entropy_op_deterministic(spark):
    rng = np.random.default_rng(17)
    sigs = {f"s{i}": rng.normal(size=60) for i in range(2)}
    import warnings as w

    results = []
    for _ in range(2):
        df = _tokens_df(spark, sigs)
        op = SampleEntropyOp(df, n_boot=10, n_trials=3, random_seed=7)
        with w.catch_warnings():
            w.simplefilter("ignore")
            op.find_optimal_params()
        results.append((op.m_star_, op.r_star_, op.p_star_, [t.value for t in op.trials_]))
    assert results[0][:3] == results[1][:3]
    np.testing.assert_array_equal(results[0][3], results[1][3])  # NaN-aware


def test_sample_entropy_op_failure_path(spark):
    # short signals + tight r_range => all-NaN objectives => warning + NaN params
    rng = np.random.default_rng(17)
    sigs = {f"s{i}": rng.normal(size=15) for i in range(2)}
    df = _tokens_df(spark, sigs)
    import warnings as w

    from eristropy_spark.operators.sample_entropy import OptimizationFailureWarning

    op = SampleEntropyOp(
        df, n_boot=10, n_trials=2, random_seed=1, r_range=(1e-6, 2e-6), m_range=(1, 2)
    )
    with w.catch_warnings():
        w.simplefilter("ignore", category=UserWarning)
        with pytest.warns(OptimizationFailureWarning):
            op.find_optimal_params()
    assert math.isnan(op.r_star_)
    with pytest.raises(ValueError):
        op.compute_all_sampen()


def test_sample_entropy_op_min_length_guard(spark):
    sigs = {"a": np.arange(2.0)}
    with pytest.raises(ValueError):
        SampleEntropyOp(_tokens_df(spark, sigs), m_range=(1, 3))


def test_make_stationary_detrend_gp(spark):
    # GP path (W3-W11): heaviest transform; small fixture, seeded ls draws
    rng = np.random.default_rng(17)
    sigs = {
        "noisy": rng.normal(size=40),
        "trendy": 0.5 * np.arange(40) + rng.normal(scale=0.1, size=40),
    }
    res = make_stationary(
        _tokens_df(spark, sigs),
        method="detrend",
        detrend_type="gp",
        random_seed=17,
        n_searches=3,
        n_splits=3,
        normalize=False,
        keep_all=True,
    )
    rows = {r["doc_id"]: np.array(r["tokens"]) for r in res.df.collect()}
    assert rows["trendy"].shape == (40,)
    # the GP trend absorbs the ramp: residuals are near zero-mean and
    # much smaller than the original trend range (~20)
    assert abs(rows["trendy"].mean()) < 0.5
    assert np.abs(rows["trendy"]).max() < 2.0
    # deterministic under the same seed
    res2 = make_stationary(
        _tokens_df(spark, sigs),
        method="detrend",
        detrend_type="gp",
        random_seed=17,
        n_searches=3,
        n_splits=3,
        normalize=False,
        keep_all=True,
    )
    rows2 = {r["doc_id"]: np.array(r["tokens"]) for r in res2.df.collect()}
    np.testing.assert_array_equal(rows["trendy"], rows2["trendy"])


def _entropy_ref(x, m, r, normalize):
    """(sampen, permen) from the scalar reference kernels; NaN = NULL."""
    if x is None:
        return (math.nan, math.nan)
    x = np.asarray(x, dtype=np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        z = znorm(x) if normalize and x.size > 1 else x
        s = sampen_kernel(z, m, r)
    return (s, permen_kernel(x, 3, 1, normalize=True))


def _edge_signals(rng):
    """Random signals plus NULL, empty, n < m+2 and constant arrays."""
    sigs = {f"s{i}": rng.integers(-40, 40, size=int(n)) for i, n in
            enumerate(rng.integers(16, 120, size=30))}
    sigs.update({
        "null": None,
        "empty": np.array([], dtype=np.int64),
        "n1": np.array([5]),
        "n2": np.array([5, 7]),
        "n3": np.array([5, 7, 6]),
        "const": np.full(40, 3),
    })
    return sigs


def test_entropy_projections_match_scalar_kernels(spark):
    """entropy_points / compute_entropy / windowed_entropy equal the
    scalar reference kernels exactly, on int and double payloads."""
    for elem in ("int", "double"):
        _check_entropy_projections(spark, elem)


def _check_entropy_projections(spark, elem):
    import datetime as dt

    from eristropy_spark.operators.rollup import entropy_points
    from eristropy_spark.operators.windowed import windowed_entropy

    sigs = _edge_signals(np.random.default_rng(9))
    cast = int if elem == "int" else float
    rows = [
        (k, None if x is None else [cast(v) for v in x], "srcA",
         dt.datetime(2024, 1, 1))
        for k, x in sigs.items()
    ]
    df = spark.createDataFrame(
        rows, f"doc_id string, tokens array<{elem}>, source string, "
        "first_ts timestamp"
    )

    def check(got, want):
        assert got.keys() == want.keys()
        for k in want:
            np.testing.assert_array_equal(  # NaN-aware, exact
                np.array(got[k], dtype=np.float64),
                np.array(want[k], dtype=np.float64),
                err_msg=str(k),
            )

    for fn, normalize in (
        (lambda: entropy_points(df, m=2, r=0.2, normalize=True), True),
        (lambda: compute_entropy(df, m=2, r=0.2, normalize=True), True),
        (lambda: compute_entropy(df, m=2, r=3.0), False),
    ):
        got = {r["doc_id"]: (r["sampen"], r["permen"]) for r in fn().collect()}
        check(got, {k: _entropy_ref(x, 2, 0.2 if normalize else 3.0, normalize)
                    for k, x in sigs.items()})

    win, stride, min_win = 32, 16, 4
    got = {
        (r["doc_id"], r["window_id"]): (r["sampen"], r["permen"])
        for r in windowed_entropy(
            df, window=win, stride=stride, min_window=min_win, m=2, r=0.2
        ).collect()
    }
    want = {}
    for k, x in sigs.items():
        for w in range(0 if x is None else len(x)):
            piece = x[w * stride : w * stride + win]
            if len(piece) >= min_win:
                want[(k, w)] = _entropy_ref(piece, 2, 0.2, True)
    check(got, want)


def test_token_views_over_sliced_chunked_list():
    import pyarrow as pa

    from eristropy_spark.functions.entropy_arrow import _token_views

    a = pa.array([[1, 2], None, [3], [], [4, 5, 6], None, [7]],
                 type=pa.list_(pa.int32()))
    b = pa.array([[8, 9], None, [10, 11, 12]], type=pa.list_(pa.int32()))
    col = pa.chunked_array([a.slice(1, 5), b.slice(1)])
    views = _token_views(col)
    want = col.to_pylist()
    assert len(views) == len(want) == 7
    for v, w in zip(views, want):
        if w is None:
            assert v is None
        else:
            assert v.dtype == np.int32
            assert v.tolist() == w
