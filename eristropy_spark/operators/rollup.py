"""Retention-cascade rollups (north rule: raw → 1-min → 1-hour tiers).

TimescaleDB-style continuous aggregates re-expressed as Spark batch
jobs: each tier is computed **from the previous tier**, not from raw,
so the hourly tier's input is ~60x smaller than raw and the cascade
cost is dominated by the first rollup.  To make that re-aggregation
exact, every tier carries decomposable aggregates (count / sum / min /
max, NaN-aware valid-counts); averages are derived columns.

Tier parity (tests/test_rollup.py): tier N computed through the
cascade equals tier N computed directly from raw — and is identical
across parallelism levels (the scaling-efficiency protocol's equality
leg, BASELINE.md).

Skew: the rollup key is (source, bucket); sources are Zipf-skewed by
construction.  ``rollup_tier(..., salt=S)`` runs the classic two-phase
aggregate — partial agg on (source, bucket, salt) then final on
(source, bucket) — bounding any single reducer's input to ~1/S of the
hottest key.  With AQE on, Spark also splits skewed partitions at
runtime; the explicit salt is for the 1000-executor case where one
source dominates a whole stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eristropy_spark.functions.entropy_arrow import entropy_points_arrow

__all__ = ["entropy_points", "rollup_tier", "cascade", "percentile_rollup", "cardinality_rollup", "ohlc_rollup", "histogram_rollup", "m4_downsample", "allan_variance", "hadamard_variance", "TIER_SPECS"]

# tier name -> truncation unit for date_trunc
TIER_SPECS: list[tuple[str, str]] = [("1min", "minute"), ("1hour", "hour")]

_METRICS = ("sampen", "permen")


def entropy_points(
    tokens_df: DataFrame,
    m: int = 2,
    r: float = 0.2,
    normalize: bool = True,
    ts_col: str = "first_ts",
) -> DataFrame:
    """Raw tier: one entropy point per sequence —
    (doc_id, source, ts, sampen, permen).

    Runs through the engine's one per-signal Arrow boundary
    (``functions.entropy_arrow.map_signals``): the token list column is
    consumed as zero-copy views over the Arrow values buffer, and the
    batch kernels see a whole Arrow batch at once.
    """
    return entropy_points_arrow(
        tokens_df,
        m=m,
        r=float(r),
        normalize=normalize,
        keep_cols=("doc_id", "source", ts_col),
        ts_col=ts_col,
    )


def _nan_safe(col: str):
    c = F.col(col)
    return F.when(~F.isnan(c), c)


def _first_agg_exprs() -> list:
    """Raw -> first tier aggregates (NaN-aware)."""
    exprs = [F.count("*").alias("n_seq")]
    for m in _METRICS:
        v = _nan_safe(m)
        exprs += [
            F.count(v).alias(f"n_{m}"),
            F.sum(v).alias(f"sum_{m}"),
            F.min(v).alias(f"min_{m}"),
            F.max(v).alias(f"max_{m}"),
        ]
    return exprs


def _merge_agg_exprs() -> list:
    """Tier N -> tier N+1: merge decomposable aggregates."""
    exprs = [F.sum("n_seq").alias("n_seq")]
    for m in _METRICS:
        exprs += [
            F.sum(f"n_{m}").alias(f"n_{m}"),
            F.sum(f"sum_{m}").alias(f"sum_{m}"),
            F.min(f"min_{m}").alias(f"min_{m}"),
            F.max(f"max_{m}").alias(f"max_{m}"),
        ]
    return exprs


def _with_avgs(df: DataFrame) -> DataFrame:
    for m in _METRICS:
        df = df.withColumn(
            f"avg_{m}",
            F.when(F.col(f"n_{m}") > 0, F.col(f"sum_{m}") / F.col(f"n_{m}")),
        )
    return df


def rollup_tier(
    points: DataFrame,
    unit: str,
    from_tier: bool = False,
    ts_col: str = "ts",
    salt: int | None = None,
) -> DataFrame:
    """One tier: group by (source, date_trunc(unit, ts_col)).

    ``from_tier=True`` means the input already carries tier aggregate
    columns (merge them); otherwise the input is raw entropy points.
    ``salt`` > 1 enables the two-phase skew-safe aggregation.
    """
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    exprs = _merge_agg_exprs() if from_tier else _first_agg_exprs()

    if salt and salt > 1:
        salt_col = F.pmod(F.xxhash64(F.col("doc_id") if "doc_id" in points.columns else F.rand(7)), F.lit(salt))
        partial = points.groupBy(
            F.col("source"), bucket, salt_col.alias("_salt")
        ).agg(*exprs)
        out = partial.groupBy("source", "bucket").agg(*_merge_agg_exprs())
    else:
        out = points.groupBy(F.col("source"), bucket).agg(*exprs)
    return _with_avgs(out)


def cascade(points: DataFrame, salt: int | None = None) -> dict[str, DataFrame]:
    """raw → 1-min → 1-hour continuous-aggregate chain.

    Returns {tier_name: DataFrame}; each non-first tier is derived from
    the previous tier's aggregates (decomposable merge), never from raw.
    """
    tiers: dict[str, DataFrame] = {}
    prev: DataFrame | None = None
    for name, unit in TIER_SPECS:
        if prev is None:
            tiers[name] = rollup_tier(points, unit, from_tier=False, salt=salt)
        else:
            tiers[name] = rollup_tier(
                prev, unit, from_tier=True, ts_col="bucket"
            )
        prev = tiers[name]
    return tiers


def cardinality_rollup(
    points: DataFrame,
    unit: str,
    id_col: str,
    source_col: str = "source",
    ts_col: str = "ts",
    exact: bool = True,
) -> DataFrame:
    """(source, bucket, n_events, n_distinct) — distinct-entity counts
    per retention bucket (active users / unique docs per window).

    ``exact=True`` is a two-phase distinct aggregate (Spark plans it as
    partial-dedup before the shuffle); correct but state ∝ distinct
    keys per group.  ``exact=False`` switches to
    ``approx_count_distinct`` (HyperLogLog++, fixed ~kB sketch per
    group, mergeable across tiers) — the 100 TB default, with the exact
    path as the small-scale oracle."""
    count_expr = (
        F.countDistinct(F.col(id_col))
        if exact
        else F.approx_count_distinct(F.col(id_col))
    )
    return points.groupBy(
        F.col(source_col).alias("source"),
        F.date_trunc(unit, F.col(ts_col)).alias("bucket"),
    ).agg(
        F.count("*").alias("n_events"),
        count_expr.cast("long").alias("n_distinct"),
    )


def percentile_rollup(
    points: DataFrame,
    unit: str,
    value_col: str,
    probs: tuple[float, ...] = (0.5, 0.95, 0.99),
    source_col: str = "source",
    ts_col: str = "ts",
    exact: bool = True,
) -> DataFrame:
    """Per-(source, time-bucket) percentiles of a value column —
    the continuous-aggregate shape for latency/size distributions.

    ``exact=True`` uses Spark's exact interpolated ``percentile``
    (linear interpolation, identical to DuckDB's ``quantile_cont`` —
    verified bit-for-bit): it buffers each group's values, which is
    bounded here because a (source, bucket) group only holds one
    bucket's worth of points.  For unbounded groups pass ``exact=False``
    for ``approx_percentile`` (t-digest-style sketch, mergeable,
    constant memory — the 100 TB default when buckets are huge).
    """
    from eristropy_spark.functions.numeric import round6

    # collision-free alias: p50 / p99 / p99_9 / p0_1 — %g drops trailing
    # zeros so whole percents keep their classic names, and the decimal
    # point maps to '_' (round-4 advice: int(round(p*100)) sent 0.995,
    # 0.999 and 1.0 all to "p100", yielding duplicate columns)
    names = [f"p{p * 100:g}".replace(".", "_").replace("-", "m") for p in probs]
    if len(set(names)) != len(names):
        raise ValueError(f"probs produce duplicate column aliases: {names}")
    fn = F.percentile if exact else F.approx_percentile
    aggs = [
        round6(
            fn(F.col(value_col), F.lit(float(p)))
            if exact
            else fn(F.col(value_col), F.lit(float(p)), F.lit(10000))
        ).alias(name)
        for p, name in zip(probs, names)
    ]
    return (
        points.groupBy(
            F.col(source_col).alias("source"),
            F.date_trunc(unit, F.col(ts_col)).alias("bucket"),
        )
        .agg(*aggs, F.count("*").alias("n"))
    )


def ohlc_rollup(
    points: DataFrame,
    unit: str,
    value_col: str = "value",
    source_col: str = "source",
    ts_col: str = "ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-(source, time-bucket) open/high/low/close + count — the
    canonical financial/metrics downsample (first and last value of the
    bucket by event time, plus the extrema).

    ``open``/``close`` use ``min_by``/``max_by`` on the (ts, tiebreak)
    ordering key: a single two-phase hash aggregate whose partial
    states merge associatively, so the plan is identical in shape to
    any sum rollup — one shuffle carrying one small state per group,
    mergeable across tiers exactly like the entropy cascade.  Pass
    ``tiebreak_col`` (e.g. the event id) whenever timestamps can
    collide — without it, equal-ts opens/closes are
    partitioning-dependent and not reproducible.
    """
    ts = F.col(ts_col)
    okey = (
        F.struct(ts.alias("t"), F.col(tiebreak_col).alias("k"))
        if tiebreak_col is not None
        else ts
    )
    v = F.col(value_col)
    return points.groupBy(
        F.col(source_col).alias("source"),
        F.date_trunc(unit, ts).alias("bucket"),
    ).agg(
        F.min_by(v, okey).alias("open"),
        F.max(v).alias("high"),
        F.min(v).alias("low"),
        F.max_by(v, okey).alias("close"),
        F.count("*").alias("n"),
    )


def histogram_rollup(
    points: DataFrame,
    unit: str,
    lo: float,
    hi: float,
    n_bins: int = 20,
    value_col: str = "value",
    source_col: str = "source",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-(source, time-bucket) fixed-bin histogram in long form:
    (source, bucket, bin, cnt) — the distribution rollup behind
    heat-map dashboards and drift monitors.

    ``bin`` = floor((value - lo) / width) clamped to [0, n_bins-1]
    (underflow collapses into bin 0, overflow into the last bin — the
    standard closed histogram, so counts always total the row count).
    Long form keeps the aggregate a plain two-phase count keyed by
    (source, bucket, bin): map-side partials, one shuffle, mergeable
    across tiers exactly like every cascade aggregate — and empty bins
    cost nothing at 100 TB (no dense n_bins-wide row per group).
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    if not hi > lo:
        raise ValueError("hi must be > lo")
    width = (hi - lo) / n_bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    bin_ = F.least(
        F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)
    ).cast("int")
    return (
        points.groupBy(
            F.col(source_col).alias("source"),
            F.date_trunc(unit, F.col(ts_col)).alias("bucket"),
            bin_.alias("bin"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def m4_downsample(
    points: DataFrame,
    unit: str,
    value_col: str = "value",
    source_col: str = "source",
    ts_col: str = "ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """M4 visualization downsample (Jugel et al., VLDB 2014): per
    (source, time-bucket), the four points that make a line rendering
    pixel-exact — first/last by event time plus the value extrema WITH
    their timestamps (which plain OHLC discards; the extremum's
    x-position is what keeps the rendered polyline error-free).

    Output is wide form, one row per bucket:
    (source, bucket, t_first, v_first, t_last, v_last,
     t_min, v_min, t_max, v_max, n).

    Every column is a ``min_by``/``max_by`` over an ordering key, so
    the whole operator is ONE two-phase hash aggregate with small
    mergeable partial states — the same plan shape as a sum rollup:
    map-side combine, one shuffle carrying one ~80-byte state per
    group, no window functions, no second pass.  At 100 TB the input
    never re-sorts; each task folds its rows into per-group states.

    Value extrema tiebreak on the lexicographic (value, ts, tiebreak)
    struct key, so an equal-valued minimum picks its earliest
    occurrence and an equal-valued maximum its latest — deterministic
    either way; pass
    ``tiebreak_col`` whenever timestamps can collide (same contract as
    ``ohlc_rollup``).
    """
    ts = F.col(ts_col)
    v = F.col(value_col)
    if tiebreak_col is not None:
        k = F.col(tiebreak_col)
        okey = F.struct(ts.alias("t"), k.alias("k"))
        vkey = F.struct(v.alias("v"), ts.alias("t"), k.alias("k"))
    else:
        okey = ts
        vkey = F.struct(v.alias("v"), ts.alias("t"))
    pt = F.struct(ts.alias("t"), v.alias("v"))
    agg = points.groupBy(
        F.col(source_col).alias("source"),
        F.date_trunc(unit, ts).alias("bucket"),
    ).agg(
        F.min_by(pt, okey).alias("_first"),
        F.max_by(pt, okey).alias("_last"),
        F.min_by(pt, vkey).alias("_vmin"),
        F.max_by(pt, vkey).alias("_vmax"),
        F.count("*").alias("n"),
    )
    return agg.select(
        "source",
        "bucket",
        F.col("_first.t").alias("t_first"),
        F.col("_first.v").alias("v_first"),
        F.col("_last.t").alias("t_last"),
        F.col("_last.v").alias("v_last"),
        F.col("_vmin.t").alias("t_min"),
        F.col("_vmin.v").alias("v_min"),
        F.col("_vmax.t").alias("t_max"),
        F.col("_vmax.v").alias("v_max"),
        "n",
    )


def allan_variance(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    taus: tuple[int, ...] = (60, 120, 240, 480, 960),
) -> DataFrame:
    """Allan variance / deviation per signal over a grid of averaging
    times (Allan 1966 Proc IEEE 54; the IEEE 1139 frequency-stability
    standard): AVAR(τ) = ½·E[(ȳ_{i+1} − ȳ_i)²] over means of
    consecutive τ-second buckets.  THE diagnostic for "how long may I
    average this signal before drift beats noise": white noise slopes
    τ^-1, random-walk drift slopes τ^+1, and the knee between them is
    the optimal rollup horizon — the continuous-aggregate cascade's
    own tuning curve, computed by the same engine that runs the
    cascade.

    Sparse-series convention: buckets with no points simply don't
    exist; only ADJACENT present buckets (b, b+1) form pairs, and
    ``m_pairs`` reports how many — so a gappy signal yields an
    honestly-reduced sample rather than interpolated noise.

    Exactness protocol: bucket means (sum/count rational) are
    quantized onto the 12-dp grid (the ``psi_drift``
    quantize-then-derive rule), successive differences of quantized
    means are exact DECIMAL, squared terms are 6-dp-quantized into a
    DECIMAL(38,6) accumulation, and AVAR = S/(2·m) is ONE float
    division — bit-identical in the DuckDB replay.

    Scale shape: the τ-grid is an IN-ROW explode (|taus| ≤ ~6 copies,
    no second scan), ONE (key, τ, bucket) map-side-combined hash
    aggregate, one lag window and the per-(key, τ) reduce riding the
    same partitioning — no joins, zero Python; the τ-grid multiplies
    the shuffle by |taus| but every bucket row is already aggregated.

    Returns one row per (key, tau_s): (*key, tau_s, n_buckets,
    m_pairs, avar, adev); ``avar`` is NULL when m_pairs = 0.
    """
    keys = [key] if isinstance(key, str) else list(key)
    from eristropy_spark.operators.changepoint import _floor_round
    from pyspark.sql import Window

    tau_arr = F.array(*[F.lit(int(t)) for t in taus])
    pts = df.select(
        *keys,
        F.explode(tau_arr).alias("tau_s"),
        F.unix_timestamp(F.col(ts_col)).alias("_sec"),
        F.col(value_col).alias("_v"),
    ).withColumn("_bucket", F.floor(F.col("_sec") / F.col("tau_s")))

    g = pts.groupBy(*keys, "tau_s", "_bucket").agg(
        F.sum("_v").alias("_s"),
        F.count("*").cast("long").alias("_c"),
    )
    mean12 = _floor_round(
        F.col("_s").cast("double") / F.col("_c").cast("double"), 12
    ).cast("decimal(38,12)")
    g = g.withColumn("_m12", mean12)

    w = Window.partitionBy(*keys, "tau_s").orderBy("_bucket")
    g = g.withColumn("_pb", F.lag("_bucket").over(w)).withColumn(
        "_pm", F.lag("_m12").over(w)
    )
    adj = F.col("_pb") == F.col("_bucket") - 1
    dd = (F.col("_m12") - F.col("_pm")).cast("double")
    term = F.when(adj, _floor_round(dd * dd, 6).cast("decimal(38,6)"))

    red = g.groupBy(*keys, "tau_s").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum(F.when(adj, 1).otherwise(0)).cast("long").alias("m_pairs"),
        F.sum(term).alias("_ss"),
    )
    md = F.col("m_pairs").cast("double")
    avar = F.when(
        F.col("m_pairs") >= 1,
        F.col("_ss").cast("double") / (F.lit(2.0) * md),
    )
    return red.select(
        *keys,
        "tau_s",
        "n_buckets",
        "m_pairs",
        avar.alias("avar"),
        F.when(avar.isNotNull(), F.sqrt(avar)).alias("adev"),
    )


def hadamard_variance(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    taus: tuple[int, ...] = (60, 120, 240, 480, 960),
) -> DataFrame:
    """Hadamard variance per signal over a grid of averaging times
    (Baugh 1971; the IEEE 1139 companion to ``allan_variance``):
    HVAR(τ) = ⅙·E[(ȳ_{i+2} − 2ȳ_{i+1} + ȳ_i)²] — the SECOND
    difference of consecutive τ-bucket means, which cancels any
    LINEAR frequency drift exactly.  Allan answers "when does drift
    beat noise"; Hadamard answers "what does the noise alone look
    like once the deterministic ramp is removed" — the pair separates
    a signal's drift rate from its noise floor using only the rollup
    cascade's own bucket means.

    Sparse-series convention: a triple contributes only when buckets
    b, b+1, b+2 are ALL present (``m_triples`` reports how many).

    Exactness protocol and scale shape: identical to
    ``allan_variance`` (12-dp-quantized bucket means, exact decimal
    second differences, 6-dp-quantized squares into DECIMAL(38,6),
    ONE float division; in-row τ explode + one (key, τ, bucket)
    map-side-combined aggregate + one two-lag window — no joins, zero
    Python).

    Returns one row per (key, tau_s): (*key, tau_s, n_buckets,
    m_triples, hvar, hdev); ``hvar`` is NULL when m_triples = 0.
    """
    keys = [key] if isinstance(key, str) else list(key)
    from eristropy_spark.operators.changepoint import _floor_round
    from pyspark.sql import Window

    tau_arr = F.array(*[F.lit(int(t)) for t in taus])
    pts = df.select(
        *keys,
        F.explode(tau_arr).alias("tau_s"),
        F.unix_timestamp(F.col(ts_col)).alias("_sec"),
        F.col(value_col).alias("_v"),
    ).withColumn("_bucket", F.floor(F.col("_sec") / F.col("tau_s")))

    g = pts.groupBy(*keys, "tau_s", "_bucket").agg(
        F.sum("_v").alias("_s"),
        F.count("*").cast("long").alias("_c"),
    )
    mean12 = _floor_round(
        F.col("_s").cast("double") / F.col("_c").cast("double"), 12
    ).cast("decimal(38,12)")
    g = g.withColumn("_m12", mean12)

    w = Window.partitionBy(*keys, "tau_s").orderBy("_bucket")
    g = (
        g.withColumn("_pb1", F.lag("_bucket", 1).over(w))
        .withColumn("_pm1", F.lag("_m12", 1).over(w))
        .withColumn("_pb2", F.lag("_bucket", 2).over(w))
        .withColumn("_pm2", F.lag("_m12", 2).over(w))
    )
    adj = (F.col("_pb1") == F.col("_bucket") - 1) & (
        F.col("_pb2") == F.col("_bucket") - 2
    )
    dd = (
        F.col("_m12") - 2 * F.col("_pm1") + F.col("_pm2")
    ).cast("double")
    term = F.when(adj, _floor_round(dd * dd, 6).cast("decimal(38,6)"))

    red = g.groupBy(*keys, "tau_s").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum(F.when(adj, 1).otherwise(0)).cast("long").alias("m_triples"),
        F.sum(term).alias("_ss"),
    )
    md = F.col("m_triples").cast("double")
    hvar = F.when(
        F.col("m_triples") >= 1,
        F.col("_ss").cast("double") / (F.lit(6.0) * md),
    )
    return red.select(
        *keys,
        "tau_s",
        "n_buckets",
        "m_triples",
        hvar.alias("hvar"),
        F.when(hvar.isNotNull(), F.sqrt(hvar)).alias("hdev"),
    )
