"""Decomposition operators: STL components and classical decomposition.

STL (reference stl.R:88-129) is inherently per-series iterative loess ->
Arrow-batched applyInPandas over the R-exact numpy kernel.

Classical decomposition (reference classical.R:13-53 delegating to
stats::decompose) is expressible in PURE Spark SQL — centered moving
averages and cycle-position means are window/group aggregates — so two
implementations exist:
  - classical_decomposition(): SQL-native (whole-stage codegen, no Python;
    the scale path), and
  - classical kernel inside the UDF tests as the oracle-exact cross-check.

fitted/residuals (stl.R:132-140) are plain column arithmetic on the
output (value - remainder, remainder), left to the caller.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F

from feasts_spark.kernels.stl import estimate_stl


def stl_components(
    df: DataFrame,
    key_col: str = "series_key",
    order_col: str = "bucket_ts",
    value_col: str = "val_avg",
    periods: tuple[int, ...] = (),
    s_windows: tuple | None = None,
    iterations: int = 2,
) -> DataFrame:
    """model(STL(value ~ season(p)...)) %>% components() — row-aligned.

    Output columns: key, order, value, trend, season_<p>..., remainder,
    season_adjust. Alias invariants (value = trend + sum(seasons) +
    remainder; season_adjust = trend + remainder) hold exactly and are
    asserted in tests.
    """
    periods = tuple(int(p) for p in periods)
    season_cols = [f"season_{p}" for p in periods if p > 1]

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        y = pdf[value_col].to_numpy(dtype=np.float64)
        dcmp = estimate_stl(
            y,
            periods=periods,
            s_windows=list(s_windows) if s_windows else None,
            iterations=iterations,
        )
        out = pdf[[key_col, order_col, value_col]].copy()
        out["trend"] = dcmp["trend"]
        for c in season_cols:
            out[c] = dcmp[c]
        out["remainder"] = dcmp["remainder"]
        out["season_adjust"] = dcmp["season_adjust"]
        return out

    key_type = df.schema[key_col].dataType.simpleString()
    order_type = df.schema[order_col].dataType.simpleString()
    schema = ", ".join(
        [f"{key_col} {key_type}", f"{order_col} {order_type}", f"{value_col} double",
         "trend double"]
        + [f"{c} double" for c in season_cols]
        + ["remainder double", "season_adjust double"]
    )
    return df.groupBy(key_col).applyInPandas(fn, schema=schema)


def reconstruction_ok(total_col: str, part_cols: list[str], tol: float = 1e-9):
    """Boolean column asserting the STL reconstruction identity
    |total - sum(parts)| < tol on each row (value = trend + Σseason +
    remainder; season_adjust = trend + remainder — stl.R:108-112).

    Intended as an IN-PLAN invariant certificate: wrap the emitted value
    in ``F.when(reconstruction_ok(...), value).otherwise(F.raise_error(...))``
    so any corrupted component makes the query THROW at execution time
    instead of silently returning rows. Must be evaluated on UNROUNDED
    components — display rounding destroys the identity at tol=1e-9."""
    resid = F.col(total_col)
    for p in part_cols:
        resid = resid - F.col(p)
    return F.abs(resid) < tol


def classical_decomposition(
    df: DataFrame,
    period: int,
    key_col: str = "series_key",
    order_col: str = "bucket_ts",
    value_col: str = "val_avg",
    type: str = "additive",
) -> DataFrame:
    """stats::decompose, Spark-SQL-native (classical.R:13-53 semantics).

    trend   = centered MA(period); even periods use the half-weighted
              (1/2, 1, ..., 1, 1/2)/period filter => NULL at each end.
    figure  = mean of detrended per cycle position, centered (additive:
              subtract mean of figure; multiplicative: divide).
    seasonal= figure tiled; random = detrended vs seasonal;
    season_adjust = value (-|/) seasonal.

    Everything stays in whole-stage codegen: two window passes + one
    group-join. The per-key row_number gives the cycle position, matching
    ts(y, frequency=m) starting at phase 0.
    """
    if type not in ("additive", "multiplicative"):
        raise ValueError(type)
    m = int(period)
    wk = W.partitionBy(key_col).orderBy(order_col)
    v = F.col(value_col)
    df = df.withColumn("_rn", F.row_number().over(wk) - F.lit(1))
    half = m // 2
    if m % 2 == 0:
        # weights (0.5, 1 x (m-1), 0.5)/m over rows [-m/2, m/2]
        wma = wk.rowsBetween(-half, half)
        n_in = F.count(v).over(wma)
        s_all = F.sum(v).over(wma)
        first_v = F.first(v).over(wma)
        last_v = F.last(v).over(wma)
        trend = (s_all - 0.5 * first_v - 0.5 * last_v) / m
        trend = F.when(n_in == m + 1, trend)  # NULL where window incomplete
    else:
        wma = wk.rowsBetween(-half, half)
        n_in = F.count(v).over(wma)
        trend = F.when(n_in == m, F.avg(v).over(wma))
    df = df.withColumn("trend", trend)
    detrend = (v - F.col("trend")) if type == "additive" else (v / F.col("trend"))
    df = df.withColumn("_detrend", detrend).withColumn("_pos", F.col("_rn") % m)
    figure = (
        df.groupBy(key_col, "_pos")
        .agg(F.avg("_detrend").alias("_fig_raw"))
    )
    wfig = W.partitionBy(key_col)
    if type == "additive":
        figure = figure.withColumn(
            "_figure", F.col("_fig_raw") - F.avg("_fig_raw").over(wfig)
        )
    else:
        figure = figure.withColumn(
            "_figure", F.col("_fig_raw") / F.avg("_fig_raw").over(wfig)
        )
    out = df.join(figure.select(key_col, "_pos", "_figure"), [key_col, "_pos"])
    seasonal = F.col("_figure")
    if type == "additive":
        random = v - F.col("trend") - seasonal
        sadj = v - seasonal
    else:
        random = v / (F.col("trend") * seasonal)
        sadj = v / seasonal
    return (
        out.withColumn("seasonal", seasonal)
        .withColumn("random", random)
        .withColumn("season_adjust", sadj)
        .select(key_col, order_col, value_col, "trend", "seasonal", "random",
                "season_adjust")
    )


def classical_decompose_kernel(y: np.ndarray, m: int, type: str = "additive") -> dict:
    """Reference-exact numpy stats::decompose — the oracle for the SQL op."""
    y = np.asarray(y, dtype=np.float64)
    n = y.size
    trend = np.full(n, np.nan)
    half = m // 2
    if m % 2 == 0:
        w = np.full(m + 1, 1.0 / m)
        w[0] = w[-1] = 0.5 / m
        for i in range(half, n - half):
            trend[i] = float(w @ y[i - half : i + half + 1])
    else:
        for i in range(half, n - half):
            trend[i] = float(np.mean(y[i - half : i + half + 1]))
    detrend = y - trend if type == "additive" else y / trend
    figure = np.array([
        np.nanmean(detrend[pos::m]) for pos in range(m)
    ])
    figure = figure - figure.mean() if type == "additive" else figure / figure.mean()
    seasonal = figure[np.arange(n) % m]
    if type == "additive":
        random = y - trend - seasonal
        sadj = y - seasonal
    else:
        random = y / (trend * seasonal)
        sadj = y / seasonal
    return {"trend": trend, "seasonal": seasonal, "random": random,
            "season_adjust": sadj, "figure": figure}


# ---------------------------------------------------------------------------
# X-11-method core decomposition, Spark-SQL-native.
#
# The reference's X11() (x11.R:19-91) shells out to the Census X-13 binary;
# this is the published X-11 algorithm itself (steps B1-B12, provenance and
# filter closed forms in kernels/x11.py) expressed as window aggregates +
# one broadcast weight-table join — zero Python rows, whole-stage codegen
# end to end. Parallelism is per series (like classical/STL); the Henderson
# convolution is a lag/lead array zipped with a broadcast (a,b)->weights
# lookup, so no self-join and no extra shuffle beyond the keyed windows.
# ---------------------------------------------------------------------------

def _x11_centered_ma(col, wk, m: int, rn, nrows):
    """Centered MA(m), truncated + renormalized at series ends (matches
    kernels.x11._centered_ma). Even m uses the (0.5,1,..,1,0.5)/m filter;
    the half-weighted edge terms only apply when the frame reaches the
    full +-m/2 extension."""
    half = m // 2
    frame = wk.rowsBetween(-half, half)
    if m % 2 == 1:
        return F.avg(col).over(frame)
    left_full = (rn >= half).cast("double")
    right_full = (nrows - 1 - rn >= half).cast("double")
    w_sum = (
        F.sum(col).over(frame)
        - 0.5 * left_full * F.first(col).over(frame)
        - 0.5 * right_full * F.last(col).over(frame)
    )
    w_tot = F.count(col).over(frame) - 0.5 * left_full - 0.5 * right_full
    return w_sum / w_tot


def _x11_weighted_lag_ma(col, wp, weights) -> "F.Column":
    """Composite seasonal MA (3x3 / 3x5 interior weights) over a
    cycle-position window, truncated-renormalized at subseries ends."""
    half = len(weights) // 2
    num, den = F.lit(0.0), F.lit(0.0)
    for j, w in enumerate(weights, start=-half):
        x = F.lag(col, -j).over(wp) if j != 0 else col
        num = num + F.lit(float(w)) * F.coalesce(x, F.lit(0.0))
        den = den + F.lit(float(w)) * x.isNotNull().cast("double")
    return num / den


def _x11_henderson(df: DataFrame, col: str, out: str, h: int,
                   wk, rn, nrows) -> DataFrame:
    """Henderson trend of `col` with Musgrave asymmetric ends: build the
    lag/lead array, broadcast-join the (a,b)-keyed weight table from
    kernels.x11 (weights are zero outside the retained span and sum to 1,
    so a single zip_with+aggregate is the whole convolution)."""
    from feasts_spark.kernels.x11 import henderson_weight_table

    mh = h // 2
    spark = df.sparkSession
    wtab = spark.createDataFrame(
        [(a, b, [float(x) for x in w])
         for (a, b), w in henderson_weight_table(h).items()],
        schema="_ha int, _hb int, _hw array<double>",
    )
    vals = F.array(*[
        (F.lag(col, -j).over(wk) if j != 0 else F.col(col))
        for j in range(-mh, mh + 1)
    ])
    df = df.withColumn("_hv", vals) \
        .withColumn("_ha", F.least(rn, F.lit(mh)).cast("int")) \
        .withColumn("_hb", F.least(nrows - 1 - rn, F.lit(mh)).cast("int"))
    df = df.join(F.broadcast(wtab), ["_ha", "_hb"])
    conv = F.aggregate(
        F.zip_with("_hv", "_hw", lambda x, w: F.coalesce(x * w, F.lit(0.0))),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    return df.withColumn(out, conv).drop("_hv", "_hw", "_ha", "_hb")


def x11_decomposition(
    df: DataFrame,
    period: int,
    key_col: str = "series_key",
    order_col: str = "bucket_ts",
    value_col: str = "val_avg",
    type: str = "additive",
    henderson: int | None = None,
) -> DataFrame:
    """X-11 core decomposition -> (trend, seasonal, irregular,
    season_adjust) per row; y reconstructs exactly from the components.

    Series shorter than two full cycles are dropped (the method needs at
    least two cycles to estimate a seasonal; the Census implementation
    requires 3 full years). Matches kernels.x11.x11_decompose_kernel
    bit-for-bit up to float association."""
    if type not in ("additive", "multiplicative"):
        raise ValueError(type)
    from feasts_spark.kernels.x11 import default_henderson_length

    m = int(period)
    h = int(henderson) if henderson else default_henderson_length(m)
    mul = type == "multiplicative"
    v = F.col(value_col)

    wk = W.partitionBy(key_col).orderBy(order_col)
    wall = W.partitionBy(key_col)
    df = (
        df.withColumn("_rn", F.row_number().over(wk) - F.lit(1))
        .withColumn("_n", F.count(F.lit(1)).over(wall))
        .filter(F.col("_n") >= 2 * m)
    )
    rn, nrows = F.col("_rn"), F.col("_n")
    wp = W.partitionBy(key_col, "_pos").orderBy(order_col)
    df = df.withColumn("_pos", rn % m)

    def _detrend(val, tr):
        return val / tr if mul else val - tr

    def _deseas(val, s):
        return val / s if mul else val - s

    s33 = [1 / 9, 2 / 9, 3 / 9, 2 / 9, 1 / 9]
    s35 = [1 / 15, 2 / 15, 3 / 15, 3 / 15, 3 / 15, 2 / 15, 1 / 15]

    # B1-B5: first-pass trend, 3x3 seasonal (centered), first adjustment
    df = df.withColumn("_t1", _x11_centered_ma(v, wk, m, rn, nrows))
    df = df.withColumn("_si1", _detrend(v, F.col("_t1")))
    df = df.withColumn("_s1r", _x11_weighted_lag_ma(F.col("_si1"), wp, s33))
    center1 = _x11_centered_ma(F.col("_s1r"), wk, m, rn, nrows)
    df = df.withColumn(
        "_s1", F.col("_s1r") / center1 if mul else F.col("_s1r") - center1
    )
    df = df.withColumn("_sa1", _deseas(v, F.col("_s1")))
    # B6-B10: Henderson trend, 3x5 seasonal (centered), final adjustment
    df = _x11_henderson(df, "_sa1", "_t2", h, wk, rn, nrows)
    df = df.withColumn("_si2", _detrend(v, F.col("_t2")))
    df = df.withColumn("_s2r", _x11_weighted_lag_ma(F.col("_si2"), wp, s35))
    center2 = _x11_centered_ma(F.col("_s2r"), wk, m, rn, nrows)
    df = df.withColumn(
        "seasonal", F.col("_s2r") / center2 if mul else F.col("_s2r") - center2
    )
    df = df.withColumn("season_adjust", _deseas(v, F.col("seasonal")))
    # B11-B12: final Henderson trend + irregular
    df = _x11_henderson(df, "season_adjust", "trend", h, wk, rn, nrows)
    irr = (
        F.col("season_adjust") / F.col("trend")
        if mul else F.col("season_adjust") - F.col("trend")
    )
    return (
        df.withColumn("irregular", irr)
        .select(key_col, order_col, value_col, "trend", "seasonal",
                "irregular", "season_adjust")
    )
