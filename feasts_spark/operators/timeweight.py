"""Time-weighted aggregates over irregular series.

Plain `avg(value)` over a bucket treats samples as equally spaced; on an
irregular stream (transcript turns, sensor pushes, counter scrapes) that
over-weights bursts. The time-weighted mean integrates the series over
wall-clock instead: each sample opens a segment [ts, next_ts) carrying its
value (LOCF) or the linear interpolation toward the next sample, segments
are SPLIT across tier-bucket boundaries, and each bucket averages value
weighted by in-bucket segment duration. `duration_in_state` is the same
segment algebra with a categorical column: wall-clock spent per state per
bucket (the state_agg shape). These are the TimescaleDB
time_weight()/state_agg() semantics rebuilt on Spark windows — the
reference computes features over REGULAR series only (feasts requires a
filled tsibble index); this operator is what makes the raw irregular
stream aggregable without gap-filling first.

Plan shape: ONE window shuffle per call (lead over (key, ts, tie)), then
a bucket-sequence explode (segments rarely span many tier buckets, so the
explode factor is ~1 for sub-tier cadences) and one partial-aggregated
groupBy onto the (key, bucket) grain — all JVM codegen, no Python. Ties
on ts order deterministically by `tie_col` so distributed runs and the
DuckDB oracle pair segments identically; zero-width segments (duplicate
timestamps) carry no weight and drop. The final sample of a series opens
no segment (nothing bounds it) — callers wanting an open-ended tail can
append a sentinel row at their horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from feasts_spark.operators.rollup import TIER_SECONDS


def _segments(df: DataFrame, key_col: str, ts_col: str,
              carry_cols: dict[str, str], tie_col: str | None) -> DataFrame:
    """One row per closed segment: key, t0, t1 (= next sample's ts) and
    each carry col's value at t0 plus its `_next` value at t1."""
    order = [F.col(ts_col)] + ([F.col(tie_col)] if tie_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    sel = [
        F.col(key_col).alias("series_key"),
        F.col(ts_col).alias("t0"),
        F.lead(ts_col).over(w).alias("t1"),
    ]
    for src, name in carry_cols.items():
        sel.append(F.col(src).alias(name))
        sel.append(F.lead(src).over(w).alias(f"{name}_next"))
    return df.select(*sel).filter(F.col("t1") > F.col("t0"))


def _bucketed(seg: DataFrame, tier: str) -> DataFrame:
    """Explode each segment over the tier buckets it crosses and clip:
    adds bucket_ts, w_us (in-bucket microseconds, > 0) and the clip
    offsets off_a/off_b (microseconds from t0) for interpolation."""
    if tier not in TIER_SECONDS:
        raise ValueError(f"unknown tier {tier!r}")
    step = f"INTERVAL {TIER_SECONDS[tier]} SECOND"
    out = seg.withColumn(
        "bucket_ts",
        F.explode(F.expr(
            f"sequence(date_trunc('{_trunc_unit(tier)}', t0), "
            f"date_trunc('{_trunc_unit(tier)}', t1), {step})"
        )),
    )
    b_end = F.col("bucket_ts") + F.expr(step)
    a = F.greatest(F.col("t0"), F.col("bucket_ts"))
    b = F.least(F.col("t1"), b_end)

    def us(c):  # unix_micros rejects TIMESTAMP_NTZ sources; session is UTC
        return F.unix_micros(c.cast("timestamp"))

    return out.select(
        "*",
        (us(b) - us(a)).alias("w_us"),
        (us(a) - us(F.col("t0"))).alias("off_a"),
        (us(b) - us(F.col("t0"))).alias("off_b"),
        (us(F.col("t1")) - us(F.col("t0"))).alias("dur_us"),
    ).filter(F.col("w_us") > 0)


def _trunc_unit(tier: str) -> str:
    return {"1m": "minute", "1h": "hour", "1d": "day"}[tier]


def time_weighted_partials(df: DataFrame, tier: str,
                           key_col: str = "series_key",
                           ts_col: str = "ts", value_col: str = "value",
                           tie_col: str | None = None) -> DataFrame:
    """ADDITIVE per-(series, bucket) time-weight sums: swv_locf (Σ w·v),
    swv_linear (Σ w·v̄ of the trapezoid), w_us (Σ w). This is the
    tier-algebra form — partials re-aggregate to any coarser tier by
    plain SUM (a 1h bucket's sums are exactly its 60 1m buckets' sums,
    because bucket splitting at the fine tier subdivides the same
    segments), the same cascade property the rollup tiers exploit.
    `finalize_time_weighted` turns partials into means."""
    seg = _segments(df, key_col, ts_col, {value_col: "v"}, tie_col)
    bk = _bucketed(seg, tier)
    # linear interpolant value at the clip points a/b
    slope = (F.col("v_next") - F.col("v")) / F.col("dur_us")
    va = F.col("v") + slope * F.col("off_a")
    vb = F.col("v") + slope * F.col("off_b")
    return bk.groupBy("series_key", "bucket_ts").agg(
        F.sum(F.col("w_us") * F.col("v")).alias("swv_locf"),
        F.sum(F.col("w_us") * (va + vb) / F.lit(2.0))
        .alias("swv_linear"),
        F.sum("w_us").alias("w_us"),
    )


def cascade_time_weighted_partials(partials: DataFrame,
                                   tier: str) -> DataFrame:
    """Re-aggregate FINER-tier partials to coarser `tier` by SUM — no
    rescan of the raw stream, the TWA twin of `rollup_cascade`. Exact
    up to float re-association: the coarse bucket's segment pieces are
    a refinement of the fine tier's. The input's grain must be strictly
    finer than `tier` (partials carry no tier tag to validate against;
    cascading to the same or a finer tier would silently mislabel the
    grain, exactly as misusing rollup_cascade would)."""
    if tier not in TIER_SECONDS:
        raise ValueError(f"unknown tier {tier!r}")
    unit = _trunc_unit(tier)
    return partials.groupBy(
        "series_key",
        F.date_trunc(unit, "bucket_ts").alias("bucket_ts"),
    ).agg(
        F.sum("swv_locf").alias("swv_locf"),
        F.sum("swv_linear").alias("swv_linear"),
        F.sum("w_us").alias("w_us"),
    )


def finalize_time_weighted(partials: DataFrame) -> DataFrame:
    """Partials -> means: twa_locf, twa_linear, covered_us.

    Sums per (series, bucket) FIRST, so the one finalizer serves both
    shapes a caller can hold: the batch partials frame (already unique
    per bucket) and any UNION of partial frames (e.g. per-batch
    appends to a snapshot table), where a bucket legitimately appears
    once per frame. Finalizing such a union without the sum would
    silently yield one partial-only mean per frame — hence no raw-divide
    variant is exported (`time_weighted` composes the private
    projection directly, skipping the redundant re-aggregation on the
    hot batch path)."""
    return _divide(partials.groupBy("series_key", "bucket_ts").agg(
        F.sum("swv_locf").alias("swv_locf"),
        F.sum("swv_linear").alias("swv_linear"),
        F.sum("w_us").alias("w_us"),
    ))


def _divide(partials: DataFrame) -> DataFrame:
    """Unique-per-bucket partials -> means (internal; the public
    finalizer sums first so accumulated emissions cannot be misused)."""
    return partials.select(
        "series_key", "bucket_ts",
        (F.col("swv_locf") / F.col("w_us")).alias("twa_locf"),
        (F.col("swv_linear") / F.col("w_us")).alias("twa_linear"),
        F.col("w_us").alias("covered_us"),
    )


def time_weighted(df: DataFrame, tier: str, key_col: str = "series_key",
                  ts_col: str = "ts", value_col: str = "value",
                  tie_col: str | None = None) -> DataFrame:
    """Per (series, tier bucket): twa_locf (step-function integral),
    twa_linear (trapezoid integral of the linear interpolant) and
    covered_us (wall-clock covered by segments in the bucket — < the full
    bucket when the series starts/ends inside it). Both means share one
    segment pass; a bucket appears iff some segment overlaps it, so a
    series with a multi-bucket gap still covers the gap buckets (the
    LOCF carry is exactly what gap-fill would write there).
    """
    return _divide(
        time_weighted_partials(df, tier, key_col, ts_col, value_col,
                               tie_col))


def duration_in_state(df: DataFrame, tier: str,
                      key_col: str = "series_key", ts_col: str = "ts",
                      state_col: str = "state",
                      tie_col: str | None = None) -> DataFrame:
    """Per (series, tier bucket, state): wall-clock microseconds the
    series spent in `state` (LOCF — a sample's state holds until the
    next sample), segments split across buckets. The state_agg shape:
    `GROUP BY` it further for dominant-state/occupancy queries."""
    seg = _segments(df, key_col, ts_col, {state_col: "s"}, tie_col)
    bk = _bucketed(seg, tier)
    return bk.groupBy("series_key", "bucket_ts", F.col("s").alias("state")) \
        .agg(F.sum("w_us").alias("state_us"))


def state_top(df: DataFrame, tier: str, key_col: str = "series_key",
              ts_col: str = "ts", state_col: str = "state",
              tie_col: str | None = None) -> DataFrame:
    """Per (series, tier bucket): the state holding the most wall-clock
    (ties break to the lexicographically smallest state so distributed
    runs and the SQL oracle agree), its duration, and the number of
    distinct states seen."""
    d = duration_in_state(df, tier, key_col, ts_col, state_col, tie_col)
    # min of (-us, name): largest duration wins, ties to the smallest name
    top = F.min(F.struct((-F.col("state_us")).alias("neg_us"),
                         F.col("state").alias("st")))
    return d.groupBy("series_key", "bucket_ts").agg(
        top.alias("_t"), F.count("*").alias("n_states"),
    ).select(
        "series_key", "bucket_ts",
        F.col("_t.st").alias("state_top"),
        (-F.col("_t.neg_us")).alias("state_top_us"),
        "n_states",
    )
