"""Skew handling: heavy-key detection + salted two-phase aggregation.

Zipf-distributed conversation lengths (top conv_ids >= 100k turns,
FIXTURES.md §1) make a plain groupBy(conv_id) shuffle lopsided: one
reducer gets the whale while the rest idle. AQE's skew handling is
join-oriented; groupBy skew needs the explicit pattern [SURVEY.md §4.2]:

  1. detect heavy keys (full or sampled count > threshold),
  2. salt ONLY the heavy keys' rows (pmod(xxhash64(...), S)),
  3. partial aggregate on (key, salt) — the shuffle now spreads the whale
     over S reducers,
  4. final aggregate on (key) over the S partials (tiny).

All aggregates here are the decomposable rollup summaries, so
two-phase == one-phase exactly (tested salted-vs-unsalted equality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from feasts_spark.operators.rollup import TIERS


def detect_heavy_keys(
    df: DataFrame,
    key_col: str,
    threshold: int = 1_000_000,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Keys whose row count exceeds threshold. Sampled variant scales the
    threshold: at 10^12 rows, sample ~1e-3 and divide threshold accordingly.
    """
    if sample_fraction:
        est = (
            df.sample(fraction=sample_fraction, seed=42)
            .groupBy(key_col)
            .count()
            .filter(F.col("count") > threshold * sample_fraction)
        )
        return est.select(key_col)
    return (
        df.groupBy(key_col).count().filter(F.col("count") > threshold).select(key_col)
    )


def salted_rollup(
    df: DataFrame,
    tier: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    num_salts: int = 16,
    heavy_keys: DataFrame | None = None,
    heavy_threshold: int = 1_000_000,
    pin_partials: bool = True,
) -> DataFrame:
    """Rollup with two-phase aggregation for heavy keys.

    heavy_keys is broadcast (it is tiny by construction); light keys take
    salt 0 so their partial groupBy degenerates to the plain path.

    pin_partials: the light/heavy split consumes the partial aggregate
    from two branches; without a pin Catalyst clones the whole subtree
    into each branch — including the RAW SCAN, which then decodes the
    source twice (measured: +18-25% on a 24M-turn corpus at 4 and 16
    cores). The non-eager localCheckpoint pins the partial rows (tier-
    sized, ~60:1 smaller than raw) so both branches read one
    materialization, same pattern as doc_stream_offsets' chunk-boundary
    pin. Set False where a pure Catalyst plan is required (plan-shape
    introspection).

    Executor loss: the pinned partials live only in the block managers of
    the executors that computed them, and Spark drops their lineage once
    they are materialized. If such an executor is lost, a later task that
    reads one of its blocks fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND,
    every retry fails the same way, and the action fails: the job stops,
    it is neither recomputed from lineage nor answered wrongly. Rerun it
    (jobs/rollup_job.py --resume redoes only the unfinished day units).
    """
    if heavy_keys is None:
        heavy_keys = detect_heavy_keys(df, key_col, threshold=heavy_threshold)
    heavy = heavy_keys.withColumn("_is_heavy", F.lit(True))
    trunc = TIERS[tier]
    v = F.col(value_col)
    salted = (
        df.join(F.broadcast(heavy), on=key_col, how="left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_is_heavy").isNotNull(),
                F.pmod(F.xxhash64(F.col(ts_col)), F.lit(num_salts)),
            ).otherwise(F.lit(0)),
        )
        .withColumn("_bucket", F.date_trunc(trunc, F.col(ts_col)))
    )
    # _is_heavy is functionally determined by the key, so adding it to the
    # grouping keys changes no group — it just rides along so the merge
    # step below can route rows without a second broadcast probe.
    partial = salted.groupBy(
        F.col(key_col).alias("series_key"),
        F.col("_bucket").alias("bucket_ts"),
        "_salt",
        "_is_heavy",
    ).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(v).alias("val_sum"),
        F.min(v).alias("val_min"),
        F.max(v).alias("val_max"),
        F.min_by(v, F.col(ts_col)).alias("val_first"),
        F.max_by(v, F.col(ts_col)).alias("val_last"),
        F.min(F.col(ts_col)).alias("first_ts"),
        F.max(F.col(ts_col)).alias("last_ts"),
    )
    if pin_partials:
        partial = partial.localCheckpoint(eager=False)
    # Light keys all carry salt 0, so their (key, bucket) partial IS the
    # final answer — re-shuffling them through a second full aggregation
    # only re-hashes the dominant share of the tier's rows (the heavy set
    # is tiny by construction). Split instead: light rows pass through
    # untouched (same exchange, a filter projection), and only the heavy
    # keys' salt partials — O(heavy_keys * buckets * num_salts) rows —
    # pay the merge aggregation.
    light = partial.filter(F.col("_is_heavy").isNull()).drop("_salt", "_is_heavy")
    heavy_final = (
        partial.filter(F.col("_is_heavy").isNotNull())
        .groupBy("series_key", "bucket_ts")
        .agg(
            F.sum("n_points").alias("n_points"),
            F.sum("val_sum").alias("val_sum"),
            F.min("val_min").alias("val_min"),
            F.max("val_max").alias("val_max"),
            F.min_by(F.col("val_first"), F.col("first_ts")).alias("val_first"),
            F.max_by(F.col("val_last"), F.col("last_ts")).alias("val_last"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
        )
    )
    return light.unionByName(heavy_final).withColumn(
        "val_avg", F.col("val_sum") / F.col("n_points")
    )

