"""spark-submit entry point: transcripts -> tier rollups -> gap-fill ->
Gorilla chunks -> features, with per-partition lineage + resume.

Usage:
  tools/package.sh   # builds dist/feasts_spark.zip
  spark-submit --py-files dist/feasts_spark.zip jobs/rollup_job.py \
      --input /path/transcripts --output /path/warehouse \
      [--checkpoint /path/ckpt] [--tiers 1m,1h,1d] [--resume] \
      [--refresh-input /path/late_batch --run-id refresh-<batch>]

With --refresh-input the job skips the base build and instead folds a
late-arriving transcript batch into the existing warehouse: only the day
partitions the batch touches are read, refreshed
(operators.rollup.rollup_refresh — clean buckets pass through untouched)
and rewritten, tier by tier, chunks included.

The job processes one day-partition at a time (days(ts) layout), writing
each tier with idempotent overwrite-by-partition and recording a manifest
row per completed unit — killing and re-running with --resume skips
completed partitions and produces byte-identical output (tested in
tests/test_checkpoint_resume.py).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--tiers", default="1m,1h,1d")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--heavy-threshold", type=int, default=1_000_000)
    ap.add_argument("--unit-parallelism", type=int, default=1,
                    help="day units processed concurrently (driver thread "
                         "pool; units write disjoint partitions)")
    ap.add_argument("--features", action="store_true",
                    help="also write the per-conversation feature table")
    ap.add_argument("--feature-period", type=int, default=24)
    ap.add_argument("--min-series-len", type=int, default=20)
    ap.add_argument("--retention", action="store_true",
                    help="drop aged-out day partitions per tier policy "
                         "after the rollup units complete")
    ap.add_argument("--retention-policy", default=None,
                    help="JSON tier->max-age override for --retention, "
                         "e.g. '{\"1m\": \"30 days\"}' (default: the "
                         "engine policy in operators/retention.py)")
    ap.add_argument("--table-format", choices=("partition", "snapshot"),
                    default="partition",
                    help="'partition': plain parquet dirs with dynamic "
                         "partition overwrite (default). 'snapshot': "
                         "versioned manifest tables (sources/snapshots.py) "
                         "— every day unit commits atomically, tiers get "
                         "time travel, refresh reads a PINNED pre-refresh "
                         "version (no checkpoint-dir copy), and retention "
                         "is a metadata-only delete commit")
    ap.add_argument("--compact-small-mb", type=int, default=0,
                    help="snapshot format only: after the run, bin-pack "
                         "each table's files smaller than this into "
                         "fewer larger ones (0 = off)")
    ap.add_argument("--compact-recluster", action="store_true",
                    help="re-sort compacted rows through each table's "
                         "clustering so maintenance RESTORES footer-stats "
                         "pruning instead of widening the merged windows")
    ap.add_argument("--tag", default=None,
                    help="snapshot format only: after the run, pin every "
                         "table's head version under this name (an "
                         "expire-protected, reproducible-corpus pin; "
                         "re-running a tick moves the same tag)")
    ap.add_argument("--expire-keep", type=int, default=0,
                    help="snapshot format only: after the run, keep the "
                         "newest N snapshots per table and delete "
                         "unreferenced data files (0 = keep all history)")
    ap.add_argument("--refresh-input", default=None,
                    help="late-arriving transcripts parquet: instead of a "
                         "base build, incrementally refresh the existing "
                         "tier tables — only the day partitions the late "
                         "batch touches are read and rewritten "
                         "(operators.rollup.rollup_refresh). The batch "
                         "must contain only rows not already rolled up "
                         "(invalidation-log contract); give each refresh "
                         "batch its own --run-id")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from feasts_spark.operators.compression import compress_chunks
    from feasts_spark.operators.rollup import rollup_cascade
    from feasts_spark.operators.skew import salted_rollup
    from feasts_spark.session import get_spark
    from feasts_spark.sources.tableio import TableIO
    from feasts_spark.sources.transcripts import turn_series
    from feasts_spark.streaming.checkpoint import CheckpointedRun, checksum_df

    spark = get_spark(app_name="feasts_rollup_job")
    if args.table_format == "snapshot":
        from feasts_spark.sources.snapshots import SnapshotIO

        io = SnapshotIO(spark, args.output)
    else:
        io = TableIO(spark, args.output)
    is_snapshot = getattr(io, "is_snapshot", False)
    ckpt_dir = args.checkpoint or f"{args.output}/_checkpoints"
    run = CheckpointedRun(spark, ckpt_dir, run_id=args.run_id)

    transcripts = spark.read.parquet(args.input)
    # days(ts)-partitioned input (a `dt` partition column) is the layout
    # this job is designed for: the per-day unit then PRUNES to one
    # partition at the scan instead of rescanning the whole table per day
    # (at 16 day-partitions that is 16x less IO; at a year of 100 TB it is
    # the difference between feasible and not). Unpartitioned input still
    # works via the to_date filter, paying the rescan.
    has_dt = "dt" in transcripts.columns
    series = turn_series(transcripts)
    if args.refresh_input:
        if args.retention:
            raise SystemExit(
                "--retention and --refresh-input are separate passes: "
                "refresh rewrites dirty day partitions, retention drops "
                "aged ones — run them as two invocations"
            )
        days = []  # refresh mode derives its own unit list from the batch
    elif has_dt:
        days = sorted(
            str(r["dt"])
            for r in transcripts.select("dt").distinct().collect()
        )
    else:
        days = sorted(
            r["dt"].isoformat()
            for r in series.select(
                F.to_date("ts").alias("dt")
            ).distinct().collect()
        )
    tiers = args.tiers.split(",")

    import os
    import time as _t

    debug_timing = os.environ.get("ROLLUP_JOB_DEBUG_TIMING") == "1"
    phase_s: dict[str, float] = {}

    def _mark(label: str, t0: float) -> float:
        if debug_timing:
            phase_s[label] = round(_t.monotonic() - t0, 2)
        return _t.monotonic()

    def write_day_tiers(base, day: str, label: str = "") -> None:
        """Write every tier + its Gorilla chunks for one day, cascading
        from the finest-tier frame `base` (tiers[0]) — shared by the base
        build and the late-data refresh so their output schemas cannot
        drift."""
        lower = base
        t = _t.monotonic()
        for tier in tiers:
            cur = lower if tier == tiers[0] else rollup_cascade(lower, tier)
            io.overwrite_partitions(
                cur.withColumn("dt", F.lit(day)), f"rollup_{tier}", ("dt",),
                values=(day,),
            )
            t = _mark(f"{day} {label}rollup_{tier}", t)
            chunks = compress_chunks(
                cur.withColumn(
                    "series_key", F.col("series_key").cast("string")
                ),
                tier,
            ).withColumn("dt", F.lit(day))
            io.overwrite_partitions(chunks, f"chunks_{tier}", ("dt",),
                                    values=(day,))
            t = _mark(f"{day} {label}chunks_{tier}", t)
            lower = cur

    def process(day: str):
        if has_dt:
            sub = turn_series(transcripts.filter(F.col("dt") == day))
        else:
            sub = series.filter(F.to_date("ts") == day)
        r = salted_rollup(
            sub, tiers[0], key_col="conv_id", ts_col="ts", value_col="value",
            heavy_threshold=args.heavy_threshold,
        ).persist()
        write_day_tiers(r, day)
        t = _t.monotonic()
        n, h = checksum_df(r)
        _mark(f"{day} checksum", t)
        r.unpersist()
        return n, h

    def refresh_unit(day: str):
        """Refresh one dirty day partition: merge the late batch's rows
        for this day into the finest tier (clean buckets pass through a
        broadcast anti join bitwise-untouched), re-cascade the coarser
        tiers from the refreshed day (day-sized, not corpus-sized), and
        rewrite this day's tier + chunk partitions. A day absent from the
        base tables (a wholly-late day) materializes from the late rollup
        alone.

        Retry idempotence: unlike process(), which recomputes from raw,
        this unit READS ITS OWN OUTPUT TABLE — so a crash between the
        first overwrite commit and the manifest append must not re-merge
        the late batch into a tier that already contains it. The
        PRE-refresh day partition is therefore snapshotted under the
        checkpoint dir (once per (run_id, day), committed via _SUCCESS)
        and the merge always reads the snapshot: any retry reproduces the
        same bytes. The snapshot also truncates the lineage the coarser
        tiers re-read, so overwriting the live partition cannot leak into
        the cascade (read-your-own-write).

        The refreshed day is pinned with an eager localCheckpoint for the
        2-3 tier writes. The pin does not survive the loss of an executor
        that holds its blocks: the next write that reads them fails with
        CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on every retry, and the unit
        raises before its manifest row is recorded. That is the state a
        crash mid-unit leaves: --resume redoes the unit from the same
        pre-refresh snapshot. Nothing is recomputed from lineage."""
        from feasts_spark.operators.rollup import rollup_refresh

        late_sub = late_series.filter(F.to_date("ts") == day)
        if is_snapshot:
            # the snapshot layer's time travel replaces the checkpoint-dir
            # copy: read the PINNED pre-refresh version (immutable file
            # set), so a retry after a partial overwrite reproduces the
            # same bytes and the coarser tiers' cascade can never re-read
            # the just-overwritten finest tier. read_where prunes to this
            # day's files at the MANIFEST — a day unit never lists or
            # opens the other days' file footers.
            existing = io.table(f"rollup_{tiers[0]}").read_where(
                "dt", day, day, version=refresh_base_version
            ).drop("dt")
        else:
            live = io.read(f"rollup_{tiers[0]}")
            snap = os.path.join(
                ckpt_dir, "refresh_snapshots", run.run_id, day
            )
            if not os.path.exists(os.path.join(snap, "_SUCCESS")):
                live.filter(F.col("dt") == day).drop("dt").write.mode(
                    "overwrite"
                ).parquet(snap)
            existing = spark.read.schema(live.drop("dt").schema).parquet(snap)
        refreshed = rollup_refresh(
            existing, late_sub, tiers[0],
            key_col="conv_id", ts_col="ts", value_col="value",
        ).localCheckpoint()  # materialize once for the 2-3 tier writes
        write_day_tiers(refreshed, day, label="refresh ")
        return checksum_df(refreshed)

    import time

    t0 = time.monotonic()
    if args.refresh_input:
        late_series = turn_series(spark.read.parquet(args.refresh_input))
        if is_snapshot:
            # pin the pre-refresh version once per run_id and persist the
            # pin: a --resume retry must read the SAME base even though
            # completed units already advanced the table head
            bv_dir = os.path.join(ckpt_dir, "refresh_base_version")
            os.makedirs(bv_dir, exist_ok=True)
            bv_path = os.path.join(bv_dir, f"{run.run_id}.json")
            if os.path.exists(bv_path):
                with open(bv_path) as f:
                    refresh_base_version = json.load(f)["version"]
            else:
                refresh_base_version = io.table(
                    f"rollup_{tiers[0]}"
                ).current_version()
                with open(bv_path, "w") as f:
                    json.dump({"version": refresh_base_version}, f)
            # the pin is only as durable as its snapshot: an --expire-keep
            # run since the original attempt may have dropped the pinned
            # manifest — fail loudly with the remedy instead of a raw
            # FileNotFoundError mid-unit
            pin_manifest = io.table(
                f"rollup_{tiers[0]}"
            )._manifest_path(refresh_base_version)  # noqa: SLF001
            if refresh_base_version > 0 and not os.path.exists(pin_manifest):
                raise SystemExit(
                    f"refresh run {run.run_id} is pinned to snapshot "
                    f"version {refresh_base_version}, which has been "
                    "expired (--expire-keep). Re-run the refresh under a "
                    "NEW --run-id (and do not expire snapshots while a "
                    "refresh run is incomplete)."
                )
        refresh_days = sorted(
            r["d"].isoformat()
            for r in late_series.select(
                F.to_date("ts").alias("d")
            ).distinct().collect()
        )
        # units are scoped by run_id: the manifest's completed-set is
        # run_id-agnostic (for base builds a day once built IS built), but
        # a SECOND late batch touching the same day is new work — without
        # the scope it would be silently skipped and its rows lost
        metrics = run.run(
            [f"refresh:{run.run_id}:{d}" for d in refresh_days],
            lambda unit: refresh_unit(unit.rsplit(":", 1)[1]),
            max_parallel_units=args.unit_parallelism,
        )
        metrics["refreshed_days"] = refresh_days
    else:
        metrics = run.run(
            days, process, max_parallel_units=args.unit_parallelism
        )
    # processing wall time (excludes JVM/session startup): the number the
    # two-cluster-size scaling evidence compares, since startup is a fixed
    # cost that does not scale with executors
    metrics["process_wall_s"] = round(time.monotonic() - t0, 3)
    if debug_timing:
        metrics["phase_s"] = phase_s

    if args.features:
        # Feature extraction over the finest written tier: per-conversation
        # feature pack on the full (all-days) 1m series — one pass after
        # the per-day rollup units, recorded as its own manifest unit.
        from feasts_spark.operators.features import features

        def feat_unit(_):
            tier0 = args.tiers.split(",")[0]
            r = io.read(f"rollup_{tier0}")
            counts = (
                r.groupBy("series_key").count()
                .filter(F.col("count") >= args.min_series_len)
            )
            keyed = r.join(counts.select("series_key"), "series_key")
            out = features(
                keyed, key_col="series_key", order_col="bucket_ts",
                value_col="val_avg", period=args.feature_period,
            )
            io.overwrite_partitions(out.withColumn("dt", F.lit("all")),
                                    "features", ("dt",), values=("all",))
            return checksum_df(out)

        # in refresh mode the features unit is run_id-scoped like the day
        # units: a base run's '__features__' manifest row must not skip
        # the recomputation over the freshly refreshed tier
        feat_name = (
            f"__features__:{run.run_id}" if args.refresh_input
            else "__features__"
        )
        fm = run.run([feat_name], feat_unit)
        metrics["features"] = fm

    if args.retention:
        import datetime as dt

        from feasts_spark.operators.retention import expire_partitions

        now = dt.datetime.fromisoformat(days[-1]) + dt.timedelta(days=1)
        policy = (
            json.loads(args.retention_policy)
            if args.retention_policy else None
        )
        removed = {
            f"{table}_{tier}": expire_partitions(
                io, f"{table}_{tier}", tier, now, policy=policy
            )
            for tier in tiers
            for table in ("rollup", "chunks")
        }
        metrics["retention_removed"] = removed

    def _snapshot_table_names() -> list[str]:
        # discover on disk (a --resume pass may have touched none of the
        # tables this invocation) — shared by every maintenance block so
        # compaction and expiry can never cover different table sets
        return [
            d for d in sorted(os.listdir(args.output))
            if os.path.isdir(os.path.join(args.output, d, "metadata"))
        ]

    if is_snapshot and args.compact_small_mb > 0:
        metrics["compacted"] = {
            name: io.table(name).compact(
                small_bytes=args.compact_small_mb << 20,
                recluster=args.compact_recluster,
            )
            for name in _snapshot_table_names()
        }

    if is_snapshot and args.tag:
        # pin BEFORE expiry so the pinned versions are protected from it
        metrics["tagged"] = {
            name: io.table(name).tag(args.tag, replace=True)
            for name in _snapshot_table_names()
            if io.table(name).current_version() > 0
        }

    if is_snapshot and args.expire_keep > 0:
        metrics["expired"] = {
            name: io.table(name).expire_snapshots(keep_last=args.expire_keep)
            for name in _snapshot_table_names()
        }

    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
