"""Dump physical plans of the headline operators to PLANS.md.

Run: python tools/explain_plans.py
Records, for each scale-critical operator: the structural summary
(exchanges / codegen stages / scans / python boundaries / pushdown) and
the formatted plan, so plan regressions are reviewable in git diffs.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    from pyspark.sql import functions as F

    from feasts_spark.operators.cf import acf_table
    from feasts_spark.operators.decompose import classical_decomposition
    from feasts_spark.operators.features import features
    from feasts_spark.operators.gapfill import gapfill_linear, gapfill_locf
    from feasts_spark.operators.rollup import rollup_cascade, rollup_raw
    from feasts_spark.operators.similarity import ann_lsh_topk
    from feasts_spark.operators.skew import salted_rollup
    from feasts_spark.operators.text import quality_scores
    from feasts_spark.plans import plan_summary
    from feasts_spark.session import get_spark

    spark = get_spark(8, app_name="explain_plans")
    spark.sparkContext.setLogLevel("ERROR")
    # classic (non-AQE) plans so codegen stages are visible pre-execution
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    r1m = rollup_raw(ev, "1m", "user_id", "ts", "value")
    r1h = rollup_cascade(r1m, "1h")

    plans = {
        "rollup_raw_1m (scan -> partial agg -> 1 shuffle -> final agg)": r1m,
        "rollup_cascade_1h (re-agg, no source rescan)": rollup_cascade(r1m, "1h"),
        "gapfill_locf_1h (grid join + ignoreNulls window)": gapfill_locf(
            r1h, "1h", value_cols=("val_avg",)
        ),
        "gapfill_linear_1h": gapfill_linear(r1h, "1h", value_col="val_avg"),
        # full Catalyst shape with the partial-aggregate pin disabled:
        # shows the raw scan, broadcast heavy-key join, salt partial agg
        # and the light/heavy split end-to-end
        "salted_rollup_1m (broadcast heavy keys, two-phase agg, unpinned "
        "full shape)": salted_rollup(
            ev, "1m", key_col="user_id", ts_col="ts", value_col="value",
            heavy_threshold=10, pin_partials=False,
        ),
        # executed shape: the default pins the partial aggregate with a
        # non-eager localCheckpoint so the light/heavy branches read ONE
        # materialization instead of cloning the raw scan; everything
        # upstream of `Scan ExistingRDD` here is the pinned subtree shown
        # in full directly above
        "salted_rollup_1m (executed shape: light passthrough + heavy merge "
        "over pinned partials)": salted_rollup(
            ev, "1m", key_col="user_id", ts_col="ts", value_col="value",
            heavy_threshold=10,
        ),
        "feature_pack (single applyInPandas shuffle)": features(r1h, period=24),
        "acf_table_1h": acf_table(r1h),
        "classical_decomposition_1d (pure window/groupBy SQL)": (
            classical_decomposition(
                rollup_raw(ev, "1d", "user_id", "ts", "value"),
                period=7, value_col="val_avg",
            )
        ),
        "quality_scores (all-JVM codegen text ops)": quality_scores(docs),
        "ann_lsh_topk (bucket-join ANN, no cross product)": ann_lsh_topk(
            emb, k=5, query_filter=lambda c: c < 10
        ),
    }

    from feasts_spark.functions import kpss_df
    from feasts_spark.functions.sql_features import pp_sql
    from feasts_spark.operators.compression import compress_chunks, decompress_chunks
    from feasts_spark.operators.dedup import simhash_signatures

    from feasts_spark.operators.anomaly import anomaly_flags
    from feasts_spark.operators.sessionize import session_stats
    from feasts_spark.operators.sketch import hist_cascade, hist_quantile, hist_rollup

    ev.createOrReplaceTempView("events")
    plans.update({
        "sessionize (lag + running-sum windows, one shuffle)": session_stats(
            ev, 3600, key_col="user_id", ts_col="ts", value_col="value"
        ),
        "anomaly_flags (classical decomposition + type-7 fences, all SQL)":
            anomaly_flags(r1m, period=7),
        "hist_sketch_quantile (binned rollup -> array-sum cascade -> quantile)":
            hist_quantile(
                hist_cascade(
                    hist_rollup(ev, "1m", 0.0, 350.0, key_col="user_id"), "1d"
                ),
                0.5, 0.0, 350.0,
            ),
    })
    plans.update({
        "simhash_signatures (all-SQL: explode -> md5 hash -> 60 sign sums)":
            simhash_signatures(docs),
        "kpss_sql_1d (windows + aggregates, no python)": kpss_df(
            r1m, "series_key", ["bucket_ts"], "val_avg"
        ),
        "pp_sql_1d (shared Spark/DuckDB SQL text)": spark.sql(pp_sql()),
        "gorilla_compress_1m (span-bounded collect_list agg -> explicit repartition -> batch mapInPandas encode, tag-index sidecar)":
            compress_chunks(r1m, "1m"),
        "gorilla_decompress (mapInPandas, NO shuffle; vectorized via tag_idx)": decompress_chunks(
            compress_chunks(r1m, "1m")
        ),
    })

    from feasts_spark.operators.rollup import props_field_rollup

    plans.update({
        "props_field_rollup_1h (json field extract in the scan projection -> one rollup shuffle)":
            props_field_rollup(ev, "1h", "k", "user_id", "ts", "props"),
    })

    from feasts_spark.operators.asof import asof_join
    from feasts_spark.operators.distinct import hll_distinct_tiers
    from feasts_spark.operators.downsample import m4_downsample
    from feasts_spark.operators.integrity import turn_digest
    from feasts_spark.operators.intervals import activity_episodes, interval_join
    from feasts_spark.operators.topk import topk_by_group

    probes = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id"
    )
    ref = r1h.select(
        F.col("series_key").alias("user_id"), "bucket_ts", "val_avg"
    )
    eps = activity_episodes(r1h, "1h", min_points=2)
    tr = ev.select(
        F.concat(F.lit("conv-"), F.col("user_id")).alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("props").alias("text"),
    )
    plans.update({
        "m4_downsample_1h (decomposable struct-min/max agg, 1 shuffle)":
            m4_downsample(ev, "1h", key_col="user_id", ts_col="ts",
                          value_col="value", tie_col="event_id"),
        "asof_join (union-merge, one co-partitioned sort)": asof_join(
            probes, ref, "user_id", "ts", "bucket_ts", ["val_avg"]
        ),
        "topk_by_group (partial/final count agg + window on agg rows)":
            topk_by_group(ev, 3, ["user_id"], "event_type"),
        "hll_distinct_tiers (sketch once, union-merge upward, no rescan)":
            hll_distinct_tiers(ev, "user_id", "ts"),
        "activity_episodes_1h (islands over rollup rows)": eps,
        "interval_join (bucketed expansion -> hash equi-join, no BNLJ)":
            interval_join(probes, eps, "user_id", "ts", tier="1h",
                          interval_key_col="series_key"),
        "turn_digest (single hash agg, array_sort in-group ordering)":
            turn_digest(tr),
    })

    # snapshot table: manifest-level file pruning BEFORE Spark lists
    # anything, plus the residual filter pushed into the surviving scan
    import shutil
    import tempfile

    from feasts_spark.sources.snapshots import SnapshotTable

    snap_root = tempfile.mkdtemp(prefix="plans_snap_")
    snap = SnapshotTable(spark, snap_root, "rollup_1h",
                         stats_cols=("bucket_ts",))
    for i in range(4):  # 4 commits -> disjoint bucket_ts stat windows
        snap.append(r1h.filter(
            (F.dayofyear("bucket_ts") % 4) == i
        ))
    lo, hi = r1h.select(F.min("bucket_ts"), F.max("bucket_ts")).collect()[0]
    pruned = snap.read_where("bucket_ts", lo, lo + (hi - lo) / 8)
    n_live = len(pruned.inputFiles())
    n_all = len(snap.manifest()["files"])
    plans.update({
        f"snapshot_read_where (manifest pruned {n_all}->{n_live} files "
        "by footer stats; residual filter pushed into the scan)": pruned,
    })

    # continuous-aggregate merge-mode refresh: the frame one bucket run
    # commits (clean anti-join pass-through ∪ merge of touched rows with
    # the delta's own rollup) — every exchange moves delta-sized data;
    # the tier scan is the manifest-pruned read_where
    from feasts_spark.operators.rollup import rollup_merge

    delta_raw = ev.filter(F.dayofyear("ts") % 11 == 0)
    delta_tier = rollup_raw(delta_raw, "1h", "user_id", "ts", "value")
    dirty = delta_tier.select("series_key", "bucket_ts")
    in_range = snap.read_where("bucket_ts", lo, hi)
    on = ["series_key", "bucket_ts"]
    refreshed = rollup_merge(
        in_range.join(F.broadcast(dirty), on, "left_semi"), delta_tier
    )
    cagg_out = in_range.join(F.broadcast(dirty), on, "left_anti") \
        .select(refreshed.columns).unionByName(refreshed)
    plans.update({
        "cagg_merge_refresh (broadcast dirty set: tier rows never "
        "shuffle; exchanges carry delta-sized data only)": cagg_out,
    })

    # feature-view incremental refresh: dirty-series histories via one
    # broadcast semi join over the raw scan (no shuffle of the corpus),
    # then the single applyInPandas exchange of the (key, order, value)
    # projection only
    dirty_keys = delta_raw.select(
        F.col("user_id").alias("conv_id")).distinct()
    raw_turns = ev.select(
        F.col("user_id").alias("conv_id"), F.col("ts"), F.col("value"))
    fv_recompute = features(
        raw_turns.join(F.broadcast(dirty_keys), "conv_id", "left_semi"),
        key_col="conv_id", order_col="ts", value_col="value",
        select=("feat_acf",),
    )
    plans.update({
        "feature_view_incremental (broadcast semi join prunes the raw "
        "scan to dirty series; one applyInPandas exchange)": fv_recompute,
    })

    # key-bloom pruning + keyed writes: a raw table clustered by ts but
    # bloom-indexed by key — read_containing opens only files whose
    # bloom admits a probed key, and upsert_keyed's survivor frame is a
    # broadcast anti join over exactly those files (never a shuffle)
    ksnap = SnapshotTable(spark, snap_root, "raw_keyed",
                          stats_cols=("ts",), bloom_cols=("conv_id",))
    for i in range(4):  # key-disjoint commits -> blooms can prune
        ksnap.append(raw_turns.filter(
            F.pmod(F.xxhash64("conv_id"), F.lit(4)) == i))
    probe = [r[0] for r in raw_turns.select("conv_id").distinct()
             .limit(3).collect()]
    klive, kall = ksnap.files_for_keys("conv_id", probe)
    kread = ksnap.read_containing("conv_id", probe)
    upsert_new = raw_turns.filter(F.col("conv_id").isin(probe)) \
        .withColumn("value", F.col("value") * 2)
    survivors = ksnap._read_files(ksnap.manifest(), klive).join(
        F.broadcast(upsert_new.select("conv_id").distinct()),
        ["conv_id"], "left_anti").unionByName(upsert_new)
    plans.update({
        f"snapshot_read_containing (key blooms pruned {kall}->{len(klive)}"
        " files for 3 probed keys; superset read, caller holds the exact "
        "predicate)": kread,
        "upsert_keyed survivors (broadcast anti join over only the "
        "bloom-admitted files; clean files carry by reference outside "
        "this plan)": survivors,
    })

    from feasts_spark.operators.seasonal import (
        gg_lag_data,
        gg_season_data,
        gg_tsresiduals_data,
    )

    resid_panel = gg_tsresiduals_data(
        r1h.withColumnRenamed("val_avg", "remainder"), lag_max=3
    )
    plans.update({
        "gg_season_data (+1 exchange over the input rollup: the (key,pos) mean window)":
            gg_season_data(r1h, period="1d"),
        "gg_season_data no-mean (+0 exchanges over the input rollup: pure projection)":
            gg_season_data(r1h, period="1d", with_season_mean=False),
        "gg_lag_data (+1 exchange: per-lag F.lag fused into ONE Window pass + explode)":
            gg_lag_data(r1h, lags=(1, 2, 3)),
        "gg_tsresiduals hist frame (one groupBy on the 0.1-rounded residual)":
            resid_panel["hist"],
    })

    from feasts_spark.operators.curation import (
        hash_split,
        reservoir_per_group,
        stratified_sample,
        token_budget_cap,
    )
    from feasts_spark.operators.dedup import dup_span_stats, ngram_containment
    from feasts_spark.operators.text import pii_stats, repetition_scores

    ev_docs = docs.filter(F.col("doc_id") % 17 == 0)
    tr_docs = docs.filter(F.col("doc_id") % 17 != 0)
    plans.update({
        "repetition_scores (single tagged-gram lineage for all n: 2 scans, pivot-by-n, no window)":
            repetition_scores(docs, ns=(2, 3)),
        "ngram_containment (distinct train grams -> semi join, vocab-bounded)":
            ngram_containment(ev_docs, tr_docs, n=3),
        "dup_span_stats (1 scan, 3 exchanges, zero joins: gram-window doc-freq)":
            dup_span_stats(docs, n=4),
        "stratified_sample (pure projection: ZERO exchanges)":
            stratified_sample(docs, {"en": 0.5}, default_fraction=0.25),
        "reservoir_per_group (broadcast count -> codegen candidate filter -> window on ~8k rows/stratum)":
            reservoir_per_group(docs, 25),
        "hash_split (deterministic train/val/test labels: pure projection, ZERO exchanges)":
            hash_split(docs, {"train": 0.8, "test": 0.1, "val": 0.1}),
        "token_budget_cap (scalar quality join + one source-keyed window)":
            token_budget_cap(docs, 800),
        "pii_stats (regex counters + chained scrub, ZERO exchanges)":
            pii_stats(docs),
    })

    from feasts_spark.operators.dedup import (
        minhash_lsh_incremental,
        minhash_signatures,
    )

    plans.update({
        "minhash_lsh_incremental (delta bands BROADCAST to index join; no old x old pairing)":
            minhash_lsh_incremental(
                minhash_signatures(tr_docs),
                minhash_signatures(ev_docs),
                broadcast_new=True,
            ),
    })

    from feasts_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_topk,
    )

    _cent, _assign = ivf_build_index(emb, n_cells=8)
    plans.update({
        "ivf_query_topk (serve external queries vs built index: cell equi-join, no retrain)":
            ivf_query_topk(
                _cent, _assign,
                emb.filter(F.col("vec_id") < 10), k=5, nprobe=2,
            ),
    })

    from feasts_spark.operators.timeweight import time_weighted

    plans.update({
        "time_weighted_1h (2 exchanges: key window + partial-combined "
        "bucket-grain agg, carrying bucket rows not raw; no python)":
            time_weighted(ev, "1h", "user_id", "ts", "value",
                          tie_col="event_id"),
    })

    from feasts_spark.operators.examples import (
        conversation_windows,
        doc_stream_offsets,
        pack_sequences_greedy,
    )

    _ex_tr = ev.select(
        F.concat(F.lit("conv-"), F.col("user_id")).alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.when(F.col("event_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant")).alias("role"),
        F.col("props").alias("text"),
    )
    from feasts_spark.operators.bpe import bpe_encode, bpe_train, word_freqs

    # train on a 1-row inline frame: the bpe_encode PLAN is identical for
    # any merges input, and a plan-audit tool should not execute a full
    # corpus aggregation for plan text
    _merges = bpe_train(
        spark.createDataFrame([(0, "hug hug pug pun")],
                              "doc_id long, text string"),
        n_merges=4, min_freq=1,
    )
    plans.update({
        "bpe word_freqs (training input: ONE shuffle to the vocab-bounded dict)":
            word_freqs(docs),
        "bpe_encode (map-only: broadcast ranks, per-batch word cache, no shuffle)":
            bpe_encode(docs, _merges),
        "doc_stream_offsets (two-phase prefix sum over ONE pinned range-chunk RDD — a single boundary decision feeds both the chunk totals and the in-chunk windows; parallelism = n_chunks per stream, not 1)":
            doc_stream_offsets(docs, 400),
        "doc_stream_offsets n_chunks=1 (legacy single source-keyed window: ONE task per stream — small-corpus / oracle shape)":
            doc_stream_offsets(docs, 400, n_chunks=1),
        "pack_sequences_greedy (hash-sharded first-fit: one shuffle on shard, sequential span bounded per shard)":
            pack_sequences_greedy(docs, 400, n_shards=32),
        "conversation_windows (rolling k-turn SFT context: one conv-keyed window, all JVM)":
            conversation_windows(_ex_tr, k=3),
    })

    from feasts_spark.operators.rollup import stitch_range

    import datetime as _dtp

    # serving-shape plan: stitch over MATERIALIZED tier tables (as a cagg
    # deployment would), so the bucket_ts span filters push into the tier
    # scans and raw points never appear in the plan
    stitch_root = tempfile.mkdtemp(prefix="plans_stitch_")
    _tiers = {}
    for tname, tdf in (("1m", r1m), ("1h", r1h),
                       ("1d", rollup_cascade(r1h, "1d"))):
        tdf.write.mode("overwrite").parquet(f"{stitch_root}/{tname}")
        _tiers[tname] = spark.read.parquet(f"{stitch_root}/{tname}")
    plans.update({
        "stitch_range 24.7d (bucket_ts span filters PUSHED into the 3 "
        "tier scans; raw points never read; ONE final series agg)":
            stitch_range(
                _tiers,
                _dtp.datetime(2024, 1, 3, 5, 17),
                _dtp.datetime(2024, 1, 27, 21, 43),
            ),
    })

    from feasts_spark.operators.rollup import rollup_refresh

    _late = ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(10)) == 0)
    _ontime = ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(10)) != 0)
    plans.update({
        "rollup_refresh_1h (broadcast invalidation set; tier rows never shuffle)":
            rollup_refresh(
                rollup_raw(_ontime, "1h", "user_id", "ts", "value"),
                _late, "1h", "user_id", "ts", "value",
            ),
    })

    from feasts_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_query_topk,
    )

    _pcent, _pbooks, _pcodes = ivfpq_build_index(emb, n_cells=8, m=16,
                                                 n_codes=64)
    plans.update({
        "ivfpq_query_topk (IVFADC serve: cell-pruned map-only ADC scan + Qk-row window)":
            ivfpq_query_topk(
                _pcent, _pbooks, _pcodes,
                emb.filter(F.col("vec_id") < 10), k=5, nprobe=4,
            ),
    })

    from feasts_spark.operators.flow import conv_flow, conv_flow_sketch

    _flow_tr = ev.select(
        F.concat(F.lit("conv-"), F.col("user_id")).alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.when(F.col("event_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant")).alias("role"),
        F.col("event_type").alias("tool"),
        F.col("ts"),
    )
    plans.update({
        "conv_flow (one conv-keyed lag window; pair/tool aggs are "
        "map-side partial with constant output cardinality — but the "
        "exact percentile UDAF's state is O(distinct latencies): "
        "small-corpus / oracle shape)":
            conv_flow(_flow_tr),
        "conv_flow_sketch (same scan + lag window; fixed-grid histogram "
        "grouping sets bound EVERY agg's state to |edges| x n_bins — "
        "the 10^12-turn path)":
            conv_flow_sketch(_flow_tr),
    })

    lines = [
        "# PLANS — physical-plan audit of the headline operators",
        "",
        "Generated by `python tools/explain_plans.py` (AQE off for",
        "inspection; AQE is ON in production sessions). Structural",
        "assertions live in `tests/test_plans.py`.",
        "",
    ]
    for title, df in plans.items():
        s = plan_summary(df)
        lines += [
            f"## {title}",
            "",
            f"- exchanges: {s['n_exchanges']}, codegen stages: {s['n_wscg']},"
            f" parquet scans: {s['n_scans']}, python boundaries: {s['n_python']},"
            f" broadcast: {s['has_broadcast']}",
            "",
            "```",
            s["plan"].split("\n\n(1)")[0].strip(),  # tree only
            "```",
            "",
        ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    shutil.rmtree(snap_root, ignore_errors=True)
    shutil.rmtree(stitch_root, ignore_errors=True)
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
