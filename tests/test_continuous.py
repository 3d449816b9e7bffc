"""Continuous aggregate over snapshot tables: the incremental refresh loop
(ContinuousAggregate.refresh) must always leave the target tier EXACTLY
equal to a from-scratch rollup of the current source — across appends,
late data, corrections (replace), retention (delete), compaction, and
crash/replay — while touching only the changed slice of either table."""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import Row, functions as F, types as T

from feasts_spark.operators.continuous import (
    CascadeAggregate,
    ContinuousAggregate,
    last_refreshed_source_version,
)
from feasts_spark.operators.rollup import rollup_raw
from feasts_spark.sources.snapshots import SnapshotTable

T0 = dt.datetime(2024, 3, 1, 0, 0, 0)

_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("value", T.DoubleType()),
])


def _turns(spark, n, start_minute=0, conv_mod=7, day=0):
    """n raw turns, one per minute from T0+day+start_minute, spread over
    conv_mod conversations; deterministic values."""
    base = T0 + dt.timedelta(days=day, minutes=start_minute)
    rows = [
        Row(
            conv_id=f"c{i % conv_mod}",
            turn_idx=i,
            ts=base + dt.timedelta(minutes=i),
            value=float((i * 37) % 101) / 3.0,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, _SCHEMA)


@pytest.fixture()
def pair(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path), "raw", stats_cols=("ts",))
    tgt = SnapshotTable(spark, str(tmp_path), "tier_1h",
                        stats_cols=("bucket_ts",))
    return src, tgt


def _assert_synced(src, tgt, cagg):
    """Target == from-scratch rollup of the current source, exactly."""
    def _r(df):
        # val_sum/val_avg are exact only up to float re-association
        # across merge order (rollup_merge contract); everything else
        # must be bitwise
        return df.withColumn("val_avg", F.round("val_avg", 9)) \
                 .withColumn("val_sum", F.round("val_sum", 9))
    expect = _r(rollup_raw(src.read(), cagg.tier))
    got = _r(tgt.read())
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


class TestMergeMode:
    def test_first_refresh_full_then_sync(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 180))
        cagg = ContinuousAggregate(src, tgt, "1h")
        s = cagg.refresh()
        assert s["mode"] == "full" and s["commits"] == 1
        _assert_synced(src, tgt, cagg)
        # idempotent: nothing new -> noop, no new target version
        v = tgt.current_version()
        s2 = cagg.refresh()
        assert s2["mode"] == "noop" and tgt.current_version() == v

    def test_incremental_appends_merge(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 120))
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        src.append(_turns(spark, 90, start_minute=120))
        src.append(_turns(spark, 30, start_minute=210))
        s = cagg.refresh()
        assert s["mode"] == "merge"
        assert s["commits"] == 1  # contiguous buckets -> one run
        _assert_synced(src, tgt, cagg)

    def test_late_data_touches_only_dirty_buckets(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 600))  # 10 hourly buckets per conv
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        # second refresh adds hours 10-19 as a SEPARATE target file whose
        # bucket range is disjoint from the late bucket below
        src.append(_turns(spark, 600, start_minute=600))
        cagg.refresh()
        files_before = {f["path"] for f in tgt.manifest()["files"]}
        # late batch inside hour 2 only
        src.append(_turns(spark, 5, start_minute=125))
        s = cagg.refresh()
        assert s["mode"] == "merge"
        assert s["dirty_buckets"] == 1
        _assert_synced(src, tgt, cagg)
        # clean files carried by reference, not rewritten
        kept = files_before & {f["path"] for f in tgt.manifest()["files"]}
        assert kept, "replace_where must carry untouched files by reference"

    def test_sparse_dirty_runs_split_commits(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 240))           # day 0
        src.append(_turns(spark, 240, day=30))   # day 30
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        v0 = tgt.current_version()
        src.append(_turns(spark, 5, start_minute=61))           # day 0 hour 1
        src.append(_turns(spark, 5, start_minute=61, day=30))   # day 30 hour 1
        s = cagg.refresh(coalesce_gap_buckets=16, max_commits=8)
        assert s["mode"] == "merge" and s["commits"] == 2
        assert tgt.current_version() == v0 + 2
        _assert_synced(src, tgt, cagg)

    def test_max_commits_caps_runs(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 240, conv_mod=1))
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        # dirty one bucket every 3 days -> 4 far-apart runs
        for d in (3, 6, 9, 12):
            src.append(_turns(spark, 2, day=d, conv_mod=1))
        s = cagg.refresh(coalesce_gap_buckets=4, max_commits=2)
        assert s["commits"] == 2
        _assert_synced(src, tgt, cagg)


class TestRecomputeMode:
    def test_source_correction_replace(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 300))
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        # correct a 10-minute span: overwrite values there
        lo = T0 + dt.timedelta(minutes=70)
        hi = T0 + dt.timedelta(minutes=79)
        fixed = src.read().filter(F.col("ts").between(lo, hi)) \
            .withColumn("value", F.lit(1000.0))
        src.replace_where(fixed, "ts", lo, hi)
        s = cagg.refresh()
        assert s["mode"] == "recompute"
        _assert_synced(src, tgt, cagg)
        # the corrected bucket reflects the new values
        b = tgt.read().filter(
            (F.col("series_key") == "c0")
            & (F.col("bucket_ts") == T0 + dt.timedelta(hours=1))
        ).collect()[0]
        assert b.val_max == 1000.0

    def test_retention_delete_cascades(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 600))  # hours 0..9
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        cutoff = T0 + dt.timedelta(hours=3)
        src.delete_below("ts", cutoff)
        s = cagg.refresh()
        assert s["mode"] == "recompute"
        _assert_synced(src, tgt, cagg)
        assert tgt.read().filter(F.col("bucket_ts") < cutoff).count() == 0

    def test_bucket_emptied_by_delete_drops_from_tier(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 120, conv_mod=1))  # hours 0-1, one conv
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        assert tgt.read().count() == 2
        # replace hour 0 with NOTHING (a purge)
        empty = src.read().filter(F.lit(False))
        src.replace_where(empty, "ts",
                          T0, T0 + dt.timedelta(minutes=59, seconds=59))
        cagg.refresh()
        assert tgt.read().count() == 1
        _assert_synced(src, tgt, cagg)

    def test_overwrite_forces_full_rebuild(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 120))
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        src.overwrite(_turns(spark, 60, start_minute=30))
        s = cagg.refresh()
        assert s["mode"] == "full"
        _assert_synced(src, tgt, cagg)

    def test_source_losing_ts_raises_loudly(self, spark, pair):
        """A source overwritten into a shape without the cagg's ts column
        must make refresh() raise, not go silently stale. The tag keeps
        the cursor's manifest through expiry while the overwrite's goes,
        so the refresh takes the recompute path and its image guard."""
        src, tgt = pair
        src.append(_turns(spark, 120))
        cagg = ContinuousAggregate(src, tgt, "1h")
        assert cagg.refresh()["mode"] == "full"
        src.tag("cagg-cursor")
        src.overwrite(_turns(spark, 60).withColumnRenamed("ts", "at"))
        src.append(_turns(spark, 5, day=1).withColumnRenamed("ts", "at"))
        src.expire_snapshots(keep_last=1)
        with pytest.raises(ValueError, match=r"missing column.*'ts'"):
            cagg.refresh()


class TestRefreshAccounting:
    def test_rows_written_costs_constant_manifest_reads(self, spark, pair):
        """Each refresh commit diffs its own manifest against its parent
        once: the target's manifest reads do not grow with its file
        count, and rows_written is the rows of the files it added."""
        src, tgt = pair
        src.append(_turns(spark, 1500))  # 25 hourly buckets
        cagg = ContinuousAggregate(src, tgt, "1h")
        conf = {"spark.sql.adaptive.coalescePartitions.enabled": "false",
                "spark.sql.shuffle.partitions": "24"}
        prev = {k: spark.conf.get(k) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            cagg.refresh()
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
        n_files = len(tgt.manifest()["files"])
        assert n_files >= 15
        v0 = tgt.current_version()
        # late rows in hours 1 and 22: two runs more than 16 buckets
        # apart, so two replace commits
        late = _turns(spark, 2, start_minute=61).union(
            _turns(spark, 2, start_minute=22 * 60 + 1))
        src.append(late)

        calls = []
        read_manifest = tgt.manifest

        def spy(version=None):
            calls.append(version)
            return read_manifest(version)

        tgt.manifest = spy
        try:
            st = cagg.refresh()
        finally:
            del tgt.manifest
        assert st["mode"] == "merge" and st["commits"] == 2
        assert len(calls) <= 6 * st["commits"] < n_files, calls
        added = 0
        for v in range(v0 + 1, tgt.current_version() + 1):
            m = tgt.manifest(v)
            before = {f["path"] for f in tgt.manifest(m["parent"])["files"]}
            added += sum(f["rows"] for f in m["files"]
                         if f["path"] not in before)
        assert st["rows_written"] == added > 0
        _assert_synced(src, tgt, cagg)

    def test_noop_refresh_reads_target_manifest_once(self, spark, pair):
        """Planning walks the target's manifests once: a refresh with
        nothing to fold reads only the newest, cursor-carrying one."""
        src, tgt = pair
        src.append(_turns(spark, 60))
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        calls = []
        read_manifest = tgt.manifest

        def spy(version=None):
            calls.append(version)
            return read_manifest(version)

        tgt.manifest = spy
        try:
            assert cagg.refresh()["mode"] == "noop"
        finally:
            del tgt.manifest
        assert calls == [tgt.current_version()]


class TestCascadeChain:
    """raw -> 1m (cagg) -> 1h (cascade) -> 1d (cascade): every level must
    equal a direct rollup of the raw table after each chained refresh."""

    def _chain(self, spark, tmp_path):
        src = SnapshotTable(spark, str(tmp_path), "raw", stats_cols=("ts",))
        t1m = SnapshotTable(spark, str(tmp_path), "t1m",
                            stats_cols=("bucket_ts",))
        t1h = SnapshotTable(spark, str(tmp_path), "t1h",
                            stats_cols=("bucket_ts",))
        t1d = SnapshotTable(spark, str(tmp_path), "t1d",
                            stats_cols=("bucket_ts",))
        return src, [
            (t1m, ContinuousAggregate(src, t1m, "1m")),
            (t1h, CascadeAggregate(t1m, t1h, "1h")),
            (t1d, CascadeAggregate(t1h, t1d, "1d")),
        ]

    def _assert_all(self, src, chain):
        for tier, (tbl, _) in zip(("1m", "1h", "1d"), chain):
            expect = rollup_raw(src.read(), tier) \
                .withColumn("val_sum", F.round("val_sum", 9)) \
                .withColumn("val_avg", F.round("val_avg", 9))
            got = tbl.read() \
                .withColumn("val_sum", F.round("val_sum", 9)) \
                .withColumn("val_avg", F.round("val_avg", 9))
            assert got.count() == expect.count(), tier
            assert got.exceptAll(expect).count() == 0, tier
            assert expect.exceptAll(got).count() == 0, tier

    def test_chain_builds_and_syncs(self, spark, tmp_path):
        src, chain = self._chain(spark, tmp_path)
        src.append(_turns(spark, 300))
        for _, cagg in chain:
            cagg.refresh()
        self._assert_all(src, chain)
        # late append flows down: 1m merges the raw delta, coarser
        # levels see the 1m replace commits and recompute the dirty
        # coarse buckets from TIER-sized data
        src.append(_turns(spark, 30, start_minute=90))
        modes = [c.refresh()["mode"] for _, c in chain]
        assert modes == ["merge", "recompute", "recompute"]
        self._assert_all(src, chain)

    def test_correction_flows_down_chain(self, spark, tmp_path):
        src, chain = self._chain(spark, tmp_path)
        src.append(_turns(spark, 300))
        for _, cagg in chain:
            cagg.refresh()
        lo = T0 + dt.timedelta(minutes=100)
        hi = T0 + dt.timedelta(minutes=119)
        fixed = src.read().filter(F.col("ts").between(lo, hi)) \
            .withColumn("value", F.lit(-5.0))
        src.replace_where(fixed, "ts", lo, hi)
        for _, cagg in chain:
            assert cagg.refresh()["mode"] == "recompute"
        self._assert_all(src, chain)
        d = chain[2][0].read().filter(
            F.col("bucket_ts") == T0).collect()
        assert all(r.val_min == -5.0 for r in d)

    def test_stale_lower_level_just_delays(self, spark, tmp_path):
        src, chain = self._chain(spark, tmp_path)
        src.append(_turns(spark, 240))
        for _, cagg in chain:
            cagg.refresh()
        src.append(_turns(spark, 60, start_minute=240))
        # skip a tick for 1h/1d: only 1m refreshes
        chain[0][1].refresh()
        # 1h sees the 1m commits on ITS next tick and catches up
        assert chain[1][1].refresh()["mode"] == "recompute"
        assert chain[2][1].refresh()["mode"] == "recompute"
        self._assert_all(src, chain)


class TestCursorAndCrash:
    def test_compaction_only_advances_cursor_without_commit(self, spark, pair):
        src, tgt = pair
        for i in range(4):
            src.append(_turns(spark, 30, start_minute=30 * i))
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        v = tgt.current_version()
        assert src.compact(min_group=2) is not None
        s = cagg.refresh()
        assert s["mode"] == "cursor_only"
        assert tgt.current_version() == v  # no data commit
        assert last_refreshed_source_version(tgt, cagg.name) \
            == src.current_version()

    def test_append_plus_compact_in_one_range_counts_rows_once(
            self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 60))
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        src.append(_turns(spark, 30, start_minute=60))
        src.append(_turns(spark, 30, start_minute=90))
        assert src.compact(min_group=2) is not None  # rewrites everything
        s = cagg.refresh()
        assert s["mode"] == "merge"
        _assert_synced(src, tgt, cagg)  # no double counting

    def test_cursor_survives_sidecar_loss(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 60))
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        # crash between commit and sidecar write: sidecar vanished
        os.remove(os.path.join(tgt.meta_dir, f"cagg-{cagg.name}.json"))
        assert last_refreshed_source_version(tgt, cagg.name) \
            == src.current_version()  # manifest summary carries it
        assert cagg.refresh()["mode"] == "noop"

    def test_replay_after_partial_refresh_is_idempotent(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 240, conv_mod=1))
        src.append(_turns(spark, 240, day=30, conv_mod=1))
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        src.append(_turns(spark, 2, day=3, conv_mod=1))
        src.append(_turns(spark, 2, day=33, conv_mod=1))
        # simulate a crash after run 1 of 2: run a refresh, then rewind
        # the cursor to before it and replay the whole refresh
        before = last_refreshed_source_version(tgt, cagg.name)
        s1 = cagg.refresh(coalesce_gap_buckets=4)
        assert s1["commits"] == 2
        with open(os.path.join(tgt.meta_dir, f"cagg-{cagg.name}.json"),
                  "w") as f:
            json.dump({"source_version": before}, f)
        # manifest cursor would still win; blank it by replaying from the
        # data state alone: replay sees head > sidecar-cursor ... the
        # manifest summary is authoritative, so refresh is a noop
        assert cagg.refresh()["mode"] == "noop"

    def test_crashed_merge_resumes_as_recompute_no_double_count(
            self, spark, pair):
        """A multi-commit merge refresh that dies between commits has
        absorbed part of its delta; re-applying the merge would double
        count. The resumed refresh must detect the in-progress marker and
        fall back to recompute."""
        src, tgt = pair
        src.append(_turns(spark, 240, conv_mod=1))
        src.append(_turns(spark, 240, day=30, conv_mod=1))
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        src.append(_turns(spark, 2, day=0, start_minute=61, conv_mod=1))
        src.append(_turns(spark, 2, day=30, start_minute=61, conv_mod=1))

        real = SnapshotTable.replace_where
        calls = {"n": 0}

        def dying(self_, *a, **kw):
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("simulated crash between run commits")
            return real(self_, *a, **kw)

        import feasts_spark.sources.snapshots as snap_mod
        orig = snap_mod.SnapshotTable.replace_where
        snap_mod.SnapshotTable.replace_where = dying
        try:
            with pytest.raises(RuntimeError, match="simulated crash"):
                cagg.refresh(coalesce_gap_buckets=4)
        finally:
            snap_mod.SnapshotTable.replace_where = orig

        # cursor must NOT have advanced, and the pending marker is seen
        from feasts_spark.operators.continuous import _cagg_state
        cur, partial = _cagg_state(tgt, cagg.name)
        assert partial and cur < src.current_version()
        s = cagg.refresh(coalesce_gap_buckets=4)
        assert s["mode"] == "recompute"  # merge forbidden after partial
        _assert_synced(src, tgt, cagg)

    def test_concurrent_append_during_refresh_not_lost_or_doubled(
            self, spark, pair):
        """Source reads are pinned to the head captured at refresh entry:
        a commit landing mid-refresh must be folded exactly once — by the
        NEXT refresh."""
        src, tgt = pair
        src.append(_turns(spark, 120))
        cagg = ContinuousAggregate(src, tgt, "1h")

        # freeze the observed head at v1, then land v2 "mid-refresh"
        late = _turns(spark, 60, start_minute=120)
        orig_cv = SnapshotTable.current_version

        def pinned_head(self_):
            v = orig_cv(self_)
            if self_ is src and not getattr(pinned_head, "done", False):
                pinned_head.done = True
                src2 = SnapshotTable(spark, os.path.dirname(
                    src.table_dir.rstrip("/")), "raw", stats_cols=("ts",))
                # commit v2 AFTER head capture but before the reads
                SnapshotTable.current_version = orig_cv
                src2.append(late)
                SnapshotTable.current_version = pinned_head
                return v  # the pre-append head
            return v

        SnapshotTable.current_version = pinned_head
        try:
            s = cagg.refresh()
        finally:
            SnapshotTable.current_version = orig_cv
        assert s["mode"] == "full" and s["source_to"] == 1
        # v2's rows are NOT in the tier yet (pinned read)...
        assert tgt.read().count() == \
            rollup_raw(src.read(version=1), "1h").count()
        # ...and the next refresh folds them exactly once
        s2 = cagg.refresh()
        assert s2["mode"] == "merge"
        _assert_synced(src, tgt, cagg)

    def test_null_ts_rows_are_excluded_not_fatal(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 120))
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        withnull = _turns(spark, 5, start_minute=120).unionByName(
            spark.createDataFrame(
                [Row(conv_id="cX", turn_idx=0, ts=None, value=1.0)],
                _SCHEMA,
            ))
        src.append(withnull)
        s = cagg.refresh()
        assert s["mode"] == "merge"
        expect = rollup_raw(
            src.read().filter(F.col("ts").isNotNull()), "1h")
        assert tgt.read().count() == expect.count()
        assert tgt.read().filter(F.col("bucket_ts").isNull()).count() == 0

    def test_read_removed_from_zero_is_empty(self, spark, pair):
        src, _ = pair
        src.append(_turns(spark, 10))
        assert src.read_removed(0).count() == 0

    def test_two_caggs_independent_cursors(self, spark, pair):
        src, tgt = pair
        spark_ = spark
        src.append(_turns(spark_, 120))
        h = ContinuousAggregate(src, tgt, "1h", name="hourly")
        h.refresh()
        tgt_d = SnapshotTable(spark_, os.path.dirname(src.table_dir.rstrip("/")),
                              "tier_1d", stats_cols=("bucket_ts",))
        d = ContinuousAggregate(src, tgt_d, "1d", name="daily")
        d.refresh()
        src.append(_turns(spark_, 60, start_minute=120))
        assert h.refresh()["mode"] == "merge"
        assert d.refresh()["mode"] == "merge"
        _assert_synced(src, tgt, h)
        _assert_synced(src, tgt_d, d)
