"""Real-time views (`read_fresh`): the read-only twin of refresh() — the
returned frame must equal what the target WOULD hold after a refresh at
the current source head, while committing nothing and moving no cursor,
across every change class (append tail, correction, retention delete,
compaction, crashed-partial refresh)."""

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F, types as T

from feasts_spark.operators.continuous import (
    CascadeAggregate,
    ContinuousAggregate,
    _cagg_state,
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


def _turns(spark, n, start_minute=0, conv_mod=7, day=0, bump=0.0):
    base = T0 + dt.timedelta(days=day, minutes=start_minute)
    rows = [
        Row(
            conv_id=f"c{i % conv_mod}",
            turn_idx=i,
            ts=base + dt.timedelta(minutes=i),
            value=float((i * 37) % 101) / 3.0 + bump,
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


def _r(df):
    # float re-association tolerance on the additive columns only
    return df.withColumn("val_avg", F.round("val_avg", 9)) \
             .withColumn("val_sum", F.round("val_sum", 9))


def _assert_fresh(src, cagg, got):
    """View == from-scratch rollup of the CURRENT source, exactly."""
    expect = _r(rollup_raw(src.read(), cagg.tier))
    got = _r(got)
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def _frozen(tgt, name):
    """(target version, cursor state) — read_fresh must never move these."""
    return tgt.current_version(), _cagg_state(tgt, name)


class TestCaggReadFresh:
    def test_merge_path_no_commit(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 180))
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        src.append(_turns(spark, 90, start_minute=120))
        src.append(_turns(spark, 30, start_minute=210))
        before = _frozen(tgt, cagg.name)
        view = cagg.read_fresh()
        assert cagg.last_view_mode == "merge"
        _assert_fresh(src, cagg, view)
        assert _frozen(tgt, cagg.name) == before
        # the materialized table really was stale: the tail added buckets
        assert tgt.read().count() < view.count()

    def test_noop_when_cursor_at_head_and_after_compact(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 60))
        src.append(_turns(spark, 60, start_minute=60))
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        view = cagg.read_fresh()
        assert cagg.last_view_mode == "noop"
        assert view.exceptAll(tgt.read()).count() == 0
        # layout-only change since the cursor: still fresh without work
        src.compact(small_bytes=1 << 30)
        assert src.manifest()["operation"] == "compact"
        view2 = cagg.read_fresh()
        assert cagg.last_view_mode == "noop"
        _assert_fresh(src, cagg, view2)

    def test_full_mode_before_first_refresh(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 120))
        cagg = ContinuousAggregate(src, tgt, "1h")
        view = cagg.read_fresh()
        assert cagg.last_view_mode == "full"
        _assert_fresh(src, cagg, view)
        # still nothing materialized
        assert tgt.current_version() == 0

    def test_recompute_after_correction(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 240, conv_mod=3))
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        # correction: rewrite hour 2 with bumped values
        lo, hi = T0 + dt.timedelta(hours=2), T0 + dt.timedelta(hours=3)
        fixed = src.read().filter(
            (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))
        ).withColumn("value", F.col("value") + 100.0)
        src.replace_where(
            fixed, "ts", lo, hi - dt.timedelta(microseconds=1))
        before = _frozen(tgt, cagg.name)
        view = cagg.read_fresh()
        assert cagg.last_view_mode == "recompute"
        _assert_fresh(src, cagg, view)
        assert _frozen(tgt, cagg.name) == before

    def test_recompute_after_retention_delete(self, spark, pair):
        src, tgt = pair
        src.append(_turns(spark, 120))
        src.append(_turns(spark, 120, day=30))
        cagg = ContinuousAggregate(src, tgt, "1h")
        cagg.refresh()
        src.delete_below("ts", T0 + dt.timedelta(days=1))
        view = cagg.read_fresh()
        assert cagg.last_view_mode == "recompute"
        _assert_fresh(src, cagg, view)
        # the view dropped the retained-away buckets the table still holds
        assert view.count() < tgt.read().count()

    def test_pending_partial_forbids_merge(self, spark, pair):
        """A crashed multi-commit merge refresh has absorbed part of its
        delta; a merge-mode VIEW over it would double-count exactly like
        a merge-mode refresh — read_fresh must fall back to recompute."""
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
        snap_mod.SnapshotTable.replace_where = dying
        try:
            with pytest.raises(RuntimeError, match="simulated crash"):
                cagg.refresh(coalesce_gap_buckets=4)
        finally:
            snap_mod.SnapshotTable.replace_where = real

        cur, partial = _cagg_state(tgt, cagg.name)
        assert partial
        view = cagg.read_fresh()
        assert cagg.last_view_mode == "recompute"
        _assert_fresh(src, cagg, view)

    def test_cascade_view_fresh_wrt_lower_tier(self, spark, tmp_path):
        src = SnapshotTable(spark, str(tmp_path), "raw", stats_cols=("ts",))
        m1 = SnapshotTable(spark, str(tmp_path), "tier_1m",
                           stats_cols=("bucket_ts",))
        h1 = SnapshotTable(spark, str(tmp_path), "tier_1h",
                           stats_cols=("bucket_ts",))
        c1m = ContinuousAggregate(src, m1, "1m")
        c1h = CascadeAggregate(m1, h1, "1h")
        src.append(_turns(spark, 180))
        c1m.refresh()
        c1h.refresh()
        src.append(_turns(spark, 90, start_minute=120))
        c1m.refresh()  # lower tier advances; 1h is now stale
        view = c1h.read_fresh()
        # the 1m refresh commits replace_where -> recompute at the 1h hop
        assert c1h.last_view_mode == "recompute"
        _assert_fresh(src, c1h, view)
        assert view.count() > h1.read().count()

    def test_view_equals_next_refresh_across_change_classes(
            self, spark, pair):
        """After each source change, read_fresh() returns exactly the rows
        the following refresh() commits, planned the same way."""
        src, tgt = pair
        cagg = ContinuousAggregate(src, tgt, "1h")
        hour = dt.timedelta(hours=1)

        def correct():
            fixed = src.read().filter(
                (F.col("ts") >= F.lit(T0 + hour))
                & (F.col("ts") < F.lit(T0 + 2 * hour))
            ).withColumn("value", F.col("value") + 100.0)
            src.replace_where(fixed, "ts", T0 + hour,
                              T0 + 2 * hour - dt.timedelta(microseconds=1))

        steps = [
            ("full", lambda: src.append(_turns(spark, 120, conv_mod=3))),
            ("merge", lambda: src.append(
                _turns(spark, 60, start_minute=120, conv_mod=3))),
            ("merge", lambda: src.append(  # late rows into hour 0
                _turns(spark, 3, start_minute=30, conv_mod=3, bump=7.0))),
            ("recompute", correct),
            ("recompute", lambda: src.delete_below("ts", T0 + hour)),
            ("cursor_only", lambda: src.compact(small_bytes=1 << 30)),
            ("full", lambda: src.overwrite(
                _turns(spark, 90, day=1, conv_mod=3))),
        ]
        for want, change in steps:
            change()
            view = sorted(_r(cagg.read_fresh()).collect())
            view_mode = cagg.last_view_mode
            mode = cagg.refresh()["mode"]
            assert mode == want
            assert view_mode == ("noop" if mode == "cursor_only" else mode)
            assert view == sorted(_r(tgt.read()).collect()), want


class TestCursorSourceIdentity:
    def test_miswired_consumer_raises(self, spark, tmp_path):
        """A cursor is only meaningful against the table that wrote it:
        pointing the same-named consumer at a DIFFERENT source must fail
        loudly in both refresh and read_fresh, not reinterpret foreign
        version numbers."""
        src = SnapshotTable(spark, str(tmp_path), "raw", stats_cols=("ts",))
        other = SnapshotTable(spark, str(tmp_path), "other_raw",
                              stats_cols=("ts",))
        tgt = SnapshotTable(spark, str(tmp_path), "tier_1h",
                            stats_cols=("bucket_ts",))
        src.append(_turns(spark, 120))
        other.append(_turns(spark, 30))
        ContinuousAggregate(src, tgt, "1h").refresh()
        bad = ContinuousAggregate(other, tgt, "1h")
        with pytest.raises(ValueError, match="wiring mismatch"):
            bad.refresh()
        with pytest.raises(ValueError, match="wiring mismatch"):
            bad.read_fresh()
        # the correctly-wired consumer still works
        assert ContinuousAggregate(src, tgt, "1h").refresh()["mode"] == "noop"
