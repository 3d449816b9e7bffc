"""time_weighted / duration_in_state / state_top: hand-computed integrals
on tiny irregular series, cross-bucket segment splitting, tie and
degenerate-timestamp behavior."""

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F, types as T

from feasts_spark.operators.timeweight import (
    duration_in_state,
    state_top,
    time_weighted,
)

T0 = dt.datetime(2024, 3, 1, 0, 0, 0)

_SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("state", T.StringType()),
])


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, ts=T0 + dt.timedelta(minutes=m), value=float(v),
             state=s) for k, m, v, s in rows], _SCHEMA)


def _tw(spark, rows, tier="1h"):
    return {
        (r.series_key, r.bucket_ts): r
        for r in time_weighted(_df(spark, rows), tier, key_col="k",
                               ts_col="ts", value_col="value").collect()
    }


class TestTimeWeighted:
    def test_locf_integral_single_bucket(self, spark):
        # v=10 for 30 min, v=20 for 15 min, last sample closes nothing
        out = _tw(spark, [("a", 0, 10, "x"), ("a", 30, 20, "x"),
                          ("a", 45, 0, "x")])
        r = out[("a", T0)]
        assert r.twa_locf == pytest.approx((10 * 30 + 20 * 15) / 45)
        # linear: segment means are (10+20)/2 and (20+0)/2
        assert r.twa_linear == pytest.approx((15 * 30 + 10 * 15) / 45)
        assert r.covered_us == 45 * 60 * 1_000_000

    def test_cross_bucket_split(self, spark):
        # one segment 00:30 -> 01:30 spanning the hour boundary
        out = _tw(spark, [("a", 30, 6, "x"), ("a", 90, 18, "x")])
        h0, h1 = out[("a", T0)], out[("a", T0 + dt.timedelta(hours=1))]
        assert h0.twa_locf == pytest.approx(6.0)
        assert h1.twa_locf == pytest.approx(6.0)
        assert h0.covered_us == h1.covered_us == 30 * 60 * 1_000_000
        # linear: first half averages 6->12 ramp = 9, second 12->18 = 15
        assert h0.twa_linear == pytest.approx(9.0)
        assert h1.twa_linear == pytest.approx(15.0)

    def test_gap_buckets_carry_locf(self, spark):
        # samples 3 hours apart: the empty middle hour still gets a row
        out = _tw(spark, [("a", 0, 5, "x"), ("a", 180, 11, "x")])
        mid = out[("a", T0 + dt.timedelta(hours=1))]
        assert mid.twa_locf == pytest.approx(5.0)
        assert mid.covered_us == 3600 * 1_000_000
        assert len(out) == 3

    def test_constant_series_locf_equals_linear(self, spark):
        out = _tw(spark, [("a", m, 7, "x") for m in (0, 13, 41, 59, 80)])
        for r in out.values():
            assert r.twa_locf == pytest.approx(7.0)
            assert r.twa_linear == pytest.approx(7.0)

    def test_duplicate_timestamps_zero_width(self, spark):
        out = _tw(spark, [("a", 0, 1, "x"), ("a", 0, 99, "x"),
                          ("a", 30, 1, "x")])
        r = out[("a", T0)]
        # the zero-width segment carries no weight; which duplicate opens
        # the 30-min segment is decided by the (implicit) tie order, and
        # both candidates integrate over 30 min
        assert r.covered_us == 30 * 60 * 1_000_000

    def test_single_sample_emits_nothing(self, spark):
        assert _tw(spark, [("a", 0, 1, "x")]) == {}

    def test_keys_independent(self, spark):
        out = _tw(spark, [("a", 0, 1, "x"), ("a", 60, 1, "x"),
                          ("b", 0, 9, "x"), ("b", 60, 9, "x")])
        assert out[("a", T0)].twa_locf == pytest.approx(1.0)
        assert out[("b", T0)].twa_locf == pytest.approx(9.0)


class TestDurationInState:
    def test_split_and_locf(self, spark):
        rows = [("a", 0, 0, "idle"), ("a", 20, 0, "busy"),
                ("a", 50, 0, "idle"), ("a", 120, 0, "idle")]
        d = {
            (r.bucket_ts, r.state): r.state_us
            for r in duration_in_state(
                _df(spark, rows), "1h", key_col="k", ts_col="ts",
                state_col="state").collect()
        }
        mn = 60 * 1_000_000
        assert d[(T0, "idle")] == 30 * mn       # 0-20 and 50-60
        assert d[(T0, "busy")] == 30 * mn       # 20-50
        assert d[(T0 + dt.timedelta(hours=1), "idle")] == 60 * mn

    def test_state_top_tie_breaks_lexicographically(self, spark):
        rows = [("a", 0, 0, "zzz"), ("a", 30, 0, "aaa"),
                ("a", 60, 0, "aaa")]
        r = state_top(_df(spark, rows), "1h", key_col="k", ts_col="ts",
                      state_col="state").collect()
        assert len(r) == 1
        assert r[0].state_top == "aaa"          # 30 min each: tie -> min
        assert r[0].state_top_us == 30 * 60 * 1_000_000
        assert r[0].n_states == 2


class TestPartialsCascade:
    def test_cascade_1m_to_1h_equals_direct(self, spark):
        from feasts_spark.operators.timeweight import (
            cascade_time_weighted_partials,
            finalize_time_weighted,
            time_weighted_partials,
        )
        rows = []
        rng = __import__("numpy").random.default_rng(2)
        t = 0.0
        while t < 300:
            rows.append(("a", t, float(rng.normal(10, 2))))
            t += float(rng.uniform(0.5, 18))
        df = _df(spark, [(k, m, v, "x") for k, m, v in rows])
        fine = time_weighted_partials(df, "1m", key_col="k",
                                      ts_col="ts", value_col="value")
        via_cascade = finalize_time_weighted(
            cascade_time_weighted_partials(fine, "1h")) \
            .orderBy("bucket_ts").collect()
        direct = time_weighted(df, "1h", key_col="k", ts_col="ts",
                               value_col="value") \
            .orderBy("bucket_ts").collect()
        assert len(via_cascade) == len(direct) > 0
        for a, b in zip(via_cascade, direct):
            assert a.bucket_ts == b.bucket_ts
            assert a.covered_us == b.covered_us
            assert a.twa_locf == pytest.approx(b.twa_locf, rel=1e-12)
            assert a.twa_linear == pytest.approx(b.twa_linear, rel=1e-12)


class TestTranscriptRoleOccupancy:
    def test_role_occupancy_over_synthesized_transcripts(self, spark):
        """The north-rule input shape end-to-end: wall-clock per role per
        conversation-hour over synthesized transcripts, via the generic
        state-occupancy operator."""
        from feasts_spark.sources.transcripts import synthesize_transcripts

        # cached: each action would otherwise regenerate the corpus
        # (~300k turns, three 100k-turn whales) in Python workers
        tr = synthesize_transcripts(spark, n_convs=30, max_turns=3000).cache()
        assert {"conv_id", "turn_idx", "role", "text", "tool", "ts"} \
            <= set(tr.columns)
        occ = duration_in_state(tr, "1h", key_col="conv_id",
                                ts_col="ts", state_col="role",
                                tie_col="turn_idx")
        tot = occ.agg(F.sum("state_us")).collect()[0][0]
        assert tot and tot > 0
        top = state_top(tr, "1h", key_col="conv_id", ts_col="ts",
                        state_col="role", tie_col="turn_idx")
        r = top.first()
        assert r.state_top in ("user", "assistant", "system", "tool")
        # occupancy partitions the covered wall-clock exactly
        per_bucket = occ.groupBy("series_key", "bucket_ts") \
            .agg(F.sum("state_us").alias("s"))
        joined = per_bucket.join(
            top.select("series_key", "bucket_ts", "state_top_us"),
            ["series_key", "bucket_ts"])
        assert joined.filter(
            F.col("state_top_us") > F.col("s")).count() == 0
        tr.unpersist()
