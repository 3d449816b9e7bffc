"""The benchmark workloads, driving the engine's public functions.

Each workload is a closed loop with one client on one local[nproc]
driver session: an operation starts only after the previous one ended.

  tier_build    the batch write path of jobs/rollup_job.py's process()
                unit over the whole corpus: turn_series -> salted 1m
                rollup (persisted) -> 1h/1d cascade -> Gorilla chunks ->
                TableIO.overwrite_partitions for tiers and chunks.
  cagg_serve    scheduler ticks (append a time slice with straggler rows,
                then refresh the 1m -> 1h -> 1d continuous-aggregate
                chain) interleaved with dashboard range, chart and
                feature-pack queries.

A workload object is built once per run. `prepare()` derives cached
inputs from the corpus off the clock, `setup()` is called several times
(each call starts a fresh Spark session and loads the inputs),
`warm_up()` runs `warm_up_ops` operations after the last setup, `loop()`
runs operations until the time is up, `verify()` checks outputs against
oracles off the clock, and `layer_metrics()` turns a traced loop into
per-layer numbers.
"""

from __future__ import annotations

import datetime as dt
import inspect
import json
import os
import shutil
import statistics
import time

import numpy as np

from helpers import (
    compare_rows, file_digest, fingerprint, layer_self_times, summarize,
    tree_cpu_s,
)

TIERS = ("1m", "1h", "1d")
TIER_COLS = ["series_key", "bucket_ts", "n_points", "val_sum", "val_min",
             "val_max", "val_first", "val_last", "first_ts", "last_ts",
             "val_avg"]
# Synthesizer arguments (sources.transcripts; see run.synthesize_corpus).
# Every seed gets the three forced whales (forced_long_turns, above
# HEAVY_THRESHOLD), long_convs conversations of long_turns or more turns
# (the series of cagg_serve's feature queries) and short_convs shorter
# ones, all Zipf-clipped to max_turns. The corpus stays inside span_days
# days from start, so every seed has the same day partitions.
CORPUS = {"long_convs": 80, "short_convs": 320, "long_turns": 100,
          "max_turns": 300, "start": "2024-03-01", "span_days": 3,
          "n_forced_long": 3, "forced_long_turns": 3000}
HEAVY_THRESHOLD = 1_500


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def _mean(vals) -> float:
    vals = list(vals)
    return sum(vals) / len(vals) if vals else 0.0


def _checksum_equal(got, want, cols, label: str) -> list[str]:
    from feasts_spark.streaming.checkpoint import checksum_df

    a, b = checksum_df(got.select(*cols)), checksum_df(want.select(*cols))
    return [] if a == b else [f"{label}: got {a} want {b}"]


class Workload:
    """Shared session, tracing and loop plumbing."""

    name = ""
    corpus = CORPUS
    warm_up_ops = 2
    # The JIT keeps making operations cheaper for minutes, so a loop that
    # a slow host cuts short would measure earlier, dearer operations:
    # every loop runs at least this many, even past --seconds.
    min_loop_ops = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = None
        self.samples: dict[str, list[float]] = {}
        self.counters: dict[str, list[float]] = {}
        self._persisted = []

    # -- plumbing ----------------------------------------------------------
    def start_session(self):
        t0 = time.monotonic()
        self.spark = self.ctx.start_session(self.name)
        return time.monotonic() - t0

    def tag_jobs(self, span_id):
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(span_id, span_id)

    def force(self, tr, df):
        """In a traced loop, materialize `df` so its layer's work lands in
        the current span; untraced loops keep the lazy plan."""
        if not tr.enabled:
            return df
        df = df.persist()
        df.count()
        self._persisted.append(df)
        return df

    def release(self):
        for df in self._persisted:
            df.unpersist()
        self._persisted = []

    def record(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def timed(self, tr, kind: str, fn) -> None:
        """Run one operation of `kind` in its span; record its wall time
        as `<kind>_s` and its process-tree CPU time as `<kind>_cpu_s`."""
        t0, c0 = time.monotonic(), tree_cpu_s(os.getpid())
        with tr.span(f"workload.{kind}"):
            fn(tr)
        self.record(f"{kind}_s", time.monotonic() - t0)
        self.record(f"{kind}_cpu_s", tree_cpu_s(os.getpid()) - c0)

    def count(self, key: str, value: float) -> None:
        self.counters.setdefault(key, []).append(value)

    def loop(self, seconds: float, tracers: tuple) -> list[dict]:
        """Run operations until `seconds` have passed and each tracer had
        min_loop_ops of them, operation i under tracers[i % len(tracers)].
        Returns one phase per tracer: its op count, the summed wall time
        of its ops, and their samples and counters."""
        phases = [{"wall_s": 0.0, "ops": 0, "samples": {}, "counters": {}}
                  for _ in tracers]
        t0 = time.monotonic()
        i = 0
        while True:
            ph = phases[i % len(tracers)]
            self.samples, self.counters = ph["samples"], ph["counters"]
            t1 = time.monotonic()
            if not self.step(tracers[i % len(tracers)]):
                break
            ph["wall_s"] += time.monotonic() - t1
            ph["ops"] += 1
            i += 1
            if (i % len(tracers) == 0
                    and i >= self.min_loop_ops * len(tracers)
                    and time.monotonic() - t0 >= seconds):
                break
        return phases

    # -- per-workload ------------------------------------------------------
    def prepare(self) -> None:
        """Derive cached inputs from the corpus, off the clock."""

    def setup(self) -> dict:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def step(self, tr) -> bool:
        raise NotImplementedError

    def end_to_end(self, phase: dict) -> dict:
        raise NotImplementedError

    def verify(self) -> tuple[int, list[str]]:
        raise NotImplementedError

    def layer_metrics(self, phase: dict, spans: list[dict],
                      spark_by_layer: dict) -> dict:
        raise NotImplementedError


def per_op(spans, layer: str, n_ops: int) -> float:
    """Summed self time of `layer` spans divided by the op count."""
    return layer_self_times(spans).get(layer, 0.0) / max(n_ops, 1)


# ----- tier_build ----------------------------------------------------------

class TierBuild(Workload):
    name = "tier_build"
    min_loop_ops = 3

    def setup(self) -> dict:
        from feasts_spark.sources.tableio import TableIO

        parts = {"session.start_s": self.start_session()}
        self.transcripts = self.spark.read.parquet(self.ctx.corpus_path)
        self.turns = self.ctx.meta["turns"]
        self.wh = os.path.join(self.ctx.work, "wh", self.name)
        shutil.rmtree(self.wh, ignore_errors=True)
        self.io = TableIO(self.spark, self.wh)
        return parts

    def warm_up(self) -> None:
        self.build(self.ctx.null_tracer)

    def build(self, tr) -> None:
        from pyspark.sql import functions as F

        from feasts_spark.operators.compression import compress_chunks
        from feasts_spark.operators.rollup import rollup_cascade
        from feasts_spark.operators.skew import salted_rollup
        from feasts_spark.sources.transcripts import turn_series

        series = turn_series(self.transcripts)
        with tr.span("operators.skew.salted_rollup"):
            r = salted_rollup(series, "1m", heavy_threshold=HEAVY_THRESHOLD
                              ).persist()
            if tr.enabled:
                self.count("tier_rows.1m", r.count())
        lower = r
        for tier in TIERS:
            if tier == "1m":
                cur = r
            else:
                with tr.span("operators.rollup.cascade"):
                    cur = self.force(tr, rollup_cascade(lower, tier))
                    if tr.enabled:
                        self.count(f"tier_rows.{tier}", cur.count())
            with tr.span("sources.tableio.write"):
                self.io.overwrite_partitions(
                    cur.withColumn("dt", F.to_date("bucket_ts")),
                    f"rollup_{tier}", ("dt",))
            with tr.span("operators.compression.encode"):
                chunks = self.force(tr, compress_chunks(
                    cur.withColumn("series_key",
                                   F.col("series_key").cast("string")),
                    tier,
                ).withColumn("dt", F.to_date("start_ts")))
            with tr.span("sources.tableio.write"):
                self.io.overwrite_partitions(chunks, f"chunks_{tier}",
                                             ("dt",))
            lower = cur
        r.unpersist()
        self.release()

    def step(self, tr) -> bool:
        self.timed(tr, "build", self.build)
        return True

    def end_to_end(self, phase: dict) -> dict:
        s = summarize(phase["samples"]["build_s"])
        return {
            "cpu_s_per_op": statistics.median(
                phase["samples"]["build_cpu_s"]),
            "ops_per_s": phase["ops"] / phase["wall_s"],
            "result_p50_ms": s["p50"] * 1000.0,
            "detail": {"build_turns_per_s": self.turns / s["p50"],
                       "build_s": s, "raw_turns": self.turns},
        }

    def verify(self) -> tuple[int, list[str]]:
        """All tiers are checked in one union per side (a tier column keeps
        their rows apart), which keeps the gate to a handful of jobs."""
        from functools import reduce

        from pyspark.sql import functions as F

        from feasts_spark.operators.compression import decompress_chunks
        from feasts_spark.operators.rollup import rollup_raw
        from feasts_spark.sources.transcripts import turn_series

        def union(frames):
            return reduce(lambda a, b: a.unionByName(b), frames)

        series = turn_series(self.transcripts)
        cols = ["tier", *TIER_COLS]
        tables = union([self.io.read(f"rollup_{t}").withColumn("tier",
                                                               F.lit(t))
                        for t in TIERS])
        problems = _checksum_equal(
            tables, union([rollup_raw(series, t).withColumn("tier", F.lit(t))
                           for t in TIERS]), cols, "tier tables")
        for r in tables.groupBy("tier").agg(F.sum("n_points")).collect():
            if r[1] != self.turns:
                problems.append(f"rollup_{r[0]}: sum(n_points)={r[1]} "
                                f"!= raw turns {self.turns}")
        points = union([decompress_chunks(self.io.read(f"chunks_{t}"))
                        for t in TIERS])
        problems += _checksum_equal(
            points.withColumnRenamed("value", "val_avg"),
            tables.withColumn("series_key",
                              F.col("series_key").cast("string")),
            ["tier", "series_key", "bucket_ts", "val_avg"], "chunk round trip")
        return 2 + len(TIERS), problems

    def layer_metrics(self, phase, spans, spark_by_layer) -> dict:
        from pyspark.sql import functions as F

        from feasts_spark.operators import skew
        from feasts_spark.sources.transcripts import turn_series

        n = phase["ops"]
        series = turn_series(self.transcripts)
        heavy = skew.detect_heavy_keys(series, "conv_id",
                                       threshold=HEAVY_THRESHOLD)
        # (key, bucket, salt) groups salted_rollup's partial aggregate
        # holds for the heavy keys, with its default salt count
        num_salts = inspect.signature(
            skew.salted_rollup).parameters["num_salts"].default
        heavy_partial = (
            series.join(F.broadcast(heavy), "conv_id")
            .select("conv_id", F.date_trunc(skew.TIERS["1m"], "ts"),
                    F.pmod(F.xxhash64("ts"), F.lit(num_salts)))
            .distinct().count()
        )
        chunk_stats = [
            self.io.read(f"chunks_{t}").agg(
                F.count(F.lit(1)), F.sum(F.length("payload")),
                F.sum("n_points")).first()
            for t in TIERS
        ]
        skews = [
            spark_by_layer["span_skew"][sp["id"]] for sp in spans
            if sp["layer"] == "operators.skew.salted_rollup"
            and sp["id"] in spark_by_layer["span_skew"]
        ]
        c = phase["counters"]
        out = {
            "operators.skew.salted_rollup_s":
                per_op(spans, "operators.skew.salted_rollup", n),
            "operators.skew.heavy_keys": heavy.count(),
            "operators.skew.heavy_partial_rows": heavy_partial,
            "operators.skew.task_skew": float(np.median(skews)) if skews
            else 1.0,
            "operators.rollup.cascade_s":
                per_op(spans, "operators.rollup.cascade", n),
            "operators.compression.encode_s":
                per_op(spans, "operators.compression.encode", n),
            "operators.compression.chunks": sum(r[0] for r in chunk_stats),
            "operators.compression.bytes_per_point":
                sum(r[1] for r in chunk_stats)
                / max(sum(r[2] for r in chunk_stats), 1),
            "sources.tableio.write_s":
                per_op(spans, "sources.tableio.write", n),
            "sources.tableio.bytes_written": _dir_bytes(self.wh),
        }
        for tier in TIERS:
            out[f"operators.rollup.tier_rows.{tier}"] = _mean(
                c.get(f"tier_rows.{tier}", []))
        return out


# ----- feature lookups (served by cagg_serve) -----------------------------

PERIOD = 24
MIN_POINTS = CORPUS["long_turns"]
KERNEL_SAMPLE = 12


def series_arrays(df, conv_ids) -> dict:
    """conv_id -> turn-ordered values of those conversations in `df`."""
    from pyspark.sql import functions as F

    pdf = (df.filter(F.col("conv_id").isin(list(conv_ids)))
           .select("conv_id", "turn_idx", "value").toPandas())
    return {
        cid: g.sort_values("turn_idx")["value"].to_numpy(np.float64)
        for cid, g in pdf.groupby("conv_id")
    }


def feature_oracle(arrays: dict) -> list[dict]:
    """The feature rows `features(..., min_points=MIN_POINTS)` must give,
    computed on the driver."""
    from feasts_spark.operators.features import compute_feature_pack

    return [{"conv_id": cid, **compute_feature_pack(x, period=PERIOD)}
            for cid, x in arrays.items() if len(x) >= MIN_POINTS]


def kernel_timings(xs: list) -> dict:
    """kernels.<name>_ms: driver-side time of each FEATURE_REGISTRY kernel
    alone, mean per series over `xs`."""
    from feasts_spark.operators.features import (
        FEATURE_REGISTRY, compute_feature_pack, feature_set,
    )

    out = {}
    for name in FEATURE_REGISTRY:
        sel = feature_set(names=[name])
        t0 = time.perf_counter()
        for x in xs:
            compute_feature_pack(x, period=PERIOD, select=sel)
        out[f"kernels.{name}_ms"] = \
            (time.perf_counter() - t0) * 1000.0 / max(len(xs), 1)
    return out


# ----- cagg_serve ----------------------------------------------------------

BASE_SHARE = 0.8       # raw table holds this share of the corpus span at setup
N_SLICES = 48          # the remaining span arrives in this many ticks
# Stragglers: of the rows in the last LATE_WINDOW_S before a slice's cut,
# LATE_PERMILLE per mille arrive one tick late, into buckets already built.
LATE_WINDOW_S = 600
LATE_PERMILLE = 500
# Dashboard queries the client issues after each tick, in this order. A
# step cycles once through each kind's shapes, so every run asks the same
# mix; only the placement of each query is seeded.
QUERY_MIX = (("range", 5), ("chart", 3), ("feature", 2))
RANGE_SPANS_H = (2, 8, 24, 72, 240)   # hours to ~10 days
CHART_DAYS = (1, 2, 3)
ORACLE_EVERY = 3       # every ORACLE_EVERY-th range/feature answer is checked


class CaggServe(Workload):
    name = "cagg_serve"
    warm_up_ops = 1
    # range queries span hours to ~10 days of committed data
    corpus = CORPUS | {"span_days": 12}

    def prepare(self) -> None:
        """Arrival tick per turn (-1 = base), written as one parquet
        directory per tick next to the corpus. The tail after the base is
        cut at row-count quantiles of ts, so every tick appends the same
        number of on-time rows. A seeded share of the rows just before each
        cut arrives with the next tick instead, as ingestion stragglers
        do, so every tick dirties one contiguous run of built buckets
        ahead of its own slice."""
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        m = self.ctx.meta
        self.base_us = m["ts_min_us"] + int(
            BASE_SHARE * (m["ts_max_us"] - m["ts_min_us"]))
        self.landing = os.path.join(
            self.ctx.work, "landing", self.ctx.corpus_key,
            fingerprint(file_digest(__file__), self.ctx.seed))
        meta_path = os.path.join(self.landing, "_cuts.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                self.cuts_us = json.load(f)
            return
        df = pd.read_parquet(self.ctx.corpus_path,
                             columns=["conv_id", "turn_idx", "ts", "text"])
        df = df.sort_values(["conv_id", "turn_idx"], ignore_index=True)
        series = pd.DataFrame({
            "conv_id": df["conv_id"], "turn_idx": df["turn_idx"],
            "ts": df["ts"],
            # turn_series: len(text) as double
            "value": df["text"].str.len().astype(np.float64)})
        t = df["ts"].dt.tz_convert(None).to_numpy(
            "datetime64[us]").astype(np.int64)
        tail = np.sort(t[t >= self.base_us])
        self.cuts_us = [int(tail[len(tail) * i // N_SLICES])
                        for i in range(1, N_SLICES)]
        natural = np.searchsorted(self.cuts_us, t, side="right")
        cut = np.array([*self.cuts_us, np.iinfo(np.int64).max])[natural]
        rng = np.random.RandomState(self.ctx.seed % 2**31)
        late = ((rng.randint(1000, size=len(t)) < LATE_PERMILLE)
                & (t >= self.base_us) & (natural < N_SLICES - 1)
                & (cut - t <= LATE_WINDOW_S * 1_000_000))
        tick = np.where(t < self.base_us, -1, natural + late)
        tmp = self.landing + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        table = pa.Table.from_pandas(series, preserve_index=False)
        for k in range(-1, N_SLICES):
            d = os.path.join(tmp, f"tick={k}")
            os.makedirs(d)
            pq.write_table(table.filter(pa.array(tick == k)),
                           os.path.join(d, "part-00000.parquet"),
                           coerce_timestamps="us")
        with open(os.path.join(tmp, "_cuts.json"), "w") as f:
            json.dump(self.cuts_us, f)
        shutil.rmtree(self.landing, ignore_errors=True)
        os.rename(tmp, self.landing)

    def batch(self, tick: int):
        return self.spark.read.parquet(
            os.path.join(self.landing, f"tick={tick}"))

    def setup(self) -> dict:
        """Every setup builds the warehouse from scratch, as a serving
        process started on an empty warehouse would: base append, then a
        full refresh of the chain."""
        from feasts_spark.operators.continuous import (
            CascadeAggregate, ContinuousAggregate,
        )
        from feasts_spark.sources.snapshots import SnapshotTable

        parts = {"session.start_s": self.start_session()}
        t0 = time.monotonic()
        wh = os.path.join(self.ctx.work, "wh", self.name)
        shutil.rmtree(wh, ignore_errors=True)
        self.raw = SnapshotTable(self.spark, wh, "raw_turns",
                                 stats_cols=("ts",), bloom_cols=("conv_id",))
        self.tables = {t: SnapshotTable(self.spark, wh, f"tier_{t}",
                                        stats_cols=("bucket_ts",))
                       for t in TIERS}
        self.chain = [
            ("1m", ContinuousAggregate(self.raw, self.tables["1m"], "1m")),
            ("1h", CascadeAggregate(self.tables["1m"], self.tables["1h"],
                                    "1h")),
            ("1d", CascadeAggregate(self.tables["1h"], self.tables["1d"],
                                    "1d")),
        ]
        self.raw_version = self.raw.append(self.batch(-1))
        for _, cagg in self.chain:
            cagg.refresh()
        self.next_tick, self.n_range, self.n_chart, self.n_feature = 0, 0, 0, 0
        self.answers, self.feature_answers = [], []
        parts["tables_s"] = time.monotonic() - t0
        return parts

    def warm_up(self) -> None:
        self.step(self.ctx.null_tracer)

    # -- operations --------------------------------------------------------
    def tick(self, tr) -> None:
        with tr.span("sources.snapshots.append"):
            v = self.raw.append(self.batch(self.next_tick),
                                extra_summary={"ingest_id":
                                               f"tick-{self.next_tick}"})
        self.count("commits", 1)
        for tier, cagg in self.chain:
            with tr.span(f"operators.continuous.refresh.{tier}"):
                st = cagg.refresh()
            self.count(f"merge.{tier}", st["mode"] == "merge")
            self.count("commits", st["commits"])
            self.count("dirty_buckets", st["dirty_buckets"])
            self.count("rows_written", st["rows_written"])
        self.raw_version = v
        self.next_tick += 1

    def _committed_us(self) -> int:
        """End of the on-time data the ticks so far have appended."""
        if self.next_tick == 0:
            return self.base_us
        if self.next_tick >= N_SLICES:
            return self.ctx.meta["ts_max_us"]
        return self.cuts_us[self.next_tick - 1]

    def committed_end(self) -> dt.datetime:
        return dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=self._committed_us())

    def _rng(self, kind: int, i: int):
        return np.random.RandomState(
            (self.ctx.seed * 1_000_003 + kind * 100_003 + i) % 2**31)

    def range_bounds(self, i: int) -> tuple[dt.datetime, dt.datetime]:
        rng = self._rng(1, i)
        lo = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=self.ctx.meta["ts_min_us"])
        hi = self.committed_end()
        span_s = (hi - lo).total_seconds()
        length = (RANGE_SPANS_H[i % len(RANGE_SPANS_H)] * 3600.0
                  * rng.uniform(0.8, 1.25))
        length = min(length, span_s - 1)
        start = lo + dt.timedelta(
            seconds=float(rng.uniform(0, span_s - length)))
        return start, start + dt.timedelta(seconds=length)

    def range_query(self, tr) -> None:
        from feasts_spark.operators.rollup import stitch_range

        start, end = self.range_bounds(self.n_range)
        with tr.span("operators.rollup.stitch"):
            frames = {t: self.tables[t].read() for t in TIERS}
            raw = self.raw.read(version=self.raw_version)
            rows = stitch_range(frames, start, end, raw=raw).collect()
        if self.n_range % ORACLE_EVERY == 0:
            self.answers.append((start, end, self.raw_version, rows))
        if tr.enabled:
            self.count("stitch_rows_read",
                       self._stitch_rows(frames, raw, start, end))
        self.n_range += 1

    @staticmethod
    def _stitch_rows(frames, raw, start, end) -> int:
        from pyspark.sql import functions as F

        from feasts_spark.operators.rollup import cover_range

        total = 0
        for tier, spans in cover_range(start, end).items():
            df, col = (raw, "ts") if tier == "raw" else (frames[tier],
                                                          "bucket_ts")
            for lo, hi in spans:
                total += df.filter((F.col(col) >= F.lit(lo))
                                   & (F.col(col) < F.lit(hi))).count()
        return total

    def chart_query(self, tr) -> None:
        from pyspark.sql import functions as F

        from feasts_spark.operators.downsample import m4_downsample
        from feasts_spark.operators.gapfill import gapfill_locf

        rng = self._rng(2, self.n_chart)
        committed = self._committed_us()
        convs = [c for c in self.ctx.meta["chart_convs"] if c[1] < committed]
        conv, first_us, last_us = convs[rng.randint(len(convs))]
        end_us = min(last_us, committed)
        days = CHART_DAYS[self.n_chart % len(CHART_DAYS)]
        lo_us = max(first_us,
                    end_us - int(days * rng.uniform(0.9, 1.1) * 86400e6))
        epoch = dt.datetime(1970, 1, 1)
        lo = epoch + dt.timedelta(microseconds=lo_us)
        hi = epoch + dt.timedelta(microseconds=end_us)
        t1m = self.tables["1m"]
        with tr.span("sources.snapshots.read_where"):
            df = t1m.read_where("bucket_ts", lo, hi).filter(
                F.col("series_key") == conv)
            if tr.enabled:
                self.count("prune_ratio", len(df.inputFiles())
                           / max(len(t1m.manifest()["files"]), 1))
            df = self.force(tr, df)
        with tr.span("operators.gapfill.locf"):
            filled = self.force(tr, gapfill_locf(df, "1m"))
            if tr.enabled:
                grid, gaps = filled.agg(
                    F.count(F.lit(1)),
                    F.sum(F.col("is_gap").cast("int"))).first()
                self.count("grid_fill_ratio", (gaps or 0) / max(grid, 1))
        with tr.span("operators.downsample.m4"):
            m4_downsample(filled, "1h", key_col="series_key",
                          ts_col="bucket_ts",
                          value_col="val_avg_filled").collect()
        self.release()
        self.n_chart += 1

    def feature_query(self, tr) -> None:
        """Feature pack of two long conversations over the committed raw
        rows, one of them a whale: a bloom-pruned key read, then the Arrow
        UDF stage."""
        from pyspark.sql import functions as F

        from feasts_spark.operators.features import features

        rng = self._rng(3, self.n_feature)
        committed = self._committed_us()
        # chart_convs runs longest first, the forced whales ahead
        n_whales = self.corpus["n_forced_long"]
        whales, others = (
            [c[0] for c in part if c[1] < committed]
            for part in (self.ctx.meta["chart_convs"][:n_whales],
                         self.ctx.meta["chart_convs"][n_whales:]))
        convs = sorted([(whales or others)[self.n_feature
                                           % len(whales or others)],
                        others[rng.randint(len(others))]])
        with tr.span("sources.snapshots.read_containing"):
            df = self.raw.read_containing(
                "conv_id", convs, version=self.raw_version,
            ).filter(F.col("conv_id").isin(convs))
            df = self.force(tr, df)
        with tr.span("operators.features.udf_stage"):
            rows = features(df, key_col="conv_id", order_col="turn_idx",
                            value_col="value", period=PERIOD,
                            min_points=MIN_POINTS).collect()
        self.count("feature_groups", len(convs))
        if self.n_feature % ORACLE_EVERY == 0:
            self.feature_answers.append((convs, self.raw_version, rows))
        self.release()
        self.n_feature += 1

    def step(self, tr) -> bool:
        if self.next_tick >= N_SLICES:
            return False
        self.timed(tr, "tick", self.tick)
        for kind, n in QUERY_MIX:
            for _ in range(n):
                self.timed(tr, kind, getattr(self, f"{kind}_query"))
        return True

    def end_to_end(self, phase: dict) -> dict:
        """Ticks and queries both count as operations of ops_per_s.
        result_p50_ms and cpu_s_per_op are over the dashboard answers of
        all query kinds: a tick's CPU time swings by 2x or more from tick
        to tick (some ticks bring up Python workers for several CPU
        seconds), and a run holds two or three ticks, so tick figures stay
        in the detail line."""
        s = phase["samples"]
        tick = summarize(s["tick_s"])
        kinds = {k: summarize([x * 1000 for x in s[f"{k}_s"]])
                 for k, _ in QUERY_MIX}
        answers = [x for k, _ in QUERY_MIX for x in s[f"{k}_s"]]
        # per kind the median, weighted by the kind's share of the mix
        cpu = sum(n * statistics.median(s[f"{k}_cpu_s"])
                  for k, n in QUERY_MIX) / sum(n for _, n in QUERY_MIX)
        return {
            "cpu_s_per_op": cpu,
            "ops_per_s": (len(s["tick_s"]) + len(answers)) / phase["wall_s"],
            "result_p50_ms": summarize(answers)["p50"] * 1000.0,
            "detail": {"tick_p50_s": tick["p50"], "tick_s": tick,
                       "tick_cpu_s": _mean(s["tick_cpu_s"]),
                       "query_p50_ms": kinds["range"]["p50"],
                       "chart_p50_ms": kinds["chart"]["p50"],
                       "feature_p50_ms": kinds["feature"]["p50"],
                       **{f"{k}_ms": v for k, v in kinds.items()},
                       "ticks": len(s["tick_s"])},
        }

    def verify(self) -> tuple[int, list[str]]:
        from pyspark.sql import functions as F

        from feasts_spark.operators.rollup import rollup_raw

        problems = []
        raw = self.raw.read()
        for tier in TIERS:
            problems += _checksum_equal(self.tables[tier].read(),
                                        rollup_raw(raw, tier), TIER_COLS,
                                        f"tier_{tier}")
        for start, end, version, rows in self.answers:
            ts, v = F.col("ts"), F.col("value")
            want = (
                self.raw.read(version=version)
                .filter((ts >= F.lit(start)) & (ts < F.lit(end)))
                .groupBy(F.col("conv_id").alias("series_key"))
                .agg(F.count(F.lit(1)).alias("n_points"),
                     F.sum(v).alias("val_sum"), F.min(v).alias("val_min"),
                     F.max(v).alias("val_max"),
                     F.min_by(v, ts).alias("val_first"),
                     F.max_by(v, ts).alias("val_last"),
                     F.min(ts).alias("first_ts"), F.max(ts).alias("last_ts"))
                .withColumn("val_avg", F.col("val_sum") / F.col("n_points"))
                .collect()
            )
            bad = compare_rows([r.asDict() for r in rows],
                               [r.asDict() for r in want], "series_key")
            if bad:
                problems.append(f"range [{start}, {end}): {len(bad)} "
                                f"mismatches, first: {bad[0]}")
        for convs, version, rows in self.feature_answers:
            want = feature_oracle(
                series_arrays(self.raw.read(version=version), convs))
            bad = compare_rows([r.asDict() for r in rows], want, "conv_id")
            if bad:
                problems.append(f"features {convs}: {len(bad)} mismatches, "
                                f"first: {bad[0]}")
        return (len(TIERS) + len(self.answers) + len(self.feature_answers),
                problems)

    def layer_metrics(self, phase, spans, spark_by_layer) -> dict:
        c = phase["counters"]
        ticks = max(len(phase["samples"].get("tick_s", [])), 1)
        ranges = max(len(phase["samples"].get("range_s", [])), 1)
        charts = max(len(phase["samples"].get("chart_s", [])), 1)
        feats = max(len(phase["samples"].get("feature_s", [])), 1)
        udf = spark_by_layer["layers"].get("operators.features.udf_stage")
        out = {
            "sources.snapshots.append_s":
                per_op(spans, "sources.snapshots.append", ticks),
            "sources.snapshots.commits": sum(c.get("commits", [])) / ticks,
            "sources.snapshots.prune_ratio": _mean(c.get("prune_ratio", [])),
            "operators.continuous.dirty_buckets":
                sum(c.get("dirty_buckets", [])) / ticks,
            "operators.continuous.rows_written":
                sum(c.get("rows_written", [])) / ticks,
            "operators.rollup.stitch_s":
                per_op(spans, "operators.rollup.stitch", ranges),
            "operators.rollup.stitch_rows_read":
                _mean(c.get("stitch_rows_read", [])),
            "operators.gapfill.locf_s":
                per_op(spans, "operators.gapfill.locf", charts),
            "operators.gapfill.grid_fill_ratio":
                _mean(c.get("grid_fill_ratio", [])),
            "operators.downsample.m4_s":
                per_op(spans, "operators.downsample.m4", charts),
            "sources.snapshots.read_where_s":
                per_op(spans, "sources.snapshots.read_where", charts),
            "sources.snapshots.read_containing_s":
                per_op(spans, "sources.snapshots.read_containing", feats),
            "operators.features.udf_stage_s":
                per_op(spans, "operators.features.udf_stage", feats),
            "operators.features.groups": _mean(c.get("feature_groups", [])),
            "operators.features.arrow_in_mb":
                udf["python_sent_mb"] / feats if udf else 0.0,
        }
        # driver-side kernel timings over a seeded sample of long series
        rng = self._rng(4, 0)
        pool = self.ctx.meta["featured_convs"]
        sample = rng.choice(pool, size=min(KERNEL_SAMPLE, len(pool)),
                            replace=False).tolist()
        out.update(kernel_timings(list(
            series_arrays(self.raw.read(), sample).values())))
        for tier in TIERS:
            out[f"operators.continuous.refresh_s.{tier}"] = per_op(
                spans, f"operators.continuous.refresh.{tier}", ticks)
            out[f"operators.continuous.merge_share.{tier}"] = _mean(
                c.get(f"merge.{tier}", []))
        out["sources.snapshots.live_files.raw_turns"] = len(
            self.raw.manifest()["files"])
        for tier in TIERS:
            out[f"sources.snapshots.live_files.tier_{tier}"] = len(
                self.tables[tier].manifest()["files"])
        return out


WORKLOADS = {w.name: w for w in (TierBuild, CaggServe)}
