"""Full-loop composition: Structured Streaming micro-batches -> exactly-once
snapshot sink -> continuous-aggregate chain.

Two shapes, both promised by the module docstrings:

- raw turns stream into the RAW snapshot table (sink appends), and the
  1m ContinuousAggregate folds the streamed commits via the cheap MERGE
  path (append-only source ops), cascading to 1h/1d;
- stream_rollup("1m") sinks watermark-closed 1m buckets DIRECTLY into the
  1m tier table, and the 1h CascadeAggregate folds those appends via
  MERGE (continuous.py CascadeAggregate docstring: "a streaming sink
  appending watermark-closed lower buckets takes the cheap MERGE path").

Every level must equal a from-scratch rollup of all streamed rows.
"""

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from feasts_spark.operators.continuous import (
    CascadeAggregate,
    ContinuousAggregate,
)
from feasts_spark.operators.rollup import rollup_raw
from feasts_spark.sources.snapshots import SnapshotTable
from feasts_spark.streaming.rollup_stream import stream_rollup
from feasts_spark.streaming.snapshot_sink import snapshot_batch_writer

SCHEMA = "series_key string, ts timestamp, value double"
SENT = "__sentinel__"


def _rows(minute_lo, minute_hi, keys=("a", "b", "c")):
    rng = np.random.default_rng(minute_lo + 13)
    base = pd.Timestamp("2024-05-01")
    rows = [
        (k, base + pd.Timedelta(minutes=m), float(rng.normal(50, 5)))
        for k in keys
        for m in range(minute_lo, minute_hi)
    ]
    pdf = pd.DataFrame(rows, columns=["series_key", "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


def _stage(src_dir, name, pdf, sentinel_minute):
    """One parquet file plus a sentinel row just past the phase's data so
    every real window is watermark-closed by the last micro-batch of this
    phase. The sentinel must NOT overshoot: the watermark persists in the
    stream checkpoint across phases, so a far-future sentinel would mark
    the NEXT phase's rows late and drop them."""
    src_dir.mkdir(exist_ok=True)
    pdf.to_parquet(src_dir / f"{name}.parquet", index=False)
    s = pd.DataFrame({"series_key": [SENT],
                      "ts": [pd.Timestamp("2024-05-01")
                             + pd.Timedelta(minutes=sentinel_minute)],
                      "value": [0.0]})
    s["ts"] = s["ts"].astype("datetime64[us]")
    s.to_parquet(src_dir / f"z{sentinel_minute:05d}_sentinel.parquet",
                 index=False)
    # FileStreamSource batches in mtime order and breaks same-millisecond
    # ties by listing order — pin data before sentinel explicitly
    now = time.time()
    for i, f in enumerate((f"{name}.parquet",
                           f"z{sentinel_minute:05d}_sentinel.parquet")):
        os.utime(src_dir / f, (now + i * 10, now + i * 10))


def _drain(spark, src_dir, ckpt, sink_fn, transform=None):
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))
    if transform is not None:
        stream = transform(stream)
    q = (stream.writeStream.foreachBatch(sink_fn)
         .option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start())
    q.awaitTermination()


def _tiers_equal(tbl, pdf, tier, key_col="series_key"):
    spark = tbl.spark
    expect = rollup_raw(spark.createDataFrame(pdf), tier, key_col,
                        "ts", "value") \
        .withColumn("val_sum", F.round("val_sum", 9)) \
        .withColumn("val_avg", F.round("val_avg", 9))
    got = tbl.read().filter(F.col(key_col) != SENT) \
        .withColumn("val_sum", F.round("val_sum", 9)) \
        .withColumn("val_avg", F.round("val_avg", 9))
    assert got.count() == expect.count() > 0, tier
    assert got.exceptAll(expect).count() == 0, tier
    assert expect.exceptAll(got).count() == 0, tier


class TestStreamIntoCaggChain:
    def test_raw_stream_then_chain_merges(self, spark, tmp_path):
        src_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
        raw = SnapshotTable(spark, str(tmp_path), "raw", stats_cols=("ts",))
        t1m = SnapshotTable(spark, str(tmp_path), "t1m",
                            stats_cols=("bucket_ts",))
        t1h = SnapshotTable(spark, str(tmp_path), "t1h",
                            stats_cols=("bucket_ts",))
        t1d = SnapshotTable(spark, str(tmp_path), "t1d",
                            stats_cols=("bucket_ts",))
        chain = [
            ContinuousAggregate(raw, t1m, "1m", key_col="series_key",
                                ts_col="ts", value_col="value"),
            CascadeAggregate(t1m, t1h, "1h"),
            CascadeAggregate(t1h, t1d, "1d"),
        ]
        sink = snapshot_batch_writer(raw, "raw_turns")

        p1 = _rows(0, 180)
        _stage(src_dir, "p1", p1, sentinel_minute=10000)
        _drain(spark, src_dir, ckpt, sink)
        # raw sink commits are pure appends; first refresh is a full build
        assert all(r["operation"] == "append" for r in raw.history())
        assert [c.refresh()["mode"] for c in chain] == ["full"] * 3

        # phase 2: NEW files appear, the SAME checkpoint drains only them,
        # and the 1m cagg folds the streamed appends via MERGE; its
        # surgical replace commits surface downstream as recompute deltas
        p2 = _rows(180, 300)
        _stage(src_dir, "p2", p2, sentinel_minute=20000)
        _drain(spark, src_dir, ckpt, sink)
        modes = [c.refresh()["mode"] for c in chain]
        assert modes == ["merge", "recompute", "recompute"]

        both = pd.concat([p1, p2], ignore_index=True)
        for tbl, tier in ((t1m, "1m"), (t1h, "1h"), (t1d, "1d")):
            _tiers_equal(tbl, both, tier)
        # the streamed raw table itself lost nothing
        assert raw.read().filter(F.col("series_key") != SENT).count() \
            == len(both)

    def test_streamed_1m_buckets_cascade_via_merge(self, spark, tmp_path):
        """stream_rollup('1m') -> sink appends watermark-closed buckets into
        the tier table; the 1h cascade takes the MERGE path on them."""
        src_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
        t1m = SnapshotTable(spark, str(tmp_path), "t1m",
                            stats_cols=("bucket_ts",))
        t1h = SnapshotTable(spark, str(tmp_path), "t1h",
                            stats_cols=("bucket_ts",))
        cascade = CascadeAggregate(t1m, t1h, "1h")
        sink = snapshot_batch_writer(t1m, "r1m")

        def agg(stream):
            return stream_rollup(stream, "1m", key_col="series_key",
                                 watermark="10 minutes")

        p1 = _rows(0, 120)
        # sentinel at minute 130: watermark lands exactly at 120 ->
        # every p1 bucket closes, nothing of p2 (>= 120) is late
        _stage(src_dir, "p1", p1, sentinel_minute=130)
        _drain(spark, src_dir, ckpt, sink, transform=agg)
        assert cascade.refresh()["mode"] == "full"
        _tiers_equal(t1h, p1, "1h")

        p2 = _rows(120, 240)
        _stage(src_dir, "p2", p2, sentinel_minute=250)
        _drain(spark, src_dir, ckpt, sink, transform=agg)
        # sink commits are appends of closed buckets -> cheap merge hop
        assert all(r["operation"] == "append" for r in t1m.history())
        st = cascade.refresh()
        assert st["mode"] == "merge"
        assert st["commits"] >= 1
        _tiers_equal(t1h, pd.concat([p1, p2], ignore_index=True), "1h")
        # idempotent re-run: cursor at head
        assert cascade.refresh()["mode"] == "noop"
