"""Streaming -> snapshot sink: micro-batches commit atomically into a
versioned table, exactly-once under foreachBatch's at-least-once
re-delivery, resumable from the stream checkpoint without duplicates."""

import os
import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feasts_spark.operators.rollup import rollup_raw
from feasts_spark.sources.snapshots import SnapshotTable
from feasts_spark.streaming.rollup_stream import stream_rollup
from feasts_spark.streaming.snapshot_sink import (
    last_committed_batch,
    snapshot_batch_writer,
)

SCHEMA = "series_key string, ts timestamp, value double"


def _stage(tmp_path, n_files=2):
    """Time-split parquet files + a far-future sentinel file so every real
    window is watermark-closed by the final micro-batch."""
    rng = np.random.default_rng(7)
    base = pd.Timestamp("2024-05-01")
    rows = []
    for key in ("a", "b", "c"):
        for m in range(600):  # 10 hours of minutely points
            rows.append((key, base + pd.Timedelta(minutes=m),
                         float(rng.normal(50, 5))))
    pdf = pd.DataFrame(rows, columns=["series_key", "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    d = tmp_path / "in"
    d.mkdir()
    splits = np.array_split(pdf.sort_values("ts"), n_files)
    for i, part in enumerate(splits):
        part.to_parquet(d / f"b{i}.parquet", index=False)
    sentinel = pd.DataFrame(
        {"series_key": ["__sentinel__"],
         "ts": [pd.Timestamp("2024-06-01")],
         "value": [0.0]})
    sentinel["ts"] = sentinel["ts"].astype("datetime64[us]")
    sentinel.to_parquet(d / "z_sentinel.parquet", index=False)
    # FileStreamSource batches in mtime order and breaks same-millisecond
    # ties by listing order — pin the arrival order explicitly
    now = time.time()
    names = [f"b{i}.parquet" for i in range(n_files)] + ["z_sentinel.parquet"]
    for i, name in enumerate(names):
        os.utime(d / name, (now + i * 10, now + i * 10))
    return str(d), pdf


def _run(spark, src_dir, table, ckpt, sink_name="r1h"):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream_rollup(stream, "1h", key_col="series_key",
                      watermark="30 minutes")
        .writeStream.foreachBatch(snapshot_batch_writer(table, sink_name))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


class TestSnapshotSink:
    def test_stream_commits_match_batch(self, spark, tmp_path):
        src, pdf = _stage(tmp_path)
        table = SnapshotTable(spark, str(tmp_path), "tier_1h",
                              stats_cols=("bucket_ts",))
        _run(spark, src, table, str(tmp_path / "ckpt"))

        got = table.read().filter(F.col("series_key") != "__sentinel__")
        batch = rollup_raw(
            spark.createDataFrame(pdf), "1h", "series_key", "ts", "value"
        )
        cols = sorted(got.columns)
        assert got.count() == batch.count() > 0
        exact = ["series_key", "bucket_ts", "n_points", "val_min",
                 "val_max", "val_first", "val_last", "first_ts", "last_ts"]
        g = got.orderBy("series_key", "bucket_ts").toPandas()
        b = batch.orderBy("series_key", "bucket_ts").toPandas()[g.columns]
        pd.testing.assert_frame_equal(g[exact], b[exact], check_exact=True)
        np.testing.assert_allclose(g["val_sum"], b["val_sum"], rtol=1e-12)
        # each commit is an append carrying its micro-batch id
        assert all(
            r["operation"] == "append" for r in table.history()
        )
        assert last_committed_batch(table, "r1h") >= 1

    def test_redelivered_batch_is_skipped(self, spark, tmp_path):
        table = SnapshotTable(spark, str(tmp_path), "t",
                              stats_cols=("bucket_ts",))
        df = spark.range(10).select(
            F.lit("k").alias("series_key"),
            F.timestamp_seconds(F.lit(1767225600)).alias("bucket_ts"),
            F.col("id").cast("double").alias("v"),
        )
        commit = snapshot_batch_writer(table, "s")
        commit(df, 0)
        v1 = table.current_version()
        commit(df, 0)  # crash re-delivery: same batch id
        assert table.current_version() == v1
        assert table.read().count() == 10
        # empty batches commit nothing and do not advance the id
        commit(df.limit(0), 1)
        assert table.current_version() == v1
        assert last_committed_batch(table, "s") == 0
        # a different sink name is an independent id sequence
        commit2 = snapshot_batch_writer(table, "s2")
        commit2(df, 0)
        assert table.read().count() == 20

    def test_dedup_survives_snapshot_expiry(self, spark, tmp_path):
        """compaction/retention commits + expire_snapshots can remove every
        manifest carrying the sink's batch id; the watermark sidecar must
        still dedup the re-delivered batch."""
        table = SnapshotTable(spark, str(tmp_path), "t",
                              stats_cols=("bucket_ts",))
        df = spark.range(10).select(
            F.lit("k").alias("series_key"),
            F.timestamp_seconds(F.lit(1767225600)).alias("bucket_ts"),
            F.col("id").cast("double").alias("v"),
        )
        commit = snapshot_batch_writer(table, "s")
        commit(df, 0)
        # non-sink commit on top, then expire the sink's manifest
        table.overwrite(table.read())
        table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
        assert table.current_version() == 2
        commit(df, 0)  # re-delivery after the sink manifest is gone
        assert table.read().count() == 10
        assert last_committed_batch(table, "s") == 0

    def test_restart_from_checkpoint_adds_nothing(self, spark, tmp_path):
        src, pdf = _stage(tmp_path)
        table = SnapshotTable(spark, str(tmp_path), "tier_1h",
                              stats_cols=("bucket_ts",))
        ckpt = str(tmp_path / "ckpt")
        _run(spark, src, table, ckpt)
        n1, v1 = table.read().count(), table.current_version()
        _run(spark, src, table, ckpt)  # same checkpoint: source exhausted
        assert table.read().count() == n1
        assert table.current_version() == v1
