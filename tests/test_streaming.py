"""Streaming rollup == batch rollup on the same bounded input."""

import numpy as np
import pandas as pd

from feasts_spark.operators.rollup import rollup_raw
from feasts_spark.streaming.rollup_stream import run_stream_once

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def test_stream_rollup_matches_batch(spark, sf_dir):
    path = f"{sf_dir}/events.parquet"
    got = run_stream_once(
        spark, path, EVENTS_SCHEMA, "1h",
        key_col="user_id", ts_col="ts", value_col="value",
        query_name="t_stream_1h",
    ).orderBy("series_key", "bucket_ts").toPandas()
    batch = (
        rollup_raw(spark.read.parquet(path), "1h", "user_id", "ts", "value")
        .orderBy("series_key", "bucket_ts")
        .toPandas()[got.columns]
    )
    exact = ["series_key", "bucket_ts", "n_points", "val_min", "val_max",
             "val_first", "val_last", "first_ts", "last_ts"]
    pd.testing.assert_frame_equal(got[exact], batch[exact], check_exact=True)
    np.testing.assert_allclose(got["val_sum"], batch["val_sum"], rtol=1e-12)


def test_stream_rollup_late_data_within_watermark(spark, tmp_path):
    """Late rows arriving in a later micro-batch but inside the watermark
    must still land in their (closed-at-the-end) event-time bucket."""
    from pyspark.sql import functions as F

    from feasts_spark.streaming.rollup_stream import stream_rollup

    base = pd.Timestamp("2024-05-01 00:00:00")
    b0 = pd.DataFrame({
        "series_key": ["k"] * 3,
        "ts": [base + pd.Timedelta(minutes=m) for m in (5, 65, 125)],
        "value": [1.0, 2.0, 3.0],
    })
    # batch 1: a LATE row for the first hour (59m behind max seen ts,
    # inside the 10h watermark) + a new-hour row
    b1 = pd.DataFrame({
        "series_key": ["k"] * 2,
        "ts": [base + pd.Timedelta(minutes=30),
               base + pd.Timedelta(minutes=185)],
        "value": [10.0, 4.0],
    })
    d = tmp_path / "late_in"
    d.mkdir()
    for i, b in enumerate((b0, b1)):
        b.assign(ts=b["ts"].astype("datetime64[us]")).to_parquet(
            d / f"b{i}.parquet", index=False
        )
    stream = (
        spark.readStream.schema("series_key string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        stream_rollup(stream, "1h", key_col="series_key", watermark="10 hours")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_late")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.sql("SELECT * FROM t_late").orderBy("bucket_ts").toPandas()
    )
    # hour 0 contains BOTH the on-time row (1.0) and the late row (10.0)
    h0 = got.iloc[0]
    assert h0["n_points"] == 2
    assert h0["val_sum"] == 11.0
    assert h0["val_first"] == 1.0 and h0["val_last"] == 10.0
    assert list(got["n_points"]) == [2, 1, 1, 1]
