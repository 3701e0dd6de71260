"""Structured Streaming end-to-end: the session/tumbling aggregations running as
actual streams (file source → memory sink), with watermark late-data handling."""

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from iceberg_evolve_spark.streaming.sessionize import (
    session_window_stats,
    windowed_event_counts,
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)

ROWS_BATCH1 = [
    (1, "2024-01-01 10:00:00", 1, "click", 1.0),
    (2, "2024-01-01 10:10:00", 1, "click", 2.0),
    (3, "2024-01-01 12:00:00", 1, "view", 3.0),
    (4, "2024-01-01 10:05:00", 2, "click", 4.0),
]


@pytest.fixture()
def stream_dir(spark):
    d = tempfile.mkdtemp(prefix="stream_src_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_batch(spark, d, rows, name):
    # The file stream source lists files directly under the watched dir; a
    # normal .parquet(subdir) write would hide them one level down. Stage the
    # write, then drop the part-file into the watched dir under a stable name.
    df = spark.createDataFrame(
        [(i, ts, u, t, v) for i, ts, u, t, v in rows],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    stage = f"{d}/_stage_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    os.makedirs(d, exist_ok=True)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    shutil.copy(part, f"{d}/{name}.parquet")
    shutil.rmtree(stage, ignore_errors=True)


def _run_stream(spark, src, transform, out_name):
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "10")
        .parquet(src)
    )
    result = transform(stream)
    q = (
        result.writeStream.format("memory")
        .queryName(out_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {out_name}")


class TestStreamingSessionWindow:
    def test_session_window_streaming_matches_batch(self, spark, stream_dir):
        _write_batch(spark, stream_dir + "/data", ROWS_BATCH1, "b1")
        got = _run_stream(
            spark,
            stream_dir + "/data",
            lambda s: session_window_stats(s, gap_minutes=30, watermark_minutes=60),
            "sess_out",
        ).collect()
        # user 1: (10:00,10:10) one session of 2 events, 12:00 its own; user 2: one
        stats = sorted((r.user_id, r.n_events, r.total_value) for r in got)
        assert stats == [(1, 1, 3.0), (1, 2, 3.0), (2, 1, 4.0)]

    def test_tumbling_counts_streaming(self, spark, stream_dir):
        _write_batch(spark, stream_dir + "/data", ROWS_BATCH1, "b1")
        got = _run_stream(
            spark,
            stream_dir + "/data",
            lambda s: windowed_event_counts(s, window_minutes=60, watermark_minutes=60),
            "tumb_out",
        ).collect()
        counts = {(str(r.window_start), r.event_type): r.n for r in got}
        assert counts[("2024-01-01 10:00:00", "click")] == 3
        assert counts[("2024-01-01 12:00:00", "view")] == 1

    def test_watermark_is_applied_on_stream(self, spark, stream_dir):
        """The streaming plan must carry an EventTimeWatermark node (late-data
        bound + state eviction) when watermark_minutes is set."""
        _write_batch(spark, stream_dir + "/data", ROWS_BATCH1, "b1")
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA).parquet(stream_dir + "/data")
        )
        out = session_window_stats(stream, gap_minutes=30, watermark_minutes=45)
        assert out.isStreaming
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "EventTimeWatermark" in plan
        assert "45 minutes" in plan
