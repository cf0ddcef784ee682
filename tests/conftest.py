import datetime as dt

import pytest
from pyspark.sql import SparkSession

from logstash_filter_aggregate_spark.session import get_spark

T0 = dt.datetime(2026, 1, 1, 0, 0, 0)


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


def make_transcript(spark, rows, conv="c1"):
    """rows: (turn_idx, text, offset_s) or (conv_id, turn_idx, text, offset_s)."""
    data = []
    for r in rows:
        if len(r) == 3:
            c, (i, txt, off) = conv, r
        else:
            c, i, txt, off = r
        data.append((c, i, "user", txt, "none", T0 + dt.timedelta(seconds=off)))
    return spark.createDataFrame(
        data, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def write_stream_files(spark, in_dir, frames):
    """Write each frame as one parquet file of ``in_dir``, the files'
    modification times in frame order, so a stream read with
    ``maxFilesPerTrigger=1`` takes one frame per micro-batch."""
    import glob
    import os
    import shutil

    os.makedirs(in_dir)
    paths = []
    for i, df in enumerate(frames):
        tmp = f"{in_dir}_frame{i}"
        df.coalesce(1).write.parquet(tmp)
        paths.append(f"{in_dir}/{i:03d}.parquet")
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], paths[-1])
        os.utime(paths[-1], (1_000_000 + i, 1_000_000 + i))
    return paths


def heartbeat(spark, offset_s):
    """A one-row frame holding the streaming heartbeat at ``T0 + offset_s``."""
    from logstash_filter_aggregate_spark.streaming.stream import HEARTBEAT_CONV

    return make_transcript(spark, [(HEARTBEAT_CONV, 0, "heartbeat", offset_s)])


def stream_timeout_rows(spark, in_dir, cfg, tmp_path, time_mode="event"):
    """Run ``streaming_correlate`` over ``in_dir``, one file per
    micro-batch, into routed sinks; returns the ``timeout`` sink's rows."""
    from logstash_filter_aggregate_spark.streaming.stream import (
        stream_to_routed_sinks,
        streaming_correlate,
    )

    src = (
        spark.readStream.schema(spark.read.parquet(in_dir).schema)
        .option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    base = str(tmp_path / f"out_{time_mode}")
    q = stream_to_routed_sinks(
        streaming_correlate(src, cfg, time_mode=time_mode), base, str(tmp_path / f"cp_{time_mode}"),
        available_now=time_mode == "event",
    )
    if time_mode == "processing":
        # processing-time timers keep a query running no-data batches:
        # stop it once the last file's batch has written its sinks
        import glob
        import os
        import time

        last = len(glob.glob(f"{in_dir}/*.parquet")) - 1
        deadline = time.time() + 300
        while not os.path.exists(f"{base}/timeout/batch_id={last}/_SUCCESS") and time.time() < deadline:
            time.sleep(0.5)
        q.stop()
    q.awaitTermination(300)
    return spark.read.parquet(f"{base}/timeout").collect()
