"""Watermarked event-time metrics (ST5/ST6): the same DataFrame runs as
a batch query and, started inline with ``writeStream``, as a stream —
driven with availableNow over a file stream split into multiple
micro-batches, so cross-batch state and watermark-close semantics are
actually exercised."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tv_event_streaming_spark.domain import load_table


@pytest.fixture(scope="module")
def event_stream_dir(spark, sf_dir, tmp_path_factory):
    """The events table as a 3-file stream source directory (one file per
    micro-batch with maxFilesPerTrigger=1)."""
    d = str(tmp_path_factory.mktemp("events_src"))
    ev = load_table(spark, sf_dir, "events")
    # split by event-time thirds so arrival order tracks event time —
    # a modulo split would put the whole month in every batch and
    # batches 2-3 would land behind the watermark as late data
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    step = (hi - lo) / 3
    bounds = [lo + step, lo + 2 * step]
    parts = [
        ev.filter(F.col("ts") < F.lit(bounds[0])),
        ev.filter((F.col("ts") >= F.lit(bounds[0])) & (F.col("ts") < F.lit(bounds[1]))),
        ev.filter(F.col("ts") >= F.lit(bounds[1])),
    ]
    for p in parts:
        p.coalesce(1).write.mode("append").parquet(d)
    return d


def _read_stream(spark, src_dir):
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def test_session_window_stream_matches_batch(spark, sf_dir, event_stream_dir, tmp_path):
    """ST6 deepened: streaming session_window sessions (closed by the
    watermark, merged across micro-batches by the state store) agree
    with the batch gap-sessionization on (user, start, end, count)."""
    from tv_event_streaming_spark.operators.analytics import sessionize
    from tv_event_streaming_spark.streaming.metrics import session_metrics

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = (
        session_metrics(_read_stream(spark, event_stream_dir))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(sink).collect()
    }
    assert len(got) > 0, "no sessions closed before the stream drained"
    batch = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize(load_table(spark, sf_dir, "events")).collect()
    }
    assert got <= batch, (
        f"stream emitted sessions the batch twin disagrees with: "
        f"{sorted(got - batch)[:3]}"
    )


def test_sliding_metrics_stream_matches_batch(spark, sf_dir, event_stream_dir, tmp_path):
    """ST6 third shape: sliding-window counts emitted by the watermarked
    stream agree with the batch twin on every closed window (append
    mode emits once per window; each event feeds 4 overlapping
    windows through the Expand assignment)."""
    from tv_event_streaming_spark.streaming.metrics import sliding_metrics

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = (
        sliding_metrics(_read_stream(spark, event_stream_dir))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.window_start, r.window_end, r.event_type, r.invocations, r.successes)
        for r in spark.read.parquet(sink).collect()
    }
    assert len(got) > 0, "no sliding windows closed before the stream drained"
    batch = {
        (r.window_start, r.window_end, r.event_type, r.invocations, r.successes)
        for r in sliding_metrics(
            load_table(spark, sf_dir, "events")
        ).collect()
    }
    assert got <= batch, sorted(got - batch)[:3]
    # overlap sanity: a window's start advances by the slide, not the width
    starts = sorted({ws for ws, *_ in got})
    if len(starts) > 1:
        min_gap = min(
            (b - a).total_seconds() for a, b in zip(starts, starts[1:])
        )
        assert min_gap == 900, min_gap


def test_error_bursts_batch_twin_semantics(spark):
    """Hand-built case: gaps exactly at the threshold stay in-burst
    (the sessionize > convention); short runs are dropped."""
    import datetime

    from tv_event_streaming_spark.streaming.metrics import error_bursts_batch

    t0 = datetime.datetime(2024, 1, 1)
    mk = lambda mins: t0 + datetime.timedelta(minutes=mins)
    rows = [
        # user 1: 3 errors, gaps 5 and 10 min -> one burst of 3
        (1, 1, mk(0), "error", None, None),
        (2, 1, mk(5), "error", None, None),
        (3, 1, mk(15), "error", None, None),
        # a view in between must not split the burst
        (4, 1, mk(7), "view", None, None),
        # user 2: 2 errors far apart -> no burst at min_count=2? gap 100min > 10 -> two singles
        (5, 2, mk(0), "error", None, None),
        (6, 2, mk(100), "error", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double, props string",
    )
    got = {
        (r.user_id, r.burst_start, r.burst_end, r.n_errors)
        for r in error_bursts_batch(df, gap_minutes=10, min_count=2).collect()
    }
    assert got == {(1, mk(0), mk(15), 3)}


