"""Event-time metrics — beyond-parity ST5/ST6.

The reference computes its admin metrics on demand (a trailing-1h
CloudWatch sum, admin_lambda.py:72-150) and carries an event-time column
it never uses (``publishTimestamp``, ingestion.py:160; SURVEY.md ST5).
These operators put that column to work:

- :func:`sliding_metrics` — watermarked sliding-window invocation/
  error/success counts (the A6 aggregation over event time; late events
  beyond the watermark are dropped instead of silently miscounted).
- :func:`session_metrics` — per-user gap sessions via
  ``session_window``.
- :func:`error_bursts_batch` — runs of a user's errors, the alerting
  shape, as gaps-and-islands over the error subset.

The windowed operators are plain DataFrame plans: the same frame runs
as a batch query (the watermark is a no-op) or, passed a streaming
source, as a continuous one that a caller starts with
``df.writeStream``. Their state stays executor-local, bounded by the
watermark horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sliding_metrics(
    events: DataFrame,
    window_duration: str = "60 minutes",
    slide_duration: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """ST6's third window shape — SLIDING event-time windows (each event
    lands in window/slide overlapping windows; tumbling is the
    slide==window special case): per (window, event_type) invocation/
    error/success counts, the continuously-updating trailing dashboard
    the reference's trailing-1h CloudWatch query approximates. Works
    unchanged on batch (no-op watermark) or stream (append emission as
    the watermark passes each window end).

    Scale: Spark expands each row to window/slide assignments BEFORE
    the shuffle (an Expand node, map-side), so the state/shuffle volume
    is overlap-factor × events — the price of overlap, paid wide, not
    in the state store."""
    n = F.count("*")
    errs = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window_duration, slide_duration).alias("win"),
            "event_type",
        )
        .agg(
            n.alias("invocations"),
            errs.alias("errors"),
            F.greatest(F.lit(0).cast("long"), (n - errs).cast("long")).alias("successes"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "invocations",
            "errors",
            "successes",
        )
    )


def session_metrics(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``operators.analytics.sessionize`` — per-user
    gap sessions via ``session_window`` (dynamic-gap windows merged by
    the state store across micro-batches; a session closes, and is
    emitted exactly once, when the watermark passes its end + gap).
    State is bounded by (open sessions × users), executor-local."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
        )
    )


def error_bursts_batch(
    events: DataFrame, gap_minutes: int = 4320, min_count: int = 3
) -> DataFrame:
    """Error bursts: a BURST is a maximal run of a user's ``error``
    events with consecutive gaps ≤ ``gap_minutes``, reported when it
    holds ≥ ``min_count`` errors — gaps-and-islands over the error
    subset (the exact ``analytics.sessionize`` arithmetic)."""
    from ..operators.analytics import sessionize  # noqa: PLC0415

    errors = events.filter(F.col("event_type") == "error")
    return (
        sessionize(errors, gap_minutes=gap_minutes)
        .filter(F.col("n_events") >= min_count)
        .select(
            "user_id",
            F.col("session_start").alias("burst_start"),
            F.col("session_end").alias("burst_end"),
            F.col("n_events").alias("n_errors"),
        )
    )
