"""Differential fuzzing of the REAL Structured Streaming execution.

The events fuzz family checks the stateful operators' BATCH twins
against the DuckDB oracle; this file drives the actual streaming
queries — availableNow file streams split into three event-time-ordered
micro-batches, watermarks advancing between them, the state store
merging sessions across batch boundaries — over the same adversarial
random tables (threshold-exact gaps, same-instant duplicates split
ACROSS micro-batches, empty batches, empty streams), and pins the
repo's stream/batch agreement contracts on every example:

- sliding metrics: emissions are unique, every emitted row agrees with
  the batch twin, and every watermark-closed window was emitted
  (exactly-once materialization);
- sessions: every closed session the stream emits appears verbatim in
  the batch gaps-and-islands twin (stream ⊆ batch — the open tail
  legitimately stays in state).

Arrival order tracks event time (rows sorted by ts before chunking), as
the operators' documented contract requires — late-data DROP behavior
is covered by the watermark tests in test_streaming_metrics.py.

Each example starts real streaming queries, so this tier runs at a
reduced example count like the composition tier.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from .test_differential_fuzz import _row

_EXAMPLES = int(os.environ.get("FUZZ_EXAMPLES", "4"))


def _write_stream_chunks(rows, tmpdir, sort_by_time=True) -> str:
    """The random events table as a 3-file stream source, split into
    thirds BY INDEX. With ``sort_by_time`` arrival order tracks event
    time — so a run of same-instant duplicates can straddle a
    micro-batch boundary, exactly the state-merge case worth fuzzing;
    without it, later micro-batches deliver events OLDER than the
    advanced watermark (the at-least-once bus reordering case)."""
    src = f"{tmpdir}/src"
    os.makedirs(src, exist_ok=True)
    ordered = (
        sorted(enumerate(rows), key=lambda ir: (ir[1][0], ir[0]))
        if sort_by_time
        else list(enumerate(rows))
    )
    k = len(ordered)
    chunks = [ordered[: k // 3], ordered[k // 3 : 2 * k // 3], ordered[2 * k // 3 :]]
    for ci, chunk in enumerate(chunks):
        table = pa.table(
            {
                "event_id": pa.array([i for i, _ in chunk], pa.int64()),
                "ts": pa.array([r[0] for _, r in chunk], pa.timestamp("us")),
                "user_id": pa.array([r[1] for _, r in chunk], pa.int64()),
                "event_type": pa.array([r[2] for _, r in chunk], pa.string()),
                "value": pa.array(
                    [None if r[3] is None else float(r[3]) for _, r in chunk],
                    pa.float64(),
                ),
                "props": pa.array([r[4] for _, r in chunk], pa.string()),
            }
        )
        pq.write_table(table, f"{src}/chunk_{ci}.parquet")
    return src


def _read_stream(spark, src_dir):
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def _drain(stream_df, sink, ckpt, timeout=180):
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout), "stream did not drain in time"


@settings(
    max_examples=max(2, _EXAMPLES // 3),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_row, min_size=0, max_size=50))
@example(rows=[])  # the empty stream must drain cleanly and emit nothing
def test_streaming_matches_batch_on_random_events(spark, tmp_path_factory, rows):
    from tv_event_streaming_spark.operators.analytics import sessionize
    from tv_event_streaming_spark.streaming.metrics import (
        session_metrics,
        sliding_metrics,
    )

    tmpdir = str(tmp_path_factory.mktemp("streamfuzz"))
    src = _write_stream_chunks(rows, tmpdir)
    batch_events = spark.read.schema(
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    ).parquet(src)

    # explicit sink schemas: an all-empty stream writes no data files,
    # and schemaless parquet reads on such sinks cannot infer
    _WIN_SCHEMA = (
        "window_start timestamp, window_end timestamp, event_type string, "
        "invocations bigint, errors bigint, successes bigint"
    )

    # -- sliding windows: unique, batch-consistent, closed ⇒ emitted --
    sink, ckpt = f"{tmpdir}/sli_sink", f"{tmpdir}/sli_ckpt"
    _drain(sliding_metrics(_read_stream(spark, src)), sink, ckpt)
    emitted = [tuple(r) for r in spark.read.schema(_WIN_SCHEMA).parquet(sink).collect()]
    batch_all = {tuple(r) for r in sliding_metrics(batch_events).collect()}
    assert len(emitted) == len(set(emitted)), "duplicate window emissions"
    assert set(emitted) <= batch_all, sorted(set(emitted) - batch_all)[:3]
    if rows:
        # derive the closed set from the already-collected batch rows:
        # window_end (tuple slot 1) at or before max event ts - 1h
        import datetime  # noqa: PLC0415

        max_ts = max(r[0] for r in rows)
        horizon = max_ts - datetime.timedelta(hours=1)
        closed = {t for t in batch_all if t[1] <= horizon}
        assert closed <= set(emitted), "watermark-closed windows missing"

    # -- session windows: closed sessions ⊆ batch sessionization --
    sink, ckpt = f"{tmpdir}/ses_sink", f"{tmpdir}/ses_ckpt"
    _drain(session_metrics(_read_stream(spark, src)), sink, ckpt)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.schema(
            "user_id bigint, session_start timestamp, "
            "session_end timestamp, n_events bigint"
        ).parquet(sink).collect()
    }
    batch = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize(batch_events).collect()
    }
    assert got <= batch, sorted(got - batch)[:3]


@settings(
    max_examples=max(2, _EXAMPLES // 3),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_row, min_size=0, max_size=50))
def test_streaming_survives_out_of_order_arrival(spark, tmp_path_factory, rows):
    """Arrival order ≠ event time (micro-batches split by ORIGINAL
    index): later batches deliver events older than the advanced
    watermark. The strong stream==batch claims no longer apply — the
    contracts that DO survive reordering, pinned here on every example:

    - every query drains without crashing;
    - window emissions stay exactly-once per (window, event_type) key;
    - per-user sessions are well-formed (end ≥ start, count ≥ 1) and
      non-overlapping — a late event can only merge into open state,
      never conjure an overlapping run.
    """
    from tv_event_streaming_spark.streaming.metrics import (
        session_metrics,
        sliding_metrics,
    )

    tmpdir = str(tmp_path_factory.mktemp("streamfuzz_ooo"))
    src = _write_stream_chunks(rows, tmpdir, sort_by_time=False)

    _WIN_SCHEMA = (
        "window_start timestamp, window_end timestamp, event_type string, "
        "invocations bigint, errors bigint, successes bigint"
    )

    # -- sliding windows: drained + exactly-once per window key --
    sink, ckpt = f"{tmpdir}/sli_sink", f"{tmpdir}/sli_ckpt"
    _drain(sliding_metrics(_read_stream(spark, src)), sink, ckpt)
    win = spark.read.schema(_WIN_SCHEMA).parquet(sink).collect()
    keys = [(r.window_start, r.event_type) for r in win]
    assert len(keys) == len(set(keys)), "window emitted twice under reordering"

    # -- sessions: well-formed, non-overlapping per user --
    sink, ckpt = f"{tmpdir}/ses_sink", f"{tmpdir}/ses_ckpt"
    _drain(session_metrics(_read_stream(spark, src)), sink, ckpt)
    ses = spark.read.schema(
        "user_id bigint, session_start timestamp, "
        "session_end timestamp, n_events bigint"
    ).parquet(sink).collect()
    by_user = {}
    for r in ses:
        assert r.session_end >= r.session_start and r.n_events >= 1, r
        by_user.setdefault(r.user_id, []).append((r.session_start, r.session_end))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert e1 <= s2, ("overlapping sessions", spans)
