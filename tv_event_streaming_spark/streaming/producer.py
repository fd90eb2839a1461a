"""Stage 1 — the scheduled ingestion producer (SURVEY.md §3.2).

Reference: src/userprefs_title_ingestion/ingestion.py:181-201 — scan all
user preferences (S1), distinct-union the preferred source/genre ids
(A1, one global aggregate), fetch up to ``fetch_limit`` titles from the
external API (S11, replaced here by a deterministic lookup DataFrame),
tag each title with the full preference arrays (ingestion.py:153-155),
wrap in the envelope (S8) and publish, partitioned by title id (ST2).

The "Kinesis" sink is a JSON file directory the consumer stream tails —
swap ``.write`` for ``.writeStream.format("kafka")`` on a real bus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.events import PAYLOAD_COLS, encode_envelope


def build_title_events(
    user_prefs: DataFrame,
    titles_lookup: DataFrame,
    fetch_limit: int = 20,
) -> DataFrame:
    """The producer's dataflow, ending at the wire format.

    ``titles_lookup`` mocks the WatchMode list-titles API: a DataFrame
    with the payload columns minus the preference arrays. ``fetch_limit``
    mirrors API_FETCH_LIMIT (ingestion.py:20; default 20) — deterministic
    via ordered limit.
    """
    # A1 — both arrays from one global aggregate: collect_set drops the
    # duplicates and the NULLs the other kind's rows leave, and a kind
    # with no prefs (or no prefs at all) gives [], never NULL
    arrays = user_prefs.agg(
        *(
            F.sort_array(F.collect_set(F.when(F.col("kind") == kind, F.col("pref_id")))).alias(f"{kind}_ids")
            for kind in ("source", "genre")
        )
    )
    fetched = titles_lookup.orderBy("id").limit(fetch_limit).crossJoin(F.broadcast(arrays))
    payload = fetched.select(
        *[c for c in PAYLOAD_COLS if c in fetched.columns],
        F.current_timestamp().alias("publish_ts"),
    )
    return encode_envelope(payload, [c for c in PAYLOAD_COLS if c in fetched.columns], "publish_ts")


def publish(events: DataFrame, events_dir: str) -> None:
    """Write one JSON file per partition to the event bus directory."""
    events.write.mode("append").json(events_dir)
