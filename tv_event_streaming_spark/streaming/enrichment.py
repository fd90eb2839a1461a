"""Stage 3 — the enrichment CDC stream (SURVEY.md §3.2).

Reference: src/title_enrichment/enrichment.py:81-132 — consume the
table's change stream, process INSERTs of canonical records only
(P3/P4 — the INSERT-only filter is what breaks the self-referential CDC
loop: enrichment's own MODIFY updates don't re-trigger it,
enrichment.py:88-89), look up details per title (J3; fetch failure →
record skipped, enrichment.py:104-106), then update exactly three fields
in place with N/A defaults (S7, enrichment.py:114-125).

Here: a stream over the titles table's change journal → INSERT filter →
join of the details provider against the broadcast INSERT ids →
``update_fields`` MERGE.
The details provider is pluggable (S11): any DataFrame keyed by
title_id; production would wrap the HTTP client in ``mapInPandas`` with
per-batch caching.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .storage import KeyedTable

ENRICHED_FIELDS = ["plot_overview", "poster", "user_rating"]


def enrich_batch(inserts: DataFrame, details: DataFrame) -> DataFrame:
    """J3 + the N/A defaults: inner join (missing details ⇒ skip, like
    the reference's fetch-failure path) with per-field coalesce
    (enrichment.py:121-122; rating None → 0, enrichment.py:110-111).

    The micro-batch's ids are the broadcast side: a batch holds at most
    one INSERT per title and usually a few, the provider a row per
    title, so ``details`` streams through the join instead of being
    hashed and broadcast on every micro-batch."""
    return details.select(
        "title_id",
        F.coalesce(F.col("plot_overview"), F.lit("N/A")).alias("plot_overview"),
        F.coalesce(F.col("poster"), F.lit("N/A")).alias("poster"),
        F.coalesce(F.col("user_rating").cast("double"), F.lit(0.0)).alias("user_rating"),
    ).join(F.broadcast(inserts.select("title_id")), "title_id", "inner")


def start_enrichment(
    spark: SparkSession,
    titles: KeyedTable,
    details: DataFrame,
    checkpoint_dir: str,
):
    """Tail the titles change journal; enrich INSERTed canonical records."""
    changes = titles.stream_changes()
    inserts = changes.filter(F.col("event_name") == "INSERT")  # P3 — loop breaker

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        enriched = enrich_batch(batch_df, details)
        titles.update_fields(enriched, ENRICHED_FIELDS)

    return (
        inserts.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
