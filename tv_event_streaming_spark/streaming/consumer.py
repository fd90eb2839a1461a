"""Stage 2 — the title-recommendations consumer stream (SURVEY.md §3.2).

Reference: src/title_recommendations_consumer/consumer.py:30-98 — decode
base64+JSON Kinesis records (S9), skip poison pills (P10/ST4), dedupe
within the batch (A2), idempotently put canonical title records and the
source×genre inverted-index rows (J2) into the single table.

Here: a file-source stream over the producer's JSON directory →
``decode_envelope`` (PERMISSIVE parse; malformed rows become NULL and
are filtered, never failing the batch) → ``foreachBatch`` MERGE into the
titles KeyedTable + index derivation. Exactly-once = checkpointed source
offsets + idempotent keyed MERGE (ST3).

Scale: the wire schema is explicit (no inference). The batch dedup
(A2) is the MERGE kernel's: ``KeyedTable.upsert`` keeps one row per key,
so a title published twice in one micro-batch is one titles row, and
the index rows of both records land, as they would from two
micro-batches. A micro-batch is read twice, once per table, each read
map-side up to the MERGE's bounded collect (the driver kernel's path)
or the task kernel's bucket shuffle: no dedup shuffle, no cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TITLE_RECORD_SCHEMA
from ..sources.events import decode_envelope
from .storage import KeyedTable

WIRE_SCHEMA = T.StructType(
    [
        T.StructField("partition_key", T.StringType(), True),
        T.StructField("data", T.StringType(), True),
    ]
)


def titles_table(spark: SparkSession, path: str) -> KeyedTable:
    return KeyedTable(spark, path, ["title_id"], TITLE_RECORD_SCHEMA)


def index_table(spark: SparkSession, path: str) -> KeyedTable:
    schema = T.StructType(
        [
            T.StructField("source_id", T.StringType(), False),
            T.StructField("genre_id", T.StringType(), False),
            T.StructField("title_id", T.LongType(), False),
        ]
    )
    # journal=False: no CDC consumer tails the index (only `titles`
    # feeds the enrichment cascade) and the journal's full-image
    # parquet append was ~half the index MERGE wall at a 50 M-row
    # batch (SCALE.md §6e profile; VERDICT r7 #5)
    return KeyedTable(
        spark, path, ["source_id", "genre_id", "title_id"], schema, journal=False
    )


def _to_title_records(decoded: DataFrame) -> DataFrame:
    """Payload → canonical record shape; enrichment fields start NULL
    (they arrive via the enrichment stream, S7)."""
    return decoded.select(
        F.col("id").alias("title_id"),
        "title",
        "year",
        "imdb_id",
        "tmdb_id",
        "tmdb_type",
        "type",
        "source_ids",
        "genre_ids",
        F.lit(None).cast("string").alias("plot_overview"),
        F.lit(None).cast("string").alias("poster"),
        F.lit(None).cast("double").alias("user_rating"),
    )


def _index_rows(decoded: DataFrame) -> DataFrame:
    """J2 — one index row per (source, genre) pair of each record: the
    two explodes of ``operators.titles.index_from_arrays`` without its
    ``distinct``, since the upsert deduplicates on the index key."""
    return decoded.select(
        F.col("id").alias("title_id"), F.explode("source_ids").alias("source_id"), "genre_ids"
    ).select("source_id", F.explode("genre_ids").alias("genre_id"), "title_id")


def start_consumer(
    spark: SparkSession,
    events_dir: str,
    titles: KeyedTable,
    index: KeyedTable,
    checkpoint_dir: str,
    max_files_per_trigger: int = 32,
):
    """Start the consumer with an availableNow trigger: drain everything
    pending, then stop. A ``KeyedTable`` takes one writer at a time and
    the enrichment also writes ``titles``, so run the consumer and the
    enrichment in turn, each with availableNow; run together, the two
    writers lose rows. ``max_files_per_trigger`` bounds micro-batch
    size (the Kinesis shard-batch knob); the crash-restart fuzz sets it
    to 1 so every bus file is its own micro-batch boundary. Records that
    share a title id give one titles row (one of them, whole) and the
    union of their index rows, whether they arrive in one micro-batch or
    in several.

    Each micro-batch is two MERGEs, titles then index, and each reads
    the batch's files itself: a micro-batch of up to
    ``LOCAL_MERGE_MAX_ROWS`` rows per table is two Spark jobs, the
    MERGEs' bounded collects, with no shuffle."""
    wire = (
        spark.readStream.schema(WIRE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(events_dir)
    )
    decoded = decode_envelope(wire)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # A2 — each upsert keeps one row per key of the micro-batch
        titles.upsert(_to_title_records(batch_df))
        # J2 — the index rows are deliberately insert-only/immutable
        # (reference consumer.py:70-71); upsert of identical keys is a
        # no-op MODIFY, preserving that semantics idempotently.
        index.upsert(_index_rows(batch_df))

    return (
        decoded.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
