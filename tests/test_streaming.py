"""End-to-end streaming pipeline test, mirroring the reference's local
E2E (scripts/local_tests/test_e2e.sh): seed prefs → produce events →
consume into the titles + index tables → enrichment CDC → assert the
canonical record, the index rows, and the enriched fields. Plus the
poison-pill, idempotency, loop-prevention, and mutation round-trips."""

from __future__ import annotations

import base64
import json
import os

import pytest
from pyspark.sql import functions as F

from tv_event_streaming_spark.domain import derive_domain
from tv_event_streaming_spark.operators.preferences import set_user_preferences
from tv_event_streaming_spark.schemas import USER_PREF_SCHEMA
from tv_event_streaming_spark.sources.events import decode_envelope
from tv_event_streaming_spark.streaming.consumer import (
    WIRE_SCHEMA,
    index_table,
    start_consumer,
    titles_table,
)
from tv_event_streaming_spark.streaming.enrichment import start_enrichment
from tv_event_streaming_spark.streaming.producer import build_title_events, publish
from tv_event_streaming_spark.streaming.storage import KeyedTable

FETCH_LIMIT = 20


@pytest.fixture(scope="module")
def pipeline(spark, sf_dir, tmp_path_factory):
    """Run the full 3-stage cascade once; tests assert on the outcome."""
    root = tmp_path_factory.mktemp("pipeline")
    d = derive_domain(spark, sf_dir)
    lookup = (
        d["titles"]
        .select(
            F.col("title_id").alias("id"),
            "title",
            F.col("year").cast("int").alias("year"),
            F.concat(F.lit("tt"), F.col("title_id").cast("string")).alias("imdb_id"),
            (F.col("title_id") * 2).alias("tmdb_id"),
            F.lit("tv").alias("tmdb_type"),
            "type",
        )
    )
    events_dir = str(root / "events")
    # stage 1 — producer
    events = build_title_events(d["user_prefs"], lookup, fetch_limit=FETCH_LIMIT)
    publish(events, events_dir)

    # poison pills (consumer.py:44-53): bad base64/JSON, missing payload id
    with open(os.path.join(events_dir, "poison.json"), "w") as fh:
        fh.write(json.dumps({"partition_key": "x", "data": base64.b64encode(b"notjson").decode()}) + "\n")
        fh.write(json.dumps({"partition_key": "y", "data": base64.b64encode(json.dumps({"header": {}, "payload": {}}).encode()).decode()}) + "\n")
        fh.write("this is not even json\n")

    titles = titles_table(spark, str(root / "titles"))
    index = index_table(spark, str(root / "index"))

    # stage 2 — consumer
    q = start_consumer(spark, events_dir, titles, index, str(root / "ckpt_consumer"))
    q.awaitTermination(120)

    # stage 3 — enrichment CDC
    q2 = start_enrichment(spark, titles, d["details"], str(root / "ckpt_enrich"))
    q2.awaitTermination(120)

    return {"root": root, "domain": d, "titles": titles, "index": index,
            "events_dir": events_dir, "lookup": lookup}


def test_producer_wire_format(spark, pipeline):
    wire = spark.read.schema(WIRE_SCHEMA).json(pipeline["events_dir"])
    decoded = decode_envelope(wire)
    rows = decoded.collect()
    assert len(rows) == FETCH_LIMIT
    r = rows[0]
    assert r.publish_cause == "scheduled_user_prefs_ingestion"
    assert r.publishing_component == "UserPrefsTitleIngestionFunction"
    assert r.publish_timestamp is not None
    assert len(r.source_ids) > 0 and len(r.genre_ids) > 0


def test_consumer_canonical_records(pipeline):
    titles = pipeline["titles"].read()
    assert titles.count() == FETCH_LIMIT
    # poison pills skipped, batch not failed: exactly the valid records landed
    assert titles.filter(F.col("title_id").isNull()).count() == 0


def test_consumer_index_rows(spark, pipeline):
    idx = pipeline["index"].read()
    # every title links the full distinct-union pref arrays (J2 cross product)
    one = pipeline["titles"].read().limit(1).collect()[0]
    n_src = len(one.source_ids)
    n_gen = len(one.genre_ids)
    assert idx.count() == FETCH_LIMIT * n_src * n_gen


def test_enrichment_updates_fields(pipeline):
    titles = pipeline["titles"].read()
    details = pipeline["domain"]["details"]
    enriched = titles.join(details.select("title_id"), "title_id", "left_semi")
    missing = titles.join(details.select("title_id"), "title_id", "left_anti")
    # enriched titles got all three fields (S7)
    assert enriched.filter(F.col("plot_overview").isNull() | F.col("poster").isNull() | F.col("user_rating").isNull()).count() == 0
    # fetch-failure titles (no details row) skipped -> still NULL
    assert missing.filter(F.col("plot_overview").isNotNull()).count() == 0


def test_enrichment_does_not_loop(spark, pipeline):
    """The INSERT-only filter (P3): enrichment's own MODIFY changes must
    not re-trigger it — a second run has nothing to process."""
    titles = pipeline["titles"]
    v_before = titles.current_version()
    q = start_enrichment(
        spark, titles, pipeline["domain"]["details"], str(pipeline["root"] / "ckpt_enrich")
    )
    q.awaitTermination(120)
    assert titles.current_version() == v_before


def test_consumer_idempotent_redelivery(spark, pipeline):
    """At-least-once redelivery (ST3): republishing the same payloads
    must not change the table contents (idempotent keyed MERGE)."""
    titles, index = pipeline["titles"], pipeline["index"]
    before_titles = titles.read().count()
    before_index = index.read().count()
    d = pipeline["domain"]
    events = build_title_events(d["user_prefs"], pipeline["lookup"], fetch_limit=FETCH_LIMIT)
    publish(events, pipeline["events_dir"])  # new files, same keys
    q = start_consumer(
        spark, pipeline["events_dir"], titles, index, str(pipeline["root"] / "ckpt_consumer")
    )
    q.awaitTermination(120)
    assert titles.read().count() == before_titles
    assert index.read().count() == before_index


def test_preferences_mutation_roundtrip(spark, tmp_path):
    table = KeyedTable(spark, str(tmp_path / "prefs"), ["user_id", "kind", "pref_id"], USER_PREF_SCHEMA)
    r1 = set_user_preferences(table, "u1", ["1", "2"], ["4"])
    assert r1 == {"adds": 3, "deletes": 0}
    # delta write: one add, one delete, overlap untouched
    r2 = set_user_preferences(table, "u1", ["2", "3"], ["4"])
    assert r2 == {"adds": 1, "deletes": 1}
    state = sorted((r.kind, r.pref_id) for r in table.read().collect())
    assert state == [("genre", "4"), ("source", "2"), ("source", "3")]
    # no-op PUT -> 204 semantics, no new version
    v = table.current_version()
    r3 = set_user_preferences(table, "u1", ["2", "3"], ["4"])
    assert r3 == {"adds": 0, "deletes": 0}
    assert table.current_version() == v
    # change journal carries the CDC history
    ch = table.read_changes()
    assert ch.filter(F.col("event_name") == "REMOVE").count() == 1


@pytest.mark.parametrize("path", ["local", "spark"])
def test_preferences_put_counts_come_from_the_merges(spark, tmp_path, monkeypatch, path):
    """PUT /preferences takes its counts from the upsert and delete
    MERGEs (no separate count jobs), on either MERGE path and on a
    journal-free table like the API's; a PUT with only adds or only
    deletes writes one version, the empty side none."""
    from tv_event_streaming_spark.streaming import storage

    if path == "spark":
        monkeypatch.setattr(storage, "LOCAL_MERGE_MAX_ROWS", 0)
    table = KeyedTable(
        spark, str(tmp_path / "prefs"), ["user_id", "kind", "pref_id"], USER_PREF_SCHEMA,
        journal=False,
    )
    table.upsert(spark.createDataFrame([("u2", "source", "1"), ("u2", "genre", "4")], USER_PREF_SCHEMA))
    assert set_user_preferences(table, "u1", ["1", "2"], ["4"]) == {"adds": 3, "deletes": 0}
    assert table.current_version() == 1
    assert set_user_preferences(table, "u1", ["1"], ["4"]) == {"adds": 0, "deletes": 1}
    assert table.current_version() == 2
    assert set_user_preferences(table, "u1", ["1", "5"], []) == {"adds": 1, "deletes": 1}
    assert table.current_version() == 4
    assert sorted(tuple(r) for r in table.read().collect()) == [
        ("u1", "source", "1"), ("u1", "source", "5"), ("u2", "genre", "4"), ("u2", "source", "1")
    ]


def test_quality_gate_runs_on_streams(spark, sf_dir, tmp_path):
    """The curation gate is stream-safe AS-IS: quality_filter is a
    map-side projection (no shuffle, no window), so the SAME function
    that gates the batch corpus applies to a readStream frame — one
    code path for backfill and live ingestion. availableNow over the
    documents parquet must yield byte-identical verdicts to the batch
    run."""
    from tv_event_streaming_spark.domain import load_table
    from tv_event_streaming_spark.operators.text import quality_filter

    import shutil

    batch = {
        (r.doc_id, r.keep)
        for r in quality_filter(load_table(spark, sf_dir, "documents")).collect()
    }
    # the file streaming source wants a DIRECTORY of arriving files
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "documents.parquet"), in_dir / "part-0.parquet"
    )
    stream = spark.readStream.schema(
        spark.read.parquet(str(in_dir)).schema
    ).parquet(str(in_dir))
    out_dir = str(tmp_path / "gated")
    q = (
        quality_filter(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.doc_id, r.keep) for r in spark.read.parquet(out_dir).collect()}
    assert got == batch


def test_pq_encode_runs_on_streams(spark, sf_dir, tmp_path):
    """Index-apply-on-stream: with a pretrained codebook passed in, the
    PQ encode chain is a stateless map-side projection (one broadcast
    codebook row, no shuffle), so the SAME function that encodes the
    batch corpus encodes a readStream frame — live vectors join the
    compressed index with no second code path. Codes must be
    byte-identical to the batch run."""
    import shutil

    from tv_event_streaming_spark.domain import load_table
    from tv_event_streaming_spark.operators.similarity import (
        pq_encode,
        pq_seed_codebook,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_seed_codebook(emb, n_sub=8, k_codes=16)
    batch = {
        (r.vec_id, r.m): (r.code, r.qdist)
        for r in pq_encode(emb, codebook=cb).collect()
    }
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "embeddings.parquet"), in_dir / "part-0.parquet"
    )
    stream = spark.readStream.schema(
        spark.read.parquet(str(in_dir)).schema
    ).parquet(str(in_dir))
    out_dir = str(tmp_path / "codes")
    q = (
        pq_encode(stream, codebook=cb)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.vec_id, r.m): (r.code, r.qdist)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == batch


def test_semantic_dedup_stream_drops_code_twins(spark, sf_dir, tmp_path):
    """Streaming SemDeDup approximation: vectors whose every subspace
    quantizes to the same codeword deduplicate ACROSS micro-batches
    (first arrival wins); distinct-code vectors survive. The codebook
    is pretrained batch-side and attaches as a stream-static broadcast
    — the encode itself is stateless, pinned equal to batch encoding."""
    import datetime

    from pyspark.sql import functions as F

    from tv_event_streaming_spark.domain import load_table
    from tv_event_streaming_spark.operators.similarity import pq_seed_codebook
    from tv_event_streaming_spark.streaming.dedup import semantic_dedup_stream

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_seed_codebook(emb, n_sub=8, k_codes=16)
    base = emb.limit(40).select(
        "vec_id",
        "embedding",
        F.lit(datetime.datetime(2024, 1, 1)).cast("timestamp").alias("ts"),
    )
    # batch 2: exact copies of batch 1 under new ids (same codes) plus
    # themselves — every copy must be dropped as a cross-batch dup
    twins = base.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        "embedding",
        (F.col("ts") + F.expr("INTERVAL 1 MINUTE")).alias("ts"),
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    base.coalesce(1).write.mode("append").parquet(str(in_dir))
    twins.coalesce(1).write.mode("append").parquet(str(in_dir))

    stream = (
        spark.readStream.schema(spark.read.parquet(str(in_dir)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    out_dir = str(tmp_path / "out")
    q = (
        semantic_dedup_stream(stream, cb)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    kept = spark.read.parquet(out_dir)
    kept_ids = {r.vec_id for r in kept.select("vec_id").collect()}
    # every surviving row is a distinct code tuple, and no exact twin
    # pair survives together
    assert len(kept_ids) > 0
    for i in kept_ids:
        assert not (i >= 10_000 and (i - 10_000) in kept_ids), i
    # batch twin: number of survivors == distinct code tuples over the
    # whole input
    from tv_event_streaming_spark.operators.similarity import pq_codes

    all_rows = base.unionByName(twins)
    n_distinct = (
        pq_codes(all_rows, codebook=cb)
        .select(F.array_join(F.transform("codes", lambda c: c.cast("string")), ","))
        .distinct()
        .count()
    )
    assert kept.count() == n_distinct
