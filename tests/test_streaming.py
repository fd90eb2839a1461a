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
from tv_event_streaming_spark.operators.preferences import PREF_KEY, set_user_preferences
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


def title_lookup(d):
    """The producer's title lookup (S11's mock) over the domain's titles."""
    return d["titles"].select(
        F.col("title_id").alias("id"),
        "title",
        F.col("year").cast("int").alias("year"),
        F.concat(F.lit("tt"), F.col("title_id").cast("string")).alias("imdb_id"),
        (F.col("title_id") * 2).alias("tmdb_id"),
        F.lit("tv").alias("tmdb_type"),
        "type",
    )


@pytest.fixture(scope="module")
def pipeline(spark, sf_dir, tmp_path_factory):
    """Run the full 3-stage cascade once; tests assert on the outcome."""
    root = tmp_path_factory.mktemp("pipeline")
    d = derive_domain(spark, sf_dir)
    lookup = title_lookup(d)
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


def _three_aggregate_events(user_prefs, titles_lookup, fetch_limit):
    """The producer's earlier form, kept here as the reference for the
    wire format: distinct prefs, one aggregate per kind, two cross
    joins."""
    from tv_event_streaming_spark.operators.analytics import distinct_preferences
    from tv_event_streaming_spark.sources.events import PAYLOAD_COLS, encode_envelope

    prefs = distinct_preferences(user_prefs)
    arrays = [
        prefs.filter(F.col("kind") == kind).agg(F.sort_array(F.collect_set("pref_id")).alias(f"{kind}_ids"))
        for kind in ("source", "genre")
    ]
    fetched = titles_lookup.orderBy("id").limit(fetch_limit).crossJoin(arrays[0]).crossJoin(arrays[1])
    cols = [c for c in PAYLOAD_COLS if c in fetched.columns]
    return encode_envelope(fetched.select(*cols, F.current_timestamp().alias("publish_ts")), cols, "publish_ts")


def _payloads(events) -> list[tuple]:
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in decode_envelope(events).drop("publish_timestamp").collect()
    )


def _prefs_cases(spark, user_prefs):
    return {
        "domain": user_prefs,
        "source_only": user_prefs.filter(F.col("kind") == "source"),
        "genre_only": user_prefs.filter(F.col("kind") == "genre"),
        "none": spark.createDataFrame([], USER_PREF_SCHEMA),
    }


def test_payload_matches_the_three_aggregate_form(spark, pipeline):
    """One aggregate builds both preference arrays: the decoded payloads
    equal those of the distinct + two-aggregate form it replaced, for
    the domain's prefs, prefs of one kind and no prefs."""
    lookup = pipeline["lookup"]
    for name, prefs in _prefs_cases(spark, pipeline["domain"]["user_prefs"]).items():
        new = _payloads(build_title_events(prefs, lookup, fetch_limit=FETCH_LIMIT))
        assert len(new) == FETCH_LIMIT, name
        assert new == _payloads(_three_aggregate_events(prefs, lookup, FETCH_LIMIT)), name


def test_payload_arrays_are_empty_not_null(spark, pipeline):
    """A kind with no prefs publishes [] for its array, never NULL."""
    cases = _prefs_cases(spark, pipeline["domain"]["user_prefs"])
    expect = {"source_only": (True, False), "genre_only": (False, True), "none": (False, False)}
    for name, nonempty in expect.items():
        events = build_title_events(cases[name], pipeline["lookup"], fetch_limit=FETCH_LIMIT)
        rows = decode_envelope(events).collect()
        assert len(rows) == FETCH_LIMIT, name
        for r in rows:
            assert r.source_ids is not None and r.genre_ids is not None, name
            assert (len(r.source_ids) > 0, len(r.genre_ids) > 0) == nonempty, name


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


@pytest.mark.parametrize("max_files", [1, 32])
def test_same_title_in_two_files_gives_one_row_and_the_index_union(spark, tmp_path, max_files):
    """Two bus files publish title 7, first with prefs (1, a), then with
    (2, b). Whether they land in one micro-batch or in two, the titles
    table holds one row for 7, one of the two records whole, and the
    index holds both records' rows. Deduplicating the micro-batch on the
    title id before deriving the index kept one record's rows only."""
    lookup = spark.createDataFrame(
        [(7, "seven", 2007, "tt7", 14, "tv", "tv_series")],
        "id long, title string, year int, imdb_id string, tmdb_id long, tmdb_type string, type string",
    )
    bus = str(tmp_path / "bus")
    for user, src, gen in [("u1", "1", "a"), ("u2", "2", "b")]:
        prefs = spark.createDataFrame([(user, "source", src), (user, "genre", gen)], USER_PREF_SCHEMA)
        publish(build_title_events(prefs, lookup, fetch_limit=1), bus)
    titles = titles_table(spark, str(tmp_path / "titles"))
    index = index_table(spark, str(tmp_path / "index"))
    q = start_consumer(spark, bus, titles, index, str(tmp_path / "ckpt"), max_files_per_trigger=max_files)
    q.awaitTermination(120)
    assert len([p for p in q.recentProgress if p.numInputRows]) == (2 if max_files == 1 else 1)
    rows = titles.read().collect()
    assert len(rows) == 1 and rows[0].title_id == 7
    assert (rows[0].source_ids, rows[0].genre_ids) in ((["1"], ["a"]), (["2"], ["b"]))
    assert sorted(map(tuple, index.read().collect())) == [("1", "a", 7), ("2", "b", 7)]


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
    """PUT /preferences takes its counts from its MERGEs (no separate
    count jobs), on either MERGE path and on a journal-free table like
    the API's; a PUT with only adds or only deletes writes one version.
    A PUT with both writes one version on the driver path and one per
    side when it runs as two DataFrame MERGEs (here on the task path)."""
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
    assert table.current_version() == (3 if path == "local" else 4)
    assert sorted(tuple(r) for r in table.read().collect()) == [
        ("u1", "source", "1"), ("u1", "source", "5"), ("u2", "genre", "4"), ("u2", "source", "1")
    ]



def test_put_preferences_edge_cases(spark, tmp_path):
    """Empty bodies, duplicate ids in a body, a user with no rows, an
    identical re-PUT and other users' rows: the counts are the set
    diff's, the table holds exactly the bodies, a no-op writes no
    version, and each change is journaled once."""
    table = KeyedTable(spark, str(tmp_path / "prefs"), PREF_KEY, USER_PREF_SCHEMA)
    table.upsert(spark.createDataFrame([("u2", "source", "1"), ("u2", "genre", "1")], USER_PREF_SCHEMA))
    assert set_user_preferences(table, "u1", [], []) == {"adds": 0, "deletes": 0}
    assert table.current_version() == 0
    assert set_user_preferences(table, "u1", ["3", "3", "1"], ["1", "1"]) == {"adds": 3, "deletes": 0}
    v = table.current_version()
    assert set_user_preferences(table, "u1", ["1", "3"], ["1"]) == {"adds": 0, "deletes": 0}
    assert table.current_version() == v
    assert set_user_preferences(table, "u1", ["1"], ["9"]) == {"adds": 1, "deletes": 2}
    assert set_user_preferences(table, "u3", ["1"], []) == {"adds": 1, "deletes": 0}
    assert sorted(map(tuple, table.read().collect())) == [
        ("u1", "genre", "9"), ("u1", "source", "1"), ("u2", "genre", "1"), ("u2", "source", "1"),
        ("u3", "source", "1"),
    ]
    assert set_user_preferences(table, "u1", [], []) == {"adds": 0, "deletes": 2}
    assert sorted(map(tuple, table.read().collect())) == [
        ("u2", "genre", "1"), ("u2", "source", "1"), ("u3", "source", "1")
    ]
    changes = table.read_changes().filter("version > 0").drop("version").collect()
    assert sorted(map(tuple, changes)) == [
        ("INSERT", "u1", "genre", "1"), ("INSERT", "u1", "genre", "9"), ("INSERT", "u1", "source", "1"),
        ("INSERT", "u1", "source", "3"), ("INSERT", "u3", "source", "1"),
        ("REMOVE", "u1", "genre", "1"), ("REMOVE", "u1", "genre", "9"), ("REMOVE", "u1", "source", "1"),
        ("REMOVE", "u1", "source", "3"),
    ]


@pytest.mark.parametrize(
    "case",
    [test_preferences_mutation_roundtrip, test_put_preferences_edge_cases],
    ids=lambda f: f.__name__,
)
def test_preferences_spark_path_passes_every_case(spark, tmp_path, monkeypatch, case):
    """The preferences cases again with the size cap at 0, where every
    PUT that changes something runs as Spark MERGEs
    (``test_preferences_put_counts_come_from_the_merges`` takes both
    paths itself)."""
    from tv_event_streaming_spark.streaming import storage

    monkeypatch.setattr(storage, "LOCAL_MERGE_MAX_ROWS", 0)
    case(spark, tmp_path)

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
    """Index-apply-on-stream: with a batch-seeded codebook passed in, the
    PQ encode is a stateless map-side Arrow pass (codebook in the task
    closure, no shuffle), so the SAME function that encodes the
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


