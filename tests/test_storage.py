"""KeyedTable storage-layer tests: bucket-granular MERGE rewrites and
crash-restart from a streaming checkpoint (ST9).

Small batches take the driver path; every example test also runs on
the task path (``test_spark_path_passes_every_case``, which sets the
size cap to 0, so each MERGE, a first upsert into an empty table
included, runs the kernel in Spark tasks), and the remaining tests pin
the size rule, a large upsert into an empty table, task retries and the
pyarrow-written files' round trip through Spark."""

from __future__ import annotations

import json
import os
import re
import sys
import threading

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tv_event_streaming_spark.schemas import (
    TITLE_INDEX_SCHEMA,
    TITLE_RECORD_SCHEMA,
    USER_PREF_SCHEMA,
)
from tv_event_streaming_spark.streaming import storage
from tv_event_streaming_spark.streaming.storage import BUCKET_COL, KeyedTable

KV_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _kv(spark, rows):
    return spark.createDataFrame(rows, KV_SCHEMA)


def _bucket_dirs(root: str, version: int) -> list[str]:
    vdir = os.path.join(root, "data", f"v={version}")
    if not os.path.isdir(vdir):
        return []
    return sorted(d for d in os.listdir(vdir) if d.startswith(f"{BUCKET_COL}="))


def assert_reclaimed(table: KeyedTable) -> None:
    """``data/`` holds exactly the bucket directories that the current
    and the previous manifests name, plus whatever sits above the
    current version: no other bucket directory, no empty version
    directory, no hidden leftover, no other file."""
    v = table.current_version()
    want = {p for k in (v - 1, v) for p in table._read_manifest(k).values()}
    data = os.path.join(table.path, "data")
    versions = [n for n in (os.listdir(data) if os.path.isdir(data) else []) if int(n.split("=", 1)[1]) <= v]
    got, stray = set(), []
    for name in versions:
        for d in os.listdir(os.path.join(data, name)):
            rel = os.path.join("data", name, d)
            if d.startswith(f"{BUCKET_COL}="):
                got.add(rel)
            else:
                stray.append(rel)
    assert (got, stray) == (want, [])
    assert {p.split(os.sep)[1] for p in got} == set(versions)


def test_single_key_upsert_rewrites_one_bucket(spark, tmp_path):
    root = str(tmp_path / "t")
    table = KeyedTable(spark, root, ["k"], KV_SCHEMA, n_buckets=8)
    r0 = table.upsert(_kv(spark, [(i, f"x{i}") for i in range(64)]))
    assert r0 == {"version": 0, "inserts": 64, "modifies": 0}
    n_seeded = len(_bucket_dirs(root, 0))
    assert n_seeded > 1  # 64 keys spread over several buckets

    r1 = table.upsert(_kv(spark, [(3, "y")]))
    assert r1 == {"version": 1, "inserts": 0, "modifies": 1}
    # O(touched buckets), not O(table): exactly ONE bucket dir in v=1
    assert len(_bucket_dirs(root, 1)) == 1

    # the manifest stitches v=1's new bucket with v=0's untouched ones
    with open(os.path.join(root, "_manifests", "v=1.json")) as fh:
        manifest = json.load(fh)
    assert len(manifest) == n_seeded
    froms = {p.split(os.sep)[1] for p in manifest.values()}
    assert froms == {"v=0", "v=1"}

    # and the read is still the complete, updated table
    got = {r.k: r.v for r in table.read().collect()}
    assert len(got) == 64 and got[3] == "y" and got[5] == "x5"


def test_delete_emptying_bucket_drops_it(spark, tmp_path):
    root = str(tmp_path / "t")
    table = KeyedTable(spark, root, ["k"], KV_SCHEMA, n_buckets=4)
    table.upsert(_kv(spark, [(i, "x") for i in range(16)]))
    before = len(json.load(open(os.path.join(root, "_manifests", "v=0.json"))))
    # delete every key of one bucket (xxhash64 spread: collect them)
    rows = (
        _kv(spark, [(i, "x") for i in range(16)])
        .select("k", F.pmod(F.xxhash64("k"), F.lit(4)).cast("int").alias("b"))
        .collect()
    )
    target = rows[0].b
    victims = [r.k for r in rows if r.b == target]
    r = table.delete(_kv(spark, [(k, "x") for k in victims]).select("k"))
    assert r["deletes"] == len(victims)
    manifest = json.load(open(os.path.join(root, "_manifests", "v=1.json")))
    assert len(manifest) == before - 1 and str(target) not in manifest
    assert table.read().count() == 16 - len(victims)


def test_crash_restart_from_checkpoint(spark, tmp_path):
    """ST9 — a query that dies AFTER applying its side-effect but BEFORE
    committing the checkpoint must, on restart, replay the batch and
    converge to exactly-once table contents (idempotent keyed MERGE)."""
    events = tmp_path / "in"
    events.mkdir()
    with open(events / "batch1.json", "w") as fh:
        for i in range(5):
            fh.write(json.dumps({"k": i, "v": f"val{i}"}) + "\n")

    table = KeyedTable(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, n_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    wire_schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )

    def source():
        return spark.readStream.schema(wire_schema).json(str(events))

    def crash(batch_df, epoch_id):
        table.upsert(batch_df)  # side-effect lands...
        raise RuntimeError("simulated crash before checkpoint commit")

    q = (
        source()
        .writeStream.foreachBatch(crash)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="simulated crash|Terminated with exception"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
    assert table.current_version() == 0  # the effect DID land pre-crash

    def ok(batch_df, epoch_id):
        table.upsert(batch_df)

    q2 = (
        source()
        .writeStream.foreachBatch(ok)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    # the uncommitted batch was replayed (a new version was written) ...
    assert table.current_version() == 1
    # ... but contents are exactly-once
    got = sorted((r.k, r.v) for r in table.read().collect())
    assert got == [(i, f"val{i}") for i in range(5)]

    # a third restart has nothing pending: no replay, no new version
    q3 = (
        source()
        .writeStream.foreachBatch(ok)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q3.awaitTermination(120)
    assert table.current_version() == 1


def test_delete_and_update_of_nonexistent_keys(spark, tmp_path):
    """The reference's preference-removal path tolerates removing a key
    that isn't there (preferences.py:153-161 — DynamoDB DeleteItem is a
    no-op on absent keys). An empty change journal must yield counts of
    0."""
    root = str(tmp_path / "t")
    table = KeyedTable(spark, root, ["k"], KV_SCHEMA, n_buckets=4)
    table.upsert(_kv(spark, [(1, "a"), (2, "b")]))

    r = table.delete(_kv(spark, [(99, "x"), (100, "x")]).select("k"))
    assert r["deletes"] == 0
    assert table.read().count() == 2

    r2 = table.update_fields(_kv(spark, [(99, "nope")]), ["v"])
    assert r2["modifies"] == 0
    got = {row.k: row.v for row in table.read().collect()}
    assert got == {1: "a", 2: "b"}

    # delete on a still-empty table (no versions at all) also returns 0
    empty = KeyedTable(spark, str(tmp_path / "e"), ["k"], KV_SCHEMA, n_buckets=4)
    r3 = empty.delete(_kv(spark, [(1, "x")]).select("k"))
    assert r3["deletes"] == 0


def test_journal_false_twin_equivalence(spark, tmp_path):
    """VERDICT r7 #5: journal=False skips the NEW_IMAGE change-journal
    append (for tables no CDC consumer tails — the consumer's index
    leg). Contract: identical final table state AND identical merge
    counts vs a journaled twin through the same upsert / update_fields /
    delete sequence — only the journal side effects differ."""
    roots = {j: str(tmp_path / f"t{j}") for j in (True, False)}
    tables = {
        j: KeyedTable(spark, r, ["k"], KV_SCHEMA, n_buckets=4, journal=j)
        for j, r in roots.items()
    }
    seq = [
        ("upsert", _kv(spark, [(1, "a"), (2, "b"), (3, "c")])),
        ("upsert", _kv(spark, [(2, "B"), (4, "d")])),  # 1 insert + 1 modify
        ("update_fields", _kv(spark, [(1, "A"), (99, "zz")])),  # 1 hit, 1 miss
        ("delete", _kv(spark, [(3, None), (3, None), (42, None)])),  # dup + miss
        ("upsert", _kv(spark, [])),  # empty batch: no version
    ]
    results = {True: [], False: []}
    for j, t in tables.items():
        for op, batch in seq:
            if op == "upsert":
                results[j].append(t.upsert(batch))
            elif op == "update_fields":
                results[j].append(t.update_fields(batch, ["v"]))
            else:
                results[j].append(t.delete(batch.select("k")))
    assert results[True] == results[False], results
    state = {
        j: {(r.k, r.v) for r in t.read().collect()} for j, t in tables.items()
    }
    assert state[True] == state[False] == {(1, "A"), (2, "B"), (4, "d")}

    # the journaled twin has a journal; the journal-free one has neither
    # files nor a live-looking API
    assert tables[True].read_changes().count() > 0
    assert not os.path.isdir(os.path.join(roots[False], "_changes"))
    with pytest.raises(ValueError, match="journal=False"):
        tables[False].read_changes()
    with pytest.raises(ValueError, match="journal=False"):
        tables[False].stream_changes()


def test_journal_false_merges_inside_foreachbatch(spark, tmp_path):
    """All three merge kinds on a journal-free table, driven from a
    real stream through foreachBatch, starting from the never-written
    table, deliver their counts and finish (a counting plan that
    never delivered its metrics under foreachBatch once hung the
    cascade fuzz)."""
    import time

    root = str(tmp_path / "t")
    table = KeyedTable(spark, root, ["k"], KV_SCHEMA, n_buckets=4, journal=False)
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "a"), (2, "b")], KV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)
    spark.createDataFrame([(2, "B"), (3, "c")], KV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    results = []

    def fb(batch, epoch):
        results.append(table.upsert(batch))
        results.append(table.update_fields(batch.select("k", F.lit("u").alias("v")), ["v"]))
        results.append(table.delete(batch.filter(F.col("k") == 99).select("k")))

    q = (
        spark.readStream.schema(KV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish (obs hang?)"
    counts = [(r.get("inserts"), r.get("modifies"), r.get("deletes")) for r in results]
    assert counts == [
        (2, 0, None), (None, 2, None), (None, None, 0),  # batch 1: 1,2 new
        (1, 1, None), (None, 2, None), (None, None, 0),  # batch 2: 3 new, 2 mod
    ], counts
    got = {(r.k, r.v) for r in table.read().collect()}
    assert got == {(1, "u"), (2, "u"), (3, "u")}, got


def test_journal_false_update_delete_on_empty_table(spark, tmp_path):
    """journal=False update_fields/delete against a never-written table
    deliver counts of 0."""
    table = KeyedTable(
        spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, n_buckets=4, journal=False
    )
    assert table.update_fields(_kv(spark, [(1, "x")]), ["v"])["modifies"] == 0
    assert table.delete(_kv(spark, [(1, "x")]).select("k"))["deletes"] == 0
    assert table.read().count() == 0


@pytest.mark.parametrize(
    "case",
    [
        test_single_key_upsert_rewrites_one_bucket,
        test_delete_emptying_bucket_drops_it,
        test_crash_restart_from_checkpoint,
        test_delete_and_update_of_nonexistent_keys,
        test_journal_false_twin_equivalence,
        test_journal_false_merges_inside_foreachbatch,
        test_journal_false_update_delete_on_empty_table,
    ],
    ids=lambda f: f.__name__,
)
def test_spark_path_passes_every_case(spark, tmp_path, monkeypatch, case):
    monkeypatch.setattr(storage, "LOCAL_MERGE_MAX_ROWS", 0)
    case(spark, tmp_path)


def _local_calls(monkeypatch) -> list[str]:
    calls: list[str] = []
    real = KeyedTable._merge_local

    def spy(self, kind, *args):
        calls.append(kind)
        return real(self, kind, *args)

    monkeypatch.setattr(KeyedTable, "_merge_local", spy)
    return calls


def test_size_rule_boundary(spark, tmp_path, monkeypatch):
    """A MERGE whose batch plus touched live rows is exactly the cap runs
    on the driver; one row more runs in Spark tasks. Both bounds are
    checked: the live rows (from footers) and the batch itself (the
    bounded collect)."""
    calls = _local_calls(monkeypatch)
    monkeypatch.setattr(storage, "LOCAL_MERGE_MAX_ROWS", 5)
    table = KeyedTable(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, n_buckets=1)
    table.upsert(_kv(spark, [(i, "a") for i in range(5)]))  # batch == cap
    assert calls == ["upsert"]
    table.upsert(_kv(spark, [(9, "b")]))  # 5 live + 1 > cap
    assert calls == ["upsert"]
    monkeypatch.setattr(storage, "LOCAL_MERGE_MAX_ROWS", 7)
    table.update_fields(_kv(spark, [(0, "u")]), ["v"])  # 6 live + 1 == cap
    assert calls == ["upsert", "update"]
    table.delete(_kv(spark, [(0, None), (1, None)]).select("k"))  # 6 + 2 > cap
    assert calls == ["upsert", "update"]
    fresh = KeyedTable(spark, str(tmp_path / "f"), ["k"], KV_SCHEMA, n_buckets=1)
    r = fresh.upsert(_kv(spark, [(i, "c") for i in range(8)]))  # batch > cap
    assert calls == ["upsert", "update"] and r["inserts"] == 8
    assert {(r.k, r.v) for r in table.read().collect()} == {
        (2, "a"), (3, "a"), (4, "a"), (9, "b")
    }


@pytest.mark.parametrize("journal", [True, False], ids=["journal", "no_journal"])
def test_large_upsert_into_empty_table(spark, tmp_path, monkeypatch, journal):
    """An upsert bigger than the cap into an empty table runs the kernel
    in tasks over buckets with no live rows: a key repeated with
    different payloads leaves one row holding one of them, every row is
    an INSERT at version 0 whose journal image is the stored row, a
    crash before the pointer flip leaves the table empty and the replay
    converges, and later driver and task MERGEs run over the buckets it
    wrote."""
    calls = _local_calls(monkeypatch)
    tasks: list[tuple[str, int, bool]] = []
    real_tasks, real_flip = KeyedTable._merge_tasks, KeyedTable._flip

    def spy(self, kind, batch, manifest):
        tasks.append((kind, self.current_version(), bool(manifest)))
        return real_tasks(self, kind, batch, manifest)

    def crash(self, v):
        raise RuntimeError("simulated crash before the flip")

    monkeypatch.setattr(KeyedTable, "_merge_tasks", spy)
    monkeypatch.setattr(storage, "LOCAL_MERGE_MAX_ROWS", 4)
    root = str(tmp_path / "t")
    table = KeyedTable(spark, root, ["k"], KV_SCHEMA, n_buckets=4, journal=journal)
    rows = [(i, f"x{i}") for i in range(8)]
    again = [(k, f"y{k}") for k in range(2, 5)]  # 3 keys twice, other payloads
    batch = _kv(spark, rows + again)

    monkeypatch.setattr(KeyedTable, "_flip", crash)
    with pytest.raises(RuntimeError, match="crash before the flip"):
        table.upsert(batch)
    assert table.current_version() == -1 and table.read().count() == 0
    monkeypatch.setattr(KeyedTable, "_flip", real_flip)
    assert table.upsert(batch) == {"version": 0, "inserts": 8, "modifies": 0}
    assert tasks == [("upsert", -1, False)] * 2 and calls == []
    stored = sorted(map(tuple, table.read().collect()))
    assert [k for k, _ in stored] == list(range(8)) and set(stored) <= set(rows + again)
    if journal:  # the replay replaced the crashed attempt's journal rows
        assert sorted(map(tuple, table.read_changes().collect())) == [
            ("INSERT", 0, k, v) for k, v in stored
        ]
    assert_reclaimed(table)

    monkeypatch.setattr(storage, "LOCAL_MERGE_MAX_ROWS", 50)
    assert table.upsert(_kv(spark, [(1, "y"), (20, "n")])) == {
        "version": 1, "inserts": 1, "modifies": 1
    }
    monkeypatch.setattr(storage, "LOCAL_MERGE_MAX_ROWS", 0)
    assert table.upsert(_kv(spark, [(2, "z"), (21, "m")])) == {
        "version": 2, "inserts": 1, "modifies": 1
    }
    assert calls == ["upsert"] and tasks[2:] == [("upsert", 1, True)]
    expect = dict(stored) | {1: "y", 20: "n", 2: "z", 21: "m"}
    assert {r.k: r.v for r in table.read().collect()} == expect

    # emptied by deletes, the table takes the task path over empty buckets again
    assert table.delete(_kv(spark, [(k, None) for k in expect]).select("k"))[
        "deletes"
    ] == len(expect)
    assert table.upsert(_kv(spark, [(7, "w")])) == {"version": 4, "inserts": 1, "modifies": 0}
    assert tasks[3:] == [("delete", 2, True), ("upsert", 3, False)]
    assert {(r.k, r.v) for r in table.read().collect()} == {(7, "w")}
    if journal:
        assert ("INSERT", 4, 7, "w") in {tuple(r) for r in table.read_changes().collect()}
    assert_reclaimed(table)


@pytest.mark.parametrize("path", ["local", "spark"])
def test_replay_after_crash_before_flip_journals_each_change_once(spark, tmp_path, monkeypatch, path):
    """A MERGE that crashes after its journal write but before the
    ``_CURRENT`` flip leaves the previous version current and whole (the
    sweep runs only after a flip); replaying it rewrites that version,
    and the journal holds each of its change rows once, on the driver
    path and on the task path."""
    if path == "spark":
        monkeypatch.setattr(storage, "LOCAL_MERGE_MAX_ROWS", 0)
    real_flip = KeyedTable._flip

    def crash(self, v):
        raise RuntimeError("simulated crash before the flip")

    table = KeyedTable(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, n_buckets=4)
    table.upsert(_kv(spark, [(i, "a") for i in range(6)]))
    for merge, expect in [
        (lambda: table.upsert(_kv(spark, [(1, "b"), (9, "n")])), {"version": 1, "inserts": 1, "modifies": 1}),
        (lambda: table.delete(_kv(spark, [(2, None), (3, None)]).select("k")), {"version": 2, "deletes": 2}),
        (lambda: table.update_fields(_kv(spark, [(4, "u")]), ["v"]), {"version": 3, "modifies": 1}),
    ]:
        before = sorted(map(tuple, table.read().collect()))
        monkeypatch.setattr(KeyedTable, "_flip", crash)
        for _ in range(2):  # two crashed attempts
            with pytest.raises(RuntimeError, match="crash before the flip"):
                merge()
        assert table.current_version() == expect["version"] - 1
        assert sorted(map(tuple, table.read().collect())) == before
        # no sweep runs before a flip: version v-1 is whole
        for p in table._read_manifest(expect["version"] - 1).values():
            assert storage._parquet_files(os.path.join(table.path, p))
        assert_reclaimed(table)
        monkeypatch.setattr(KeyedTable, "_flip", real_flip)
        assert merge() == expect
        assert_reclaimed(table)
    assert sorted(map(tuple, table.read().collect())) == [(0, "a"), (1, "b"), (4, "u"), (5, "a"), (9, "n")]
    assert sorted(map(tuple, table.read_changes().collect())) == sorted(
        [("INSERT", 0, i, "a") for i in range(6)]
        + [("MODIFY", 1, 1, "b"), ("INSERT", 1, 9, "n"), ("REMOVE", 2, 2, "a"), ("REMOVE", 2, 3, "a")]
        + [("MODIFY", 3, 4, "u")]
    )
    assert not [f for f in os.listdir(table.changes_dir) if f.startswith(".")]


def test_retried_merge_task_replaces_its_files(spark, tmp_path, monkeypatch):
    """A task of the task path that runs twice on the same bucket input,
    as a retried task does, leaves one data file in the bucket's
    directory and one staged journal file: it writes both under names
    fixed by the version and the bucket. A MERGE that then runs the
    whole job over a crashed attempt's files commits each change once."""
    table = KeyedTable(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, n_buckets=4)
    table.upsert(_kv(spark, [(i, "a") for i in range(12)]))
    batch = _kv(spark, [(1, "b"), (1, "b"), (3, "c"), (20, "n"), (21, "n")])
    rows = batch.select("k", "v", F.pmod(F.xxhash64("k"), F.lit(4)).cast("int").alias(BUCKET_COL)).toArrow()
    b = rows.column(BUCKET_COL)[0].as_py()
    group = rows.filter(pc.equal(rows.column(BUCKET_COL), b))
    task = table._merge_task("upsert", 1, table._read_manifest(0))
    outs = [task((pa.scalar(b, pa.int32()),), group).to_pylist() for _ in range(2)]
    keys = set(group.column("k").to_pylist())
    assert outs[0] == outs[1] == [
        {
            "bucket": b,
            "data": os.path.join(table.path, "data", "v=1", f"{BUCKET_COL}={b}", "part-00000.parquet"),
            "journal": os.path.join(table.changes_dir, ".v=1", f"part-{b:05d}.parquet"),
            "inserts": len(keys - set(range(12))),
            "modifies": len(keys & set(range(12))),
            "deletes": 0,
        }
    ]
    assert os.listdir(os.path.dirname(outs[0][0]["data"])) == ["part-00000.parquet"]
    assert os.listdir(os.path.join(table.changes_dir, ".v=1")) == [f"part-{b:05d}.parquet"]
    assert table.current_version() == 0

    monkeypatch.setattr(storage, "LOCAL_MERGE_MAX_ROWS", 0)
    assert table.upsert(batch) == {"version": 1, "inserts": 2, "modifies": 2}
    assert sorted(map(tuple, table.read().collect())) == sorted(
        ({i: "a" for i in range(12)} | {1: "b", 3: "c", 20: "n", 21: "n"}).items()
    )
    assert sorted(map(tuple, table.read_changes().filter("version = 1").collect())) == [
        ("INSERT", 1, 20, "n"), ("INSERT", 1, 21, "n"), ("MODIFY", 1, 1, "b"), ("MODIFY", 1, 3, "c")
    ]
    for bdir in _bucket_dirs(table.path, 1):
        assert os.listdir(os.path.join(table.path, "data", "v=1", bdir)) == ["part-00000.parquet"]
    assert not [f for f in os.listdir(table.changes_dir) if f.startswith(".")]


def test_lookup_at_and_past_the_cap(spark, tmp_path, monkeypatch):
    """``lookup`` returns the current rows matching a key prefix, each
    with the bucket id Spark computes for it, with no Spark job; more
    than ``LOCAL_MERGE_MAX_ROWS`` matches return None."""
    monkeypatch.setattr(storage, "LOCAL_MERGE_MAX_ROWS", 4)
    key = ["user_id", "kind", "pref_id"]
    table = KeyedTable(spark, str(tmp_path / "t"), key, USER_PREF_SCHEMA, n_buckets=4)
    assert table.lookup(user_id="a").num_rows == 0  # no version yet
    rows = [("a", "source", str(i)) for i in range(4)] + [("b", "genre", str(i)) for i in range(5)]
    table.upsert(spark.createDataFrame(rows, USER_PREF_SCHEMA))
    want = {
        tuple(r)
        for r in table.read()
        .select(*key, F.pmod(F.xxhash64(*key), F.lit(4)).cast("int").alias(BUCKET_COL))
        .collect()
    }
    sc = spark.sparkContext
    sc.setJobGroup("pin-lookup", "pin-lookup")
    try:
        at_cap = table.lookup(user_id="a")
        past_cap = table.lookup(user_id="b")
        one = table.lookup(user_id="b", pref_id="3")
        absent = table.lookup(user_id="c")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("pin-lookup") == []
    assert at_cap.column_names == [*key, BUCKET_COL]
    assert {tuple(r.values()) for r in at_cap.to_pylist()} == {w for w in want if w[0] == "a"}
    assert len({b for *_, b in want}) > 1  # the matches came from several buckets
    assert past_cap is None
    assert [tuple(r.values()) for r in one.to_pylist()] == [w for w in want if w[:3] == ("b", "genre", "3")]
    assert absent.num_rows == 0 and absent.schema == at_cap.schema


def test_read_returns_one_frame_per_version(spark, tmp_path):
    """``read()`` hands back the same DataFrame while the version is
    current, and a fresh one once a MERGE (from any handle on the
    table) moves ``_CURRENT``; an empty MERGE keeps it."""
    table = KeyedTable(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, n_buckets=4)
    empty = table.read()
    assert table.read() is empty and empty.count() == 0
    table.upsert(_kv(spark, [(1, "a"), (2, "b")]))
    first = table.read()
    assert first is not empty and table.read() is first
    table.upsert(_kv(spark, []))
    assert table.read() is first
    KeyedTable(spark, table.path, ["k"], KV_SCHEMA, n_buckets=4).delete(_kv(spark, [(1, None)]).select("k"))
    assert sorted(map(tuple, table.read().collect())) == [(2, "b")]
    assert sorted(map(tuple, first.collect())) == [(1, "a"), (2, "b")]


def _race(read_once, write) -> None:
    """Call ``read_once`` over and over in four threads while ``write``
    runs in a fifth, with the interpreter switching threads every 10 µs,
    until ``write`` returns."""
    done = threading.Event()

    def reader():
        while not done.is_set():
            read_once()

    def writer():
        try:
            write()
        finally:
            done.set()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader) for _ in range(4)] + [threading.Thread(target=writer)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)


def test_read_is_never_older_than_the_pointer_under_threads(spark, tmp_path):
    """Reader threads share ``read()``'s per-version frame while a writer
    commits versions: a frame read after ``_CURRENT`` named version N
    always includes version N's bucket directory, never an older one."""
    table = KeyedTable(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, n_buckets=4)
    table.upsert(_kv(spark, [(0, "a")]))
    n_writes, stale = 12, []

    def newest(df) -> int:
        return max(int(re.search(r"/v=(\d+)/", f).group(1)) for f in df.inputFiles())

    def read_once():
        before = table.current_version()
        if newest(table.read()) < before:
            stale.append(before)

    def write():
        for i in range(1, n_writes + 1):
            table.upsert(_kv(spark, [(i, "a")]))

    _race(read_once, write)
    assert table.current_version() == n_writes and stale == []
    assert newest(table.read()) == n_writes


UV_SCHEMA = T.StructType(
    [
        T.StructField("u", T.StringType(), False),
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _uv(spark, i: int, n_keys: int = 8):
    """Version ``i`` of a table whose every write rewrites every row."""
    return spark.createDataFrame([("a", k, str(i)) for k in range(n_keys)], UV_SCHEMA)


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("reader", ["collect", "lookup"])
def test_readers_get_a_whole_version_or_raise_under_threads(spark, tmp_path, reader):
    """Reader threads ``collect()`` a ``read()`` frame, or ``lookup``,
    while a writer commits versions that each set every row's value to
    the version's number. Each result is exactly one version's rows, or
    the read raises file-not-found because reclamation overtook it;
    never a subset of a version's rows."""
    table = KeyedTable(spark, str(tmp_path / "t"), ["u", "k"], UV_SCHEMA, n_buckets=4)
    n_writes = 12
    table.upsert(_uv(spark, 0))
    versions = {frozenset(_rows(_uv(spark, i))) for i in range(n_writes + 1)}
    got, wrong = [], []

    def read_rows() -> frozenset:
        if reader == "collect":
            return frozenset(_rows(table.read()))
        return frozenset(tuple(r.values()) for r in table.lookup(u="a").drop_columns([BUCKET_COL]).to_pylist())

    def read_once():
        try:
            rows = read_rows()
        except Exception as e:  # noqa: BLE001 - only a reclaimed file may fail a read
            if not (isinstance(e, FileNotFoundError) if reader == "lookup" else "FILE_NOT_EXIST" in str(e)):
                wrong.append(e)
        else:
            (got if rows in versions else wrong).append(rows)

    _race(read_once, lambda: [table.upsert(_uv(spark, i)) for i in range(1, n_writes + 1)])
    assert wrong == [] and got
    assert read_rows() == frozenset(_rows(_uv(spark, n_writes)))
    assert_reclaimed(table)


@pytest.mark.parametrize("path", ["local", "spark"])
def test_frame_one_commit_old_reads_whole_two_commits_old_raises(spark, tmp_path, monkeypatch, path):
    """A ``read()`` frame taken before one commit collects its exact
    rows: the commit keeps the previous version's directories. After a
    second commit they are reclaimed and the frame raises on
    ``collect()``, never returning the rows that are left."""
    if path == "spark":
        monkeypatch.setattr(storage, "LOCAL_MERGE_MAX_ROWS", 0)
    table = KeyedTable(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, n_buckets=4)
    rows = [(i, "a") for i in range(8)]
    table.upsert(_kv(spark, rows))
    frame = table.read()
    table.upsert(_kv(spark, [(0, "b")]))
    assert _rows(frame) == rows
    table.upsert(_kv(spark, [(0, "c")]))
    assert_reclaimed(table)
    with pytest.raises(Exception, match="FILE_NOT_EXIST"):
        frame.collect()
    assert _rows(table.read()) == [(0, "c"), *rows[1:]]


def _commit_after(monkeypatch, table: KeyedTable, method: str, versions) -> None:
    """Make the next call of ``KeyedTable.<method>`` commit ``_uv`` of
    each of ``versions`` to ``table`` just before it returns."""
    real = getattr(KeyedTable, method)

    def then_commit(self, *args):
        out = real(self, *args)
        monkeypatch.setattr(KeyedTable, method, real)
        for i in versions:
            table.upsert(_uv(table.spark, i))
        return out

    monkeypatch.setattr(KeyedTable, method, then_commit)


@pytest.mark.parametrize("at", ["_read_manifest", "_read_buckets"])
def test_read_overtaken_by_two_commits_builds_the_frame_again(spark, tmp_path, monkeypatch, at):
    """Two commits that land while ``read()`` builds its frame, before
    Spark checks the bucket directories or after it has listed them,
    reclaim directories the frame names. ``read()`` then builds the
    frame again from the newest version rather than keep one that
    raises, or that misses the rows of a directory which vanished while
    Spark listed it (Spark skips such a directory)."""
    table = KeyedTable(spark, str(tmp_path / "t"), ["u", "k"], UV_SCHEMA, n_buckets=4)
    table.upsert(_uv(spark, 0))
    _commit_after(monkeypatch, table, at, [1, 2])
    assert _rows(table.read()) == _rows(_uv(spark, 2))


@pytest.mark.parametrize("commits", [1, 2])
def test_lookup_overtaken_by_commits_returns_its_rows_or_raises(spark, tmp_path, monkeypatch, commits):
    """Commits that land after ``lookup`` listed its version's files and
    before it scans them leave it that version's exact rows after one
    commit, and make it raise ``FileNotFoundError`` after two."""
    table = KeyedTable(spark, str(tmp_path / "t"), ["u", "k"], UV_SCHEMA, n_buckets=4)
    table.upsert(_uv(spark, 0))
    _commit_after(monkeypatch, table, "_files", range(1, commits + 1))
    if commits == 2:
        with pytest.raises(FileNotFoundError):
            table.lookup(u="a")
        return
    got = table.lookup(u="a").drop_columns([BUCKET_COL])
    assert sorted(tuple(r.values()) for r in got.to_pylist()) == _rows(_uv(spark, 0))


def test_data_bytes_stay_bounded_over_small_upserts(spark, tmp_path):
    """Fifty one-row upserts leave ``data/`` holding at most two images
    of each bucket, the live one and the previous version's: its bytes
    stay within twice the live snapshot's and its files within twice
    the bucket count, while the versions written add up to many times
    that."""
    table = KeyedTable(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, n_buckets=4, journal=False)
    table.upsert(_kv(spark, [(i, "x" * 100) for i in range(40)]))
    data, written = os.path.join(table.path, "data"), 0

    def tree(path) -> tuple[int, int]:
        files = [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
        return sum(map(os.path.getsize, files)), len(files)

    for i in range(50):
        v = table.upsert(_kv(spark, [(1000 + i, "y" * 100)]))["version"]
        written += tree(os.path.join(data, f"v={v}"))[0]
        disk, n_files = tree(data)
        live = sum(tree(os.path.join(table.path, p))[0] for p in table._read_manifest(v).values())
        assert disk <= 2 * live and n_files <= 2 * table.n_buckets, (i, disk, live, n_files)
        assert_reclaimed(table)
    assert written > 5 * disk
    assert table.read().count() == 90


def test_commit_clears_crashed_sweeps_and_keeps_later_attempts(spark, tmp_path):
    """A sweep that crashed leaves hidden renamed bucket directories and
    version directories without buckets; the next commit removes them.
    A directory above the committed version, another attempt's, stays."""
    table = KeyedTable(spark, str(tmp_path / "t"), ["u", "k"], UV_SCHEMA, n_buckets=4)
    for i in range(3):
        table.upsert(_uv(spark, i))
    data = os.path.join(table.path, "data")
    assert sorted(os.listdir(data)) == ["v=1", "v=2"]
    leftovers = [
        os.path.join(data, "v=0", ".reclaim-bucket__=1"),
        os.path.join(data, "v=2", ".reclaim-bucket__=9"),
    ]
    for d in leftovers:
        os.makedirs(d)
        open(os.path.join(d, "part-00000.parquet"), "w").close()
    open(os.path.join(data, "v=0", "_SUCCESS"), "w").close()
    later = os.path.join(data, "v=9", f"{BUCKET_COL}=0")
    os.makedirs(later)
    open(os.path.join(later, "part-00000.parquet"), "w").close()
    table.upsert(_uv(spark, 3))
    assert sorted(os.listdir(data)) == ["v=2", "v=3", "v=9"]
    assert os.listdir(later) == ["part-00000.parquet"]
    assert_reclaimed(table)
    assert _rows(table.read()) == _rows(_uv(spark, 3))


def _sample_rows(schema: T.StructType) -> list[tuple]:
    """Rows covering every column's type: NULLs in every nullable
    column, empty arrays, arrays holding NULL, unicode and extreme
    doubles."""
    if schema == TITLE_RECORD_SCHEMA:
        return [
            (1, "Tïtle ✓", 1999, "tt1", 2, "tv", "movie", ["203", "26"], ["1"], "plot", "p.jpg", 7.25),
            (2, None, None, None, None, None, None, None, None, None, None, None),
            (3, "", -1, "", -(2**62), "", "", [], [None, "x"], "", "", -1e300),
            (4, "t", 2**31 - 1, "a", 2**62, "b", "c", ["a"] * 50, [], "N/A", "N/A", 0.0),
        ]
    if schema == USER_PREF_SCHEMA:
        return [("u1", "source", "203"), ("u1", "genre", "26"), ("ü", "genre", "")]
    return [("203", "26", 1), ("203", "26", 2**62), ("", "x", -5)]


@pytest.mark.parametrize(
    "schema,keys",
    [
        (TITLE_RECORD_SCHEMA, ["title_id"]),
        (USER_PREF_SCHEMA, ["user_id", "kind", "pref_id"]),
        (TITLE_INDEX_SCHEMA, ["source_id", "genre_id", "title_id"]),
    ],
    ids=["titles", "prefs", "index"],
)
def test_pyarrow_written_buckets_round_trip(spark, tmp_path, monkeypatch, schema, keys):
    """Bucket and journal files written by pyarrow read back through
    Spark with every value intact, and a later task-path MERGE over
    those buckets and a driver MERGE over its files keep them intact
    too, as read by Spark and by ``lookup``."""
    calls = _local_calls(monkeypatch)
    rows = _sample_rows(schema)
    table = KeyedTable(spark, str(tmp_path / "t"), keys, schema, n_buckets=2)
    assert table.upsert(spark.createDataFrame(rows, schema))["inserts"] == len(rows)
    assert calls == ["upsert"]
    assert sorted(map(tuple, table.read().collect()), key=repr) == sorted(rows, key=repr)
    journal = table.read_changes().collect()
    assert sorted((tuple(r)[2:] for r in journal), key=repr) == sorted(rows, key=repr)
    assert {(r.event_name, r.version) for r in journal} == {("INSERT", 0)}

    monkeypatch.setattr(storage, "LOCAL_MERGE_MAX_ROWS", 0)
    assert table.upsert(spark.createDataFrame(rows[:1], schema))["modifies"] == 1
    monkeypatch.undo()
    calls = _local_calls(monkeypatch)
    assert table.upsert(spark.createDataFrame(rows[1:2], schema))["modifies"] == 1
    assert calls == ["upsert"]
    assert sorted(map(tuple, table.read().collect()), key=repr) == sorted(rows, key=repr)
    at = [schema.names.index(k) for k in keys]
    for row in rows:  # lookup reads both kinds of files with every value intact
        got = table.lookup(**{k: row[i] for k, i in zip(keys, at)}).drop_columns([BUCKET_COL])
        assert [tuple(r.values()) for r in got.to_pylist()] == [row]


def test_stream_changes_reads_local_journal_files_once(spark, tmp_path):
    """The change stream picks up each journal file the local MERGE
    renames into ``_changes/`` exactly once, and never a hidden file —
    the name a journal file has while it is being written."""
    table = KeyedTable(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, n_buckets=4)
    seen: list[tuple] = []

    def drain():
        q = (
            table.stream_changes()
            .writeStream.foreachBatch(
                lambda df, _: seen.extend(tuple(r) for r in df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    table.upsert(_kv(spark, [(1, "a"), (2, "b")]))
    # a journal file caught mid-write: same rows, still under its hidden name
    name = next(f for f in os.listdir(table.changes_dir) if f.endswith(".parquet"))
    with open(os.path.join(table.changes_dir, name), "rb") as src, open(
        os.path.join(table.changes_dir, f".{name}"), "wb"
    ) as dst:
        dst.write(src.read())
    drain()
    assert sorted(seen) == [("INSERT", 0, 1, "a"), ("INSERT", 0, 2, "b")]
    table.update_fields(_kv(spark, [(2, "B")]), ["v"])
    drain()
    drain()
    assert sorted(seen) == [
        ("INSERT", 0, 1, "a"), ("INSERT", 0, 2, "b"), ("MODIFY", 1, 2, "B")
    ]
