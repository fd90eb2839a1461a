"""Model-based fuzzing of the KeyedTable MERGE sink (S6/S7/ST3).

Random operation sequences — upsert / field-level update / delete over
a small key space, with natural redeliveries (identical batches recur),
empty batches, duplicate keys inside one batch, and deletes/updates of
nonexistent keys — are applied both to a KeyedTable and to a plain
Python dict model of the reference's DynamoDB semantics. After the
sequence, three invariants must hold exactly:

1. ``read()`` equals the model (idempotent keyed puts, fetch-then-update
   field merges, keyed deletes);
2. the CDC journal REPLAYS to the same state (latest change per key
   wins; a trailing REMOVE means absent) — the guarantee the
   enrichment cascade's crash-restart path leans on;
3. every op's merge counts (inserts/modifies/deletes) match the
   model's transition counts — the per-batch A7 metrics.

After every op, each table's ``data/`` holds exactly the bucket
directories its current and previous manifests name: the commit
reclaims every other one.

Each sequence runs on both ways the MERGE kernel runs (on the driver
and in Spark tasks), with and without a journal, and all four tables
must agree op by op and keep every key unique. With the task tables'
size cap at 0, every upsert into an empty table runs in tasks too.

A second sequence test does the same for PUT /preferences
(``set_user_preferences``: lookup, set diff, one MERGE) against a
Python set model per user: empty bodies, duplicate ids in a body,
users with no rows and identical re-PUTs all come up.

Each op runs real Spark jobs, so the tier uses a reduced example count
like the composition tier.
"""

from __future__ import annotations

import os
from unittest import mock

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from tv_event_streaming_spark.operators.preferences import PREF_KEY, set_user_preferences
from tv_event_streaming_spark.schemas import USER_PREF_SCHEMA
from tv_event_streaming_spark.streaming import storage
from tv_event_streaming_spark.streaming.storage import KeyedTable

from .test_storage import assert_reclaimed

_EXAMPLES = int(os.environ.get("FUZZ_EXAMPLES", "4"))

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("val", T.StringType(), True),
        T.StructField("extra", T.StringType(), True),
    ]
)


def _four_tables(spark, root, key, schema):
    """The driver path and the task path, each with and without a
    journal (the task path's tables are keyed ``spark``: the fuzz sets
    their size cap to 0)."""
    return {
        (path, journal): KeyedTable(
            spark, str(root / f"{path}{journal}"), key, schema, n_buckets=4, journal=journal
        )
        for path in ("local", "spark")
        for journal in (True, False)
    }


# (kind, keys, tag): tag comes from a tiny space so hypothesis
# naturally generates REDELIVERIES — the same (kind, keys, tag) batch
# applied again later must be a no-op state-wise (MODIFY to the same
# image) exactly like the reference consumer's at-least-once input.
_op = st.tuples(
    st.sampled_from(["upsert", "update", "delete"]),
    st.lists(st.integers(0, 7), min_size=0, max_size=5),
    st.integers(0, 2),
)


@settings(
    max_examples=max(2, _EXAMPLES // 3),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op, min_size=1, max_size=7))
# a first upsert with duplicate keys into the empty table, and another
# after deletes empty it: on the task-path tables (cap 0) both run the
# kernel in tasks over empty buckets
@example(ops=[("upsert", [1, 1, 2, 5], 0), ("delete", [1, 2, 5], 0), ("upsert", [3, 3], 1)])
# an update batch repeating a key must set that key's row once
@example(ops=[("upsert", [1, 2], 0), ("update", [1, 1], 1)])
def test_keyed_table_matches_model_on_random_op_sequences(
    spark, tmp_path_factory, ops
):
    """Every op sequence runs on four tables: the driver path and the
    task path, each with and without a journal. All four must give the
    same counts and state as the model, with every key held once, and
    both journals must replay to it."""
    tables = _four_tables(spark, tmp_path_factory.mktemp("ktfuzz"), ["k"], SCHEMA)
    model: dict[int, tuple[str | None, str | None]] = {}

    def apply(method, *args):
        outs = set()
        for (path, _), kt in tables.items():
            cap = 0 if path == "spark" else storage.LOCAL_MERGE_MAX_ROWS
            with mock.patch.object(storage, "LOCAL_MERGE_MAX_ROWS", cap):
                outs.add(tuple(sorted(getattr(kt, method)(*args).items())))
            assert_reclaimed(kt)
        assert len(outs) == 1, (outs, ops)
        return dict(outs.pop())

    for kind, keys, tag in ops:
        if kind == "upsert":
            rows = [(k, f"v{tag}", f"e{tag}") for k in keys]
            got = apply("upsert", spark.createDataFrame(rows, SCHEMA))
            uniq = set(keys)
            expect_ins = len(uniq - set(model))
            expect_mod = len(uniq & set(model))
            for k in uniq:
                model[k] = (f"v{tag}", f"e{tag}")
            assert got["inserts"] == expect_ins, (got, expect_ins, ops)
            assert got["modifies"] == expect_mod, (got, expect_mod, ops)
        elif kind == "update":
            rows = [(k, f"u{tag}", None) for k in keys]
            got = apply("update_fields", spark.createDataFrame(rows, SCHEMA), ["val"])
            uniq = set(keys)
            expect_mod = len(uniq & set(model))
            for k in uniq & set(model):
                model[k] = (f"u{tag}", model[k][1])
            assert got["modifies"] == expect_mod, (got, expect_mod, ops)
        else:
            rows = [(k, None, None) for k in keys]
            got = apply("delete", spark.createDataFrame(rows, SCHEMA))
            uniq = set(keys)
            expect_del = len(uniq & set(model))
            for k in uniq:
                model.pop(k, None)
            assert got["deletes"] == expect_del, (got, expect_del, ops)

    for (path, journal), kt in tables.items():
        # 1. table state == model, one row per key
        rows = kt.read().collect()
        assert len({r.k for r in rows}) == len(rows), (path, journal, rows, ops)
        state = {(r.k): (r.val, r.extra) for r in rows}
        assert state == model, (path, journal, state, model, ops)

        # 2. CDC journal replays to the same state: latest change per key
        # wins (one change row per key per version by construction)
        if not journal:
            continue
        ch = kt.read_changes()
        latest = (
            ch.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("k").orderBy(F.desc("version"))
                ),
            )
            .filter(F.col("rn") == 1)
            .collect()
        )
        replayed = {
            r.k: (r.val, r.extra) for r in latest if r.event_name != "REMOVE"
        }
        assert replayed == model, (path, replayed, model, ops)
    journals = {
        path: sorted(map(tuple, kt.read_changes().collect()), key=repr)
        for (path, journal), kt in tables.items()
        if journal
    }
    assert journals["local"] == journals["spark"], ops


# (user, source ids, genre ids): three users, so some never have rows;
# ids from a tiny space, so bodies repeat ids and whole PUTs recur
_put = st.tuples(
    st.integers(0, 2),
    st.lists(st.integers(0, 3), max_size=4),
    st.lists(st.integers(0, 3), max_size=4),
)


@settings(
    max_examples=max(2, _EXAMPLES // 3),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(puts=st.lists(_put, min_size=1, max_size=6))
@example(puts=[(0, [], []), (1, [2, 2, 0], [1, 1]), (1, [0, 2], [1]), (1, [], [3]), (2, [1], []), (1, [], [])])
def test_put_matches_set_model_on_random_sequences(spark, tmp_path_factory, puts):
    """Every PUT runs on the four tables, which must return the same
    counts — the set diff of the body against the user's model set —
    and end in the model's rows; each journal holds every change once
    and replays to the model."""
    tables = _four_tables(spark, tmp_path_factory.mktemp("putfuzz"), PREF_KEY, USER_PREF_SCHEMA)
    model: dict[str, set[tuple[str, str]]] = {}
    for user, sources, genres in puts:
        uid = str(user)
        body = [str(x) for x in sources], [str(x) for x in genres]
        want = {("source", x) for x in body[0]} | {("genre", x) for x in body[1]}
        have = model.get(uid, set())
        outs = set()
        for (path, _), kt in tables.items():
            cap = 0 if path == "spark" else storage.LOCAL_MERGE_MAX_ROWS
            with mock.patch.object(storage, "LOCAL_MERGE_MAX_ROWS", cap):
                outs.add(tuple(sorted(set_user_preferences(kt, uid, *body).items())))
            assert_reclaimed(kt)
        assert outs == {(("adds", len(want - have)), ("deletes", len(have - want)))}, (outs, puts)
        model[uid] = want

    rows = sorted((u, kind, x) for u, prefs in model.items() for kind, x in prefs)
    journals = []
    for (path, journal), kt in tables.items():
        assert sorted(map(tuple, kt.read().collect())) == rows, (path, journal, puts)
        if journal:
            changes = sorted(map(tuple, kt.read_changes().collect()), key=lambda r: r[1])
            replayed: set[tuple] = set()
            for event, _, *row in changes:  # version order; a PUT's sides share no key
                (replayed.discard if event == "REMOVE" else replayed.add)(tuple(row))
            assert sorted(replayed) == rows, (path, puts)
            journals.append(sorted((r[0], *r[2:]) for r in changes))
    assert journals[0] == journals[1], puts

