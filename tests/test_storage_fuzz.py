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

Each sequence runs on both MERGE paths (driver-local and Spark), with
and without a journal, and all four tables must agree op by op. With
the Spark tables' size cap at 0, every upsert into an empty table takes
the bulk load.

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

from tv_event_streaming_spark.streaming import storage
from tv_event_streaming_spark.streaming.storage import KeyedTable

_EXAMPLES = int(os.environ.get("FUZZ_EXAMPLES", "4"))

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("val", T.StringType(), True),
        T.StructField("extra", T.StringType(), True),
    ]
)

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
# after deletes empty it: on the Spark tables (cap 0) both are bulk loads
@example(ops=[("upsert", [1, 1, 2, 5], 0), ("delete", [1, 2, 5], 0), ("upsert", [3, 3], 1)])
def test_keyed_table_matches_model_on_random_op_sequences(
    spark, tmp_path_factory, ops
):
    """Every op sequence runs on four tables: the driver-local and the
    Spark MERGE path, each with and without a journal. The journal=False
    merges compute their counts on a different plan (marker-column
    Observation riding the data write) and the local path computes them
    in pyarrow; all four must give the same counts and state as the
    model, and both journals must replay to it."""
    root = tmp_path_factory.mktemp("ktfuzz")
    tables = {
        (path, journal): KeyedTable(
            spark, str(root / f"{path}{journal}"), ["k"], SCHEMA, n_buckets=4, journal=journal
        )
        for path in ("local", "spark")
        for journal in (True, False)
    }
    model: dict[int, tuple[str | None, str | None]] = {}

    def apply(method, *args):
        outs = set()
        for (path, _), kt in tables.items():
            cap = 0 if path == "spark" else storage.LOCAL_MERGE_MAX_ROWS
            with mock.patch.object(storage, "LOCAL_MERGE_MAX_ROWS", cap):
                outs.add(tuple(sorted(getattr(kt, method)(*args).items())))
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
        # 1. table state == model
        state = {(r.k): (r.val, r.extra) for r in kt.read().collect()}
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
