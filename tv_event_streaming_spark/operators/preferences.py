"""User-preference reads and delta mutations.

Reference: src/user_preferences/preferences.py and the duplicate
implementation in src/web_api/web_api.py:101-145 (SURVEY.md S4/J5/SO1/SO2).
The reference computes ``new − old`` (adds) and ``old − new`` (deletes)
with in-memory Python sets. So does the one-user PUT here
(:func:`set_user_preferences`), over the user's rows read from the
KeyedTable's bucket files on the driver; the batch (all-users) shape,
:func:`prefs_delta`, is the same algebra as two anti-joins — shuffle-free
when the per-user pref sets are broadcast-sized, and fully distributed
otherwise.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PREF_KEY = ["user_id", "kind", "pref_id"]


def get_preferences(user_prefs: DataFrame, user_filter: Column | None = None) -> DataFrame:
    """S4 — all preference rows for the selected users
    (preferences.py:90-100)."""
    return user_prefs.filter(user_filter) if user_filter is not None else user_prefs


def preferences_response(user_prefs: DataFrame) -> DataFrame:
    """The ``GET /preferences`` response shape — sorted id arrays per kind
    (web_api.py:86-96; sorted for determinism like ingestion.py:116)."""
    return user_prefs.groupBy("user_id").agg(
        F.sort_array(
            F.collect_set(F.when(F.col("kind") == "source", F.col("pref_id")))
        ).alias("sources"),
        F.sort_array(
            F.collect_set(F.when(F.col("kind") == "genre", F.col("pref_id")))
        ).alias("genres"),
    )


def prefs_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """J5/SO2 — the PUT /preferences delta plan (preferences.py:128-161):
    rows to add (new − old) and rows to delete (old − new), tagged with an
    ``op`` column. An empty result is the reference's no-op early-exit
    (preferences.py:148-150).
    """
    adds = new.join(old, PREF_KEY, "left_anti").select(
        F.lit("add").alias("op"), *PREF_KEY
    )
    deletes = old.join(new, PREF_KEY, "left_anti").select(
        F.lit("delete").alias("op"), *PREF_KEY
    )
    return adds.unionAll(deletes)


def _pref_rows(user_id: str, prefs) -> pa.Table:
    """Arrow rows of one user's ``(kind, pref_id)`` pairs."""
    kinds, ids = zip(*prefs) if prefs else ((), ())
    return pa.table(
        {"user_id": [user_id] * len(ids), "kind": list(kinds), "pref_id": list(ids)},
        pa.schema([(c, pa.string()) for c in PREF_KEY]),
    )


def set_user_preferences(
    prefs_table, user_id: str, sources: list[str], genres: list[str]
) -> dict[str, int]:
    """The full PUT /preferences mutation against a KeyedTable
    (preferences.py:128-175): the reference reads the user's current
    rows, diffs them with the body as Python sets, and puts or deletes
    the difference. So does this, with no Spark job: the user's rows
    from :meth:`KeyedTable.lookup`, the set diff on the driver, and the
    adds and deletes as one :meth:`KeyedTable.merge_local`, which writes
    one table version. Returns the counts, taken from that MERGE;
    ``{adds: 0, deletes: 0}`` is the reference's no-op 204 early-exit
    (preferences.py:148-150) and writes no version.

    When the user's rows or the touched buckets pass the table's size
    cap, the PUT runs as DataFrame MERGEs instead: :func:`prefs_delta` over
    the user's rows and the body (an Arrow local relation), then an
    upsert of the adds and a delete of the removals, one version each."""
    want = {("source", s) for s in sources} | {("genre", g) for g in genres}
    old = prefs_table.lookup(user_id=user_id)
    if old is not None:
        have = list(zip(old.column("kind").to_pylist(), old.column("pref_id").to_pylist()))
        gone = pa.array([p not in want for p in have], pa.bool_())
        out = prefs_table.merge_local(_pref_rows(user_id, sorted(want - set(have))), old.filter(gone))
        if out is not None:
            return {"adds": out["inserts"], "deletes": out["deletes"]}
    new = prefs_table.spark.createDataFrame(_pref_rows(user_id, sorted(want)))
    delta = prefs_delta(prefs_table.read().filter(F.col("user_id") == user_id), new)
    adds = delta.filter(F.col("op") == "add").select(*PREF_KEY)
    dels = delta.filter(F.col("op") == "delete").select(*PREF_KEY)
    return {
        "adds": prefs_table.upsert(adds)["inserts"],
        "deletes": prefs_table.delete(dels)["deletes"],
    }

