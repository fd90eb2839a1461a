"""Versioned keyed parquet tables: MERGE upserts, point lookups and a
CDC change journal.

Spark has no in-place update without a table format (SURVEY.md §7
phase 2). This layer gives the reference's DynamoDB semantics —
idempotent keyed puts (consumer.py:58-89), nested-field updates
(enrichment.py:114-125), key-prefix queries (preferences.py:90-100),
and a NEW_IMAGE change stream (uktv-event-streaming-app.yaml:55-56) —
on plain parquet:

- the key space is hash-partitioned into ``n_buckets`` stable buckets
  (``pmod(xxhash64(keys), n)``); a MERGE rewrites ONLY the buckets its
  batch touches — O(batch ∪ touched buckets), never O(table);
- every MERGE writes its INSERT/MODIFY/REMOVE rows (full new image +
  version) to ``_changes/``, which Structured Streaming can tail as a
  file source — the Delta CDF stand-in;
- ``read()`` is the current version as a DataFrame (one per version);
  ``lookup(**values)`` returns the rows matching a key prefix as Arrow,
  read on the driver with no Spark job.

**Four ways in, one commit protocol.** A DataFrame MERGE (``upsert``,
``update_fields``, ``delete``) starts with one bounded collect: the
batch, at most ``LOCAL_MERGE_MAX_ROWS + 1`` rows, comes back as Arrow
with its bucket ids computed by Spark in the same job (an empty batch
returns here and writes no version). Then the size rule:

- if the batch plus the live rows of the buckets it touches (summed from
  parquet footers, no job) number at most ``LOCAL_MERGE_MAX_ROWS``, the
  driver does the MERGE in pyarrow — dedup the batch on the key, read
  the touched buckets' files, match keys, write one file per touched
  bucket and at most one journal file. A Spark MERGE of a 20-row batch
  is almost all per-action planning, scheduling and commit overhead;
- a larger upsert into an empty table (seeding, an initial load) is a
  bulk load: every key is new, so it is one key-dedup and one
  ``partitionBy`` write counted by ``DataFrame.observe``, and a journaled
  table copies the written rows into the journal as INSERTs — no
  persist, touched-bucket collect or join;
- any other MERGE runs as Spark joins and a ``partitionBy`` write, its
  counts taken by ``DataFrame.observe`` during the journal write (or
  the data write, for a ``journal=False`` table) — no extra count jobs.

``merge_local`` is the fourth way: rows the caller already holds on the
driver (a PUT /preferences diff), upserted and deleted together by the
same pyarrow MERGE in one version, under the same size rule, with no
Spark job at all; past the cap it writes nothing and the caller takes
the DataFrame MERGEs.

All paths return the same counts, leave the same ``read()`` state and
write the same journal rows.

All paths commit the same way: new immutable bucket directories under
``data/v=N/`` (a crashed attempt's directory is replaced), then the
journal rows under names derived from N (a crashed attempt's journal
files are removed first, so a replay journals each change once), then
a version MANIFEST mapping every bucket to the version directory that
last wrote it, then an atomic rename of the ``_CURRENT`` pointer.
Readers always see a consistent snapshot stitched from per-bucket
paths; a crash before the flip leaves version N-1 current, and the
replayed batch rewrites version N.

On a real deployment this class is replaced wholesale by Delta/Iceberg
``MERGE INTO`` + change data feed; the pipeline code above it doesn't
change. The bucket layout is exactly the rewrite-granularity story those
formats implement with file-level pruning; at 100 TB you'd raise
``n_buckets`` so a micro-batch touches a small fraction of files.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

BUCKET_COL = "bucket__"

#: A MERGE runs on the driver in pyarrow when its batch plus the live rows
#: of the buckets it touches number at most this many; larger ones run as
#: Spark jobs. Measured on 4 cores (local[2], 3-column index rows, 16
#: buckets, a 200-row batch touching all of them, median of 5), local vs
#: Spark: 5 k rows 0.25 vs 1.58 s, 20 k 0.27 vs 1.49 s, 50 k 0.28 vs
#: 1.42 s, 100 k 0.35 vs 1.95 s, 200 k 0.40 vs 2.10 s — no crossover up
#: to 200 k, so the cap bounds the driver's memory instead: it holds at
#: most this many rows. A larger upsert into an empty table, such as
#: seeding the 60 k-row preferences table, is a Spark bulk load.
LOCAL_MERGE_MAX_ROWS = 50_000

_COUNTS = {
    "upsert": ("inserts", "modifies"),
    "update": ("modifies",),
    "delete": ("deletes",),
}
_EVENTS = {"inserts": "INSERT", "modifies": "MODIFY", "deletes": "REMOVE"}


def _parquet_files(bucket_dir: str) -> list[str]:
    """A bucket directory's data files (Spark also leaves ``.crc``
    checksums beside them)."""
    return sorted(
        os.path.join(bucket_dir, f)
        for f in os.listdir(bucket_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


class KeyedTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        schema: T.StructType,
        n_buckets: int = 16,
        journal: bool = True,
    ) -> None:
        """``journal=False`` turns off the NEW_IMAGE change journal for
        tables no CDC consumer tails (VERDICT r7 #5: the consumer's
        INDEX table has no stream_changes reader — only ``titles``
        feeds the enrichment cascade — and at a 50 M-row merge the
        journal's full-image parquet append was ~half the remaining
        merge wall). On the Spark path, merge counts then ride the DATA
        write via a marker-column Observation instead of the journal
        write, so the return contract is unchanged; :meth:`stream_changes` /
        :meth:`read_changes` raise, keeping a silent no-op journal from
        masquerading as an empty-but-live one."""
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.schema = schema
        self.n_buckets = n_buckets
        self.journal = journal
        self._snapshot: tuple[int, DataFrame] | None = None  # read()'s cache
        os.makedirs(path, exist_ok=True)

    # -- version bookkeeping ------------------------------------------------

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    @property
    def changes_dir(self) -> str:
        return os.path.join(self.path, "_changes")

    def current_version(self) -> int:
        try:
            with open(self._pointer) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return -1

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self.path, "_manifests", f"v={v}.json")

    def _read_manifest(self, v: int) -> dict[int, str]:
        """bucket id -> data directory (relative to table root)."""
        if v < 0:
            return {}
        with open(self._manifest_path(v)) as fh:
            return {int(k): p for k, p in json.load(fh).items()}

    def _write_manifest(self, v: int, manifest: dict[int, str]) -> None:
        os.makedirs(os.path.dirname(self._manifest_path(v)), exist_ok=True)
        tmp = self._manifest_path(v) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({str(k): p for k, p in manifest.items()}, fh)
        os.replace(tmp, self._manifest_path(v))

    def _bucket(self) -> F.Column:
        return F.pmod(F.xxhash64(*self.key_cols), F.lit(self.n_buckets)).cast("int")

    # -- read ---------------------------------------------------------------

    def _read_buckets(self, manifest: dict[int, str], buckets: list[int] | None = None) -> DataFrame:
        dirs = [
            os.path.join(self.path, p)
            for b, p in sorted(manifest.items())
            if buckets is None or b in buckets
        ]
        if not dirs:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(*dirs)

    def read(self) -> DataFrame:
        """The current version. While ``_CURRENT`` names the same
        version this is the same DataFrame: a version's bucket files
        never change once it is current, and listing them again cost
        50–80 ms per call."""
        v = self.current_version()
        snapshot = self._snapshot
        if snapshot is None or snapshot[0] != v:
            snapshot = self._snapshot = (v, self._read_buckets(self._read_manifest(v)))
        return snapshot[1]

    def lookup(self, **values) -> pa.Table | None:
        """The current version's rows whose columns equal ``values``
        (``lookup(user_id="7")``), read in pyarrow with no Spark job.

        Each live bucket file is scanned with the equality filter
        pushed into the read, so the driver holds only matching rows,
        returned with the bucket id of the file each came from in
        ``BUCKET_COL``. More than ``LOCAL_MERGE_MAX_ROWS`` matches
        return None: the caller reads through Spark instead. The bucket
        hashes the full key, so rows sharing a key prefix can sit in
        any bucket and every one is scanned, in one multi-threaded
        pyarrow scan: a one-user lookup took 4–7 ms at 60 k rows and
        12–30 ms at 1 M (16 buckets, 4 cores), where the same read as a
        Spark ``read().filter(...).collect()`` took 150–190 ms warm."""
        where = functools.reduce(operator.and_, (pc.field(c) == x for c, x in values.items()))
        arrow = self._arrow_schema()
        bucket_of = {f: b for b, f in self._files(self._read_manifest(self.current_version()))}
        parts = [self._with_bucket(arrow.empty_table(), 0)]
        n = 0
        scan = ds.dataset(list(bucket_of), schema=arrow, format="parquet").scanner(filter=where)
        for batch in scan.scan_batches():
            n += batch.record_batch.num_rows
            if n > LOCAL_MERGE_MAX_ROWS:
                return None
            if batch.record_batch.num_rows:
                rows = pa.Table.from_batches([batch.record_batch])
                parts.append(self._with_bucket(rows, bucket_of[batch.fragment.path]))
        return pa.concat_tables(parts)

    def read_changes(self) -> DataFrame:
        if not self.journal:
            raise ValueError(
                "table was created with journal=False — no change journal"
            )
        if not os.path.isdir(self.changes_dir) or not _parquet_files(self.changes_dir):
            return self.spark.createDataFrame([], self._changes_schema())
        return self.spark.read.schema(self._changes_schema()).parquet(self.changes_dir)

    def stream_changes(self) -> DataFrame:
        """The CDC source (S10): tail the change journal as a stream.

        The journal directory is created if absent so a CDC consumer can
        start BEFORE the first write lands (fuzz-found: a file-source
        stream over a missing path raises PATH_NOT_FOUND at plan time,
        crashing an enrichment service deployed ahead of its producer)."""
        if not self.journal:
            raise ValueError(
                "table was created with journal=False — no change stream"
            )
        os.makedirs(self.changes_dir, exist_ok=True)
        return (
            self.spark.readStream.schema(self._changes_schema())
            .option("maxFilesPerTrigger", 16)
            .parquet(self.changes_dir)
        )

    def _changes_schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField("event_name", T.StringType(), False),
                T.StructField("version", T.LongType(), False),
                *self.schema.fields,
            ]
        )

    # -- merge --------------------------------------------------------------

    def upsert(self, batch: DataFrame) -> dict[str, int]:
        """MERGE: insert new keys, overwrite existing ones (the
        reference's idempotent put). Appends the change journal.

        The batch is deduplicated on the key first (last-writer-wins is
        unnecessary — reference batches carry identical payloads per key,
        consumer.py:57). Only the buckets containing batch keys are read
        and rewritten."""
        return self._merge("upsert", batch, self.schema.names)

    def update_fields(self, updates: DataFrame, fields: list[str]) -> dict[str, int]:
        """Field-level MERGE (the reference's UpdateItem on nested paths,
        enrichment.py:114-125): for keys present in ``updates``, set only
        ``fields``; all other columns and rows unchanged. Rows in
        ``updates`` whose key doesn't exist are ignored (fetch-then-update
        semantics). Only touched buckets are rewritten."""
        return self._merge("update", updates, [*self.key_cols, *fields])

    def delete(self, keys: DataFrame) -> dict[str, int]:
        """Keyed delete (the preference-removal path, preferences.py:153-161).
        Only touched buckets are rewritten; a bucket left empty drops out
        of the manifest."""
        return self._merge("delete", keys, self.key_cols)

    def merge_local(self, upserts: pa.Table, deletes: pa.Table) -> dict[str, int] | None:
        """One driver-side MERGE of rows the caller already holds, in
        one version: insert or overwrite ``upserts`` (full rows, no
        bucket ids) and delete the keys of ``deletes`` (rows from
        :meth:`lookup`, with their ``BUCKET_COL``). The two must not
        share a key: a PUT's adds and deletes never do. Returns the
        version and the inserts, modifies and deletes; an empty
        MERGE writes no version.

        The upserts' bucket ids come from :meth:`_bucket` over an Arrow
        local relation: the optimizer folds that projection into the
        relation, so ``collect()`` runs no Spark job. When the rows plus
        the live rows of the buckets they touch exceed
        ``LOCAL_MERGE_MAX_ROWS``, nothing is written and None returned:
        the caller runs the Spark MERGEs instead."""
        if not upserts.num_rows and not deletes.num_rows:
            return {"version": self.current_version(), "inserts": 0, "modifies": 0, "deletes": 0}
        upserts = upserts.select(self.schema.names).cast(self._arrow_schema())
        ids = []
        if upserts.num_rows:
            keys = self.spark.createDataFrame(upserts.select(self.key_cols))
            ids = [r[0] for r in keys.select(self._bucket()).collect()]
        manifest = self._read_manifest(self.current_version())
        touched = sorted(set(ids).union(deletes.column(BUCKET_COL).to_pylist()))
        files = self._files(manifest, touched)
        live = sum(pq.read_metadata(f).num_rows for _, f in files)
        if upserts.num_rows + deletes.num_rows + live > LOCAL_MERGE_MAX_ROWS:
            return None
        head = upserts.append_column(pa.field(BUCKET_COL, pa.int32()), pa.array(ids, pa.int32()))
        return self._merge_local("upsert", head, manifest, touched, files, deletes)

    def _merge(self, kind: str, batch: DataFrame, cols: list[str]) -> dict[str, int]:
        """Pick the path for one MERGE and run it.

        The bounded collect reads the batch as given, not deduplicated:
        a key-dedup shuffle would cost the collect a second job, and
        without one the limit stops after the first input partitions
        that hold enough rows, so a batch too big for the local path
        costs little more than a probe. The local path dedups on the
        driver."""
        head = (
            batch.select(*cols, self._bucket().alias(BUCKET_COL))
            .limit(LOCAL_MERGE_MAX_ROWS + 1)
            .toArrow()
        )
        if head.num_rows == 0:  # empty micro-batches must not write versions
            return {"version": self.current_version(), **dict.fromkeys(_COUNTS[kind], 0)}
        touched = None
        manifest = self._read_manifest(self.current_version())
        if head.num_rows <= LOCAL_MERGE_MAX_ROWS:
            touched = sorted(pc.unique(head.column(BUCKET_COL)).to_pylist())
            files = self._files(manifest, touched)
            live = sum(pq.read_metadata(f).num_rows for _, f in files)
            if head.num_rows + live <= LOCAL_MERGE_MAX_ROWS:
                out = self._merge_local(kind, head, manifest, touched, files)
                return {"version": out["version"], **{k: out[k] for k in _COUNTS[kind]}}
        elif kind == "upsert" and not manifest:
            return self._bulk_load(batch)
        # The Spark path persists the batch for the MERGE's duration:
        # three actions read it (touched-bucket collect, journal write,
        # data write), and without the barrier each re-ran the batch's
        # upstream lineage — for the consumer's index leg a double
        # explode + key-dedup shuffle of the full exploded set, which
        # dominated the cascade (measured 2.7×: 279 s → 104 s on the
        # 50 M-row merge, SCALE.md §6e).
        if kind != "delete":
            batch = batch.dropDuplicates(self.key_cols)
        batch = batch.persist()
        try:
            if touched is None:
                touched = self._touched_buckets(batch)
            if kind == "upsert":
                out = self._upsert_spark(batch, touched)
            elif kind == "update":
                out = self._update_spark(batch, cols[len(self.key_cols) :], touched)
            else:
                out = self._delete_spark(batch, touched)
        finally:
            batch.unpersist()
        return {"version": out["version"], **{k: out[k] for k in _COUNTS[kind]}}

    # -- driver-local path ----------------------------------------------------

    def _arrow_schema(self) -> pa.Schema:
        # every field nullable: Spark reads every parquet column as
        # nullable, whatever the file says
        return pa.schema([f.with_nullable(True) for f in to_arrow_schema(self.schema)])

    def _files(self, manifest: dict[int, str], buckets: list[int] | None = None) -> list[tuple[int, str]]:
        """(bucket, data file) pairs of the given buckets (all by default)."""
        return [
            (b, f)
            for b, p in sorted(manifest.items())
            if buckets is None or b in buckets
            for f in _parquet_files(os.path.join(self.path, p))
        ]

    @staticmethod
    def _with_bucket(t: pa.Table, b: int) -> pa.Table:
        return t.append_column(pa.field(BUCKET_COL, pa.int32()), pa.array(np.full(len(t), b, np.int32)))

    def _pairs(self, cur: pa.Table, head: pa.Table) -> tuple[np.ndarray, np.ndarray]:
        """Row indices of the key-equal (current row, batch row) pairs;
        SQL equality, so a NULL key matches nothing, as in the Spark
        path's joins."""
        pairs = (
            cur.select(self.key_cols)
            .append_column("_c", pa.array(np.arange(len(cur))))
            .join(
                head.select(self.key_cols).append_column("_h", pa.array(np.arange(len(head)))),
                self.key_cols,
                join_type="inner",
            )
        )
        return tuple(np.asarray(pairs.column(c), np.int64) for c in ("_c", "_h"))

    def _merge_local(
        self,
        kind: str,
        head: pa.Table,
        manifest: dict[int, str],
        touched: list[int],
        files: list[tuple[int, str]],
        deletes: pa.Table | None = None,
    ) -> dict[str, int]:
        """The whole MERGE in pyarrow on the driver. ``head`` is the
        batch with its bucket ids, ``files`` the (bucket, data file)
        pairs of the touched buckets. A delete's ``head`` holds the keys
        to remove; an upsert may remove ``deletes`` in the same version.
        Returns the version and every count."""
        arrow = self._arrow_schema()
        cur = pa.concat_tables(
            [
                self._with_bucket(arrow.empty_table(), 0),
                *(self._with_bucket(pq.read_table(f).select(self.schema.names).cast(arrow), b) for b, f in files),
            ]
        )
        bucket = pa.field(BUCKET_COL, pa.int32())
        head = head.cast(pa.schema([*(arrow.field(c) for c in head.column_names[:-1]), bucket]))
        if kind == "delete":
            deletes = head
        changes = {}
        if deletes is not None:
            deletes = deletes.select(self.key_cols).cast(pa.schema([arrow.field(k) for k in self.key_cols]))
            hit = np.zeros(len(cur), bool)
            hit[self._pairs(cur, deletes)[0]] = True
            changes["REMOVE"] = cur.filter(pa.array(hit))
            cur = cur.filter(pa.array(~hit))
        if kind == "upsert":  # dedup on the key, keeping each key's first row
            first = (
                head.select(self.key_cols)
                .append_column("_i", pa.array(np.arange(len(head))))
                .group_by(self.key_cols)
                .aggregate([("_i", "min")])
            )
            head = head.take(np.sort(np.asarray(first.column("_i_min"))))
        state = cur
        if kind != "delete":
            ci, hi = self._pairs(cur, head)
            if kind == "upsert":
                new_rows = head
                modified = np.zeros(len(head), bool)
                modified[hi] = True
                changes["INSERT"] = head.filter(pa.array(~modified))
                changes["MODIFY"] = head.filter(pa.array(modified))
            else:  # the matched rows, with the batch's fields set
                new_rows = cur.take(ci)
                for f in head.column_names[len(self.key_cols) : -1]:
                    new_rows = new_rows.set_column(new_rows.schema.get_field_index(f), f, head.column(f).take(hi))
                changes["MODIFY"] = new_rows
            kept = np.ones(len(cur), bool)
            kept[ci] = False
            state = pa.concat_tables([cur.filter(pa.array(kept)), new_rows])

        v = self.current_version() + 1
        data_dir = os.path.join(self.path, "data", f"v={v}")
        shutil.rmtree(data_dir, ignore_errors=True)  # a crashed attempt at v
        buckets = state.column(BUCKET_COL)
        for b in touched:
            rows = state.filter(pc.equal(buckets, b)).drop_columns([BUCKET_COL])
            if rows.num_rows:
                bdir = os.path.join(data_dir, f"{BUCKET_COL}={b}")
                os.makedirs(bdir)
                pq.write_table(rows, os.path.join(bdir, f"part-{uuid.uuid4()}.parquet"))
                manifest[b] = os.path.relpath(bdir, self.path)
            else:
                manifest.pop(b, None)  # bucket emptied (all rows deleted)
        if self.journal:
            journal = [
                rows.drop_columns([BUCKET_COL])
                .add_column(0, "event_name", pa.array([event] * len(rows), pa.string()))
                .add_column(1, "version", pa.array([v] * len(rows), pa.int64()))
                for event, rows in changes.items()
                if len(rows)
            ]
            os.makedirs(self.changes_dir, exist_ok=True)
            staged = []
            if journal:
                staged.append(os.path.join(self.changes_dir, f".v={v}.parquet"))
                pq.write_table(pa.concat_tables(journal), staged[0])
            self._commit_journal(v, staged)
        self._write_manifest(v, manifest)
        self._flip(v)
        return {"version": v, **{k: len(changes.get(e, ())) for k, e in _EVENTS.items()}}

    # -- change journal -------------------------------------------------------

    def _commit_journal(self, v: int, staged: list[str]) -> None:
        """Make the ``staged`` files version ``v``'s journal files: remove
        every file an earlier, crashed attempt at ``v`` left, then rename
        the staged ones in under names derived from ``v``. A batch
        replayed after a crash before the ``_CURRENT`` flip so replaces
        its change rows instead of adding them a second time. Staged
        files have hidden names, which the change stream's file listing
        skips, so it never sees a half-written one."""
        prefix = f"part-v{v:010d}-"
        for f in os.listdir(self.changes_dir):
            if f.startswith(prefix):
                os.remove(os.path.join(self.changes_dir, f))
        for i, f in enumerate(staged):
            os.replace(f, os.path.join(self.changes_dir, f"{prefix}{i:05d}.parquet"))

    def _write_journal(self, v: int, changes: DataFrame) -> None:
        """Write a Spark frame of change rows as version ``v``'s journal:
        into a hidden staging directory, then :meth:`_commit_journal`."""
        stage = os.path.join(self.changes_dir, f".v={v}")
        changes.write.mode("overwrite").parquet(stage)
        self._commit_journal(v, _parquet_files(stage))
        shutil.rmtree(stage)

    # -- Spark path -----------------------------------------------------------

    def _bulk_load(self, batch: DataFrame) -> dict[str, int]:
        """An upsert into an empty table: every key is new, so there is
        nothing to read, match or classify. One key-dedup and one
        bucketed write, counted by an ``Observation`` on that write; a
        journaled table then copies the written rows into the journal as
        INSERTs."""
        v = self.current_version() + 1
        obs = Observation()
        data_dir = os.path.join(self.path, "data", f"v={v}")
        (
            batch.select(*self.schema.names)
            .dropDuplicates(self.key_cols)
            .observe(obs, F.count(F.lit(1)).alias("inserts"))
            .withColumn(BUCKET_COL, self._bucket())
            .write.partitionBy(BUCKET_COL)
            .mode("overwrite")
            .parquet(data_dir)
        )
        manifest = {
            int(d.split("=", 1)[1]): os.path.relpath(os.path.join(data_dir, d), self.path)
            for d in os.listdir(data_dir)
            if d.startswith(f"{BUCKET_COL}=")
        }
        if self.journal:
            self._write_journal(
                v,
                self._read_buckets(manifest).select(
                    F.lit("INSERT").alias("event_name"), F.lit(v).cast("long").alias("version"), "*"
                ),
            )
        self._write_manifest(v, manifest)
        self._flip(v)
        return {"version": v, "inserts": obs.get["inserts"], "modifies": 0}

    def _touched_buckets(self, batch: DataFrame) -> list[int]:
        """Distinct bucket ids of a batch — bounded by ``n_buckets``
        (it returns at most n_buckets ints)."""
        rows = batch.select(self._bucket().alias("b")).distinct().collect()
        return sorted(r.b for r in rows)

    def _publish(
        self,
        v: int,
        new_state: DataFrame,
        touched: list[int],
        changes: DataFrame | None,
        obs: Observation,
    ) -> dict[str, int]:
        """Write touched buckets + journal, update the manifest, flip the
        pointer, and return the observed merge counts. ``changes=None``
        (a ``journal=False`` table) skips the journal append — the
        caller attached ``obs`` to the ``new_state`` lineage instead,
        so the counts ride the data write."""
        data_dir = os.path.join(self.path, "data", f"v={v}")
        new_state.withColumn(BUCKET_COL, self._bucket()).write.partitionBy(
            BUCKET_COL
        ).mode("overwrite").parquet(data_dir)
        if changes is not None:
            self._write_journal(v, changes)

        manifest = self._read_manifest(v - 1)
        for b in touched:
            bdir = os.path.join(data_dir, f"{BUCKET_COL}={b}")
            if os.path.isdir(bdir):
                manifest[b] = os.path.relpath(bdir, self.path)
            else:
                manifest.pop(b, None)  # bucket emptied (all rows deleted)
        self._write_manifest(v, manifest)
        self._flip(v)
        # Observation sums are NULL (None) when the change journal is
        # empty — e.g. delete() of keys absent from the table, or
        # update_fields() where no update key exists (the reference's
        # preference-removal path tolerates removing a non-existent key).
        got = obs.get
        return {"version": v, **{k: int(got[k] or 0) for k in got}}

    @staticmethod
    def _observed(changes: DataFrame, obs: Observation) -> DataFrame:
        return changes.observe(
            obs,
            F.sum(F.when(F.col("event_name") == "INSERT", 1).otherwise(0)).alias("inserts"),
            F.sum(F.when(F.col("event_name") == "MODIFY", 1).otherwise(0)).alias("modifies"),
            F.sum(F.when(F.col("event_name") == "REMOVE", 1).otherwise(0)).alias("deletes"),
        )

    def _upsert_spark(self, batch: DataFrame, touched: list[int]) -> dict[str, int]:
        current = self._read_buckets(
            self._read_manifest(self.current_version()), touched
        )
        untouched = current.join(batch, self.key_cols, "left_anti")
        v = self.current_version() + 1
        obs = Observation()
        if not self.journal:
            # counts ride the DATA write: one marker left-join vs
            # the touched buckets' keys classifies insert/modify
            # without materializing a change frame at all. The
            # observe node sits ABOVE the union: a CollectMetrics
            # inside a union child whose sibling is an empty
            # relation never delivers its metrics under foreachBatch
            # (measured: Observation.get blocks forever on the first
            # micro-batch, when `current` is the empty v=-1 frame).
            marked = batch.join(
                current.select(*self.key_cols).withColumn(
                    "_existing__", F.lit(True)
                ),
                self.key_cols,
                "left",
            )
            tagged = untouched.withColumn("_m__", F.lit(1)).unionByName(
                marked.select(
                    *batch.columns,
                    F.when(F.col("_existing__").isNotNull(), F.lit(2))
                    .otherwise(F.lit(3))
                    .alias("_m__"),
                )
            )
            new_state = tagged.observe(
                obs,
                F.sum(F.when(F.col("_m__") == 3, 1).otherwise(0)).alias(
                    "inserts"
                ),
                F.sum(F.when(F.col("_m__") == 2, 1).otherwise(0)).alias(
                    "modifies"
                ),
            ).drop("_m__")
            return self._publish(v, new_state, touched, None, obs)
        new_state = untouched.unionByName(batch)
        # journal classification: new key -> INSERT, existing -> MODIFY
        inserts = batch.join(current, self.key_cols, "left_anti")
        modifies = batch.join(
            current.select(*self.key_cols), self.key_cols, "left_semi"
        )
        changes = inserts.select(
            F.lit("INSERT").alias("event_name"), F.lit(v).cast("long").alias("version"), "*"
        ).unionByName(
            modifies.select(
                F.lit("MODIFY").alias("event_name"), F.lit(v).cast("long").alias("version"), "*"
            )
        )
        return self._publish(v, new_state, touched, self._observed(changes, obs), obs)

    def _update_spark(
        self, updates: DataFrame, fields: list[str], touched: list[int]
    ) -> dict[str, int]:
        upd = updates.alias("u")
        current = self._read_buckets(
            self._read_manifest(self.current_version()), touched
        )
        cur = current.alias("c")
        # one left-outer join + ONE field-merge projection list,
        # shared by both publish paths (ADVICE r8: the journaled and
        # no-journal branches carried byte-identical 25-line copies)
        joined = cur.join(upd, self.key_cols, "left_outer")
        hit = F.col(f"u.{self.key_cols[0]}").isNotNull()
        key_sel = [F.col(f"c.{k}").alias(k) for k in self.key_cols]
        merge_sel = [
            (
                F.when(hit, F.col(f"u.{f}")).otherwise(F.col(f"c.{f}")).alias(f)
                if f in fields
                else F.col(f"c.{f}").alias(f)
            )
            for f in current.columns
            if f not in self.key_cols
        ]
        merged = joined.select(*key_sel, *merge_sel)
        v = self.current_version() + 1
        obs = Observation()
        if not self.journal:
            # modifies = |cur ∩ upd|, observed on the data write via
            # a marker column on the same left-outer join
            marked = joined.select(
                *key_sel, *merge_sel, hit.alias("_upd__")
            ).observe(
                obs,
                F.sum(F.when(F.col("_upd__"), 1).otherwise(0)).alias(
                    "modifies"
                ),
            )
            return self._publish(v, marked.drop("_upd__"), touched, None, obs)
        touched_keys = upd.join(cur, self.key_cols, "left_semi")
        new_images = merged.join(
            touched_keys.select(*self.key_cols), self.key_cols, "left_semi"
        )
        changes = new_images.select(
            F.lit("MODIFY").alias("event_name"), F.lit(v).cast("long").alias("version"), "*"
        )
        return self._publish(v, merged, touched, self._observed(changes, obs), obs)

    def _delete_spark(self, keys: DataFrame, touched: list[int]) -> dict[str, int]:
        current = self._read_buckets(
            self._read_manifest(self.current_version()), touched
        )
        v = self.current_version() + 1
        obs = Observation()
        if not self.journal:
            # deletes = |cur ∩ keys|, observed upstream of the
            # surviving-row filter on one marker left-join
            marked = current.join(
                # distinct(): a duplicated delete key must not fan
                # out current rows through the left join (the
                # journaled path's semi/anti joins are dupe-safe)
                keys.select(*self.key_cols)
                .distinct()
                .withColumn("_del__", F.lit(True)),
                self.key_cols,
                "left",
            ).observe(
                obs,
                F.sum(
                    F.when(F.col("_del__").isNotNull(), 1).otherwise(0)
                ).alias("deletes"),
            )
            remaining = marked.filter(F.col("_del__").isNull()).drop(
                "_del__"
            )
            return self._publish(v, remaining, touched, None, obs)
        removed = current.join(keys, self.key_cols, "left_semi")
        remaining = current.join(keys, self.key_cols, "left_anti")
        changes = removed.select(
            F.lit("REMOVE").alias("event_name"), F.lit(v).cast("long").alias("version"), "*"
        )
        return self._publish(v, remaining, touched, self._observed(changes, obs), obs)

    def _flip(self, v: int) -> None:
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(v))
        os.replace(tmp, self._pointer)
