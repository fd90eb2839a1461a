"""``ingest``: the producer -> consumer -> enrichment cascade as seeded
rounds, closed loop, one producer.

Each round picks K titles (a fixed share re-published from earlier
rounds) and an active-user subset, stamps the creation time, calls
``build_title_events`` and ``publish``, drains ``start_consumer`` and
then ``start_enrichment`` (both resume from their checkpoints, like the
reference's per-batch Lambdas) and reads the round's titles back with
``titles_by_ids(titles.read(), ids)``. A round's latency runs from the
stamp to the read-back.

Checked against a DuckDB twin of the domain and the benchmark's model of
the reference's put-item semantics: a re-published title is overwritten
whole, so its enrichment fields go back to NULL (a MODIFY is not
enriched again); the index holds every active source x genre for every
round that published the title; each round's ``inserts`` equals its new
ids (exactly-once across the per-round restarts).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import dir_bytes, group_counts, keyed_table_bytes, mean, median, percentile

K_TITLES = 20  # the reference's API_FETCH_LIMIT
REPEAT_SHARE = 0.25
N_ACTIVE_USERS = 10
# the first round runs every path cold (~3x a warm round); the second is
# the first to re-publish titles, and its MODIFY path is cold too: timed
# right after one warm-up round, a round's IQR/median over 10 seeds was 0.39
WARM_ROUNDS = 2
ROUND_S = 10.0  # a warm round takes 8-12 s on 4 cores: --seconds / ROUND_S timed rounds, at least 1


def metered(table, tracer, label: str):
    """The engine's table, re-classed so its merges are timed (and their
    results kept) from the benchmark's side. The table is built by the
    engine's own factory; only the class changes."""
    from tv_event_streaming_spark.streaming.storage import KeyedTable  # noqa: PLC0415

    class MeteredTable(KeyedTable):
        def upsert(self, batch, *args, **kwargs):
            # runs in the foreachBatch callback thread: the span's job
            # group tags the jobs this MERGE submits
            with self.tracer.span(f"streaming.storage.upsert_{self.label}", group=True):
                out = super().upsert(batch, *args, **kwargs)
            self.merges.append(out)
            return out

        def update_fields(self, updates, fields):
            with self.tracer.span("streaming.storage.update_fields", group=True):
                out = super().update_fields(updates, fields)
            self.merges.append(out)
            return out

        def read(self):
            with self.tracer.span("streaming.storage.read"):
                return super().read()

    table.__class__ = MeteredTable
    table.tracer, table.label, table.merges = tracer, label, []
    return table


class Twin:
    """DuckDB twin of the titles, details and preferences the cascade reads."""

    def __init__(self, tables_dir: str) -> None:
        from tv_event_streaming_spark.domain import with_domain  # noqa: PLC0415

        con = gen.duck(tables_dir)
        self.titles = {
            r[0]: r[1:]
            for r in con.execute(with_domain("SELECT title_id, title, CAST(year AS INTEGER), type FROM titles")).fetchall()
        }
        self.details = {
            r[0]: r[1:]
            for r in con.execute(
                with_domain(
                    "SELECT title_id, coalesce(plot_overview, 'N/A'), coalesce(poster, 'N/A'), "
                    "coalesce(CAST(user_rating AS DOUBLE), 0.0) FROM details"
                )
            ).fetchall()
        }
        self.prefs: dict[str, list[tuple[str, str]]] = {}
        for uid, kind, pid in con.execute(with_domain("SELECT user_id, kind, pref_id FROM user_prefs")).fetchall():
            self.prefs.setdefault(uid, []).append((kind, pid))

    def arrays(self, users) -> tuple[tuple, tuple]:
        s = {p for u in users for k, p in self.prefs.get(u, ()) if k == "source"}
        g = {p for u in users for k, p in self.prefs.get(u, ()) if k == "genre"}
        return tuple(sorted(s)), tuple(sorted(g))

    def record(self, t: int, arrays, enriched: bool) -> tuple:
        title, year, typ = self.titles[t]
        extra = self.details[t] if enriched and t in self.details else (None, None, None)
        return (t, title, year, f"tt{t}", 2 * t, "tv", typ, arrays[0], arrays[1], *extra)


def plan_rounds(seed: int, ids: list[int], users: list[str], n_rounds: int):
    """(new ids, repeated ids, active users) per round."""
    rng = np.random.default_rng([seed, 23])
    rounds, seen, pos = [], [], 0
    n_rep = int(K_TITLES * REPEAT_SHARE)
    for r in range(n_rounds):
        rep = sorted(int(x) for x in rng.choice(seen, size=n_rep, replace=False)) if r else []
        new = ids[pos : pos + K_TITLES - len(rep)]
        pos += len(new)
        seen += new
        active = sorted(str(u) for u in rng.choice(users, size=N_ACTIVE_USERS, replace=False))
        rounds.append((new, rep, active))
    return rounds


class Cascade:
    """One set of tables, bus and checkpoints, driven round by round."""

    def __init__(self, ctx, domain, lookup, root: str) -> None:
        from tv_event_streaming_spark.streaming.consumer import index_table, titles_table  # noqa: PLC0415

        self.ctx, self.d, self.lookup, self.root = ctx, domain, lookup, root
        self.titles = metered(titles_table(ctx.spark, os.path.join(root, "titles")), ctx.tracer, "titles")
        self.index = metered(index_table(ctx.spark, os.path.join(root, "index")), ctx.tracer, "index")

    def round(self, r: int, ids: list[int], users: list[str]):
        """One round; returns (latency s, read-back rows, consumer and
        enrichment progress)."""
        from pyspark.sql import functions as F  # noqa: PLC0415
        from tv_event_streaming_spark.operators.titles import titles_by_ids  # noqa: PLC0415
        from tv_event_streaming_spark.streaming.consumer import start_consumer  # noqa: PLC0415
        from tv_event_streaming_spark.streaming.enrichment import start_enrichment  # noqa: PLC0415
        from tv_event_streaming_spark.streaming.producer import build_title_events, publish  # noqa: PLC0415

        spark, tr, p = self.ctx.spark, self.ctx.tracer, self.root
        stamp = time.perf_counter()
        with tr.span("round", op=r):
            with tr.span("streaming.producer.publish", group=True):
                prefs = self.d["user_prefs"].filter(F.col("user_id").isin(users))
                events = build_title_events(prefs, self.lookup.filter(F.col("id").isin(ids)), fetch_limit=len(ids))
                publish(events, os.path.join(p, "bus"))
            with tr.span("streaming.consumer.drain"):
                q = start_consumer(spark, os.path.join(p, "bus"), self.titles, self.index, os.path.join(p, "ckpt_c"))
                q.awaitTermination()
            with tr.span("streaming.enrichment.drain"):
                q2 = start_enrichment(spark, self.titles, self.d["details"], os.path.join(p, "ckpt_e"))
                q2.awaitTermination()
            with tr.span("operators.titles.readback", group=True):
                key = spark.createDataFrame([(i,) for i in ids], "title_id long")
                rows = titles_by_ids(self.titles.read(), key).collect()
        latency = time.perf_counter() - stamp
        return latency, rows, _durations(q), _durations(q2)


def _durations(q) -> dict[str, float]:
    """Summed ``durationMs`` over a drained query's progress reports."""
    out: dict[str, float] = {}
    for prog in q.recentProgress:
        d = prog.durationMs if hasattr(prog, "durationMs") else prog["durationMs"]
        for k, v in d.items():
            out[k] = out.get(k, 0.0) + v
    return out


def _as_tuple(row) -> tuple:
    return tuple(tuple(v) if isinstance(v, list) else v for v in row)


def _merge_stats(table) -> tuple[list[int], int, int]:
    """Buckets touched per merge, rows rewritten and rows changed, from
    the table's version manifests and its data files' parquet footers."""

    def manifest(v):
        if v < 0:
            return {}
        with open(os.path.join(table.path, "_manifests", f"v={v}.json")) as fh:
            return json.load(fh)

    touched, rewritten, changed = [], 0, 0
    for out in table.merges:
        n = out.get("inserts", 0) + out.get("modifies", 0)
        if not n:
            continue
        v = out["version"]
        before, after = manifest(v - 1), manifest(v)
        touched.append(sum(1 for b in set(before) | set(after) if before.get(b) != after.get(b)))
        vdir = os.path.join(table.path, "data", f"v={v}")
        rewritten += sum(
            pq.read_metadata(os.path.join(root, f)).num_rows
            for root, _, fs in os.walk(vdir)
            for f in fs
            if f.endswith(".parquet")
        )
        changed += n
    return touched, rewritten, changed


def run(ctx) -> dict:
    from pyspark.sql import functions as F  # noqa: PLC0415
    from tv_event_streaming_spark.domain import derive_domain  # noqa: PLC0415

    tables = ctx.path("tables")

    def prepare():
        gen.write_tables(tables, ctx.seed, scale=0.02 if ctx.tiny else 1.0)
        return Twin(tables)

    twin = ctx.overlap_with_session(prepare)
    spark, tr = ctx.spark, ctx.tracer
    t = time.perf_counter()
    d = derive_domain(spark, tables)
    derive_ms = 1000.0 * (time.perf_counter() - t)
    ctx.phase("derive_domain")
    lookup = d["titles"].select(
        F.col("title_id").alias("id"),
        "title",
        F.col("year").cast("int").alias("year"),
        F.concat(F.lit("tt"), F.col("title_id").cast("string")).alias("imdb_id"),
        (F.col("title_id") * 2).alias("tmdb_id"),
        F.lit("tv").alias("tmdb_type"),
        "type",
    )

    rng = np.random.default_rng([ctx.seed, 5])
    ids = [int(x) for x in rng.permutation(sorted(twin.titles))]
    users = sorted(twin.prefs)
    # the warm-up rounds run every path; the timed rounds follow on the same
    # tables, re-publishing some of their titles
    n_timed = max(1, round(ctx.seconds / ROUND_S))
    rounds = plan_rounds(ctx.seed, ids, users, WARM_ROUNDS + n_timed)
    cas = Cascade(ctx, d, lookup, ctx.path("cascade"))
    model: dict[int, tuple] = {}
    expect_index: set[tuple] = set()
    latencies, ok, round_bytes, round_files = [], [], [], []
    cons, enr = [], []
    t_begin = 0.0
    for r, (new, rep, active) in enumerate(rounds):
        if r == WARM_ROUNDS:
            tr.reset()
            cas.titles.merges.clear()
            cas.index.merges.clear()
            ctx.phase("warm_up")
            ctx.start_timing()
            t_begin = time.perf_counter()
        n_merges = len(cas.titles.merges)
        before = _table_files(cas) if ctx.trace else None
        lat, rows, dc, de = cas.round(r, new + rep, active)
        arrays = twin.arrays(active)
        for t in new:
            model[t] = twin.record(t, arrays, enriched=True)
        for t in rep:
            model[t] = twin.record(t, arrays, enriched=False)
        expect_index |= {(s, g, t) for t in new + rep for s in arrays[0] for g in arrays[1]}
        inserts = sum(m.get("inserts", 0) for m in cas.titles.merges[n_merges:])
        got = sorted(_as_tuple(row) for row in rows)
        ok.append(got == sorted(model[t] for t in new + rep) and inserts == len(new))
        if r < WARM_ROUNDS:
            continue
        latencies.append(1000.0 * lat)
        cons.append(dc)
        enr.append(de)
        if ctx.trace:
            after = _table_files(cas)
            round_bytes.append(after[0] - before[0])
            round_files.append(after[1] - before[1])
    wall_s = time.perf_counter() - t_begin

    final_titles = {_as_tuple(r) for r in cas.titles.read().collect()}
    final_index = {tuple(r) for r in cas.index.read().collect()}
    final_ok = final_titles == set(model.values()) and final_index == expect_index
    disk_t, live_t = keyed_table_bytes(cas.titles)
    disk_i, live_i = keyed_table_bytes(cas.index)
    landed = sum(len(new) + len(rep) for (new, rep, _), good in zip(rounds[WARM_ROUNDS:], ok[WARM_ROUNDS:]) if good)
    e2e = {
        "latency_p50_ms": percentile(latencies, 50),
        "latency_p95_ms": percentile(latencies, 95),
        "ops_per_s": landed / wall_s,
        "wall_s": wall_s,
        "space_amp": (disk_t + disk_i) / (live_t + live_i),
    }
    layers = {"session.start_ms": ctx.session_ms, "domain.derive_ms": derive_ms}
    if ctx.trace:
        sc = spark.sparkContext
        merge_groups = [
            g
            for n in ("streaming.storage.upsert_titles", "streaming.storage.upsert_index", "streaming.storage.update_fields")
            for g in tr.groups(n)
        ]
        touched, rewritten, changed = [], 0, 0
        for table in (cas.titles, cas.index):
            tt, rw, ch = _merge_stats(table)
            touched += tt
            rewritten += rw
            changed += ch
        trig = [c.get("triggerExecution", 0.0) for c in cons]
        addb = [c.get("addBatch", 0.0) for c in cons]
        layers.update(
            {
                "streaming.producer.publish_ms": median(tr.durations_ms("streaming.producer.publish")),
                "streaming.consumer.trigger_ms": median(trig),
                "streaming.consumer.addbatch_ms": median(addb),
                "streaming.consumer.machinery_ms": median([a - b for a, b in zip(trig, addb)]),
                "streaming.storage.upsert_titles_ms": median(tr.durations_ms("streaming.storage.upsert_titles")),
                "streaming.storage.upsert_index_ms": median(tr.durations_ms("streaming.storage.upsert_index")),
                "streaming.storage.update_fields_ms": median(tr.durations_ms("streaming.storage.update_fields")),
                "streaming.storage.jobs_per_merge": mean([group_counts(sc, g)["jobs"] for g in merge_groups]),
                "streaming.storage.buckets_touched_per_merge": mean(touched),
                "streaming.storage.rows_rewritten_per_row_changed": rewritten / changed if changed else 0.0,
                "streaming.storage.bytes_written_per_round": median(round_bytes),
                "streaming.storage.files_written_per_round": median(round_files),
                "streaming.enrichment.trigger_ms": median([e.get("triggerExecution", 0.0) for e in enr]),
                "operators.titles.readback_ms": median(tr.durations_ms("operators.titles.readback")),
                "streaming.storage.read_ms": median(tr.durations_ms("streaming.storage.read")),
            }
        )
    n_rep = sum(len(rep) for _, rep, _ in rounds[WARM_ROUNDS:])
    return {
        "e2e": e2e,
        "layers": layers,
        "op_s": wall_s,
        "attempted": n_timed,
        "failed": ok[WARM_ROUNDS:].count(False),
        "correct": all(ok) and final_ok,
        "props": {
            "timed_rounds": n_timed,
            "latency_samples": len(latencies),
            "latencies_ms": latencies,
            "repeat_share": n_rep / sum(len(n) + len(r) for n, r, _ in rounds[WARM_ROUNDS:]),
            "index_rows_per_title": len(expect_index) / max(1, len(model)),
            "titles_rows": len(final_titles),
            "index_rows": len(final_index),
            "final_state_ok": final_ok,
        },
    }


def _table_files(cas) -> tuple[int, int]:
    a = dir_bytes(cas.titles.path)
    b = dir_bytes(cas.index.path)
    return a[0] + b[0], a[1] + b[1]
