"""``curate``: the batch curation entries over a seeded corpus.

Setup writes two corpora from the seed: a small warm-up corpus and the
timed one (sf0.1 sizes: 5 000 documents, 2 000 vectors, a planted
near-duplicate share). The warm-up pass builds and collects every entry
on the small corpus and checks each result against its DuckDB oracle
(row count, column names and an order-insensitive value hash, as the
catalog tests do); the oracles run in a thread while Spark warms up. The
timed passes then send each entry, in a fixed order, to the noop sink,
with ``spark.catalog.clearCache()`` before each entry so no entry reads
another's cached frames. ``wall_s`` is the median pass time.
"""

from __future__ import annotations

import datetime
import hashlib
import threading
import time

import gen
from harness import group_counts, median, percentile
from metrics import CURATE_ENTRIES

WARM_DOCS, WARM_VECS = 16, 64  # the near-dup pipeline's oracle costs ~0.75 s per document


def _canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows) -> tuple[int, list[str], str]:
    """(rows, sorted column names, order-insensitive hash of the values)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows):
        h.update(line.encode() + b"\n")
    return len(rows), sorted(cols), h.hexdigest()


def oracle_hashes(tables_dir: str) -> dict[str, tuple]:
    from tv_event_streaming_spark.plans import CATALOG  # noqa: PLC0415

    con = gen.duck(tables_dir, threads=1)  # leave the cores to the Spark warm-up
    out = {}
    for e in CURATE_ENTRIES:
        cur = con.execute(CATALOG[e].oracle)
        out[e] = value_hash([d[0] for d in cur.description], cur.fetchall())
    return out


def run(ctx) -> dict:
    from tv_event_streaming_spark.plans import CATALOG  # noqa: PLC0415

    warm_dir, timed_dir = ctx.path("warm"), ctx.path("tables")
    n_docs, n_vecs = (400, 160) if ctx.tiny else (gen.N_DOCS, gen.N_VECS)

    def prepare():
        gen.write_tables(warm_dir, ctx.seed + 1_000_003, n_docs=WARM_DOCS, n_vecs=WARM_VECS, scale=0.02)
        return gen.write_tables(timed_dir, ctx.seed, n_docs=n_docs, n_vecs=n_vecs, scale=0.02)

    props = ctx.overlap_with_session(prepare)
    spark, tr = ctx.spark, ctx.tracer

    oracle: dict = {}
    oracle_thread = threading.Thread(target=lambda: oracle.update(oracle_hashes(warm_dir)), name="oracle")
    oracle_thread.start()
    got = {}
    for e in CURATE_ENTRIES:
        spark.catalog.clearCache()
        df = CATALOG[e].build(spark, warm_dir)
        got[e] = value_hash(df.columns, df.collect())
    oracle_thread.join()
    ctx.phase("warm_up_and_oracle")
    ok = {e: got[e] == oracle.get(e) for e in CURATE_ENTRIES}

    ctx.start_timing()
    passes, entry_ms = [], {e: [] for e in CURATE_ENTRIES}
    t_begin = time.perf_counter()
    while not passes or time.perf_counter() - t_begin < ctx.seconds:
        t_pass = time.perf_counter()
        for e in CURATE_ENTRIES:
            spark.catalog.clearCache()
            t = time.perf_counter()
            with tr.span(f"plans.{e}", op=len(passes), group=True):
                with tr.span(f"plans.{e}.build"):
                    df = CATALOG[e].build(spark, timed_dir)
                with tr.span(f"plans.{e}.exec"):
                    df.write.format("noop").mode("overwrite").save()
            entry_ms[e].append(1000.0 * (time.perf_counter() - t))
        passes.append(time.perf_counter() - t_pass)
    wall = time.perf_counter() - t_begin

    lat = [ms for e in CURATE_ENTRIES for ms in entry_ms[e]]
    e2e = {
        "latency_p50_ms": percentile(lat, 50),
        "latency_p95_ms": percentile(lat, 95),
        "ops_per_s": len(lat) / wall,
        "wall_s": median(passes),
        # inputs are written once and nothing is versioned: on-disk bytes
        # equal the live bytes
        "space_amp": 1.0,
    }
    layers = {"session.start_ms": ctx.session_ms}
    if ctx.trace:
        sc = spark.sparkContext
        for e in CURATE_ENTRIES:
            groups = tr.groups(f"plans.{e}")
            counts = [group_counts(sc, g) for g in groups]
            n = len(groups)
            layers.update(
                {
                    f"plans.{e}.build_ms": median(tr.durations_ms(f"plans.{e}.build")),
                    f"plans.{e}.exec_ms": median(tr.durations_ms(f"plans.{e}.exec")),
                    f"plans.{e}.jobs": sum(c["jobs"] for c in counts) / n,
                    f"plans.{e}.stages": sum(c["stages"] for c in counts) / n,
                    f"plans.{e}.tasks": sum(c["tasks"] for c in counts) / n,
                }
            )
            ctx.log_groups[f"plans.{e}"] = groups
    return {
        "e2e": e2e,
        "layers": layers,
        "passes": len(passes),
        "op_s": wall,
        "attempted": len(lat) + len(CURATE_ENTRIES),
        "failed": list(ok.values()).count(False),
        "correct": all(ok.values()),
        "props": {
            **props,
            "passes": len(passes),
            "entry_ms": entry_ms,
            "oracle_ok": ok,
            "warm_corpus": {"n_docs": WARM_DOCS, "n_vecs": WARM_VECS},
        },
    }
