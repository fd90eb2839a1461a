"""Seeded input generation for every workload.

The engine reads its tables from a directory of parquet files
(``domain.load_table``), so the benchmark writes one such directory per
run. Sizes and value distributions mirror the sf0.1 synthetic tables the
engine is developed against; every value derives from ``--seed``, so
one seed always gives the same inputs.

- Domain tables (``supplier``, ``nation``, ``part``, ``customer``, plus
  ``region``) are written at sf0.1 row counts: ``derive_domain`` turns
  them into sources, genres, titles, the source x genre index and user
  preferences.
- ``documents`` and ``embeddings`` mirror ``tools/gen_scale_corpus.py``:
  10-100 words drawn uniformly from the sf0.1 word list, lang/source from
  the sf0.1 sets, 64-dim unit-normalised Gaussian vectors, labels 0-9.
  A planted share of rows are near-duplicates of earlier rows (a few
  words replaced / a small perturbation), so the dedup operators have
  real work to find.
- ``orders``, ``lineitem`` and ``events`` are read by no benchmarked
  operator; they are written with their schema at token size only
  because ``derive_domain`` opens every table of the set.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the domain tables
N_SUPPLIERS = 1000
N_NATIONS = 25
N_PARTS = 20000
N_CUSTOMERS = 15000

# sf0.1 corpus sizes
N_DOCS = 5000
N_VECS = 2000
DIMS = 64

# the sf0.1 documents vocabulary, lang and source sets
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]  # en is ~40 % at sf0.1
SOURCES = [f"src{i}" for i in range(20)]

_ADJ = "blue cold hot large old red small tall warm wide".split()
_NOUN = "bolt gear nut plate ring rod screw spring valve wheel".split()
_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
_SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(out_dir: str, name: str, table: pa.Table, row_group: int | None = None) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=row_group)


def corpus(rng: np.random.Generator, n_docs: int, n_vecs: int, dup_share: float) -> tuple[pa.Table, pa.Table, dict]:
    """Documents and embeddings with a planted near-duplicate share."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, size=n_docs)
    words = [rng.choice(vocab, size=int(n)) for n in lengths]
    n_dup_docs = int(n_docs * dup_share)
    for i in rng.choice(np.arange(1, n_docs), size=n_dup_docs, replace=False):
        src = words[int(rng.integers(0, i))].copy()
        k = max(1, len(src) // 20)  # replace ~5 % of the words
        src[rng.integers(0, len(src), size=k)] = rng.choice(vocab, size=k)
        words[i] = src
    texts = [" ".join(w.tolist()) for w in words]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n_docs).tolist(), pa.string()),
            "source": pa.array(rng.choice(SOURCES, size=n_docs).tolist(), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_vecs, DIMS))
    n_dup_vecs = int(n_vecs * dup_share)
    for i in rng.choice(np.arange(1, n_vecs), size=n_dup_vecs, replace=False):
        vecs[i] = vecs[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(DIMS)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, (n_vecs + 1) * DIMS, DIMS, dtype=np.int32))
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(vecs.reshape(-1))),
            "label": pa.array(rng.integers(0, 10, size=n_vecs), pa.int32()),
        }
    )
    props = {
        "n_docs": n_docs,
        "n_vecs": n_vecs,
        "neardup_docs_share": n_dup_docs / n_docs,
        "neardup_vecs_share": n_dup_vecs / n_vecs,
    }
    return docs, emb, props


def _stubs(rng: np.random.Generator, n: int) -> dict[str, pa.Table]:
    """Token-size orders/lineitem/events with the sf0.1 schemas."""
    day = np.datetime64("1995-01-01T00:00:00", "us")
    ts = day + rng.integers(0, 3 * 365 * 86400 * 10**6, size=n).astype("timedelta64[us]")
    ids = np.arange(n)
    return {
        "orders": pa.table(
            {
                "o_orderkey": pa.array(ids, pa.int64()),
                "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, size=n), pa.int64()),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n).tolist()),
                "o_totalprice": pa.array(np.round(rng.uniform(900, 400000, size=n), 2)),
                "o_orderdate": pa.array(ts),
                "o_orderpriority": pa.array(rng.choice(["1-URGENT", "5-LOW"], size=n).tolist()),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(ids, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, N_PARTS, size=n), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, size=n), pa.int64()),
                "l_linenumber": pa.array(np.ones(n, np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(float)),
                "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, size=n), 2)),
                "l_discount": pa.array(np.round(rng.uniform(0, 0.1, size=n), 2)),
                "l_tax": pa.array(np.round(rng.uniform(0, 0.08, size=n), 2)),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n).tolist()),
                "l_linestatus": pa.array(rng.choice(["F", "O"], size=n).tolist()),
                "l_shipdate": pa.array(ts),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(ts),
                "user_id": pa.array(rng.integers(0, 2000, size=n), pa.int64()),
                "event_type": pa.array(rng.choice(["view", "click", "error"], size=n).tolist()),
                "value": pa.array(np.round(rng.uniform(0, 200, size=n), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
            }
        ),
    }


def write_tables(
    out_dir: str,
    seed: int,
    n_docs: int = 200,
    n_vecs: int = 100,
    dup_share: float = 0.1,
    scale: float = 1.0,
) -> dict:
    """Write the ten tables ``derive_domain`` opens into ``out_dir``.

    ``scale`` shrinks the domain tables (the self-test runs at a small
    fraction of sf0.1); the corpus sizes are given directly. Returns the
    measured corpus properties."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_sup = max(4, int(N_SUPPLIERS * scale))
    n_part = max(50, int(N_PARTS * scale))
    n_cust = max(50, int(N_CUSTOMERS * scale))
    _write(out_dir, "region", pa.table({"r_regionkey": pa.array(np.arange(5), pa.int32()), "r_name": _REGIONS}))
    _write(
        out_dir,
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(N_NATIONS), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
                "n_regionkey": pa.array(np.arange(N_NATIONS) % 5, pa.int32()),
            }
        ),
    )
    _write(
        out_dir,
        "supplier",
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_sup), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
                "s_nationkey": pa.array(rng.integers(0, N_NATIONS, size=n_sup), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999, 9999, size=n_sup), 2),
            }
        ),
    )
    names = [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, size=n_part), rng.choice(_NOUN, size=n_part))]
    _write(
        out_dir,
        "part",
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": names,
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
                "p_type": rng.choice(_TYPES, size=n_part).tolist(),
                "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
    )
    _write(
        out_dir,
        "customer",
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, N_NATIONS, size=n_cust), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999, 9999, size=n_cust), 2),
                "c_mktsegment": rng.choice(_SEGMENTS, size=n_cust).tolist(),
            }
        ),
    )
    for name, table in _stubs(rng, 1000).items():
        _write(out_dir, name, table)
    docs, emb, props = corpus(rng, n_docs, n_vecs, dup_share)
    # bounded row groups so a scan splits into several tasks
    _write(out_dir, "documents", docs, row_group=max(256, n_docs // 8))
    _write(out_dir, "embeddings", emb, row_group=max(128, n_vecs // 8))
    return props


def duck(tables_dir: str, threads: int | None = None) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of ``tables_dir``."""
    from tv_event_streaming_spark.domain import TABLES  # noqa: PLC0415

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    if threads:
        con.execute(f"SET threads={threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    return con
