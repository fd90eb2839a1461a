"""Differential fuzzing: random event tables through (Spark plan,
DuckDB oracle) pairs.

The fixed testdata corpus exercises each entry on ONE distribution;
these tests regenerate the events table with adversarial structure —
duplicate timestamps (tie-breaks!), null values, single-user tables,
gaps exactly at session/burst thresholds, day-boundary straddles — and
require the hash-level agreement the driver checks, on EVERY generated
table. A data-dependent divergence (a tie broken differently, a null
accumulated differently) fails here before the driver ever sees it.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from tv_event_streaming_spark.operators.analytics import EVENT_TYPES
from tv_event_streaming_spark.plans import CATALOG

from .oracle import canonicalize

# per-test example count; a deep sweep (FUZZ_EXAMPLES=25) runs in CI
# spirit before round close, the default keeps the suite fast
import os

_EXAMPLES = int(os.environ.get("FUZZ_EXAMPLES", "4"))


def _assert_entry_matches(spark, con, name, sf_dir):
    """One entry's (Spark plan, DuckDB oracle) pair on the generated
    tables registered in ``con`` — the driver's columns/rows/values
    comparison, shared by every fuzz family."""
    entry = CATALOG[name]
    spark_pdf = entry.build(spark, sf_dir).toPandas()
    duck_pdf = con.execute(entry.oracle).fetchdf()
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), name
    assert len(spark_pdf) == len(duck_pdf), (
        name,
        len(spark_pdf),
        len(duck_pdf),
    )
    a, b = canonicalize(spark_pdf), canonicalize(duck_pdf)
    assert a == b, (
        name,
        [(x, y) for x, y in zip(a, b) if x != y][:3],
    )

# events-only entries, cheap enough to fuzz (no iterative/persisting
# builders); every one reads ONLY the events table
FUZZ_ENTRIES = [
    "hourly_metrics",
    "latest_event_per_user",
    "tail_events",
    "user_sessions",
    "user_retention",
    "zorder_stats",
    "rolling_event_value",
    "daily_event_pivot",
    "daily_event_unpivot",
    "sliding_metrics_batch",
    "error_bursts_batch",
    "running_totals_batch",
    "session_metrics_batch",
    "user_value_deciles",
    "value_percentiles",
    "funnel_stages",
    # the scalar-function surface (json/interval/coalesce twins), the
    # bounded range join, and the sketch-based profiler are all
    # events-only readers too
    "scalar_functions",
    "events_error_context",
    "table_profile",
]

_BASE = datetime.datetime(2024, 1, 1)

# timestamps cluster around thresholds: same-instant duplicates, 30min
# session gaps, 72h burst gaps, midnight boundaries
_ts = st.one_of(
    st.integers(0, 120).map(lambda m: _BASE + datetime.timedelta(minutes=m)),
    st.sampled_from(
        [
            _BASE,
            _BASE + datetime.timedelta(minutes=30),
            _BASE + datetime.timedelta(minutes=30, microseconds=1),
            _BASE + datetime.timedelta(hours=23, minutes=59, seconds=59),
            _BASE + datetime.timedelta(days=1),
            _BASE + datetime.timedelta(days=3),
            _BASE + datetime.timedelta(days=3, microseconds=1),
        ]
    ),
)

# props contract: VALID json, `k` numeric or null/absent (DuckDB's
# json_extract_string RAISES on malformed json and on CAST of a
# non-numeric extraction, where Spark's get_json_object yields NULL —
# malformed props is outside the column's contract, like the corpus)
_props = st.one_of(
    st.just("{}"),
    st.just("[1, 2]"),
    st.just('{"k": null}'),
    st.just('{"other": "x"}'),
    st.integers(-5, 10**15).map(lambda n: '{"k": %d}' % n),
)

_row = st.tuples(
    _ts,
    st.integers(0, 3),  # few users => dense per-user sequences
    st.sampled_from(EVENT_TYPES),
    st.one_of(st.none(), st.floats(-100, 100, allow_nan=False, width=32)),
    _props,
)


def _write_events(rows, tmpdir) -> str:
    table = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array(
                [None if r[3] is None else float(r[3]) for r in rows],
                pa.float64(),
            ),
            "props": pa.array([r[4] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, f"{tmpdir}/events.parquet")
    return str(tmpdir)


@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_row, min_size=0, max_size=60))
@example(rows=[])  # the empty-stream case runs on EVERY sweep: all
# twins must agree with their oracle on a zero-row events table
def test_entries_match_oracle_on_random_events(spark, tmp_path_factory, rows):
    import duckdb  # noqa: PLC0415

    sf_dir = _write_events(rows, tmp_path_factory.mktemp("fuzz"))
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
        )
        for name in FUZZ_ENTRIES:
            _assert_entry_matches(spark, con, name, sf_dir)
    finally:
        con.close()


@pytest.mark.parametrize("name", FUZZ_ENTRIES)
def test_fuzz_entries_read_only_events(name):
    """The fuzz harness registers ONLY the events view — pin that the
    fuzzed entries' oracles reference no other table (a new join would
    silently break the fuzz coverage, not the entry)."""
    sql = CATALOG[name].oracle.lower()
    for other in (
        "documents",
        "embeddings",
        "lineitem",
        "orders",
        "customer",
        "supplier",
        "part ",
        "nation",
        "region",
    ):
        assert other not in sql, (name, other)


# documents-only entries cheap enough to fuzz: map-side or 1-2 shuffle
# text analytics whose oracles embed regex/tokenizer twins — exactly
# where cross-engine dialect divergence would hide
DOC_FUZZ_ENTRIES = [
    "dedup_exact",
    "text_quality",
    "lang_id",
    "token_counts",
    "fingerprints",
    "doc_splits",
    "quality_filter",
    "repetition_metrics",
    "doc_chunks",
    "char_stats",
    "curation_report",
    "vocab_coverage",
    "token_fluency",
]

_words = st.lists(
    st.sampled_from(
        "the a of and to in is was for on it data model spark duck "
        "aaa zzz e x 42 777 2024".split()
    ),
    min_size=0,
    max_size=30,
).map(" ".join)

_text_doc = st.one_of(
    _words,
    # degenerate shapes: repeated lines, punctuation storms, unicode,
    # empty and single-char docs
    _words.map(lambda w: (w + "\n") * 3),
    st.sampled_from(
        [
            "",
            " ",
            "\n\n\n",
            "!!! ??? ;;; :::",
            "x",
            "the the the the the the",
            "Grüße aus München — naïve façade 北京 🚀",
            "a\tb\tc\td",
            "line one\nline one\nline two\nline one",
        ]
    ),
)

_doc_row = st.tuples(
    _text_doc,
    st.sampled_from(["en", "de", "xx"]),
    st.sampled_from(["web", "books", "code"]),
)


def _write_documents(rows, tmpdir) -> str:
    texts = [r[0] for r in rows]
    table = pa.table(
        {
            "doc_id": pa.array(range(len(rows)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([r[1] for r in rows], pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, f"{tmpdir}/documents.parquet")
    return str(tmpdir)


@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_doc_row, min_size=1, max_size=25))
def test_text_entries_match_oracle_on_random_documents(
    spark, tmp_path_factory, rows
):
    import duckdb  # noqa: PLC0415

    sf_dir = _write_documents(rows, tmp_path_factory.mktemp("docfuzz"))
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        for name in DOC_FUZZ_ENTRIES:
            _assert_entry_matches(spark, con, name, sf_dir)
    finally:
        con.close()


# embeddings-based entries cheap enough to fuzz; all need seed ids
# 0..15 present and 64-dim vectors (the PQ/ANN oracles encode the
# corpus dimensionality — 8x8 subspaces — as literals, like the real
# table). SEEDS are nonzero-norm (the documented contract: seed
# vectors must be rankable); the tail injects all-zero and
# sub-quantization-grid vectors, which cosine entries must EXCLUDE
# identically on both engines (similarity.nonzero_norm) and pq_encode
# must still encode.
EMB_FUZZ_ENTRIES = [
    "ann_cosine_topk",
    "kmeans_update",
    "pq_encode",
    # the OPQ permutation: per-dim variance TIES (sampled components
    # repeat values across dims) must break identically on both
    # engines (Python arbitrary-precision vs DuckDB HUGEINT, dim ASC)
    "opq_map",
    "ann_pq_opq",
]

_component = st.one_of(
    st.floats(-2.0, 2.0, allow_nan=False, width=32),
    # quantization-floor edges: values straddling the 1e-6 grid and
    # exact negatives (floor(-x*1e6) != -floor(x*1e6))
    st.sampled_from(
        [0.5, -0.5, 1e-6, -1e-6, 4.9999e-7, -4.9999e-7, 0.1, -0.1, 1.0]
    ),
)

_vec = st.lists(_component, min_size=64, max_size=64).filter(
    lambda v: any(abs(x) >= 1e-3 for x in v)
)


@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    # data_too_large: corpus-shaped examples ARE large (>=16 vectors x
    # 64 float32) — that is the contract, not a generation smell
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
        HealthCheck.data_too_large,
    ],
)
@given(
    vecs=st.lists(_vec, min_size=16, max_size=20),
    dup_of=st.integers(0, 15),
    n_zero=st.integers(0, 3),
)
def test_similarity_entries_match_oracle_on_random_vectors(
    spark, tmp_path_factory, vecs, dup_of, n_zero
):
    import duckdb  # noqa: PLC0415

    # plant an exact duplicate of one seed vector (guaranteed cosine
    # ties; tie-breaks must agree cross-engine), then unrankable
    # vectors: all-zero and below the 1e-6 quantization grid — both
    # must be EXCLUDED from cosine results by the exact quantized-norm
    # filter on both engines
    vecs = list(vecs) + [list(vecs[dup_of])]
    for i in range(n_zero):
        vecs.append([0.0] * 64 if i % 2 == 0 else [4.9e-7] * 64)
    tmpdir = tmp_path_factory.mktemp("embfuzz")
    table = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in v] for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(table, f"{tmpdir}/embeddings.parquet")
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmpdir}/embeddings.parquet')"
        )
        for name in EMB_FUZZ_ENTRIES:
            _assert_entry_matches(spark, con, name, str(tmpdir))
            spark.catalog.clearCache()
    finally:
        con.close()


@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
        HealthCheck.data_too_large,
    ],
)
@given(
    vecs=st.lists(_vec, min_size=16, max_size=20),
    dup_of=st.integers(0, 15),
    n_zero=st.integers(0, 3),
    n_centroids=st.sampled_from([5, 7, 16]),
)
def test_seed_cell_assignment_paths_agree_on_random_vectors(
    spark, tmp_path_factory, vecs, dup_of, n_zero, n_centroids
):
    """Kernel-vs-DuckDB fuzz: the Arrow cell assignment must equal the
    oracles' ranked CTE at rn = 1 on every (vec_id, cell), and the
    driver-side probe order must equal its ``rn <= nprobe`` — including
    a planted duplicate centroid (score ties → lowest centroid id) and
    sub-quantization-grid vectors (excluded by nonzero_norm on both
    engines). Probes beyond the real-corpus pins in test_similarity.py."""
    import duckdb  # noqa: PLC0415

    from tv_event_streaming_spark.operators import similarity as S  # noqa: PLC0415

    from .oracle import duckdb_cell_ranks  # noqa: PLC0415

    # the last seed duplicates an earlier one: every vector ties on them
    vecs = list(vecs)
    vecs[n_centroids - 1] = list(vecs[dup_of % (n_centroids - 1)])
    vecs.append(list(vecs[dup_of]))
    for i in range(n_zero):
        vecs.append([0.0] * 64 if i % 2 == 0 else [4.9e-7] * 64)
    path = f"{tmp_path_factory.mktemp('assignfuzz')}/embeddings.parquet"
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(
                    [[float(x) for x in v] for v in vecs], pa.list_(pa.float32())
                ),
            }
        ),
        path,
    )
    emb = spark.read.parquet(path)
    nprobe = 4
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
        want = duckdb_cell_ranks(con, n_centroids, nprobe)
    finally:
        con.close()
    got = {
        (r[0], r[1])
        for r in S._seed_cell_assignment(emb, n_centroids, "vec_id", "embedding")
        .select("vec_id", "cell")
        .collect()
    }
    assert got == {(v, cs[0]) for v, cs in want.items()} and len(got) > 0
    nz = S.nonzero_norm(emb)
    kernel = S._centroid_kernel(S._seed_rows(nz, n_centroids, "vec_id", "embedding"))
    rows = nz.select("vec_id", "embedding").collect()
    probes = S._probe_cells(kernel, [r[1] for r in rows], nprobe)
    assert {r[0]: p for r, p in zip(rows, probes)} == want


# second embeddings tier: the index-backed retrieval entries. Their
# oracles embed the corpus layout as literals — centroid seeds are ids
# 0..15, the residual codebook seeds ids 16..31 (disjoint: a
# centroid's own residual is identically zero), queries ids 0..4 — so
# this tier needs >= 32 generated (nonzero-norm) vectors before the
# duplicate/zero tail. Covers every embeddings-only catalog entry not
# in EMB_FUZZ_ENTRIES; knn_pagerank exercises the checkpointed
# fixed-point loop per example (~3 s, priced in).
EMB_FUZZ_ENTRIES_2 = [
    "ann_cosine_ivf",
    "ann_cosine_lsh",
    "ann_cosine_lsh_multiprobe",
    "ann_ivfpq_residual",
    "ann_pq_adc",
    "ann_pq_rerank",
    "ann_recall_eval",
    "embedding_neardup_topk",
    "knn_graph",
    "knn_pagerank",
    "semantic_dedup",
]


@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
        HealthCheck.data_too_large,
    ],
)
@given(
    # 32 fully-drawn vectors overflow hypothesis' generation buffer
    # (999/1000 examples abort), so the seed corpus comes from a DRAWN
    # PRNG seed; adversarial structure is injected via fully-drawn
    # extra vectors, targeted component edits (quantization-grid edge
    # values landing inside the seed region), and the dup/zero tail
    seed=st.integers(0, 2**32 - 1),
    extra=st.lists(_vec, min_size=0, max_size=3),
    edits=st.lists(
        st.tuples(st.integers(0, 31), st.integers(0, 63), _component),
        max_size=8,
    ),
    dup_of=st.integers(0, 31),
    n_zero=st.integers(0, 3),
    # a residual-codebook seed id (16..31) zeroed to norm 0: the
    # ann_ivfpq_residual oracle's rcb CTE silently shrinks, and the
    # Spark side must shrink identically (allow_missing seeding) —
    # r6 advisor finding: forcing all of 0..31 nonzero made this
    # crash-vs-result divergence unreachable by fuzz
    zero_seed=st.one_of(st.none(), st.integers(16, 31)),
)
# the shrunk-residual-codebook case runs on EVERY sweep
@example(seed=7, extra=[], edits=[], dup_of=0, n_zero=0, zero_seed=20)
def test_index_entries_match_oracle_on_random_vectors(
    spark, tmp_path_factory, seed, extra, edits, dup_of, n_zero, zero_seed
):
    import duckdb  # noqa: PLC0415
    import random  # noqa: PLC0415

    rng = random.Random(seed)
    vecs = [[rng.uniform(-2.0, 2.0) for _ in range(64)] for _ in range(32)]
    for i, j, val in edits:
        vecs[i][j] = val
    for v in vecs:
        # seed ids 0..31 must stay rankable (nonzero quantized norm)
        if not any(abs(x) >= 1e-3 for x in v):
            v[0] = 1.0
    if zero_seed is not None:
        # the contract exception: a zero-norm RESIDUAL seed (never a
        # centroid) — both engines must shrink the residual codebook
        vecs[zero_seed] = [0.0] * 64
    vecs += [list(v) for v in extra]
    # same adversarial tail as tier 1: an exact duplicate (cosine ties
    # at the rank boundary, bucket collisions in LSH/IVF cells) and
    # unrankable all-zero / sub-grid vectors both engines must exclude
    vecs = vecs + [list(vecs[dup_of])]
    for i in range(n_zero):
        vecs.append([0.0] * 64 if i % 2 == 0 else [4.9e-7] * 64)
    tmpdir = tmp_path_factory.mktemp("embfuzz2")
    table = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in v] for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(table, f"{tmpdir}/embeddings.parquet")
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmpdir}/embeddings.parquet')"
        )
        for name in EMB_FUZZ_ENTRIES_2:
            _assert_entry_matches(spark, con, name, str(tmpdir))
            spark.catalog.clearCache()
    finally:
        con.close()


# star-schema entries whose oracles touch ONLY these seven tables are
# fuzzed over generated mini-warehouses with adversarial structure:
# dangling foreign keys (orders, parts, AND suppliers), duplicate
# measure values (ties at the top-k boundary), boundary order/ship
# dates sitting exactly on the entries' predicate constants, zero
# discounts and 100% discounts, p_size values straddling the IN-list
# and p_type values straddling the LIKE patterns
TPCH_TABLES = (
    "orders", "lineitem", "customer", "nation", "region", "part", "supplier",
)


def _tpch_fuzzable():
    import re

    out = []
    for n, e in CATALOG.items():
        if e.oracle is None:
            continue
        refs = set(re.findall(r"\b(?:FROM|JOIN)\s+(\w+)", e.oracle))
        tabs = refs & {
            "orders", "lineitem", "customer", "nation", "region",
            "supplier", "part", "events", "documents", "embeddings",
        }
        # the fact tables are the only ones this test DRAWS; an entry
        # reading just the fixed dims would re-run an identical plan on
        # every example (the dims-only entries are fuzzed with varied
        # dimensions in the domain family instead)
        if tabs and tabs <= set(TPCH_TABLES) and tabs & {"orders", "lineitem"}:
            out.append(n)
    return sorted(out)


_BOUNDARY_DATES = [
    datetime.datetime(1995, 12, 31, 23, 59, 59),
    datetime.datetime(1996, 1, 1),
    datetime.datetime(1997, 12, 31),
    datetime.datetime(1998, 1, 1),
    datetime.datetime(1998, 9, 2),
    datetime.datetime(1998, 9, 2, 0, 0, 1),
]
_date = st.one_of(
    st.sampled_from(_BOUNDARY_DATES),
    st.integers(0, 1000).map(
        lambda d: datetime.datetime(1995, 1, 1) + datetime.timedelta(days=d)
    ),
    # events-era anchors shared with the events _ts strategy: order
    # dates landing EXACTLY on event timestamps exercise the as-of
    # join's at-or-before boundary (and its o_orderkey tie-break when
    # two orders share the instant); without these the two time
    # domains never collide and the boundary path goes untested
    st.sampled_from(
        [
            _BASE,
            _BASE + datetime.timedelta(minutes=30),
            _BASE + datetime.timedelta(minutes=30, microseconds=1),
            _BASE + datetime.timedelta(days=1),
        ]
    ),
)

_order = st.tuples(
    st.integers(0, 9),  # custkey, may dangle (customers are 0..5)
    st.sampled_from(["O", "F", "P"]),
    st.sampled_from([100.0, 2500.5, 2500.5, 90000.25]),  # planted ties
    _date,
    st.sampled_from(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    ),
)
_line = st.tuples(
    st.integers(0, 30),  # orderkey, may dangle
    st.integers(1, 4),  # partkey (small => per-part groups populate)
    st.sampled_from([1.0, 17.0, 17.0, 50.0]),  # quantity ties
    st.sampled_from([901.0, 1504.25, 1504.25, 99999.99]),
    st.sampled_from([0.0, 0.05, 0.1, 1.0]),  # discount incl. 100%
    st.sampled_from([0.0, 0.08]),
    st.sampled_from(["A", "N", "R"]),
    st.sampled_from(["F", "O"]),
    _date,
    st.integers(0, 4),  # suppkey, may dangle (suppliers are 0..3)
)


def _write_tpch(tmpdir, orders, lines) -> str:
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array([0, 1], pa.int32()),
                "r_name": pa.array(["AMERICA", "ASIA"], pa.string()),
            }
        ),
        f"{tmpdir}/region.parquet",
    )
    # partkey 4 dangles (lineitem draws 1..4); sizes straddle the
    # Q16 IN-list, types straddle PROMO/MEDIUM prefixes, tied prices
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array([0, 1, 2, 3, 5], pa.int64()),
                "p_name": pa.array(
                    ["bolt", "nut", "nut", "washer", "screw"], pa.string()
                ),
                "p_brand": pa.array(["B1", "B1", "B2", "B2", "B1"], pa.string()),
                "p_type": pa.array(
                    ["PROMO", "MEDIUM POLISHED", "STANDARD", "PROMO", "MEDIUM"],
                    pa.string(),
                ),
                "p_size": pa.array([1, 5, 9, 13, 2], pa.int32()),
                "p_retailprice": pa.array(
                    [9.99, 9.99, 100.0, 0.0, 55.5], pa.float64()
                ),
            }
        ),
        f"{tmpdir}/part.parquet",
    )
    # suppkey 4 dangles from lineitem; two suppliers share nation 0
    # (the Q5 local-supplier predicate must group them correctly)
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array([0, 1, 2, 3], pa.int64()),
                "s_name": pa.array(["s0", "s1", "s2", "s3"], pa.string()),
                "s_nationkey": pa.array([0, 1, 2, 0], pa.int32()),
                "s_acctbal": pa.array([0.0, 5.5, 5.5, -1.0], pa.float64()),
            }
        ),
        f"{tmpdir}/supplier.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array([0, 1, 2], pa.int32()),
                "n_name": pa.array(["BRAZIL", "JAPAN", "PERU"], pa.string()),
                "n_regionkey": pa.array([0, 1, 0], pa.int32()),
            }
        ),
        f"{tmpdir}/nation.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(6), pa.int64()),
                "c_name": pa.array([f"c{i}" for i in range(6)], pa.string()),
                "c_nationkey": pa.array([0, 1, 2, 0, 1, 2], pa.int32()),
                "c_acctbal": pa.array(
                    [-10.0, 0.0, 55.5, 55.5, 900.0, 1e6], pa.float64()
                ),
                "c_mktsegment": pa.array(["BUILDING"] * 6, pa.string()),
            }
        ),
        f"{tmpdir}/customer.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(range(len(orders)), pa.int64()),
                "o_custkey": pa.array([o[0] for o in orders], pa.int64()),
                "o_orderstatus": pa.array([o[1] for o in orders], pa.string()),
                "o_totalprice": pa.array([o[2] for o in orders], pa.float64()),
                "o_orderdate": pa.array(
                    [o[3] for o in orders], pa.timestamp("us")
                ),
                "o_orderpriority": pa.array([o[4] for o in orders], pa.string()),
            }
        ),
        f"{tmpdir}/orders.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([ln[0] for ln in lines], pa.int64()),
                "l_partkey": pa.array([ln[1] for ln in lines], pa.int64()),
                "l_suppkey": pa.array([ln[9] for ln in lines], pa.int64()),
                "l_linenumber": pa.array(range(len(lines)), pa.int32()),
                "l_quantity": pa.array([ln[2] for ln in lines], pa.float64()),
                "l_extendedprice": pa.array([ln[3] for ln in lines], pa.float64()),
                "l_discount": pa.array([ln[4] for ln in lines], pa.float64()),
                "l_tax": pa.array([ln[5] for ln in lines], pa.float64()),
                "l_returnflag": pa.array([ln[6] for ln in lines], pa.string()),
                "l_linestatus": pa.array([ln[7] for ln in lines], pa.string()),
                "l_shipdate": pa.array([ln[8] for ln in lines], pa.timestamp("us")),
            }
        ),
        f"{tmpdir}/lineitem.parquet",
    )
    return str(tmpdir)


@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    orders=st.lists(_order, min_size=1, max_size=25),
    lines=st.lists(_line, min_size=1, max_size=50),
    events=st.lists(_row, min_size=0, max_size=40),
)
def test_tpch_entries_match_oracle_on_random_warehouse(
    spark, tmp_path_factory, orders, lines, events
):
    import duckdb  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    sf_dir = _write_tpch(tmp_path_factory.mktemp("tpchfuzz"), orders, lines)
    # a generated events table joins the warehouse so the cross-table
    # entries run here too: events_asof_order (as-of boundary ties —
    # an order EXACTLY at an event's ts must win over an earlier one)
    # and table_summary (documents/embeddings copied static; only the
    # warehouse + events vary)
    _write_events(events, sf_dir)
    for t in ("documents", "embeddings"):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{sf_dir}/{t}.parquet")
    con = duckdb.connect()
    try:
        for t in TPCH_TABLES + ("events", "documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        for name in _tpch_fuzzable() + ["events_asof_order", "table_summary"]:
            _assert_entry_matches(spark, con, name, sf_dir)
    finally:
        con.close()


# the REFERENCE surface: every domain-derived entry (sources/genres/
# titles/index/prefs all derive from part/supplier/nation/customer —
# SURVEY §1.5) fuzzed over generated dimension tables. partkey values
# drive the derivation's mod-7/11/2/35/101 branches (NULL poster,
# empty poster, movie/tv split, rating grid); supplier must be
# non-empty (sn=0 would make the pref derivation's mod undefined —
# an empty sources table has no reference meaning).
DOMAIN_FUZZ_ENTRIES = [
    "get_sources",
    "get_genres",
    "get_preferences",
    "prefs_response",
    "prefs_delta",
    "titles_by_overlap",
    "titles_for_users",
    "recommendations",
    "titles_by_ids",
    "titles_display",
    "index_build",
    "distinct_prefs",
    "top_combinations",
    "data_quality",
    "ref_data_validity",
    # the producer envelope codec (JSON+base64) over titles derived
    # from the drawn part names — quotes/unicode/empty names round-trip
    # the wire format here, where the dims genuinely vary
    "envelope_roundtrip",
    # uuid-v4-shaped job ids + ARN/username masking derived from the
    # drawn customer keys (F10/F11) — the last uncovered entry
    "admin_jobs",
]

_pname = st.one_of(
    st.sampled_from(["alpha beta", "Grüße 北京", "x", "", "a'b\"c"]),
    st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz ÄÖÜß-",
        min_size=1,
        max_size=20,
    ),
)


@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    partkeys=st.lists(
        st.integers(0, 3000), min_size=1, max_size=40, unique=True
    ),
    pnames=st.lists(_pname, min_size=40, max_size=40),
    n_supp=st.integers(1, 9),
    n_cust=st.integers(1, 30),
)
def test_reference_entries_match_oracle_on_random_domain(
    spark, tmp_path_factory, partkeys, pnames, n_supp, n_cust
):
    import shutil

    from .oracle import duck_connection

    tmpdir = tmp_path_factory.mktemp("domfuzz")
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(sorted(partkeys), pa.int64()),
                "p_name": pa.array(pnames[: len(partkeys)], pa.string()),
                "p_brand": pa.array(["B"] * len(partkeys), pa.string()),
                "p_type": pa.array(["T"] * len(partkeys), pa.string()),
                "p_size": pa.array([1] * len(partkeys), pa.int32()),
                "p_retailprice": pa.array([9.99] * len(partkeys), pa.float64()),
            }
        ),
        f"{tmpdir}/part.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array(range(n_supp), pa.int64()),
                "s_name": pa.array([f"s{i}" for i in range(n_supp)], pa.string()),
                "s_nationkey": pa.array([i % 3 for i in range(n_supp)], pa.int32()),
                "s_acctbal": pa.array([float(i) for i in range(n_supp)], pa.float64()),
            }
        ),
        f"{tmpdir}/supplier.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array([0, 1, 2], pa.int32()),
                "n_name": pa.array(["BRAZIL", "JAPAN", "PERU"], pa.string()),
                "n_regionkey": pa.array([0, 1, 0], pa.int32()),
            }
        ),
        f"{tmpdir}/nation.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": pa.array([f"c{i}" for i in range(n_cust)], pa.string()),
                "c_nationkey": pa.array([i % 3 for i in range(n_cust)], pa.int32()),
                "c_acctbal": pa.array([0.0] * n_cust, pa.float64()),
                "c_mktsegment": pa.array(["BUILDING"] * n_cust, pa.string()),
            }
        ),
        f"{tmpdir}/customer.parquet",
    )
    for t in ("region", "orders", "lineitem", "events", "documents", "embeddings"):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{tmpdir}/{t}.parquet")

    con = duck_connection(str(tmpdir))
    try:
        for name in DOMAIN_FUZZ_ENTRIES:
            _assert_entry_matches(spark, con, name, str(tmpdir))
    finally:
        con.close()


# second documents tier: the pair/fingerprint/tokenizer entries — LIMIT
# tie-breaks, window-selection ties, gaps-and-islands arithmetic, BPE
# on degenerate text, percentile cutoffs on tiny corpora. The
# iterative/persisting composition entries (curation_pipeline*,
# neardup_clusters, leakage_safe_splits, dedup_incremental) get their
# own reduced-example tier below — cost per example would dominate
# this sweep.
DOC_FUZZ_ENTRIES_2 = [
    "minhash_signatures",
    "minhash_neardup",
    "simhash_signatures",
    "simhash_neardup",
    "decontaminate",
    "ngram_jaccard_topk",
    "ngram_containment_topk",
    "winnow_fingerprints",
    "winnow_overlap_topk",
    "interdoc_ngram_overlap",
    "shared_span_pairs",
    "bpe_merge_step",
    "bpe_apply",
    "dsir_select",
    "doc_embeddings_fh",
    "docs_bow_cosine_topk",
    "sequence_packing",
    "sequence_packing_shuffled",
    "length_bucketed_batches",
    "percentile_length_gate",
    "stratified_sample",
    "top_terms_tfdf",
    "redact_pii",
    "mixture_plan",
    "mixture_materialize",
    # the multimodal plumbing (Arrow mapInPandas over binary payloads):
    # adversarial text → adversarial bytes; zero-row batches, empty
    # payloads, multi-byte unicode must round-trip the Arrow boundary
    "multimodal_meta",
    "multimodal_features",
    "multimodal_frames",
]


@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_doc_row, min_size=1, max_size=25))
def test_pair_tier_matches_oracle_on_random_documents(
    spark, tmp_path_factory, rows
):
    import duckdb  # noqa: PLC0415

    sf_dir = _write_documents(rows, tmp_path_factory.mktemp("docfuzz2"))
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        for name in DOC_FUZZ_ENTRIES_2:
            _assert_entry_matches(spark, con, name, sf_dir)
            spark.catalog.clearCache()
    finally:
        con.close()

# third documents tier: the iterative/persisting COMPOSITION entries
# (gate → dedup → LSH → connected components → splits; cross-snapshot
# incremental dedup). Each example costs seconds (persist barriers +
# the checkpointed CC loop), so this tier runs at a reduced example
# count — composition bugs are cross-operator (a tie broken
# differently upstream flips which doc survives downstream), which no
# single-operator tier can catch.
DOC_FUZZ_ENTRIES_3 = [
    "curation_pipeline",
    "curation_pipeline_neardup",
    "neardup_clusters",
    "leakage_safe_splits",
    "dedup_incremental",
]


@settings(
    max_examples=max(2, _EXAMPLES // 3),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_doc_row, min_size=1, max_size=20))
def test_composition_entries_match_oracle_on_random_documents(
    spark, tmp_path_factory, rows
):
    import duckdb  # noqa: PLC0415

    sf_dir = _write_documents(rows, tmp_path_factory.mktemp("docfuzz3"))
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        for name in DOC_FUZZ_ENTRIES_3:
            _assert_entry_matches(spark, con, name, sf_dir)
            spark.catalog.clearCache()
    finally:
        con.close()

def test_every_entry_is_in_a_fuzz_family():
    """Every oracle-bearing catalog entry must belong to a fuzz family
    — the admin_jobs gap (an entry in NO family, masked by an
    over-broad coverage tally) stays closed, and a future entry cannot
    register without choosing its adversarial-input tier."""
    fuzzed = set(_tpch_fuzzable()) | {"events_asof_order", "table_summary"}
    for lst in (
        FUZZ_ENTRIES,
        DOC_FUZZ_ENTRIES,
        DOC_FUZZ_ENTRIES_2,
        DOC_FUZZ_ENTRIES_3,
        EMB_FUZZ_ENTRIES,
        EMB_FUZZ_ENTRIES_2,
        DOMAIN_FUZZ_ENTRIES,
    ):
        fuzzed |= set(lst)
    missing = sorted(n for n in CATALOG if n not in fuzzed)
    assert not missing, f"catalog entries in no fuzz family: {missing}"
