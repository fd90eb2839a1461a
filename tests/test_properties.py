"""Property-based invariants (hypothesis) — beyond the reference's
golden-test-only strategy (SURVEY.md §5).

Each example runs ONE Spark job over a generated batch (not a job per
row), keeping runtime sane while still searching the input space:
unicode titles through the base64/JSON codec, arbitrary pref-set pairs
through the delta algebra, adversarial ASCII through the tokenizer twins.
"""

from __future__ import annotations

import datetime
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tv_event_streaming_spark.operators.preferences import prefs_delta
from tv_event_streaming_spark.operators.temporal import (
    asof_join_backward,
    range_join_bucketed,
)
from tv_event_streaming_spark.operators.text import BPE_ISH_PATTERN, bpe_ish_token_count
from tv_event_streaming_spark.schemas import USER_PREF_SCHEMA
from tv_event_streaming_spark.sources.events import (
    PAYLOAD_COLS,
    decode_envelope,
    encode_envelope,
)

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# JSON-safe text: no surrogates; NUL breaks nothing but keep it printable-ish
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=40
)


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2**40), _text, st.integers(1900, 2100)),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
def test_envelope_codec_roundtrip(spark, rows):
    """decode ∘ encode = identity on (id, title, year) for arbitrary
    unicode titles — the reference's wire format never corrupts data."""
    ts = datetime.datetime(2025, 7, 4, 16, 2, 51)
    df = spark.createDataFrame(
        [(i, t, y, None, None, None, None, None, None, ts) for i, t, y in rows],
        schema="id long, title string, year int, imdb_id string, tmdb_id long, "
        "tmdb_type string, type string, source_ids array<string>, "
        "genre_ids array<string>, publish_ts timestamp",
    )
    wire = encode_envelope(df, PAYLOAD_COLS, "publish_ts")
    back = decode_envelope(wire).select("id", "title", "year").collect()
    assert sorted((r.id, r.title, r.year) for r in back) == sorted(rows)


_pref = st.tuples(
    st.sampled_from(["u1", "u2"]),
    st.sampled_from(["source", "genre"]),
    st.integers(0, 9).map(str),
)


@settings(**SETTINGS)
@given(
    old=st.lists(_pref, max_size=15, unique=True),
    new=st.lists(_pref, max_size=15, unique=True),
)
def test_prefs_delta_algebra(spark, old, new):
    """adds = new−old, deletes = old−new, disjoint. The PUT round trip
    the reference's UI tests assert (preferences.spec.ts) is checked on
    the real table by test_storage_fuzz.py's
    test_put_matches_set_model_on_random_sequences."""
    old_df = spark.createDataFrame(old, USER_PREF_SCHEMA) if old else spark.createDataFrame([], USER_PREF_SCHEMA)
    new_df = spark.createDataFrame(new, USER_PREF_SCHEMA) if new else spark.createDataFrame([], USER_PREF_SCHEMA)
    delta = {(r.op, r.user_id, r.kind, r.pref_id) for r in prefs_delta(old_df, new_df).collect()}
    adds = {t[1:] for t in delta if t[0] == "add"}
    dels = {t[1:] for t in delta if t[0] == "delete"}
    assert adds == set(new) - set(old)
    assert dels == set(old) - set(new)
    assert not (adds & dels)


@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("abZ9 .,!\t\n-_()"), min_size=0, max_size=60
        ),
        min_size=1,
        max_size=20,
    )
)
def test_bpe_token_count_matches_python_re(spark, texts):
    """Spark's regexp_extract_all and Python's re agree on the BPE-ish
    segmentation for adversarial ASCII — the cross-engine determinism the
    token_counts oracle depends on."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {
        r.i: r.n
        for r in df.select("i", bpe_ish_token_count(F.col("text")).alias("n")).collect()
    }
    want = {i: len(re.findall(BPE_ISH_PATTERN, t)) for i, t in enumerate(texts)}
    assert got == want


@settings(**SETTINGS)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)),  # (key, ts-sec)
        min_size=1,
        max_size=15,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(0, 10**6)),
        min_size=0,
        max_size=15,
    ),
)
def test_asof_join_matches_bruteforce(spark, lefts, rights):
    """asof_join_backward == the brute-force per-row argmax: for every
    left row, the right row with max ts <= left ts (same key), largest
    tiebreak id winning ties — on arbitrary key/ts collisions."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(i, k, base + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(lefts)],
        "lid long, k long, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [
            (rid, k, base + dt.timedelta(seconds=s))
            for rid, (k, s, _) in enumerate(rights)
        ],
        "rid long, rk long, rts timestamp",
    )
    out = {
        r.lid: r.rid
        for r in asof_join_backward(
            ldf, rdf, "k", "rk", "ts", "rts", value_cols=["rid"], tiebreak="rid"
        ).collect()
    }
    for i, (k, s) in enumerate(lefts):
        cands = [
            rid
            for rid, (rk, rs, _) in enumerate(rights)
            if rk == k and rs <= s
        ]
        best = (
            max(cands, key=lambda rid: (rights[rid][1], rid)) if cands else None
        )
        assert out[i] == best, (i, k, s, cands)


def _portable_hash64(s: str) -> int:
    """Python twin of dedup.portable_hash64 (first 15 md5 hex chars)."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


@settings(**SETTINGS)
@given(
    ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=25, unique=True),
    rate=st.floats(0.0, 1.0),
)
def test_stratified_sample_matches_python_reference(spark, ids, rate):
    """The keep set equals the documented contract —
    hash('sample:'+key) mod 1e6 < round(rate·1e6) — computed in pure
    Python, for ARBITRARY float rates (binary-inexact rates like 0.29
    once truncated to an off-by-one threshold)."""
    from tv_event_streaming_spark.operators.text import stratified_sample

    docs = spark.createDataFrame(
        [(i, "s") for i in ids], "doc_id long, stratum string"
    )
    got = {
        r.doc_id
        for r in stratified_sample(docs, "stratum", {"s": rate}).collect()
    }
    thr = round(rate * 1_000_000)
    want = {
        i for i in ids if _portable_hash64(f"sample:{i}") % 1_000_000 < thr
    }
    assert got == want


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(1, 40)),  # (id, n words)
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    budget=st.integers(8, 64),
)
def test_pack_sequences_matches_python_reference(spark, docs, budget):
    """Pack assignment equals the pure-Python per-group cumsum for
    arbitrary doc sizes and budgets."""
    from tv_event_streaming_spark.operators.text import pack_sequences

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in docs], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.pack_group, r.pack_id, r.n_tokens)
        for r in pack_sequences(df, budget_tokens=budget).collect()
    }
    cums: dict[int, int] = {}
    for i, n in sorted(docs):
        g = _portable_hash64(str(i)) % 32
        start = cums.get(g, 0)
        cums[g] = start + n
        assert got[i] == (g, start // budget, n), (i, n, g, start)


@settings(**SETTINGS)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 7200)),
        min_size=1,
        max_size=10,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 7200)),
        min_size=0,
        max_size=15,
    ),
)
def test_range_join_matches_bruteforce(spark, lefts, rights):
    """range_join_bucketed == the brute-force (t-window, t] scan across
    bucket boundaries and key collisions."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(i, k, base + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(lefts)],
        "lid long, k long, lts timestamp",
    )
    rdf = spark.createDataFrame(
        [(j, k, base + dt.timedelta(seconds=s)) for j, (k, s) in enumerate(rights)],
        "rid long, rk long, rts timestamp",
    )
    got = {
        (r.lid, r.rid)
        for r in range_join_bucketed(
            ldf, rdf, "k", "rk", "lts", "rts", window_seconds=3600
        ).collect()
    }
    want = {
        (i, j)
        for i, (lk, ls) in enumerate(lefts)
        for j, (rk, rs) in enumerate(rights)
        if lk == rk and ls - 3600 < rs <= ls
    }
    assert got == want


@settings(**SETTINGS)
@given(
    base_ids=st.lists(st.integers(0, 50), max_size=12, unique=True),
    new_docs=st.lists(
        st.tuples(st.integers(100, 160), st.integers(0, 60)),  # (id, content)
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    ),
)
def test_incremental_dedup_matches_python_reference(spark, base_ids, new_docs):
    """Status classification equals the pure-Python reference for
    arbitrary base/batch content overlap: dup_of_base iff the content
    is in the base hash set; otherwise the min-id batch doc per content
    is novel, the rest dup_in_batch. The three statuses PARTITION the
    batch."""
    from tv_event_streaming_spark.operators.dedup import incremental_duplicates

    # content c encoded as a deterministic text "w<c>"
    base = spark.createDataFrame(
        [(i, f"w{i % 7}") for i in base_ids] or [(999_999, "sentinel")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(i, f"w{c}") for i, c in new_docs], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in incremental_duplicates(base, new).collect()}
    base_contents = {i % 7 for i in base_ids} if base_ids else set()
    keeper: dict[int, int] = {}
    for i, c in sorted(new_docs):
        if c not in base_contents:
            keeper.setdefault(c, i)
    want = {
        i: (
            "dup_of_base"
            if c in base_contents
            else ("novel" if keeper[c] == i else "dup_in_batch")
        )
        for i, c in new_docs
    }
    assert got == want


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(1, 50)),  # (id, n words)
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    bucket=st.integers(2, 16),
    batch=st.integers(1, 8),
)
def test_length_bucketed_batches_matches_python_reference(
    spark, docs, bucket, batch
):
    """Batch assignment equals the pure-Python per-bucket enumeration;
    implies every (len_bucket, batch_id) holds at most `batch` docs and
    batches never mix length buckets."""
    from tv_event_streaming_spark.operators.text import length_bucketed_batches

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in docs], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.len_bucket, r.batch_id, r.batch_slot)
        for r in length_bucketed_batches(
            df, bucket_tokens=bucket, batch_size=batch
        ).collect()
    }
    counters: dict[int, int] = {}
    for i, n in sorted(docs):
        lb = n // bucket
        rn = counters.get(lb, 0)
        counters[lb] = rn + 1
        assert got[i] == (n, lb, rn // batch, rn % batch), (i, n, lb, rn)


def _bpe_reference(word: str, merges) -> list[str]:
    """Pure-Python BPE: one leftmost-non-overlapping pass per rule, in
    table order — the contract bpe_apply documents."""
    syms = list(word)
    for x, y in merges:
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                out.append(x + y)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


@settings(**SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="ab", min_size=1, max_size=12),
        min_size=1,
        max_size=15,
        unique=True,
    ),
    merges=st.lists(
        st.tuples(st.sampled_from("ab"), st.sampled_from("ab")),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
def test_bpe_apply_matches_python_reference(spark, words, merges):
    """The string-fold merge pass equals a pure-Python BPE pass for
    arbitrary words over a tiny alphabet and arbitrary base-char rules
    (base-char tables are trivially topologically ordered — the
    documented exactness domain). 'ab' alphabet maximizes overlapping-
    run and self-merge (x==y) adversaries."""
    from tv_event_streaming_spark.operators.text import bpe_apply

    docs = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    got = {
        r.word: (r.segments.split(" "), r.n_symbols)
        for r in bpe_apply(docs, merges=tuple(merges)).collect()
    }
    assert set(got) == set(words)
    for w in words:
        want = _bpe_reference(w, merges)
        assert got[w] == (want, len(want)), (w, merges, got[w], want)


@settings(**SETTINGS)
@given(
    vecs=st.lists(
        st.lists(st.integers(-3, 3), min_size=4, max_size=4).filter(
            lambda v: any(x != 0 for x in v)
        ),
        min_size=2,
        max_size=12,
    )
)
def test_knn_graph_single_cell_matches_python_bruteforce(spark, vecs):
    """With one centroid every vector shares the cell, so knn_graph
    must equal global brute-force kNN: same quantized-int cosine, same
    (cos desc, id asc) tie-break. Integer-valued vectors are exact in
    float32/64, so the Python reference reproduces the doubles
    bit-for-bit."""
    import math

    from tv_event_streaming_spark.operators.similarity import knn_graph

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.src_id, r.rank): (r.dst_id, r.cos_sim)
        for r in knn_graph(emb, k=3, n_centroids=1).collect()
    }
    q = [[math.floor(x * 1_000_000) for x in v] for v in vecs]
    norms = [sum(x * x for x in v) for v in q]
    for i in range(len(vecs)):
        scored = sorted(
            (
                (-(sum(a * b for a, b in zip(q[i], q[j])))
                 / math.sqrt(float(norms[i]) * float(norms[j])), j)
                for j in range(len(vecs))
                if j != i
            ),
        )
        for rank, (negcos, j) in enumerate(scored[:3], start=1):
            assert got[(i, rank)] == (j, -negcos), (i, rank, got[(i, rank)], (j, -negcos))
    assert len(got) == sum(min(3, len(vecs) - 1) for _ in vecs)


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    ).map(lambda es: [(a, b) for a, b in es if a != b]),
    iters=st.integers(1, 3),
)
def test_pagerank_property_vs_python(spark, edges, iters):
    """Fixed-point PageRank equals the pure-Python reference on random
    directed multigraphs (parallel edges count as repeated
    contributions, matching both implementations)."""
    from tv_event_streaming_spark.operators.graph import PR_SCALE, pagerank_fixedpoint

    if not edges:
        return
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    base = PR_SCALE // n
    teleport = (15 * base) // 100
    outdeg: dict[int, int] = {}
    for a, _ in edges:
        outdeg[a] = outdeg.get(a, 0) + 1
    rank = {v: base for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for a, b in edges:
            s[b] += rank[a] // outdeg[a]
        rank = {v: teleport + (85 * s[v]) // 100 for v in nodes}

    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    got = {
        r.node: r.rank_fp
        for r in pagerank_fixedpoint(df, iters=iters).collect()
    }
    assert got == rank


@settings(**SETTINGS)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(-2.0, 2.0, allow_nan=False, width=32),
            min_size=8,
            max_size=8,
        ),
        min_size=4,
        max_size=12,
    ),
)
def test_pq_encode_property_vs_python(spark, vecs):
    """pq_encode's per-subspace argmin equals the pure-Python quantized
    reference (2 subspaces x 4 dims, codebook seeded from ids 0-2) on
    random float vectors — including tie-to-lowest-code behavior."""
    import math

    from tv_event_streaming_spark.operators.similarity import QUANT, pq_encode

    k_codes, n_sub, sub = 3, 2, 4
    if len(vecs) < k_codes:
        return
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # python reference re-reads the FLOAT32-narrowed values back
    f32 = {r[0]: [float(x) for x in r[1]] for r in df.collect()}

    def q(x):
        return int(math.floor(float(x) * QUANT))

    cb = {
        (m, j): [q(x) for x in f32[j][m * sub : (m + 1) * sub]]
        for m in range(n_sub)
        for j in range(k_codes)
    }
    expected = {}
    for i, v in f32.items():
        for m in range(n_sub):
            qs = [q(x) for x in v[m * sub : (m + 1) * sub]]
            best = min(
                (
                    (sum((a - b) * (a - b) for a, b in zip(qs, cb[(m, j)])), j)
                    for j in range(k_codes)
                ),
            )
            expected[(i, m)] = (best[1], best[0])
    got = {
        (r.vec_id, r.m): (r.code, r.qdist)
        for r in pq_encode(df, n_sub=n_sub, k_codes=k_codes).collect()
    }
    assert got == expected


@settings(**SETTINGS)
@given(
    keys=st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=60, unique=True),
    probe_extra=st.lists(st.integers(-(2**40), 2**40), max_size=30),
)
def test_bloom_never_false_negative_property(spark, keys, probe_extra):
    from tv_event_streaming_spark.operators.layout import (
        bloom_build,
        bloom_might_contain,
    )

    kdf = spark.createDataFrame([(k,) for k in keys], "k long")
    bits = bloom_build(kdf, "k", m_bits=1 << 12)
    probe = spark.createDataFrame(
        [(k,) for k in set(keys) | set(probe_extra)], "k long"
    )
    kept = {r.k for r in bloom_might_contain(probe, "k", bits).collect()}
    assert set(keys) <= kept  # one-sided error: members always pass
