"""Similarity search over embedding columns (``array<float>``).

Determinism contract: every score is exact integer arithmetic. Each
component quantizes to int64 as floor(float64(x)·1e6); dots, norms and
squared distances are exact int64 sums; a cosine is ONE final double
division. Results are therefore bit-identical in any engine and any
summation order, and each catalog entry hash-equals its DuckDB oracle
(plans/datapipe.py).

Tiers:

- **Query-set cosine top-k**: one exact numpy scan
  (:func:`_cosine_topk`) with the quantized queries in the task
  closure. Brute force scores every row; the approximate tiers only
  change which rows a query admits — a shared LSH bucket (one int64
  matmul per Arrow batch against a fixed ±1 plane pattern), a probed
  IVF cell, or a PQ shortlist (the exact re-rank stage).
- **IVF cells**: nearest-seed-centroid assignment by one exact numpy
  kernel (:func:`_centroid_kernel`), corpus cells in one Arrow pass and
  query probes on the driver. The k-means update statistics, semantic
  dedup and the kNN graph reuse the cells.
- **Product quantization**: encode and ADC scans run one exact numpy
  kernel (:func:`_pq_kernel`), one Arrow pass per corpus scan. IVF-PQ
  composes cells and residual codes.

Centroids and codebooks are deterministic seeds (the vectors with the
lowest ids), never trained, and every query encodes the corpus in the
same pass that scores it: there is no stored index to build or reuse.

The kernels run inside ``mapInPandas``/``pandas_udf`` closures that
close over numpy only, so they ship to Python workers by value and the
workers never import this package.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window

from .fanout import fan_out_scan

QUANT = 1_000_000


def _q(x: Column) -> Column:
    """Quantize a float component to int64: floor(double(x)·1e6)."""
    return F.floor(x.cast("double") * QUANT).cast("long")


def _quantizer():
    """The numpy twin of :func:`_q`: a sequence of equal-length vectors
    → int64 matrix, floor(float64(x)·1e6) (float32→float64 widening is
    exact). A factory, not a module-level function: cloudpickle ships a
    closure by value, but a module-level function by reference, which
    would make Python workers import this package."""
    import numpy as np  # noqa: PLC0415

    quant = QUANT

    def quantize(vecs):
        return np.floor(np.stack(vecs).astype(np.float64) * quant).astype(np.int64)

    return quantize


def _cosine_scorer():
    """The exact quantized cosine, stated once for every caller (the
    top-k scan, the nearest-centroid kernel, the all-pairs block
    scorer): ``cosine(a, b)`` over two int64 matrices of quantized rows
    (:func:`_quantizer`) → the ``(len(a), len(b))`` float64 scores.

    - exact int64 dot products and squared norms (|q| ≤ ~4e6 per
      component, so sums stay far below 2^63);
    - ONE IEEE division per score, ``dot / sqrt(na·nb)`` — the same
      correctly-rounded double sequence as the DuckDB oracles'
      ``_DOT / sqrt(_NORMSQ·_NORMSQ)`` (plans/datapipe.py);
    - a zero norm scores 0.0.

    A factory for the same reason as :func:`_quantizer`."""
    import numpy as np  # noqa: PLC0415

    def cosine(a, b):
        na = (a * a).sum(axis=1).astype(np.float64)
        nb = (b * b).sum(axis=1).astype(np.float64)
        dots = (a @ b.T).astype(np.float64)
        denom = np.sqrt(na[:, None] * nb[None, :])
        return np.divide(dots, denom, out=np.zeros_like(dots), where=denom > 0)

    return cosine


def _empty_topk(embeddings: DataFrame, id_col: str, score_field: str) -> DataFrame:
    """Zero-row (query_id, neighbor_id, rank, <score>) frame with the
    id columns typed like ``id_col`` — the degenerate-input result shape
    shared by the top-k entry points."""
    id_type = embeddings.schema[id_col].dataType.simpleString()
    return embeddings.sparkSession.createDataFrame(
        [],
        f"query_id {id_type}, neighbor_id {id_type}, rank int, {score_field}",
    )


def nonzero_norm(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Exclude zero-norm vectors from similarity scoring. A zero vector
    has no direction: every cosine against it is 0/0 — IEEE NaN in
    Spark (which sorts FIRST under DESC) but NULL in SQL engines (which
    sort last), so one dead-model output in the corpus would both
    corrupt top-k rankings and diverge them cross-engine (found by the
    embedding fuzzer). Exclusion is the defined semantics, applied at
    every cosine-scoring entry point and mirrored as a WHERE norm > 0
    in the SQL twins; PQ ENCODING keeps zero vectors (squared-L2 needs
    no normalization — they encode to the all-nearest-codeword row).

    The quantized norm is positive iff some component quantizes to a
    nonzero value, so the filter is that predicate, map-side. A NULL
    vector or a NULL component has no norm and is excluded too."""
    vec = F.col(vec_col)
    return embeddings.filter(
        F.forall(vec, lambda x: x.isNotNull()) & F.exists(vec, lambda x: _q(x) != 0)
    )


#: Bounds on what a query collects to the driver and ships in its
#: scan's task closure. A query row is its id and its quantized vector
#: (8 + 8·dims bytes: ~0.5 MB for 1,024 queries at 64 dims); each
#: batch also scores a |queries| × batch-rows float64 matrix. A rerank
#: shortlist entry is a (query, neighbor) id pair (16 bytes), so the
#: same ~0.5 MB holds 32,768 of them. Past a bound the query raises
#: instead of growing the closure without limit.
_QUERY_ROWS_MAX = 1_024
_SHORTLIST_ROWS_MAX = 32_768


def _query_rows(frame: DataFrame, cap: int | None = None) -> list:
    """The rows of ``frame`` — a query set, or a rerank shortlist with
    ``cap=_SHORTLIST_ROWS_MAX`` — in one bounded driver collect
    (``limit(cap + 1)``); more than ``cap`` rows raise ``ValueError``."""
    cap = _QUERY_ROWS_MAX if cap is None else cap
    rows = frame.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"more than {cap} query-side rows to collect (the task-closure "
            "bound): narrow the query filter or the shortlist"
        )
    return rows


def _cosine_topk(
    frame: DataFrame,
    q_rows: list,
    k: int,
    id_col: str,
    vec_col: str,
    candidates=None,
) -> DataFrame:
    """The one exact cosine top-k scan behind every query-set tier:
    the top ``k`` ``(query_id, neighbor_id, rank, cos_sim)`` rows of
    each query row ``(id, vector)`` over the rows of ``frame``, by
    :func:`_cosine_scorer`, ties to the lower neighbor id, self-pairs
    excluded.

    ``candidates`` narrows which rows a query scores (None: every row).
    It is ``(row_key, probe_sets)``: ``row_key(pdf, qv)`` gives one
    int64 key per batch row (its bucket, cell or id) and query i scores
    the rows whose key is in ``probe_sets[i]``.

    ONE :func:`_kernel_pass` with the quantized queries in the task
    closure; per batch it keeps each query's top ``k`` under
    (cos_sim DESC, neighbor_id). That order is total, so the per-batch
    sets contain the global top-k, and one window picks it — the
    filter-then-refine shape of :func:`_fused_adc_shortlist`."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    if not q_rows:
        return _empty_topk(frame, id_col, "cos_sim double")
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qv = _quantizer()([r[1] for r in q_rows])
    cosine = _cosine_scorer()
    id_type = frame.schema[id_col].dataType.simpleString()

    def emit(pdf, cv, cells, codes, qdist):
        ids = pdf[id_col].to_numpy()
        admit = ids[None, :] != qids[:, None]
        if candidates is not None:
            keys = candidates[0](pdf, cv)
            admit &= np.stack([np.isin(keys, s) for s in candidates[1]])
        cols = np.nonzero(admit.any(axis=0))[0]
        if not len(cols):
            return None
        ids, admit = ids[cols], admit[:, cols]
        cos = cosine(qv, cv[cols])
        out_q, out_n, out_c = [], [], []
        for i, q in enumerate(qids):
            sel = np.nonzero(admit[i])[0]
            top = sel[np.lexsort((ids[sel], -cos[i, sel]))[:k]]
            out_q.append(np.full(len(top), q))
            out_n.append(ids[top])
            out_c.append(cos[i, top])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cos_sim": np.concatenate(out_c),
            }
        )

    cand = _kernel_pass(
        frame, id_col, vec_col,
        f"query_id {id_type}, neighbor_id {id_type}, cos_sim double", emit,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos_sim")
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: queries (filtered subset) × corpus.

    The query rows are collected once (bounded, :func:`_query_rows`)
    and scored against every corpus row in one Arrow pass of
    :func:`_cosine_topk`; the corpus never shuffles beyond the scan
    fan-out. Ranking ties break on neighbor id for determinism.
    """
    embeddings = nonzero_norm(embeddings, vec_col)
    q_rows = _query_rows(embeddings.filter(query_filter).select(id_col, vec_col))
    return _cosine_topk(embeddings.select(id_col, vec_col), q_rows, k, id_col, vec_col)


def plane_sign(p: int, d: int) -> int:
    """±1 component of hyperplane p at dimension d — a fixed integer
    mixing formula evaluated at PLAN BUILD time (python ints), so the
    identical pattern can be embedded in the DuckDB-oracle SQL. No
    driver-side randomness ships to executors; no per-row hashing."""
    return 1 if ((p * 2654435761 + d * 40503 + 12345) >> 7) % 2 == 0 else -1


def _signer(dims: int, bands: int, bits_per_band: int):
    """The numpy hyperplane signer: a quantized int64 matrix → its
    ``(n, bands)`` int64 band buckets, ONE int64 matmul against the ±1
    plane matrix. Bit p of band b is sign(Σ_d q(vec[d])·plane_sign(b·bits
    + p, d)) > 0 over the quantized components: exact integer sums, so
    the bucket equals the DuckDB oracle's (plans.datapipe._lsh_bucket_sql)
    bit-for-bit. A factory for the same reason as :func:`_quantizer`."""
    import numpy as np  # noqa: PLC0415

    planes = np.array(
        [
            [plane_sign(b * bits_per_band + i, d) for d in range(dims)]
            for b in range(bands)
            for i in range(bits_per_band)
        ],
        dtype=np.int64,
    ).T  # dims × (bands·bits)
    weights = np.array([1 << i for i in range(bits_per_band)], dtype=np.int64)

    def sign(qv):
        bits = (qv @ planes) > 0  # exact int64 dots, sign per plane
        return bits.reshape(-1, bands, bits_per_band).astype(np.int64) @ weights

    return sign


def banded_signatures_vectorized(
    dims: int, bands: int, bits_per_band: int
):
    """Arrow-batched hyperplane signatures: a ``pandas_udf`` mapping an
    ``array<float>`` column to ``array<bigint>`` band buckets by
    :func:`_signer`."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    quantize, sign = _quantizer(), _signer(dims, bands, bits_per_band)

    @pandas_udf("array<bigint>")
    def sig(vecs):
        import pandas as _pd  # noqa: PLC0415

        if len(vecs) == 0:  # np.stack raises on an empty Arrow batch
            return _pd.Series([], dtype=object)
        return _pd.Series(sign(quantize(vecs.to_numpy())).tolist())

    return sig


def cosine_topk_lsh(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    dims: int = 64,
    bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 0,
) -> DataFrame:
    """LSH-bucketed ANN: a corpus row is a candidate of a query iff
    their hyperplane buckets match (:func:`_signer`); the exact
    quantized cosine ranks the candidates inside the one scan of
    :func:`_cosine_topk`. Approximate — recall depends on bits.

    ``probe_hamming`` is the multi-probe recall lever (the standard
    scale trade: more probes beat more tables because the corpus side
    is bucketed ONCE): with ``probe_hamming=1`` each query ALSO probes
    the ``bits`` buckets at Hamming distance 1 from its own (a true
    near neighbor that lands one sign-flip away — the most likely miss
    — is recovered). A query's probe set is its bucket XOR each mask;
    the corpus is scanned and bucketed exactly once either way."""
    import numpy as np  # noqa: PLC0415

    if probe_hamming not in (0, 1):
        raise ValueError("probe_hamming supports 0 (exact bucket) or 1")
    embeddings = nonzero_norm(embeddings, vec_col)
    q_rows = _query_rows(embeddings.filter(query_filter).select(id_col, vec_col))
    sign = _signer(dims, 1, bits)
    masks = np.array([0] + ([1 << i for i in range(bits)] if probe_hamming else []))
    probes = []
    if q_rows:
        qb = sign(_quantizer()([r[1] for r in q_rows]))[:, 0]
        probes = list(qb[:, None] ^ masks[None, :])

    def bucket(pdf, cv):
        return sign(cv)[:, 0]

    return _cosine_topk(
        embeddings.select(id_col, vec_col), q_rows, k, id_col, vec_col, (bucket, probes)
    )


# ---------------------------------------------------------------------------
# The exact kernels: every quantized cell assignment and cell probe
# below (IVF, k-means update, semantic dedup / kNN cells, IVF-PQ) runs
# the nearest-centroid kernel, and every PQ encode and ADC scan the PQ
# kernel — over the corpus in one Arrow pass
# (:func:`_kernel_pass`), for queries on the Spark driver.
# ---------------------------------------------------------------------------


def _seed_rows(
    embeddings: DataFrame, hi: int, id_col: str, vec_col: str
) -> list[tuple[int, list[float]]]:
    """The deterministic seed vectors ``id < hi`` as (id, vector) pairs
    sorted by id — the seeding rule the IVF, k-means and PQ tiers share
    (reproducible in any engine, no RNG), and the one driver collect
    they all go through."""
    rows = embeddings.filter(F.col(id_col) < hi).select(id_col, vec_col).collect()
    return sorted(((int(r[0]), r[1]) for r in rows), key=lambda r: r[0])


def _centroid_kernel(cents: list[tuple[int, list[float]]]):
    """The exact nearest-centroid kernel over ``cents`` ((id, float
    vector) pairs). Its contract, stated once for every caller:

    - quantize each component with :func:`_quantizer` and score by
      :func:`_cosine_scorer` (a zero norm scores 0.0 against every
      centroid);
    - rank centroids by score descending, ties to the lowest id:
      argmax-first for the top 1, a stable sort for the top ``nprobe``.

    Returns ``(ids, qc, quantize, nearest)``: centroid ids ascending,
    their quantized rows, the quantizer (a sequence of equal-length
    vectors → int64 matrix) and ``nearest(qv, nprobe=None)`` → row
    indices into ``ids``/``qc`` (1-D best, or ``(n, nprobe)`` best
    first). The functions close over numpy only, so cloudpickle ships
    them into task closures by value — Python workers never import
    this package."""
    import numpy as np  # noqa: PLC0415

    if not cents:
        raise ValueError("no nonzero-norm centroid seeds to assign to")
    quantize = _quantizer()
    cents = sorted(cents, key=lambda c: c[0])
    ids = np.array([c[0] for c in cents], dtype=np.int64)
    qc = quantize([c[1] for c in cents])
    cosine = _cosine_scorer()

    def nearest(qv, nprobe=None):
        if qv.shape[1] != qc.shape[1]:
            raise ValueError(
                f"vector length {qv.shape[1]} != centroid dims {qc.shape[1]}"
            )
        scores = cosine(qv, qc)
        if nprobe is None:
            return scores.argmax(axis=1)
        return np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]

    return ids, qc, quantize, nearest


def _two_level_kernel(cents: list[tuple[int, list[float]]]):
    """Coarse-then-fine variant of :func:`_centroid_kernel` (same
    return shape; ``nearest(qv)`` is top-1 only) — the sub-O(N·C)
    search the r8/r9 verdicts ordered for the cell-confined operators.

    - FINE centroids: ``cents``, C of them. COARSE centroids: the first
      G = max(16, isqrt(C)) fine ones by id.
    - Each fine centroid joins the group of its nearest coarse one
      (scored by the kernel on the Spark driver); each coarse centroid is a
      member of its own group, so no group is empty.
    - Per vector: nearest coarse centroid (G dots), then nearest fine
      centroid within that group (~C/G dots) — ~2√C dots instead of C,
      which at the √N auto rule turns the N·√N·d assignment term into
      N·N^¼·d.

    APPROXIMATION CONTRACT: the result is the nearest fine centroid of
    the vector's coarse group, which for vectors near a coarse boundary
    may differ from the global nearest. The cell operators (semantic
    dedup / kNN graph / cell histograms) treat cells as heuristic
    locality partitions, so a boundary vector moving to an adjacent cell
    changes *which* near-pairs are visible, never the correctness of
    emitted pairs — the trade the SemDeDup / IVF literature makes at the
    cluster level. Both levels run the exact kernel (lowest-id ties), so
    outputs stay engine-independent and oracle-hashable."""
    import math  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    cents = sorted(cents, key=lambda c: c[0])
    ids, qc, quantize, _ = _centroid_kernel(cents)
    n_coarse = min(len(cents), max(16, math.isqrt(len(cents))))
    coarse = _centroid_kernel(cents[:n_coarse])[3]
    group = coarse(qc)
    group[:n_coarse] = np.arange(n_coarse)  # own-group membership
    # ascending member index = ascending id ⇒ fine ties still break low
    members = [np.nonzero(group == g)[0] for g in range(n_coarse)]
    fine = [_centroid_kernel([cents[i] for i in ix])[3] for ix in members]

    def nearest(qv):
        top = coarse(qv)
        best = np.empty(len(qv), dtype=np.int64)
        for g in np.unique(top):
            rows = np.nonzero(top == g)[0]
            best[rows] = members[g][fine[g](qv[rows])]
        return best

    return ids, qc, quantize, nearest


def _pq_kernel(codebook: list[list[list[int]]]):
    """The exact product-quantization kernel over a quantized
    ``[m][code][dim]`` codebook. Its contract, stated once for every
    PQ caller (encode and ADC scans):

    - squared L2 per subspace in exact int64 (|component| ≤ ~4e6, so
      sums stay far below 2^63);
    - a subspace's code is its first-min argmin: ties go to the lowest
      code, the ``(qdist, code)`` order of the DuckDB oracles;
    - the width is the codebook's ACTUAL one: an ``allow_missing``
      seeding can hold fewer words than the requested ``k_codes``.

    Returns ``(encode, luts, adc_topk)``:

    - ``encode(qv)`` → ``(codes, qdist)``, both ``(n, n_sub)`` int64;
    - ``luts(targets)`` → ``(n, n_sub, n_words)`` ADC tables: entry
      ``[i][m][j]`` is the squared L2 between subspace m of quantized
      target i and codeword j;
    - ``adc_topk(qids, tables, ids, codes, k)`` → the ``k`` smallest
      ``(query_id, neighbor_id, adist)`` per query under (adist,
      neighbor_id), self-pairs excluded, as three arrays. That order
      is total, so per-batch top-k sets contain the global top-k.

    Like :func:`_centroid_kernel`, the functions close over numpy only."""
    import numpy as np  # noqa: PLC0415

    if not codebook or not codebook[0]:
        # an allow_missing seeding over a corpus with no usable seed
        # returns [] — encoding against zero codewords has no meaning
        raise ValueError(
            "PQ codebook is empty (allow_missing seeding over a corpus "
            "with no usable seed vectors?) — nothing to encode against"
        )
    cb = np.asarray(codebook, dtype=np.int64)
    n_sub, _, sub = cb.shape

    def encode(qv):
        if qv.shape[1] != n_sub * sub:
            raise ValueError(
                f"vector length {qv.shape[1]} != codebook dims {n_sub * sub}"
            )
        codes = np.empty((len(qv), n_sub), dtype=np.int64)
        qdist = np.empty_like(codes)
        rows = np.arange(len(qv))
        for m in range(n_sub):
            d = qv[:, m * sub : (m + 1) * sub]
            dist = ((d[:, None, :] - cb[m][None]) ** 2).sum(axis=2)
            codes[:, m] = dist.argmin(axis=1)
            qdist[:, m] = dist[rows, codes[:, m]]
        return codes, qdist

    def luts(targets):
        t = targets.reshape(len(targets), n_sub, 1, sub)
        return ((t - cb[None]) ** 2).sum(axis=3)

    def adc_topk(qids, tables, ids, codes, k):
        ad = np.zeros((len(qids), len(ids)), dtype=np.int64)
        for m in range(n_sub):
            ad += tables[:, m, :][:, codes[:, m]]
        oq, on, od = [], [], []
        for q, row in zip(qids, ad):
            sel = ids != q
            ci, cd = ids[sel], row[sel]
            order = np.lexsort((ci, cd))[:k]
            oq.append(np.full(len(order), q))
            on.append(ci[order])
            od.append(cd[order])
        return np.concatenate(oq), np.concatenate(on), np.concatenate(od)

    return encode, luts, adc_topk


def _kernel_pass(
    frame: DataFrame,
    id_col: str,
    vec_col: str,
    schema,
    emit,
    kernel=None,
    pq=None,
) -> DataFrame:
    """ONE Arrow ``mapInPandas`` pass of the kernels over the
    (fanned-out) scan of ``frame``. Per batch: quantize ``vec_col``;
    with ``kernel`` (:func:`_centroid_kernel`) take each row's nearest
    cell; with ``pq`` (:func:`_pq_kernel`) encode, and with both encode
    the residual (the vector minus its cell's centroid). Then ``emit(pdf, qv, cells,
    codes, qdist)`` returns the batch's output frame in ``schema``, or
    None. ``emit`` must close over numpy/pandas only, like the
    kernels, so the pass ships to Python workers by value."""
    quantize = _quantizer()

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells = codes = qdist = None
            qv = quantize(pdf[vec_col].to_numpy())
            if kernel is not None:
                ids, qc, _, nearest = kernel
                best = nearest(qv)
                cells = ids[best]
                if pq is not None:
                    qv = qv - qc[best]
            if pq is not None:
                codes, qdist = pq[0](qv)
            out = emit(pdf, qv, cells, codes, qdist)
            if out is not None:
                yield out

    # r12: one scan partition = one Python worker for the whole batch
    # matmul; fan out first (scale-adaptive no-op on real clusters)
    return fan_out_scan(frame, id_col).mapInPandas(run, schema=schema)


def _assign_cells(
    embeddings: DataFrame, kernel, id_col: str, vec_col: str
) -> DataFrame:
    """``(id, vec, cell)``: ``kernel``'s nearest cell of every row in
    one :func:`_kernel_pass`. ``embeddings`` must already be
    nonzero-norm filtered."""
    frame = embeddings.select(id_col, vec_col)
    schema = T.StructType(
        [*frame.schema.fields, T.StructField("cell", T.IntegerType(), False)]
    )

    def emit(pdf, qv, cells, codes, qdist):
        return pdf.assign(cell=cells.astype("int32"))

    return _kernel_pass(frame, id_col, vec_col, schema, emit, kernel=kernel)


def _probe_cells(kernel, vecs: list, nprobe: int) -> list[list[int]]:
    """Driver side of the kernel: the ``nprobe`` nearest centroid ids of
    each query vector, best first."""
    ids, _, quantize, nearest = kernel
    if not vecs:
        return []
    return ids[nearest(quantize(vecs), nprobe)].tolist()


def _kmeans_sums(
    embeddings: DataFrame, kernel, id_col: str, vec_col: str
) -> DataFrame:
    """``(cell, dim, n, sum_q)``: each cell's member count and exact
    int64 sum of quantized components per dim under ``kernel``'s
    nearest-cell assignment. ONE :func:`_kernel_pass` whose batches emit
    their per-(cell, dim) partials, then one groupBy over ≤
    #batches·k·dims rows — never the corpus.
    ``embeddings`` must already be nonzero-norm filtered."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def emit(pdf, qv, cells, codes, qdist):
        dims = qv.shape[1]
        cell_ids, member = np.unique(cells, return_inverse=True)
        sums = np.zeros((len(cell_ids), dims), dtype=np.int64)
        np.add.at(sums, member, qv)
        return pd.DataFrame(
            {
                "cell": np.repeat(cell_ids, dims),
                "dim": np.tile(np.arange(dims, dtype=np.int32), len(cell_ids)),
                "n": np.repeat(np.bincount(member), dims),
                "sum_q": sums.ravel(),
            }
        )

    parts = _kernel_pass(
        embeddings.select(id_col, vec_col), id_col, vec_col,
        "cell bigint, dim int, n bigint, sum_q bigint", emit, kernel=kernel,
    )
    return parts.groupBy("cell", "dim").agg(
        F.sum("n").alias("n"), F.sum("sum_q").alias("sum_q")
    )


def kmeans_update_stats(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE Lloyd iteration of spherical k-means as a driver-checkable
    DataFrame: assign every vector to its nearest seed centroid (the
    exact kernel, :func:`_centroid_kernel`), then emit the per-(cell,
    dim) sufficient statistics of the centroid update — exact int64
    component sums + member counts (:func:`_kmeans_sums`) — and the
    updated centroid mean as ONE final double division, in a
    cross-engine-deterministic form, so the IVF refinement math carries
    a DuckDB-oracle hash."""
    embeddings = nonzero_norm(embeddings, vec_col)
    kernel = _centroid_kernel(
        _seed_rows(embeddings, n_centroids, id_col, vec_col)
    )
    return _kmeans_sums(embeddings, kernel, id_col, vec_col).select(
        "cell",
        "dim",
        "n",
        "sum_q",
        (
            F.col("sum_q").cast("double")
            / (F.col("n") * F.lit(QUANT)).cast("double")
        ).alias("mean_c"),
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into centroid cells,
    probe only the ``nprobe`` nearest cells per query, exact-rank inside.

    Centroids are the vectors with id < ``n_centroids`` — a deterministic
    seed assignment (production would refine with k-means rounds; the
    cell/probe/re-rank machinery is identical and this keeps the operator
    oracle-checkable). The queries' probe cells are ranked on the Spark
    driver by the exact kernel; the one scan of :func:`_cosine_topk`
    assigns each corpus row its cell with the same kernel and scores it
    only against the queries that probe that cell — NO shuffle and NO
    ×nprobe row blowup.
    """
    embeddings = nonzero_norm(embeddings, vec_col)
    kernel = _centroid_kernel(_seed_rows(embeddings, n_centroids, id_col, vec_col))
    q_rows = _query_rows(embeddings.filter(query_filter).select(id_col, vec_col))
    probes = _probe_cells(kernel, [r[1] for r in q_rows], nprobe)
    ids, _, _, nearest = kernel

    def cell(pdf, cv):
        return ids[nearest(cv)]

    return _cosine_topk(
        embeddings.select(id_col, vec_col), q_rows, k, id_col, vec_col, (cell, probes)
    )


def allpairs_cosine_lsh(
    embeddings: DataFrame,
    bands: int = 4,
    bits_per_band: int = 8,
    dims: int = 64,
    threshold: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 2048,
) -> DataFrame:
    """All-pairs cosine over LSH candidates — fully distributed, no
    driver-side collect and no global broadcast.

    Candidate generation is the LSH OR-construction: ``bands``
    independent hyperplane signatures (disjoint plane sets); two vectors
    are candidates iff they share at least one band's bucket. Scoring is
    a per-bucket int64 block matmul inside ``applyInPandas`` — one
    vectorized multiply per (band, bucket) group instead of millions of
    interpreted per-pair expressions. A pair sharing several bands is
    scored identically in each (exact integer arithmetic ⇒ bit-identical
    doubles), so the final ``distinct`` keeps one row.

    **Hot-bucket guard**: a degenerate bucket (many near-identical
    vectors — e.g. a corpus of exact copies all landing in one bucket)
    would make one task O(bucket²). Buckets larger than
    ``max_bucket_size`` are sub-split into ``ceil(size/cap)`` blocks by a
    row-hash; each block PAIR (i ≤ j) becomes its own group, scoring
    block-i×block-j only. Total work is still O(bucket²) — the pairs
    exist — but the memory/latency unit degrades gracefully to
    O(cap²) per task, spread across (nblocks·(nblocks+1))/2 parallel
    tasks instead of one. Normal-size buckets take the nblocks=1 path:
    one (0,0) group, zero extra rows.

    Shuffle profile: one tiny bucket-size aggregation (≤ bands·2^bits
    rows, broadcast back), one hash-partition of (corpus × bands) rows on
    (band, bucket, block-pair) + one distinct on emitted pairs — linear
    in candidates, never O(N²) rows. At 100 TB raise ``bits_per_band`` so
    buckets stay small; the guard is the backstop, not the plan.

    Exactness contract (matches the DuckDB oracle bit-for-bit): component
    quantization floor(double(x)·1e6) → int64, exact integer dot/norm,
    ONE final double division.
    """
    # Explicit repartitions (not left to AQE) for the two CPU-heavy
    # stages: signature computation parallelizes even from a single
    # unsplittable row group, and the per-group scorer keeps one task
    # per core — AQE would coalesce these tiny-byte exchanges into
    # 1-2 partitions and serialize thousands of group calls.
    embeddings = nonzero_norm(embeddings, vec_col)
    n_par = embeddings.sparkSession.sparkContext.defaultParallelism
    sig_udf = banded_signatures_vectorized(dims, bands, bits_per_band)
    sig = embeddings.repartition(n_par, F.col(id_col)).select(
        F.col(id_col),
        F.col(vec_col),
        sig_udf(F.col(vec_col)).alias("_buckets"),
    )
    exploded = sig.select(
        id_col,
        vec_col,
        F.posexplode("_buckets").alias("band", "bucket"),
        # census + blocked both read it: signature UDF runs once.
        # Disk-spillable; the returned frame is lazy so this function
        # cannot unpersist — ContextCleaner frees the blocks when the
        # frame is garbage-collected.
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # bucket census: ≤ bands·2^bits_per_band rows — broadcast it back
    sizes = exploded.groupBy("band", "bucket").agg(F.count("*").alias("_cnt"))
    nblocks = F.ceil(F.col("_cnt") / F.lit(max_bucket_size)).cast("int")
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.col("_nb")).cast("int")
    blocked = (
        exploded.join(F.broadcast(sizes), ["band", "bucket"])
        .withColumn("_nb", nblocks)
        .withColumn("_blk", blk)
        .select(
            id_col,
            vec_col,
            "band",
            "bucket",
            "_blk",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.col("_nb") - 1),
                        lambda x: F.struct(
                            F.least(x, F.col("_blk")).alias("gi"),
                            F.greatest(x, F.col("_blk")).alias("gj"),
                        ),
                    )
                )
            ).alias("_g"),
        )
        .select(
            id_col, vec_col, "band", "bucket", "_blk",
            F.col("_g.gi").alias("_gi"), F.col("_g.gj").alias("_gj"),
        )
        .repartition(n_par, "band", "bucket", "_gi", "_gj")
    )

    score_group = _make_block_scorer(id_col, vec_col, threshold)
    pairs = blocked.groupBy("band", "bucket", "_gi", "_gj").applyInPandas(
        score_group, schema="id_a bigint, id_b bigint, cos_sim double"
    )
    return pairs.distinct()


def _make_block_scorer(idc: str, vecc: str, thr: float | None):
    """Per-group exact block-matmul pair scorer for ``applyInPandas``.

    Expects ``_gi``/``_gj`` (block-pair group keys) and ``_blk`` (the
    row's block) columns. Scores a<b pairs; in a cross-block group
    (gi != gj) only pairs whose blocks differ — within-block pairs belong
    to the (b,b) groups, so each pair is scored exactly once per bucket.
    The closure is self-contained (numpy/pandas only): safe to pickle by
    value into sessions that can't import this package on workers."""
    quantize, cosine = _quantizer(), _cosine_scorer()

    def score_group(pdf):
        import numpy as _np  # noqa: PLC0415
        import pandas as _pd  # noqa: PLC0415

        ids = pdf[idc].to_numpy()
        mat = quantize(pdf[vecc].to_numpy())
        cos = cosine(mat, mat)
        mask = ids[:, None] < ids[None, :]  # a < b, no self-pairs
        if pdf["_gi"].iat[0] != pdf["_gj"].iat[0]:
            blks = pdf["_blk"].to_numpy()
            mask &= blks[:, None] != blks[None, :]
        if thr is not None:
            mask &= cos >= thr
        ai, bi = _np.nonzero(mask)
        return _pd.DataFrame(
            {"id_a": ids[ai], "id_b": ids[bi], "cos_sim": cos[ai, bi]}
        )

    return score_group


#: Centroid count at which :func:`_seed_cell_assignment` switches from
#: the exact one-level kernel (every vector scored against every
#: centroid, N·C·d) to the two-level coarse-then-fine search
#: (N·~2√C·d). Every catalog entry pins C=16 and the auto rule stays
#: under 256 up to N=65 536, so those outputs are exact; above it the
#: assignment term is what made the cell-confined operators O(N^1.5)
#: (VERDICT r8/r9 — knn_pagerank d1000 slope 1.07), and two-level is
#: the ordered fix.
_TWO_LEVEL_MIN_CENTROIDS = 256


def _seed_cell_assignment(
    embeddings: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cell): nearest-seed-centroid assignment of the
    nonzero-norm corpus, kept as a reusable frame so set-shaped
    consumers (semantic dedup, kNN cells, cell histograms) can share
    it. One map-side Arrow pass (:func:`_assign_cells`) with the
    centroids in the task closure; the corpus never shuffles.

    The arithmetic is the exact kernel (:func:`_centroid_kernel` states
    the contract: int64 quantization, exact integer dot/norm, one IEEE
    division per score, ties to the lowest centroid id), so cells
    hash-equal the DuckDB ``row_number() … rn = 1`` twin. At
    ``n_centroids`` ≥ :data:`_TWO_LEVEL_MIN_CENTROIDS` the search is the
    coarse-then-fine :func:`_two_level_kernel` instead — ~2√C dots per
    vector, a bounded approximation (see its contract). Input vectors
    must all have the centroids' length; a ragged row raises."""
    embeddings = nonzero_norm(embeddings, vec_col)
    if n_centroids >= _TWO_LEVEL_MIN_CENTROIDS:
        return _seed_cell_assignment_two_level(
            embeddings, n_centroids, id_col, vec_col
        )
    return _seed_cell_assignment_one_level(embeddings, n_centroids, id_col, vec_col)


def _seed_cell_assignment_one_level(
    embeddings: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> DataFrame:
    """Exact one-level :func:`_seed_cell_assignment` at any C;
    ``embeddings`` must already be nonzero-norm filtered."""
    cents = _seed_rows(embeddings, n_centroids, id_col, vec_col)
    return _assign_cells(embeddings, _centroid_kernel(cents), id_col, vec_col)


def _seed_cell_assignment_two_level(
    embeddings: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> DataFrame:
    """Two-level :func:`_seed_cell_assignment` at any C;
    ``embeddings`` must already be nonzero-norm filtered."""
    cents = _seed_rows(embeddings, n_centroids, id_col, vec_col)
    return _assign_cells(embeddings, _two_level_kernel(cents), id_col, vec_col)


#: Bounded-cell divisor for the scale regime of the auto-C rule:
#: above the crossover, C = N/_CELL_BOUND keeps expected cell size at
#: ~_CELL_BOUND so the in-cell pair term is linear (N·_CELL_BOUND·d).
_CELL_BOUND = 512


def _auto_n_centroids(
    embeddings: DataFrame, approx_rows: int | None = None
) -> int:
    """Scale-aware centroid count (≥ 16) for the all-pairs-within-cell
    operators: ``max(16, √N, N/512)``. In-cell pairs cost N²·d/C and
    (two-level) assignment ~N·2√C·d, so two laws compete:

    - **√N** keeps cells √N-sized — total O(N^1.5·d), but at small N
      the linear scan/shuffle terms dominate and √N's smaller C wins
      (r11 same-box bracket at 200 k vecs: √N C=447 56.8 s vs bounded
      C=390 59.2 s).
    - **N/512 (bounded-cell)** caps expected cell size at ~512 so the
      pair term is LINEAR N·512·d while two-level assignment stays
      ~2√C dots/vector — the 100 TB law (r11 same-box at 500 k vecs:
      bounded 139.5 s vs √N-family 187.6 s; r10 at 2 M: 276.3 vs
      312.8 s, decade slope 0.93 vs 1.005 — SCALE.md §6h). Only
      possible since two-level assignment landed: one-level at
      C=N/512 would itself be N²·d/512.

    The ``max()`` form switches exactly where the formulas cross,
    N = 512² = 262 144 — inside the measured bracket (√N ahead at
    200 k, bounded ahead at 500 k and 2 M), so there is no separate
    threshold knob to mis-tune. The auto default's measured
    d100→d1000 slope is **0.967** (SCALE.md §6h; was 1.005 under the
    √N-only rule). Same make-scale-the-default pattern as
    dedup._auto_n_blocks (VERDICT r7: 'the caller at 100 TB is exactly
    the person who won't read the docstring').

    N comes from ``approx_rows`` when the caller already knows it
    (zero extra work — a 2× estimate moves C by ≤2×, immaterial: the
    pair term is flat near the bound and assignment is √C); otherwise
    one columnar count. Callers that count should persist first:
    counting an unpersisted lineage re-runs the upstream pipeline once
    for the count and again for the assignment scan (ADVICE r8 —
    semantic_dedup/knn_graph now do)."""
    import math  # noqa: PLC0415

    n = approx_rows if approx_rows is not None else embeddings.count()
    return max(16, math.isqrt(n), n // _CELL_BOUND)


def _resolve_n_centroids(
    embeddings: DataFrame,
    n_centroids: int | None,
    approx_rows: int | None,
) -> tuple[DataFrame, int]:
    """Shared auto-C resolution for the cell-confined operators:
    explicit ``n_centroids`` passes through untouched (the catalog-pin
    path — zero plan change); auto with an ``approx_rows`` hint costs
    nothing; auto WITHOUT a hint persists the input before counting so
    the count action and the assignment's two corpus reads (centroid
    collect + scan) share one materialization instead of re-running the
    upstream lineage per action (ADVICE r8 low — the unpersisted-
    recount). Returns the (possibly persisted) frame + resolved C."""
    if n_centroids is not None:
        return embeddings, n_centroids
    if approx_rows is None:
        embeddings = embeddings.persist(StorageLevel.MEMORY_AND_DISK)
    return embeddings, _auto_n_centroids(embeddings, approx_rows)


def semantic_dedup(
    embeddings: DataFrame,
    n_centroids: int | None = None,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int = 2048,
    approx_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then drop, within
    each cluster, every vector that has an EARLIER-id neighbor above the
    cosine ``threshold``. Pairwise comparison never crosses clusters —
    that is the whole point: k clusters cut the O(N²) candidate space to
    O(Σ cell²) ≈ O(N²/k) while near-duplicates (which co-locate by
    construction) stay comparable.

    Keeper rule: vector j is dropped iff SOME i<j in its cell has
    cos(i,j) ≥ threshold — pairwise-greedy in id order, deterministic
    and EXISTS-expressible (for clique-exact keeper selection compose
    the surviving pairs with :func:`~..operators.dedup.neardup_clusters`
    instead). Output: (vec_id, cell, kept) for EVERY input vector.

    Scale shape: assignment is one map-side Arrow pass
    (:func:`_seed_cell_assignment`); scoring reuses the blocked
    int64 matmul of :func:`allpairs_cosine_lsh` keyed on the cell — a
    cell larger than ``max_cell_size`` is sub-split into hash blocks and
    every block pair becomes its own O(cap²)-bounded task, so a
    degenerate cell degrades to parallel bounded tasks, never one
    O(cell²) straggler. Shuffles: the cell-census broadcast, one hash
    partition on (cell, block-pair), one distinct over dropped ids —
    linear in candidates. At 100 TB the DEFAULT already keeps cells
    bounded (the auto rule goes C=N/512 above the crossover — SemDeDup
    itself runs k≈10⁴ on web-scale corpora); seeds here are the
    deterministic id<k convention the IVF entries share.

    Exactness: quantized assignment ties to the lowest centroid id;
    pair cosines are exact int64 dots with one final double division —
    bit-identical across engines, so the threshold comparison (and
    hence ``kept``) is oracle-hashable.

    ``n_centroids=None`` (the default) derives the scale-aware
    ``max(16, √N, N/512)`` rule (:func:`_auto_n_centroids` — √N below
    the 262 144-row crossover, bounded-cell above it, so the pair term
    goes linear exactly when it would start to dominate) from
    ``approx_rows`` (a catalog/footer row-count hint — free) or one
    count over a persisted input — the scale behavior without reading
    this docstring; pass an explicit value to pin cells (the catalog
    pins 16). Above C=256 assignment runs the two-level
    coarse-then-fine search (see :func:`_two_level_kernel` for the
    bounded-approximation contract)."""
    embeddings, n_centroids = _resolve_n_centroids(
        embeddings, n_centroids, approx_rows
    )
    assign = _seed_cell_assignment(embeddings, n_centroids, id_col, vec_col)
    pairs = _cell_pairs(assign, id_col, vec_col, max_cell_size, threshold)
    dropped = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return assign.join(dropped, [id_col], "left").select(
        id_col, "cell", F.col("_dup").isNull().alias("kept")
    )


def _cell_pairs(
    assign: DataFrame,
    id_col: str,
    vec_col: str,
    max_cell_size: int,
    threshold: float | None,
) -> DataFrame:
    """All within-cell (id_a < id_b, cos_sim) pairs of an assignment
    frame, scored by the blocked int64 matmul with the hot-cell
    sub-split guard (the :func:`allpairs_cosine_lsh` machinery keyed on
    the cell): oversized cells degrade to parallel O(cap²)-bounded
    block-pair tasks, never one O(cell²) straggler."""
    n_par = assign.sparkSession.sparkContext.defaultParallelism
    sizes = assign.groupBy("cell").agg(F.count("*").alias("_cnt"))
    nblocks = F.ceil(F.col("_cnt") / F.lit(max_cell_size)).cast("int")
    blocked = (
        assign.join(F.broadcast(sizes), ["cell"])
        .withColumn("_nb", nblocks)
        .withColumn(
            "_blk", F.pmod(F.xxhash64(F.col(id_col)), F.col("_nb")).cast("int")
        )
        .select(
            id_col,
            vec_col,
            "cell",
            "_blk",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.col("_nb") - 1),
                        lambda x: F.struct(
                            F.least(x, F.col("_blk")).alias("gi"),
                            F.greatest(x, F.col("_blk")).alias("gj"),
                        ),
                    )
                )
            ).alias("_g"),
        )
        .select(
            id_col, vec_col, "cell", "_blk",
            F.col("_g.gi").alias("_gi"), F.col("_g.gj").alias("_gj"),
        )
        .repartition(n_par, "cell", "_gi", "_gj")
    )
    score_group = _make_block_scorer(id_col, vec_col, threshold)
    return blocked.groupBy("cell", "_gi", "_gj").applyInPandas(
        score_group, schema="id_a bigint, id_b bigint, cos_sim double"
    )


def knn_graph(
    embeddings: DataFrame,
    k: int = 3,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int = 2048,
    approx_rows: int | None = None,
) -> DataFrame:
    """Per-vector k-nearest-neighbor adjacency, cell-confined: for
    EVERY corpus vector, its top-k in-cell neighbors by cosine — the
    batch kNN-graph builder behind SemDeDup's cluster pruning, SSL
    prototype selection, and diversity-aware sampling. Differs from the
    query-set ANN entries (a handful of probes against the corpus) in
    shape: here the corpus is both sides, so candidates MUST be
    confined (cells) or the pair space is O(N²).

    Neighbors beyond the vector's cell are invisible by construction —
    the SemDeDup trade: raise ``n_centroids`` with N so cells stay
    bounded, and accept that recall is within-cell (compose with
    :func:`ann_recall_at_k`-style evaluation to measure it).

    Choosing ``n_centroids`` at scale: two-level assignment costs
    ~N·2√C·d (numpy FLOP-rate) and in-cell
    scoring ~N²·d/C. C ≈ √N balances them at O(N^1.5·d) total and wins
    while linear scan/shuffle terms dominate; C = N/512 (bounded
    cells) makes the pair term strictly linear and wins above the
    crossover — measured d1000 decade slope 0.93 vs 1.005 (SCALE.md
    §6h). The auto default (:func:`_auto_n_centroids`) picks
    ``max(16, √N, N/512)``, switching where the formulas cross.

    Scale shape: map-side assignment (one Arrow pass); within-cell
    pairs via the blocked int64 matmul with the hot-cell
    guard (:func:`_cell_pairs`); each undirected pair is emitted once
    and mirrored by a union (no second scoring pass); the final rank is
    a per-source window over in-cell candidates — partitioned by
    vector, never global. A vector alone in its cell yields no rows
    (degree 0), which is the honest answer, not an error.

    Exactness: same quantized arithmetic as every similarity entry —
    int64 dots, one double division, rank ties to the lowest neighbor
    id — so ranks and cosines are oracle-hashable.

    ``n_centroids=None`` (the default) derives the scale-aware rule
    above from ``approx_rows`` (a catalog/footer row-count hint —
    free) or one count over a persisted input — the scale behavior is
    the default; pass an explicit value to pin cells (the catalog pins
    16). Above C=256 assignment runs the two-level coarse-then-fine
    search (see :func:`_two_level_kernel` — per-vector
    ~2√C dots, the fix that makes the bounded-cell regime affordable:
    one-level assignment at C=N/512 would itself be quadratic)."""
    from pyspark.sql import Window  # noqa: PLC0415

    embeddings, n_centroids = _resolve_n_centroids(
        embeddings, n_centroids, approx_rows
    )
    assign = _seed_cell_assignment(embeddings, n_centroids, id_col, vec_col)
    pairs = _cell_pairs(assign, id_col, vec_col, max_cell_size, threshold=None)
    directed = pairs.select(
        F.col("id_a").alias("src_id"),
        F.col("id_b").alias("dst_id"),
        "cos_sim",
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("src_id"),
            F.col("id_a").alias("dst_id"),
            "cos_sim",
        )
    )
    w = Window.partitionBy("src_id").orderBy(
        F.desc("cos_sim"), F.asc("dst_id")
    )
    return (
        directed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", F.col("rank").cast("int").alias("rank"), "dst_id", "cos_sim")
    )


def ann_recall_at_k(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    dims: int = 64,
    bits: int = 8,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the LSH path against exact brute force, as ONE
    DataFrame — the evaluation harness every ANN deployment needs,
    expressed as a query so the measurement itself is distributed,
    repeatable, and oracle-checkable (a recall number computed by
    driver-side set math would be none of those).

    Per query: ``n_hits`` = |LSH top-k ∩ exact top-k| and
    ``recall_at_k`` = n_hits/k (exact small-integer division, one final
    double cast). Queries with zero LSH candidates still appear (recall
    0), so a collapsed bucket cannot silently vanish from the average.

    Scale shape: both rankings are one scan of :func:`_cosine_topk`
    with the queries in the task closure (brute force scores every
    row, LSH only the rows in a query's probed buckets); the
    intersection is a semi-join between two top-k-sized frames (≤
    |queries|·k rows each), and the final groupBy is query-count-sized.
    Evaluate recall on a SAMPLE of queries at scale — the brute-force
    side is the O(|queries|·N) term."""
    exact = cosine_topk_bruteforce(embeddings, query_pred, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    approx = cosine_topk_lsh(
        embeddings,
        query_pred,
        k=k,
        dims=dims,
        bits=bits,
        probe_hamming=probe_hamming,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    per_q = exact.select("query_id").distinct()
    return per_q.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            / F.lit(float(k))
        ).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half)
# ---------------------------------------------------------------------------


def _subspace_codebook(qs, n_sub: int) -> list[list[list[int]]]:
    """Quantized seed rows (an int64 matrix) → ``[m][code][dim]``:
    codeword i of subspace m is row i's subspace-m slice."""
    if qs.shape[1] % n_sub:
        raise ValueError(f"dims={qs.shape[1]} not divisible by n_sub={n_sub}")
    return qs.reshape(len(qs), n_sub, -1).transpose(1, 0, 2).tolist()


def pq_seed_codebook(
    embeddings: DataFrame,
    n_sub: int,
    k_codes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allow_missing: bool = False,
) -> list[list[list[int]]]:
    """Deterministic PQ seed codebook ``[m][code][dim]`` in quantized
    int space: subspace sub-vectors of the vectors with ``id <
    k_codes`` (the same seeding rule the IVF/k-means tier uses, so the
    codebook is reproducible in any engine with no RNG).

    ``allow_missing=True`` builds the codebook from however many seed
    ids exist (possibly zero → ``[]``) instead of raising — the
    semantics a SQL seed CTE has when the input was pre-filtered (e.g.
    :func:`cosine_topk_pq_rerank` seeds over the nonzero-norm frame,
    where a zero-norm seed simply shrinks the codebook). Codebook
    positions stay monotone in seed id, so argmin tie-breaks match a
    code=id oracle either way."""
    seed_rows = _seed_rows(embeddings, k_codes, id_col, vec_col)
    if len(seed_rows) != k_codes and not allow_missing:
        raise ValueError(
            f"PQ seeding expects ids 0..{k_codes - 1} to exist; "
            f"found {len(seed_rows)}"
        )
    if not seed_rows:
        return []
    return _subspace_codebook(_quantizer()([r[1] for r in seed_rows]), n_sub)


def pq_encode(
    embeddings: DataFrame,
    n_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list[list[list[int]]] | None = None,
) -> DataFrame:
    """Product-quantization encoding: split each vector into ``n_sub``
    subspaces and replace every sub-vector by the id of its nearest
    codeword (exact int64 squared-L2, ties to the lowest code id) —
    the compression that makes billion-vector ANN fit in RAM
    (64 dims × float32 → ``n_sub`` bytes here; the IVF half of IVF-PQ
    is :func:`cosine_topk_ivf`).

    Returns one row per (vector, subspace): ``(id, m, code, qdist)``
    with ``qdist`` the exact quantized squared distance to the chosen
    codeword (the per-subspace reconstruction error, summable per
    vector).

    Scale shape: ONE Arrow pass of :func:`_pq_kernel` over the
    (fanned-out) scan, with the codebook in the task closure. No corpus
    shuffle; the pass is stateless, so it encodes stream frames too."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    if codebook is None:
        codebook = pq_seed_codebook(embeddings, n_sub, k_codes, id_col, vec_col)
    frame, pq = embeddings.select(id_col, vec_col), _pq_kernel(codebook)
    schema = T.StructType(
        [
            frame.schema[id_col],
            T.StructField("m", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
            T.StructField("qdist", T.LongType()),
        ]
    )

    def emit(pdf, qv, cells, codes, qdist):
        n, n_sub = codes.shape
        return pd.DataFrame(
            {
                id_col: np.repeat(pdf[id_col].to_numpy(), n_sub),
                "m": np.tile(np.arange(n_sub, dtype=np.int32), n),
                "code": codes.ravel().astype(np.int32),
                "qdist": qdist.ravel(),
            }
        )

    return _kernel_pass(frame, id_col, vec_col, schema, emit, pq=pq)


def _adc_tables(pq, q_rows, kernel=None, nprobe: int = 1):
    """The ADC tables of the query rows ``(id, vector)``, as ``{cell:
    (query ids, tables)}``. Without ``kernel``: one entry, cell None,
    scored against every corpus row. With it, each query's table sits
    under each of its ``nprobe`` nearest cells, built on the residual
    target q − centroid[cell]."""
    import numpy as np  # noqa: PLC0415

    if not q_rows:
        return {}
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qv = _quantizer()([r[1] for r in q_rows])
    if kernel is None:
        return {None: (qids, pq[1](qv))}
    cent_ids, qc, _, nearest = kernel
    best = nearest(qv, nprobe)  # (|Q|, nprobe) centroid rows, best first
    rows = best.reshape(-1)
    targets = np.repeat(qv, best.shape[1], axis=0) - qc[rows]
    qids, cells, tables = np.repeat(qids, best.shape[1]), cent_ids[rows], pq[1](targets)
    return {int(c): (qids[cells == c], tables[cells == c]) for c in np.unique(cells)}


def _fused_adc_shortlist(
    frame: DataFrame,
    pq,
    tables: dict,
    shortlist: int,
    id_col: str,
    vec_col: str,
    kernel=None,
) -> DataFrame:
    """ONE Arrow pass over the corpus for every PQ query entry: per
    batch, quantize and encode (with ``kernel``, after assigning each
    row its cell and subtracting that cell's centroid); gather each
    query's ADC distances from its table (:func:`_adc_tables`; a query
    scores a row iff it probes the row's cell) and emit the batch's
    top-``shortlist``
    ``(query_id, neighbor_id, adist)`` rows, self-pairs excluded.

    Per-batch partial top-k is the "aggregate before you shuffle"
    move: the union of per-batch top-k sets under the strict total
    order (adist, neighbor_id) contains the global top-k, so the
    downstream window selects exactly the rows a full scan would while
    shuffling ≤ |batches|·|Q|·shortlist rows instead of |Q|·N. The
    tables travel in the task closure (|Q|·nprobe·n_sub·k ints)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    adc_topk = pq[2]
    id_type = frame.schema[id_col].dataType.simpleString()

    def emit(pdf, qv, cells, codes, qdist):
        ids = pdf[id_col].to_numpy()
        parts = []
        for cell, (qids, tabs) in tables.items():
            sel = slice(None) if cell is None else cells == cell
            if len(ids[sel]):
                parts.append(adc_topk(qids, tabs, ids[sel], codes[sel], shortlist))
        if parts:
            q, n, d = (np.concatenate(c) for c in zip(*parts))
            return pd.DataFrame({"query_id": q, "neighbor_id": n, "adist": d})
        return None

    return _kernel_pass(
        frame.select(id_col, vec_col), id_col, vec_col,
        f"query_id bigint, neighbor_id {id_type}, adist bigint",
        emit, kernel, pq,
    )


def _adc_rank(cand: DataFrame, k: int) -> DataFrame:
    """Per-query top ``k`` of ADC candidates under (adist, neighbor_id)."""
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "adist")
    )


def _exact_rerank(
    embeddings: DataFrame,
    q_rows: list,
    cand: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact top-``k`` of a ``(query_id, neighbor_id)`` shortlist by
    quantized cosine, ties to the lower neighbor id — the faiss
    ``refine`` stage of every PQ query, for the query rows ``q_rows``.
    The shortlist (≤ |Q|·shortlist rows) is collected once, bounded by
    :data:`_SHORTLIST_ROWS_MAX`, and the scan of :func:`_cosine_topk`
    scores a corpus row only against the queries that shortlisted it,
    so the corpus never shuffles."""
    short: dict = {}
    for q, n in _query_rows(cand.select("query_id", "neighbor_id"), _SHORTLIST_ROWS_MAX):
        short.setdefault(q, []).append(n)

    def row_id(pdf, cv):
        return pdf[id_col].to_numpy()

    probes = [short.get(r[0], []) for r in q_rows]
    return _cosine_topk(
        embeddings.select(id_col, vec_col), q_rows, k, id_col, vec_col, (row_id, probes)
    )


def cosine_topk_pq_adc(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k scan over PQ codes: each query
    keeps full precision and precomputes a ``n_sub × k_codes`` lookup
    table of partial squared distances to every codeword; a corpus
    vector's approximate distance is then ``n_sub`` table lookups summed
    over its codes.

    Exact-integer throughout (LUT entries are int64 partial sums of
    quantized components), so ranking is deterministic and
    oracle-checkable. Ties break on neighbor id.

    Scale shape: ONE Arrow pass (:func:`_fused_adc_shortlist`) encodes
    the corpus, gathers the LUTs and keeps each batch's top-k; the only
    shuffle besides the scan fan-out is the per-query top-k window over
    the batch partials."""
    pq = _pq_kernel(pq_seed_codebook(embeddings, n_sub, k_codes, id_col, vec_col))
    q_rows = _query_rows(embeddings.filter(query_filter).select(id_col, vec_col))
    cand = _fused_adc_shortlist(
        embeddings, pq, _adc_tables(pq, q_rows), k, id_col, vec_col
    )
    return _adc_rank(cand, k)


def cosine_topk_pq_rerank(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    shortlist: int = 50,
    n_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full IVF-PQ query pattern: ADC over the compressed codes
    produces a ``shortlist`` of candidates per query (reading ~n_sub
    bytes/vector), then ONLY those candidates' full vectors are fetched
    and exactly re-ranked by quantized cosine (:func:`_exact_rerank`) —
    the faiss ``search + refine`` composition. Recall is set by the
    shortlist size, compute by the code scan; the exact tier touches
    |queries|·shortlist vectors regardless of corpus size."""
    embeddings = nonzero_norm(embeddings, vec_col)
    # Seed over the nz-filtered frame WITHOUT the all-16-ids existence
    # demand: a zero-norm seed id just shrinks the codebook, exactly
    # like a SQL seed CTE over the filtered table (the ann_pq_rerank
    # oracle's cb-over-nz semantics).
    codebook = pq_seed_codebook(
        embeddings, n_sub, k_codes, id_col, vec_col, allow_missing=True
    )
    if not codebook:
        return _empty_topk(embeddings, id_col, "cos_sim double")
    pq = _pq_kernel(codebook)
    q_rows = _query_rows(embeddings.filter(query_filter).select(id_col, vec_col))
    cand = _fused_adc_shortlist(
        embeddings, pq, _adc_tables(pq, q_rows), shortlist, id_col, vec_col
    )
    return _exact_rerank(
        embeddings, q_rows, _adc_rank(cand, shortlist), k, id_col, vec_col
    )


# ---------------------------------------------------------------------------
# IVF-PQ: cells for pruning, codes for compression — faiss's IndexIVFPQ
# shape with by_residual=true, composed from the verified tiers above.
# Each row is encoded as its residual v − centroid[cell]. Residuals are
# smaller in magnitude than raw vectors, so the same codebook budget
# quantizes them finer; the ADC table becomes per-(query, probed cell)
# on the target q − centroid[cell]. Residuals are q(v) − q(c), so the
# whole tier stays exact int64 arithmetic.
# ---------------------------------------------------------------------------


def _ivf_setup(
    embeddings: DataFrame,
    n_centroids: int,
    n_sub: int,
    k_codes: int,
    id_col: str,
    vec_col: str,
):
    """``(kernel, codebook)`` of the IVF-PQ tier from ONE seed collect:
    ids < ``n_centroids`` are the centroids, and the ids in
    ``[n_centroids, n_centroids + k_codes)`` quantize, as residuals
    against their own nearest centroid, into the codebook. A seed id
    lost to the nonzero-norm gate shrinks the codebook (positions stay
    monotone in seed id, so argmin ties match the oracle's gapped
    numbering); none left gives ``(None, [])``. ``embeddings`` must
    already be nonzero-norm filtered.

    The seed range is deliberately DISJOINT from the centroid ids: a
    vector that IS a centroid has residual exactly zero (it is its own
    nearest cell), so seeding from ``id < k_codes`` would build an
    all-zero codebook — every code ties to 0 and the shortlist
    degenerates to id order, while still matching its oracle."""
    rows = _seed_rows(embeddings, n_centroids + k_codes, id_col, vec_col)
    seeds = [r[1] for r in rows if r[0] >= n_centroids]
    if not seeds:
        return None, []
    kernel = _centroid_kernel([r for r in rows if r[0] < n_centroids])
    _, qc, quantize, nearest = kernel
    qs = quantize(seeds)
    return kernel, _subspace_codebook(qs - qc[nearest(qs)], n_sub)


def cosine_topk_ivfpq_residual(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_sub: int = 8,
    k_codes: int = 16,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """faiss IndexIVFPQ with by_residual=true: probe the nprobe nearest
    cells; ADC over RESIDUAL codes with a per-(query, probed cell)
    lookup table on the target (q - centroid[cell]); exact rerank of
    the shortlist (:func:`_exact_rerank`).

    Scale shape: driver probes and ADC tables, then ONE fused Arrow
    pass over the corpus (:func:`_fused_adc_shortlist`) that scores a
    row only against the queries that probe its cell and keeps
    per-batch top-``shortlist`` rows; the |Q|·nprobe tables travel in
    the task closure."""
    embeddings = nonzero_norm(embeddings, vec_col)
    kernel, codebook = _ivf_setup(
        embeddings, n_centroids, n_sub, k_codes, id_col, vec_col
    )
    if not codebook:
        return _empty_topk(embeddings, id_col, "cos_sim double")
    pq = _pq_kernel(codebook)
    q_rows = _query_rows(embeddings.filter(query_filter).select(id_col, vec_col))
    tables = _adc_tables(pq, q_rows, kernel, nprobe)
    cand = _fused_adc_shortlist(
        embeddings, pq, tables, shortlist, id_col, vec_col, kernel
    )
    return _exact_rerank(
        embeddings, q_rows, _adc_rank(cand, shortlist), k, id_col, vec_col
    )


# ---------------------------------------------------------------------------
# OPQ (permutation variant): balance per-subspace variance before PQ.
# Reference shape: faiss OPQMatrix / IndexPreTransform over IndexIVFPQ;
# algorithm: the dimension-permutation baseline of Ge et al.,
# "Optimized Product Quantization" (CVPR 2013) — deal dimensions into
# subspaces in boustrophedon order of decreasing variance, so no
# subspace hoards all the high-energy dimensions. The full OPQ learns a
# dense rotation by alternating SVD; the permutation variant captures
# most of the benefit on axis-aligned-skewed data, is exactly
# reproducible in integer arithmetic on any engine (no SVD), and costs
# one aggregation over the corpus.
# ---------------------------------------------------------------------------


def opq_permutation(
    embeddings: DataFrame,
    n_sub: int = 8,
    vec_col: str = "embedding",
) -> list[int]:
    """Variance-balancing dimension permutation: ``perm[new_pos] =
    old_dim``. Per-dim variance is computed EXACTLY — quantized int64
    components, sums accumulated as DECIMAL(38,0) (exact at any corpus
    size), and the variance numerator ``n·Σq² − (Σq)²`` in Python
    arbitrary-precision — so the ordering (variance DESC, dim ASC) is
    bit-reproducible cross-engine (the SQL twin ranks the same HUGEINT
    expression). One map-side-partial aggregation over the corpus
    (64 groups); at 100 TB run it on a sample — the ordering, not the
    values, is what matters."""
    # r13 NOTE: a scan fan-out was A/B'd here and REJECTED — opq_map
    # measured 0.72 s -> 0.76 s (the rows×dims explode's partial agg is
    # not the wall; the entry's time is scan+job+collect fixed cost),
    # so the exchange buys nothing even in the unsplittable-file regime.
    ex = embeddings.select(
        F.posexplode(F.transform(F.col(vec_col), _q)).alias("dim", "q")
    )
    rows = ex.groupBy("dim").agg(
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("ss"),
        F.count("*").alias("n"),
    ).collect()
    var = {int(r["dim"]): int(r["n"]) * int(r["ss"]) - int(r["s"]) ** 2 for r in rows}
    dims = len(var)
    if dims % n_sub:
        raise ValueError(f"dims={dims} not divisible by n_sub={n_sub}")
    sub_dim = dims // n_sub
    order = sorted(var, key=lambda d: (-var[d], d))
    perm: list[int] = [0] * dims
    for r, d in enumerate(order):
        block, pos = divmod(r, n_sub)
        sub = pos if block % 2 == 0 else n_sub - 1 - pos
        perm[sub * sub_dim + block] = d
    return perm


def apply_permutation(
    embeddings: DataFrame, perm: list[int], vec_col: str = "embedding"
) -> DataFrame:
    """Reorder each vector's dimensions (the 'rotation' of
    permutation-OPQ): pure map-side, 64 array getItems inside
    whole-stage codegen. Permutations preserve dot products and norms,
    so cosine results on permuted vectors are IDENTICAL to the
    originals — only the PQ subspace decomposition (and hence code
    quality) changes."""
    permuted = F.array(*[F.col(vec_col).getItem(i) for i in perm])
    return embeddings.withColumn(vec_col, permuted)


def cosine_topk_pq_opq(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    shortlist: int = 50,
    n_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """OPQ-composed PQ rerank: permute dimensions to balance subspace
    variance, then run the standard encode → ADC shortlist → exact
    rerank pipeline on the permuted space. Because permutation
    preserves inner products, the exact rerank scores are unchanged —
    OPQ moves RECALL (better codes → better shortlists) at zero extra
    query cost. The permutation itself is 64 ints; everything else is
    the audited PQ plan."""
    perm = opq_permutation(nonzero_norm(embeddings, vec_col), n_sub, vec_col)
    rotated = apply_permutation(embeddings, perm, vec_col)
    return cosine_topk_pq_rerank(
        rotated, query_filter, k, shortlist, n_sub, k_codes, id_col, vec_col
    )
