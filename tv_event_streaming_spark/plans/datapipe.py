"""Training-data-pipeline queries: dedup, similarity, text analysis,
multimodal — over the ``documents`` and ``embeddings`` tables.

SQL-oracle notes:
- md5 fingerprints match across engines (both hash the utf-8 bytes);
- cosine similarities quantize components to int64 (floor(x·1e6)) so the
  dot/norm sums are exact integers — bit-identical doubles on both sides;
- hash-based operators (MinHash, SimHash) run their catalog entries with
  the md5-slice portable hash (dedup.portable_hash64 — bit-identical in
  DuckDB), so every entry here is fully hash-checked; the xxhash64
  scale-path defaults are covered by tests/test_dedup.py against
  injected duplicates;
- hyperplane-LSH bucketing embeds the same ±1 plane pattern in both
  plans (similarity.plane_sign ↔ _lsh_bucket_sql), with sign decisions
  on exact quantized-integer sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..domain import load_table, table_rows
from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as TX
from .catalog import register

# SQL twins of text.normalized / text.tokens (DuckDB needs the 'g' flag).
_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"
_SW = "('" + "','".join(TX.EN_STOPWORDS) + "')"

# int64 quantization of a float vector component (see similarity.QUANT)
_Q = "CAST(FLOOR(CAST({x} AS DOUBLE)*1000000) AS BIGINT)"

# portable_hash64 twin (dedup.portable_hash64): first 15 md5 hex chars → int64
_PH = "CAST(concat('0x', substring(md5({x}),1,15)) AS BIGINT)"
_DOT = (
    "CAST(list_sum(list_transform(list_zip({a},{b}), "
    f"p -> {_Q.format(x='p[1]')} * {_Q.format(x='p[2]')})) AS DOUBLE)"
)
_NORMSQ = (
    "CAST(list_sum(list_transform({v}, "
    f"x -> {_Q.format(x='x')} * {_Q.format(x='x')})) AS DOUBLE)"
)

# zero-norm vectors are EXCLUDED from cosine scoring (similarity.
# nonzero_norm): 0/0 is IEEE NaN in Spark but NULL in SQL, and the two
# sort differently — every cosine oracle reads the corpus through this
# CTE, mirroring the operator-side filter
_NZ_CTE = (
    "nz AS (SELECT * FROM embeddings "
    f"WHERE {_NORMSQ.format(v='embedding')} > 0)"
)


def _ranked_cte(n_centroids: int) -> str:
    """cents + ranked CTEs: every nz vector against every seed centroid
    (id < n_centroids) by quantized cosine DESC, ties to the lowest
    cent_id — the SQL twin of similarity._centroid_kernel: rn = 1 is a
    vector's cell, rn <= nprobe its probe order."""
    return f"""cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM nz WHERE vec_id < {n_centroids}
),
ranked AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_DOT.format(a='e.embedding', b='c.cvec')}
                    / sqrt({_NORMSQ.format(v='e.embedding')} * {_NORMSQ.format(v='c.cvec')}) DESC,
                    c.cent_id
         ) AS rn
  FROM nz e, cents c
)"""

# SQL twins of the repetition gates (text._repetition_rules): trimmed
# non-empty lines of the RAW text; ALL (non-distinct) word 2-grams; the
# top-2-gram char mass as the quadratic max over distinct grams of
# count·length — the Spark side computes the same max with a sorted
# linear scan. Rule thresholds are rational, so both comparisons are
# integer arithmetic on both engines.
#
# The array expressions are STAGED once per doc through the ``_QSTAGE``
# derived table — DuckDB does not share subexpressions across lambda
# boundaries, so inlining `_GRAMS2` into the quadratic max re-runs the
# regex+split pipeline per distinct gram (measured 91 s vs <2 s at
# sf0.01 for the staged form). Rule templates below therefore take the
# staged COLUMN names, not raw expressions.
_LINES = (
    "list_transform(list_filter(string_split(text, chr(10)), "
    "l -> trim(l) <> ''), l -> trim(l))"
)
_GRAMS2 = (
    f"CASE WHEN len({_TOKS}) >= 2 THEN "
    f"list_transform(range(1, len({_TOKS})), i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1]) "
    "ELSE [] END"
)
_QSTAGE = (
    f"SELECT doc_id, text, {_LINES} AS _lines, {_GRAMS2} AS _grams2 "
    "FROM documents"
)
_TOP2_OF = (
    "COALESCE(list_max(list_transform(list_distinct({g}), "
    "gg -> len(list_filter({g}, x -> x = gg)) * length(gg))), 0)"
)
_TOP2 = _TOP2_OF.format(g="_grams2")
_DUP_LINE_OK = (
    "(len(_lines) = 0 OR "
    "10 * (len(_lines) - len(list_distinct(_lines))) < 3 * len(_lines))"
)
_TOP2_OK = f"(length({_NORM}) = 0 OR 5 * {_TOP2} < length({_NORM}))"

# the full gate conjunction (text.quality_filter's `keep`); valid over
# rows of ``_QSTAGE``
_QUALITY_KEEP = f"""(len({_TOKS}) >= 5 AND len({_TOKS}) <= 100000)
    AND (CAST(length({_NORM}) AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE) >= 2.0
         AND CAST(length({_NORM}) AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE) <= 12.0)
    AND (CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         / CAST(length(text) AS DOUBLE) < 0.3)
    AND (CAST(len(list_filter({_TOKS}, t -> t IN {_SW})) AS DOUBLE)
         / CAST(len({_TOKS}) AS DOUBLE) > 0.02)
    AND {_DUP_LINE_OK}
    AND {_TOP2_OK}"""


@register(
    "dedup_exact",
    f"""
SELECT md5({_NORM}) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS keeper_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY content_hash
""",
    doc="Exact dedup: hash-groupBy on normalized-content md5; keeper = min id",
    tags=("dedup",),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_duplicates(load_table(spark, sf_dir, "documents"))


@register(
    "text_quality",
    f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
       CAST(length({_NORM}) AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE) AS avg_token_len,
       CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         / CAST(length(text) AS DOUBLE) AS punct_ratio,
       CAST(len(list_filter({_TOKS}, t -> t IN {_SW})) AS DOUBLE)
         / CAST(len({_TOKS}) AS DOUBLE) AS stopword_ratio
FROM documents
""",
    doc="Per-document quality scoring: lengths, token stats, punct/stopword ratios",
    tags=("text",),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = TX.quality_metrics(docs)
    return out.withColumn("n_chars", F.col("n_chars").cast("long"))


@register(
    "lang_id",
    f"""
SELECT doc_id,
       CAST(len(list_filter({_TOKS}, t -> t IN {_SW})) AS DOUBLE)
         / CAST(len({_TOKS}) AS DOUBLE) AS en_score,
       CASE WHEN CAST(len(list_filter({_TOKS}, t -> t IN {_SW})) AS DOUBLE)
                 / CAST(len({_TOKS}) AS DOUBLE) > 0.08
            THEN 'en' ELSE 'unknown' END AS lang_pred
FROM documents
""",
    doc="Heuristic language ID by English-stopword density",
    tags=("text",),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.language_id(load_table(spark, sf_dir, "documents"))


@register(
    "token_counts",
    f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')) AS INTEGER) AS n_bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(text) AS DOUBLE)
         / CAST(len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')) AS DOUBLE)
         AS chars_per_token
FROM documents
""",
    doc="Token counting: whitespace tokens + BPE-ish regex segmentation "
    "(alpha runs | digit runs | single punctuation) + chars-per-token",
    tags=("text",),
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    bpe = TX.bpe_ish_token_count(t)
    return docs.select(
        "doc_id",
        TX.token_count(t).alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.length(t).cast("long").alias("n_chars"),
        # try_divide: zero BPE tokens (empty/whitespace doc) must yield
        # NULL like the DuckDB oracle, not an ANSI crash
        F.try_divide(F.length(t).cast("double"), bpe.cast("double")).alias(
            "chars_per_token"
        ),
    )


@register(
    "fingerprints",
    f"""
SELECT doc_id,
       md5({_NORM}) AS content_hash,
       md5(array_to_string(list_sort({_TOKS}), ' ')) AS bag_hash
FROM documents
""",
    doc="Document fingerprints: content md5 + order-insensitive token-bag md5",
    tags=("text", "dedup"),
)
def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.fingerprints(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_topk",
    f"""
WITH sh0 AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len({_TOKS})-1),
                   i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2])
  )) AS shingle
  FROM documents WHERE len({_TOKS}) >= 3
),
hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 20),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20
""",
    doc="N-gram Jaccard near-dup: 3-gram shingles → hot-shingle guard "
    "(doc-freq > 20 dropped from the universe — bounds the self-join "
    "blow-up at scale) → shingle self-join → exact Jaccard, top-20 pairs "
    "(the verify stage of MinHash dedup)",
    tags=("dedup", "join"),
)
def q_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, max_doc_freq=20)
    return pairs.orderBy(F.desc("jaccard"), "doc_a", "doc_b").limit(20)


@register(
    "doc_splits",
    f"""
SELECT doc_id,
       CASE WHEN b < 10 THEN 'val'
            WHEN b < 20 THEN 'test'
            ELSE 'train' END AS split
FROM (SELECT doc_id,
             {_PH.format(x="CAST(doc_id AS VARCHAR)")} % 100 AS b
      FROM documents)
""",
    doc="Deterministic train/val/test split by key hash (md5-slice mod "
    "100) — reproducible on any engine/run/partitioning, group-stable "
    "(all chunks of a doc share its split), no RNG; pure map-side",
    tags=("text", "sampling"),
)
def q_doc_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.hash_split(docs, val_pct=10, test_pct=10).select("doc_id", "split")


# the per-rule quality-gate SELECT, shared by the quality_filter entry
# and the per-source curation_report rollup
_QF_SELECT = f"""SELECT doc_id,
       (len({_TOKS}) >= 5 AND len({_TOKS}) <= 100000) AS len_ok,
       (CAST(length({_NORM}) AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE) >= 2.0
        AND CAST(length({_NORM}) AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE) <= 12.0) AS token_len_ok,
       (CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
        / CAST(length(text) AS DOUBLE) < 0.3) AS punct_ok,
       (CAST(len(list_filter({_TOKS}, t -> t IN {_SW})) AS DOUBLE)
        / CAST(len({_TOKS}) AS DOUBLE) > 0.02) AS stopword_ok,
       {_DUP_LINE_OK} AS dup_line_ok,
       {_TOP2_OK} AS top2gram_ok,
       ({_QUALITY_KEEP}) AS keep
FROM ({_QSTAGE})"""


@register(
    "quality_filter",
    f"""
{_QF_SELECT}
""",
    doc="C4/Gopher-style rule-based quality gate: per-rule booleans "
    "(length, mean token length, punctuation density, stopword density, "
    "duplicate-line fraction, top-2-gram character share) plus the "
    "conjunction verdict — filter AND per-rule drop-rate reporting from "
    "one map-side projection",
    tags=("text", "filter"),
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.quality_filter(load_table(spark, sf_dir, "documents"))


@register(
    "curation_report",
    f"""
WITH qf AS ({_QF_SELECT}),
d AS (SELECT doc_id, source, len({_TOKS}) AS ntok FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS len_ok_n,
       CAST(sum(CASE WHEN token_len_ok THEN 1 ELSE 0 END) AS BIGINT) AS token_len_ok_n,
       CAST(sum(CASE WHEN punct_ok THEN 1 ELSE 0 END) AS BIGINT) AS punct_ok_n,
       CAST(sum(CASE WHEN stopword_ok THEN 1 ELSE 0 END) AS BIGINT) AS stopword_ok_n,
       CAST(sum(CASE WHEN dup_line_ok THEN 1 ELSE 0 END) AS BIGINT) AS dup_line_ok_n,
       CAST(sum(CASE WHEN top2gram_ok THEN 1 ELSE 0 END) AS BIGINT) AS top2gram_ok_n,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS keep_n,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS keep_rate
FROM d JOIN qf USING (doc_id)
GROUP BY source
""",
    doc="Per-source curation dashboard: doc/token mass, per-rule gate "
    "pass counts, keep rate. Additive absolute counts so shard reports "
    "merge; gate booleans ride the map-side quality_filter projection "
    "(keep_cols passthrough — no corpus self-join) into ONE "
    "groupBy(source) (operators/text.py:curation_report)",
    tags=("text", "curation", "agg"),
)
def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.curation_report(load_table(spark, sf_dir, "documents"))


@register(
    "vocab_coverage",
    f"""
WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents),
counts AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occ FROM tok GROUP BY token),
tot AS (SELECT sum(n_occ) AS total FROM counts),
ranked AS (
  SELECT token, n_occ,
         row_number() OVER (ORDER BY n_occ DESC, token ASC) AS rank,
         sum(n_occ) OVER (ORDER BY n_occ DESC, token ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_count
  FROM counts
)
SELECT CAST(rank AS INTEGER) AS rank, token, n_occ,
       CAST(cum_count AS BIGINT) AS cum_count,
       CAST(cum_count AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
FROM ranked, tot
WHERE rank <= 100
""",
    doc="Tokenizer-prep vocab statistics: top-100 tokens with cumulative "
    "occurrence coverage (the vocabulary-sizing curve). Corpus collapses "
    "map-side to vocab-sized counts; the rank window runs over the vocab "
    "table only (operators/text.py:vocab_coverage)",
    tags=("text", "agg"),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.vocab_coverage(load_table(spark, sf_dir, "documents"), top_k=100)


@register(
    "repetition_metrics",
    f"""
SELECT doc_id,
       CAST(len(_lines) AS INTEGER) AS n_lines,
       CAST(len(_lines) - len(list_distinct(_lines)) AS INTEGER) AS n_dup_lines,
       CAST({_TOP2} AS BIGINT) AS top2gram_chars,
       CAST(length({_NORM}) AS INTEGER) AS n_chars,
       {_DUP_LINE_OK} AS dup_line_ok,
       {_TOP2_OK} AS top2gram_ok
FROM ({_QSTAGE})
""",
    doc="Repetition signals (the gates production C4/Gopher curation "
    "leads with): per-doc duplicate-line counts and the character mass "
    "of the most-repeated word 2-gram, with the rule booleans. "
    "All-integer metrics; the Spark side computes the top-2-gram max "
    "with an O(n log n) sorted-array scan inside codegen while the "
    "oracle uses the quadratic distinct-gram form — same max "
    "(operators/text.py:repetition_metrics)",
    tags=("text", "filter"),
)
def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.repetition_metrics(load_table(spark, sf_dir, "documents"))


@register(
    "redact_pii",
    f"""
WITH dirty AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or https://ex.org/d/' || CAST(doc_id AS VARCHAR) AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{TX.EMAIL_PATTERN}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(text, '{TX.URL_PATTERN}')) AS INTEGER) AS n_urls,
       regexp_replace(regexp_replace(text, '{TX.EMAIL_PATTERN}', '[EMAIL]', 'g'),
                      '{TX.URL_PATTERN}', '[URL]', 'g') AS clean_text
FROM dirty
""",
    doc="Curation-time PII scrub: mask emails/URLs with per-doc removal "
    "counts (audit trail); exercised over deterministically injected "
    "PII so the replacement paths actually fire. Pure-ASCII patterns ⇒ "
    "Java regex and RE2 agree byte-for-byte",
    tags=("text", "filter"),
)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or https://ex.org/d/"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return TX.redact_pii(dirty)


@register(
    "doc_chunks",
    f"""
WITH st AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
ex AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - 16, 1) + 1, 112)) AS start
  FROM st
)
SELECT doc_id,
       CAST((start - 1) // 112 AS INTEGER) AS chunk_id,
       CAST(len(list_slice(toks, start, start + 127)) AS INTEGER) AS n_tokens,
       array_to_string(list_slice(toks, start, start + 127), ' ') AS chunk_text
FROM ex
""",
    doc="Context-window chunking: 128-token chunks with 16-token overlap "
    "(stride 112) — the standard LLM-ingestion packing step; shuffle-free "
    "sequence+posexplode+slice inside whole-stage codegen",
    tags=("text", "chunking"),
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.chunk_documents(docs, chunk_tokens=128, overlap=16)


@register(
    "ann_cosine_topk",
    f"""
WITH nz AS (SELECT * FROM embeddings WHERE CAST(list_sum(list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000000) AS BIGINT) * CAST(FLOOR(CAST(x AS DOUBLE)*1000000) AS BIGINT))) AS DOUBLE) > 0),
q AS (SELECT vec_id AS query_id, embedding AS qvec FROM nz WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM nz),
scored AS (
  SELECT query_id, neighbor_id,
         {_DOT.format(a='qvec', b='cvec')}
         / sqrt({_NORMSQ.format(v='qvec')} * {_NORMSQ.format(v='cvec')}) AS cos_sim
  FROM q, c WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="Brute-force cosine top-5 neighbors for query vectors 0-4: one "
    "Arrow pass of the numpy cosine scan with the queries in the task "
    "closure, per-batch top-k, one window (int64-quantized dot products "
    "— exact cross-engine; operators/similarity.py:cosine_topk_bruteforce)",
    tags=("similarity",),
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk_bruteforce(emb, F.col("vec_id") < 5, k=5)


@register(
    "ann_cosine_ivf",
    f"""
WITH {_NZ_CTE},
{_ranked_cte(16)},
assign AS (
  SELECT vec_id AS neighbor_id, embedding AS nvec, cent_id AS cell
  FROM ranked WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qvec, cent_id AS cell
  FROM ranked WHERE vec_id < 5 AND rn <= 4
),
scored AS (
  SELECT p.query_id, a.neighbor_id,
         {_DOT.format(a='p.qvec', b='a.nvec')}
         / sqrt({_NORMSQ.format(v='p.qvec')} * {_NORMSQ.format(v='a.nvec')}) AS cos_sim
  FROM probes p JOIN assign a ON a.cell = p.cell AND a.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="IVF ANN: deterministic seed centroids (id<16), shuffle-free cell "
    "assignment, top-4 probed cells per query, exact re-rank — the "
    "oracle-checkable inverted-file scale path",
    tags=("similarity",),
)
def q_ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk_ivf(emb, F.col("vec_id") < 5, k=5, n_centroids=16, nprobe=4)


@register(
    "kmeans_update",
    f"""
WITH {_NZ_CTE},
{_ranked_cte(16)},
assign AS (SELECT vec_id, embedding, cent_id AS cell FROM ranked WHERE rn = 1),
ex AS (
  SELECT cell,
         unnest(range(len(embedding))) AS dim,
         unnest(list_transform(embedding, x -> {_Q.format(x='x')})) AS qval
  FROM assign
)
SELECT cell, CAST(dim AS INTEGER) AS dim,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(qval) AS BIGINT) AS sum_q,
       CAST(sum(qval) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE) AS mean_c
FROM ex GROUP BY cell, dim
""",
    doc="One Lloyd iteration of the IVF k-means refinement, "
    "driver-hashable: quantized-integer cell assignment (ties to lowest "
    "centroid id) + per-(cell,dim) exact int64 component sums, counts, "
    "and the mean update as one final double division; one Arrow pass "
    "emits per-batch (cell, dim) partials that one groupBy sums "
    "(operators/similarity.py:kmeans_update_stats)",
    tags=("similarity", "index"),
)
def q_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.kmeans_update_stats(emb, n_centroids=16)


@register(
    "multimodal_meta",
    """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_size,
       md5(text) AS checksum
FROM documents
""",
    doc="Multimodal metadata projection over binary payload columns "
    "(payload = utf-8 bytes stand-in; schema/plumbing real)",
    tags=("multimodal",),
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return M.media_metadata(M.attach_binary_payload(docs))


# --- portable-hash entries (md5-slice hash ⇒ DuckDB-twinnable) -----------
# The operators default to xxhash64 (the scale path, tested in
# tests/test_dedup.py); the catalog entries run portable=True so the
# FULL pipeline — shingling, seeded min-hashing, banding, candidate
# join, exact verify — is oracle-checked end-to-end.

# distinct 3-gram shingles, docs with ≥3 tokens (same CTE the ngram oracle uses)
_SH_CTE = f"""sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len({_TOKS})-1),
                   i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2])
  )) AS shingle
  FROM documents WHERE len({_TOKS}) >= 3
)"""


def _minhash_sig_cte(num_hashes: int = 32) -> str:
    """sig CTE: per-doc MinHash signature as columns h0..h{k-1} — ONE
    portable base hash per shingle, then the same affine permutations
    (dedup.minhash_coeffs) the Spark plan applies, min per doc."""
    terms = []
    for i in range(num_hashes):
        a, b = D.minhash_coeffs(i)
        terms.append(f"min(({a} * b32 + {b}) % 4294967296) AS h{i}")
    base = _PH.format(x="shingle")
    return (
        f"hs AS (SELECT doc_id, ({base} & 4294967295) AS b32 FROM sh),\n"
        f"sig AS (SELECT doc_id, {', '.join(terms)} FROM hs GROUP BY doc_id)"
    )


@register(
    "minhash_signatures",
    f"""
WITH {_SH_CTE},
{_minhash_sig_cte(32)}
SELECT doc_id, h0, h1, h31 FROM sig
""",
    doc="MinHash signatures (32 seeded md5-slice mins over distinct 3-gram "
    "shingles; portable hash ⇒ oracle-exact). xxhash64 default tested in "
    "tests/test_dedup.py",
    tags=("dedup",),
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, num_hashes=32, portable=True)
    return sigs.select(
        "doc_id",
        F.element_at("signature", 1).alias("h0"),
        F.element_at("signature", 2).alias("h1"),
        F.element_at("signature", 32).alias("h31"),
    )


def _minhash_band_union(bands: int = 8, rows_per_band: int = 4) -> str:
    parts = []
    for b in range(bands):
        eqs = " AND ".join(
            f"a.h{b * rows_per_band + r} = b.h{b * rows_per_band + r}"
            for r in range(rows_per_band)
        )
        parts.append(
            f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
            f"  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND {eqs}"
        )
    return "\nUNION\n".join(parts)


@register(
    "minhash_neardup",
    f"""
WITH {_SH_CTE},
{_minhash_sig_cte(32)},
cand AS (
{_minhash_band_union(8, 4)}
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT doc_a, doc_b, count(*) AS shared
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sb.shingle = sa.shingle
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE) >= 0.5
""",
    doc="MinHash+LSH near-dup end-to-end: portable-hash signatures → "
    "band-tuple bucket-join candidates → exact-Jaccard verify ≥ 0.5 — "
    "the whole pipeline oracle-checked; recall vs exact pairs tested in "
    "tests/test_dedup.py",
    tags=("dedup", "join"),
)
def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_dedup(docs, num_hashes=32, bands=8, threshold=0.5, portable=True)


def _simhash_sig_cte() -> str:
    """sig CTE: 64-bit SimHash from portable (60-bit) token hashes — bit
    b set iff more than half the tokens have hash-bit b set. Bits 60-63
    are structurally zero (hash < 2^60), matching the Spark side."""
    sums = ",\n         ".join(
        f"sum((th >> {b}) & 1) AS b{b}" for b in range(60)
    )
    terms = " + ".join(
        f"CASE WHEN 2*b{b} > n THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END"
        for b in range(60)
    )
    return (
        f"tk AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token FROM documents),\n"
        f"th AS (SELECT doc_id, {_PH.format(x='token')} AS th FROM tk),\n"
        f"agg AS (SELECT doc_id, count(*) AS n,\n         {sums}\n  FROM th GROUP BY doc_id),\n"
        f"sig AS (SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM agg)"
    )


@register(
    "simhash_signatures",
    f"""
WITH {_simhash_sig_cte()}
SELECT doc_id, simhash FROM sig
""",
    doc="64-bit SimHash per document (token-level, portable md5-slice "
    "hash ⇒ oracle-exact; xxhash64 default tested in tests/test_dedup.py)",
    tags=("dedup",),
)
def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_signatures(load_table(spark, sf_dir, "documents"), portable=True)


@register(
    "simhash_neardup",
    f"""
WITH {_simhash_sig_cte()},
q AS (
  SELECT doc_id, simhash, t.q, (simhash >> (t.q * 16)) & 65535 AS quarter
  FROM sig, (VALUES (0), (1), (2), (3)) t(q)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS ha, b.simhash AS hb
  FROM q a JOIN q b ON a.q = b.q AND a.quarter = b.quarter AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 8
""",
    doc="SimHash near-dup end-to-end: portable signatures → 16-bit-quarter "
    "bucket-join candidates → bit_count(xor) ≤ 8 verify — oracle-checked",
    tags=("dedup", "join"),
)
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_pairs(
        D.simhash_signatures(docs, portable=True),
        max_hamming=8,
        approx_rows=table_rows(sf_dir, "documents"),
    )


@register(
    "neardup_clusters",
    f"""
WITH RECURSIVE {_simhash_sig_cte()},
q AS (
  SELECT doc_id, simhash, t.q, (simhash >> (t.q * 16)) & 65535 AS quarter
  FROM sig, (VALUES (0), (1), (2), (3)) t(q)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS ha, b.simhash AS hb
  FROM q a JOIN q b ON a.q = b.q AND a.quarter = b.quarter AND a.doc_id < b.doc_id
),
p AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(ha, hb)) <= 8),
e AS (SELECT doc_a AS src, doc_b AS dst FROM p
      UNION ALL SELECT doc_b, doc_a FROM p),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.node
)
SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
""",
    doc="Terminal dedup: near-dup pairs (SimHash, portable) resolved to "
    "connected components; cluster_id = min reachable doc id (unique "
    "fixpoint ⇒ engine-independent). Spark side is iterative min-label "
    "propagation (join+groupBy per round, O(diameter) rounds); oracle "
    "is the recursive-CTE transitive closure",
    tags=("dedup", "iterative"),
)
def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_pairs(
        D.simhash_signatures(docs, portable=True),
        max_hamming=8,
        approx_rows=table_rows(sf_dir, "documents"),
    )
    return D.neardup_clusters(docs, pairs)


@register(
    "leakage_safe_splits",
    f"""
WITH RECURSIVE {_simhash_sig_cte()},
q AS (
  SELECT doc_id, simhash, t.q, (simhash >> (t.q * 16)) & 65535 AS quarter
  FROM sig, (VALUES (0), (1), (2), (3)) t(q)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS ha, b.simhash AS hb
  FROM q a JOIN q b ON a.q = b.q AND a.quarter = b.quarter AND a.doc_id < b.doc_id
),
p AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(ha, hb)) <= 8),
e AS (SELECT doc_a AS src, doc_b AS dst FROM p
      UNION ALL SELECT doc_b, doc_a FROM p),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.node
),
cl AS (
  SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
  FROM reach GROUP BY node
)
SELECT doc_id, cluster_id,
       CASE WHEN {_PH.format(x="CAST(cluster_id AS VARCHAR)")} % 100 < 10
              THEN 'val'
            WHEN {_PH.format(x="CAST(cluster_id AS VARCHAR)")} % 100 < 20
              THEN 'test'
            ELSE 'train' END AS split
FROM cl
""",
    doc="Leakage-safe train/val/test splits: near-dup clusters (SimHash "
    "pairs -> connected components) hash-split ATOMICALLY by cluster id, "
    "so a test doc's near-copy can never sit in train. Deterministic "
    "md5-slice gate; map-side beyond the cluster resolution "
    "(operators/dedup.py:leakage_safe_splits)",
    tags=("dedup", "curation", "iterative"),
)
def q_leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_pairs(
        D.simhash_signatures(docs, portable=True),
        max_hamming=8,
        approx_rows=table_rows(sf_dir, "documents"),
    )
    return D.leakage_safe_splits(docs, pairs)


def _lsh_bucket_sql(
    dims: int = 64, bits: int = 8, vec: str = "embedding", plane_offset: int = 0
) -> str:
    """The hyperplane-signature bucket as SQL, from the SAME ±1 pattern
    the Spark plan embeds (similarity.plane_sign) — quantized integer
    dots, so the sign decisions match bit-for-bit. ``plane_offset``
    selects the disjoint plane set of one LSH band."""
    terms = []
    for i in range(bits):
        p = plane_offset + i
        plus = [d + 1 for d in range(dims) if S.plane_sign(p, d) == 1]
        minus = [d + 1 for d in range(dims) if S.plane_sign(p, d) == -1]
        q = _Q.format(x=f"{vec}[i]")
        dot = (
            f"(COALESCE(list_sum(list_transform({plus}, i -> {q})), 0)"
            f" - COALESCE(list_sum(list_transform({minus}, i -> {q})), 0))"
        )
        terms.append(f"CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


@register(
    "ann_cosine_lsh",
    f"""
WITH {_NZ_CTE},
sig AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql()} AS bucket FROM nz
),
q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket FROM sig WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cvec, bucket FROM sig),
scored AS (
  SELECT query_id, neighbor_id,
         {_DOT.format(a='qvec', b='cvec')}
         / sqrt({_NORMSQ.format(v='qvec')} * {_NORMSQ.format(v='cvec')}) AS cos_sim
  FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="LSH-bucketed ANN (hyperplane signatures from a fixed ±1 pattern, "
    "quantized-exact sign decisions, exact re-rank) — the scale path for "
    "ann_cosine_topk; recall tested in tests/test_similarity.py",
    tags=("similarity",),
)
def q_ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk_lsh(emb, F.col("vec_id") < 5, k=5, dims=64, bits=8)


@register(
    "ann_cosine_lsh_multiprobe",
    f"""
WITH {_NZ_CTE},
sig AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql()} AS bucket FROM nz
),
q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket FROM sig WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cvec, bucket FROM sig),
scored AS (
  SELECT query_id, neighbor_id,
         {_DOT.format(a='qvec', b='cvec')}
         / sqrt({_NORMSQ.format(v='qvec')} * {_NORMSQ.format(v='cvec')}) AS cos_sim
  FROM q JOIN c ON bit_count(xor(q.bucket, c.bucket)) <= 1
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="Multi-probe LSH ANN: each query also probes the `bits` buckets "
    "at Hamming distance 1 (query-side XOR-mask explode; the corpus-side "
    "join stays an equi-join on bucket and the corpus is bucketed once). "
    "The oracle states the SAME candidate set declaratively as "
    "bit_count(xor) <= 1; recall-vs-probes pinned in "
    "tests/test_similarity.py (operators/similarity.py:cosine_topk_lsh)",
    tags=("similarity",),
)
def q_ann_cosine_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk_lsh(
        emb, F.col("vec_id") < 5, k=5, dims=64, bits=8, probe_hamming=1
    )


def _neardup_band_join_sql(bands: int = 4, bits_per_band: int = 8) -> str:
    """Candidate pairs sharing ≥1 of ``bands`` disjoint-plane band
    buckets — the SQL twin of similarity.allpairs_cosine_lsh's
    OR-construction (UNION dedupes pairs found by several bands)."""
    parts = []
    for b in range(bands):
        bkt = _lsh_bucket_sql(plane_offset=b * bits_per_band, bits=bits_per_band)
        parts.append(
            f"SELECT a.vec_id AS id_a, b.vec_id AS id_b\n"
            f"  FROM (SELECT vec_id, {bkt} AS bkt FROM nz) a\n"
            f"  JOIN (SELECT vec_id, {bkt} AS bkt FROM nz) b\n"
            f"    ON a.bkt = b.bkt AND a.vec_id < b.vec_id"
        )
    return "\nUNION\n".join(parts)


@register(
    "embedding_neardup_topk",
    f"""
WITH {_NZ_CTE},
cand AS (
{_neardup_band_join_sql()}
),
scored AS (
  SELECT id_a, id_b,
         {_DOT.format(a='ea.embedding', b='eb.embedding')}
         / sqrt({_NORMSQ.format(v='ea.embedding')} * {_NORMSQ.format(v='eb.embedding')}) AS cos_sim
  FROM cand
  JOIN embeddings ea ON ea.vec_id = id_a
  JOIN embeddings eb ON eb.vec_id = id_b
)
SELECT id_a, id_b, cos_sim FROM scored ORDER BY cos_sim DESC, id_a, id_b LIMIT 20
""",
    doc="Embedding-cosine near-dup: top-20 most-similar pairs among LSH "
    "candidates (4 disjoint 8-bit hyperplane bands, OR-construction) — "
    "fully distributed per-bucket int64 block matmul, no driver collect",
    tags=("similarity", "dedup"),
)
def q_embedding_neardup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.allpairs_cosine_lsh(emb, bands=4, bits_per_band=8, dims=64)
    return pairs.orderBy(F.desc("cos_sim"), "id_a", "id_b").limit(20)


@register(
    "decontaminate",
    f"""
WITH {_SH_CTE},
hashed AS (SELECT doc_id, {_PH.format(x="shingle")} AS h FROM sh),
evsh AS (SELECT DISTINCT h FROM hashed WHERE doc_id % 97 = 0)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM hashed WHERE h IN (SELECT h FROM evsh)
GROUP BY doc_id
""",
    doc="Benchmark decontamination (training-data hygiene): flag docs "
    "sharing any word n-gram with the eval set (here: doc_id %% 97 == 0 "
    "as the stand-in benchmark; 3-grams for this short-doc corpus, "
    "default 8 in the operator). Eval shingles broadcast; corpus is one "
    "map-side explode + semi-join — never shuffled except the per-doc "
    "hit count (operators/dedup.py:decontaminate)",
    tags=("dedup", "curation"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fanout import fan_out_scan  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    # r12: fan the RAW corpus scan at the call site (1.70 s -> 0.47 s at
    # sf0.1); the operator itself stays fan-free because composed
    # callers feed already-persisted survivor frames (see decontaminate)
    return D.decontaminate(fan_out_scan(docs, "doc_id"), ev, n=3, portable=True)


@register(
    "interdoc_ngram_overlap",
    f"""
WITH {_SH_CTE},
h AS (SELECT doc_id, {_PH.format(x="shingle")} AS sh FROM sh),
dfc AS (SELECT sh, count(*) AS df FROM h GROUP BY sh)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS dup_frac,
       (1000000 * sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)
          > 500000 * count(*)) AS flagged
FROM h JOIN dfc USING (sh)
GROUP BY doc_id
""",
    doc="Corpus-internal n-gram duplication fraction per document — the "
    "within-corpus mirror of decontaminate and the document-level "
    "boilerplate signal web-scale curation gates on. Linear, never forms "
    "pairs: df groupBy on 8-byte hashed shingles + join-back + per-doc "
    "count (operators/dedup.py:interdoc_ngram_overlap); flag verdict in "
    "integer arithmetic",
    tags=("dedup", "curation"),
)
def q_interdoc_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.interdoc_ngram_overlap(docs, n=3, portable=True)


@register(
    "token_fluency",
    f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
refc AS (
  SELECT t, count(*) AS c FROM tok
  WHERE {_PH.format(x="'lmref:' || CAST(doc_id AS VARCHAR)")} % 1000000 < 500000
  GROUP BY t
),
tot AS (SELECT count(*) AS v, sum(c) AS nref FROM refc),
sc AS (
  SELECT doc_id,
         count(*) AS n_tokens,
         sum(COALESCE(c, 0)) AS sum_freq,
         sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM tok LEFT JOIN refc USING (t)
  GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(sum_freq AS BIGINT) AS sum_freq,
       CAST(n_oov AS BIGINT) AS n_oov,
       CAST(sum_freq AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_freq,
       (sum_freq * v > n_tokens * nref) AS fluent,
       (1000000 * n_oov <= 500000 * n_tokens) AS oov_ok
FROM sc, tot
""",
    doc="Count-based LM fluency gate — the CCNet/KenLM perplexity-filter "
    "shape with an exact unigram count model (log-prob scoring is not "
    "cross-engine hashable; the count form keeps the semantics integer-"
    "exact). Trains on a deterministic hash-gated reference slice, "
    "scores every doc, gates on mean-token-probability > uniform "
    "baseline and OOV fraction. Vocab-sized model broadcasts; only "
    "corpus shuffle is the per-doc groupBy "
    "(operators/text.py:token_fluency)",
    tags=("text", "curation"),
)
def q_token_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.token_fluency(docs, ref_frac=0.5, max_oov_frac=0.5)


@register(
    "shared_span_pairs",
    f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
pos AS (
  SELECT doc_id, i AS p,
         {_PH.format(x="tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS sh
  FROM toks, unnest(range(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 3
),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, a.p - b.p AS diag
  FROM pos a JOIN pos b ON a.sh = b.sh AND a.doc_id < b.doc_id
),
isl AS (
  SELECT doc_a, doc_b, diag,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa)
           AS island
  FROM m
),
runs AS (
  SELECT doc_a, doc_b, count(*) AS run
  FROM isl GROUP BY doc_a, doc_b, diag, island
)
SELECT doc_a, doc_b,
       CAST(max(run) + 2 AS BIGINT) AS max_span_tokens,
       CAST(sum(run) AS BIGINT) AS n_matches
FROM runs GROUP BY doc_a, doc_b
HAVING max(run) + 2 >= 10
""",
    doc="Verbatim-overlap dedup (ExactSubstr approximation, Lee et al. "
    "2021): longest shared consecutive-token span per doc pair via "
    "positional 3-gram shingles + gaps-and-islands runs per (pair, "
    "diagonal) — catches copied passages that pairwise Jaccard misses. "
    "Hashed 8-byte join keys; island windows partition per (pair, "
    "diagonal), never a global sort "
    "(operators/dedup.py:shared_span_pairs)",
    tags=("dedup", "join"),
)
def q_shared_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.shared_span_pairs(docs, n=3, min_span_tokens=10, portable=True)


_MIX_WEIGHTS = {"src0": 0.4, "src1": 0.25, "src2": 0.2}
_MIX_DEFAULT = 0.15
_MIX_BUDGET = 2_000_000
_MIX_PLAN_CTE = f"""avail AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({_TOKS})) AS BIGINT) AS avail_tokens
  FROM documents GROUP BY source
),
wp AS (
  SELECT source, n_docs, avail_tokens,
         CAST(CASE source WHEN 'src0' THEN 400000 WHEN 'src1' THEN 250000
              WHEN 'src2' THEN 200000 ELSE 150000 END AS BIGINT) AS weight_ppm
  FROM avail
),
tgt AS (
  SELECT source, n_docs, avail_tokens, weight_ppm,
         CAST(({_MIX_BUDGET} * weight_ppm) // 1000000 AS BIGINT) AS target_tokens
  FROM wp
),
plan AS (
  SELECT source, n_docs, avail_tokens, weight_ppm, target_tokens,
         CAST(target_tokens // avail_tokens AS BIGINT) AS n_repeats,
         CAST(((target_tokens % avail_tokens) * 1000000) // avail_tokens
              AS BIGINT) AS frac_ppm
  FROM tgt
)"""


@register(
    "mixture_plan",
    f"""
WITH {_MIX_PLAN_CTE}
SELECT source, n_docs, avail_tokens, weight_ppm, target_tokens,
       n_repeats, frac_ppm
FROM plan
""",
    doc="Data-mixture planning (Dolma/Pile-style): per-source mixing "
    "weights + a total token budget -> full-epoch repeat counts and a "
    "ppm fractional-epoch rate per source, all-integer arithmetic. One "
    "strata groupBy; the plan frame is tiny "
    "(operators/text.py:mixture_plan)",
    tags=("text", "sampling", "curation"),
)
def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.mixture_plan(
        docs, _MIX_WEIGHTS, _MIX_BUDGET, default_weight=_MIX_DEFAULT
    )


@register(
    "mixture_materialize",
    f"""
WITH {_MIX_PLAN_CTE},
j AS (
  SELECT doc_id, source, n_repeats, frac_ppm
  FROM documents JOIN plan USING (source)
),
-- the JOIN is staged into its own CTE: DuckDB's binder cannot resolve
-- an unnest alias computed in the same query block as a USING join
ex AS (
  SELECT doc_id, source, n_repeats, frac_ppm,
         unnest(range(0, n_repeats + 1)) AS epoch
  FROM j
)
SELECT doc_id, source, epoch
FROM ex
WHERE epoch < n_repeats
   OR {_PH.format(x="'mix:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")}
      % 1000000 < frac_ppm
""",
    doc="Execute the mixture plan: (doc, source, epoch) rows — full "
    "epochs unconditional, the final partial epoch gated by a per-epoch "
    "salted md5-slice hash bucket (deterministic, engine-portable, "
    "redrawable by salt). Plan broadcasts; epoch explode + gate are pure "
    "map-side — the corpus is never shuffled "
    "(operators/text.py:materialize_mixture)",
    tags=("text", "sampling", "curation"),
)
def q_mixture_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    plan = TX.mixture_plan(
        docs, _MIX_WEIGHTS, _MIX_BUDGET, default_weight=_MIX_DEFAULT
    )
    return TX.materialize_mixture(docs, plan)


@register(
    "stratified_sample",
    f"""
SELECT doc_id, media_type FROM (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         {_PH.format(x="'sample:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS b
  FROM documents
)
WHERE (media_type = 'image' AND b < 1000000)
   OR (media_type = 'audio' AND b < 500000)
   OR (media_type = 'video' AND b < 100000)
""",
    doc="Deterministic per-stratum sampling — the data-mixing primitive "
    "(keep 100%% of one domain, 50%% / 10%% of others) via md5-slice "
    "key-hash buckets: reproducible on any engine/partitioning, monotone "
    "in the rate, pure map-side (operators/text.py:stratified_sample)",
    tags=("text", "sampling"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    typed = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("media_type"),
    )
    return TX.stratified_sample(
        typed, "media_type", {"image": 1.0, "audio": 0.5, "video": 0.1}
    )


_SHINGLE3 = (
    f"unnest(list_distinct(list_transform(range(1, len({_TOKS})-1), "
    f"i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2])))"
)


@register(
    "curation_pipeline",
    f"""
WITH gated AS (
  SELECT doc_id, text FROM ({_QSTAGE})
  WHERE {_QUALITY_KEEP}
),
k AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5({_NORM})),
uniq AS (SELECT g.doc_id, g.text FROM gated g JOIN k USING (doc_id)),
ush AS (
  SELECT doc_id, {_PH.format(x="shingle")} AS h FROM (
    SELECT doc_id, {_SHINGLE3} AS shingle FROM uniq WHERE len({_TOKS}) >= 3
  )
),
esh AS (
  SELECT DISTINCT {_PH.format(x="shingle")} AS h FROM (
    SELECT {_SHINGLE3} AS shingle FROM documents
    WHERE doc_id % 97 = 0 AND len({_TOKS}) >= 3
  )
),
cont AS (SELECT DISTINCT doc_id FROM ush WHERE h IN (SELECT h FROM esh))
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')) AS INTEGER)
         AS n_bpe_tokens
FROM uniq WHERE doc_id NOT IN (SELECT doc_id FROM cont)
""",
    doc="End-to-end curation pipeline — the composed form a real "
    "training-data pass runs: C4/Gopher quality gate -> exact-dedup "
    "keeper selection -> benchmark decontamination (doc_id %% 97 eval "
    "stand-in) -> surviving docs with their BPE-ish token counts. Each "
    "stage is the already-oracle-checked operator; this entry checks "
    "their COMPOSITION end-to-end (filters compose map-side; the only "
    "shuffles are the dedup groupBy and the per-doc hit count)",
    tags=("text", "dedup", "curation", "pipeline"),
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    # persist the gate BEFORE filtering on `keep`: predicate pushdown
    # would otherwise inline the keep-conjunction — and with it every
    # staged repetition array — into ONE interpreted Filter (HOFs get
    # no codegen, hence no common-subexpression elimination there),
    # re-running the 2-gram sort per rule reference. Measured at sf0.1:
    # filter-on-projection 7.4 s vs 0.7 s for the projection itself;
    # the lazy persist makes the filter read materialized booleans.
    gate = TX.quality_filter(docs).persist(StorageLevel.MEMORY_AND_DISK)
    gated = docs.join(
        gate.filter(F.col("keep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    keepers = D.exact_duplicates(gated).select(
        F.col("keeper_id").alias("doc_id")
    )
    # unique feeds two branches (decontamination shingles + the final
    # anti-join); persist so the gate+dedup prefix runs once — same
    # level/lifetime notes as dedup.ngram_jaccard_pairs
    from pyspark import StorageLevel  # noqa: PLC0415

    unique = gated.join(keepers, "doc_id", "left_semi").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    contaminated = D.decontaminate(unique, ev, n=3, portable=True).select(
        "doc_id"
    )
    clean = unique.join(contaminated, "doc_id", "left_anti")
    return clean.select(
        "doc_id",
        TX.bpe_ish_token_count(F.col("text")).cast("int").alias("n_bpe_tokens"),
    )


@register(
    "curation_pipeline_neardup",
    f"""
WITH RECURSIVE gated AS (
  SELECT doc_id, text FROM ({_QSTAGE})
  WHERE {_QUALITY_KEEP}
),
k AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5({_NORM})),
uniq AS (SELECT g.doc_id, g.text FROM gated g JOIN k USING (doc_id)),
sh AS (
  SELECT doc_id, {_SHINGLE3} AS shingle FROM uniq WHERE len({_TOKS}) >= 3
),
{_minhash_sig_cte(32)},
cand AS (
{_minhash_band_union(8, 4)}
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT doc_a, doc_b, count(*) AS shared
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sb.shingle = sa.shingle
  GROUP BY doc_a, doc_b
),
p AS (
  SELECT doc_a, doc_b FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE) >= 0.5
),
e AS (SELECT doc_a AS src, doc_b AS dst FROM p
      UNION ALL SELECT doc_b, doc_a FROM p),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM uniq
  UNION
  SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.node
),
cl AS (SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node),
kept AS (
  SELECT u.doc_id, u.text FROM uniq u
  JOIN cl ON cl.doc_id = u.doc_id AND cl.cluster_id = u.doc_id
),
ksh AS (
  SELECT doc_id, {_PH.format(x="shingle")} AS h FROM (
    SELECT doc_id, {_SHINGLE3} AS shingle FROM kept WHERE len({_TOKS}) >= 3
  )
),
esh AS (
  SELECT DISTINCT {_PH.format(x="shingle")} AS h FROM (
    SELECT {_SHINGLE3} AS shingle FROM documents
    WHERE doc_id % 97 = 0 AND len({_TOKS}) >= 3
  )
),
cont AS (SELECT DISTINCT doc_id FROM ksh WHERE h IN (SELECT h FROM esh))
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')) AS INTEGER)
         AS n_bpe_tokens
FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM cont)
""",
    doc="Full curation pipeline WITH the near-dup tier — the composed "
    "form a real 100 TB pass runs: quality gate -> exact-dedup keeper "
    "selection -> MinHash/LSH near-dup pairs among survivors "
    "(Jaccard >= 0.5) -> connected-component cluster resolution with "
    "keeper = cluster-min -> anti-join non-keepers -> benchmark "
    "decontamination -> surviving docs with BPE-ish token counts. "
    "Every stage is the already-oracle-checked operator "
    "(text.quality_filter, dedup.exact_duplicates, dedup.minhash_dedup, "
    "dedup.neardup_clusters, dedup.decontaminate); this entry checks "
    "their COMPOSITION end-to-end against one recursive-CTE oracle. "
    "Scale shape: gates compose map-side onto the scan; the persisted "
    "gate+dedup survivor set is the only frame read more than once; "
    "shuffles are the dedup groupBy, the LSH band self-join on "
    "candidates (not the corpus), the label-frame-sized clustering "
    "rounds, and the per-doc hit count",
    tags=("text", "dedup", "curation", "pipeline", "iterative"),
)
def q_curation_pipeline_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    # gate persisted before the keep-filter — see q_curation_pipeline
    # for the pushdown-inlining measurement this avoids
    gate = TX.quality_filter(docs).persist(StorageLevel.MEMORY_AND_DISK)
    gated = docs.join(
        gate.filter(F.col("keep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    keepers = D.exact_duplicates(gated).select(
        F.col("keeper_id").alias("doc_id")
    )
    # the exact-unique survivor set feeds four branches (MinHash
    # signatures, Jaccard-verify shingles, cluster identity labels, the
    # final keeper semi-join) — persist so the gate+dedup prefix runs
    # once (level/lifetime notes as dedup.ngram_jaccard_pairs)
    unique = gated.join(keepers, "doc_id", "left_semi").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = D.minhash_dedup(
        unique, num_hashes=32, bands=8, threshold=0.5, portable=True
    )
    clusters = D.neardup_clusters(unique, pairs)
    nd_keepers = clusters.filter(
        F.col("cluster_id") == F.col("doc_id")
    ).select("doc_id")
    kept = unique.join(nd_keepers, "doc_id", "left_semi")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    contaminated = D.decontaminate(kept, ev, n=3, portable=True).select(
        "doc_id"
    )
    clean = kept.join(contaminated, "doc_id", "left_anti")
    return clean.select(
        "doc_id",
        TX.bpe_ish_token_count(F.col("text")).cast("int").alias("n_bpe_tokens"),
    )


@register(
    "sequence_packing",
    f"""
WITH t AS (
  SELECT doc_id,
         {_PH.format(x="CAST(doc_id AS VARCHAR)")} % 32 AS pack_group,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, pack_group, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, CAST(pack_group AS INTEGER) AS pack_group,
       CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
       n_tokens
FROM c
""",
    doc="Sequence packing for training batches: docs keyed into 32 "
    "parallel pack groups (portable hash), then pack_id = which "
    "512-token window the doc's first token lands in (concat-then-chunk "
    "packing; a per-group window cumsum — deterministic under any "
    "partitioning and execution order, unlike greedy first-fit) "
    "(operators/text.py:pack_sequences)",
    tags=("text", "packing"),
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.pack_sequences(
        load_table(spark, sf_dir, "documents"), budget_tokens=512
    )


@register(
    "sequence_packing_shuffled",
    f"""
WITH t AS (
  SELECT doc_id,
         {_PH.format(x="CAST(doc_id AS VARCHAR)")} % 32 AS pack_group,
         {_PH.format(x="'shuf:' || CAST(doc_id AS VARCHAR)")} AS ord,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, pack_group, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY pack_group ORDER BY ord, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, CAST(pack_group AS INTEGER) AS pack_group,
       CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
       n_tokens
FROM c
""",
    doc="Sequence packing in deterministic-SHUFFLED order (what a "
    "training run wants — key order leaks collection order into the "
    "batch sequence): in-group order is (hash('shuf:'||key), key), a "
    "pure function of the key, so the shuffle is reproducible and "
    "re-drawable by changing the salt, with zero extra exchanges over "
    "key-ordered packing (operators/text.py:pack_sequences, "
    "shuffle_salt='shuf')",
    tags=("text", "packing"),
)
def q_sequence_packing_shuffled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.pack_sequences(
        load_table(spark, sf_dir, "documents"),
        budget_tokens=512,
        shuffle_salt="shuf",
    )


_FH = f"list_transform({_TOKS}, t -> {_PH.format(x='t')} % 64)"


@register(
    "doc_embeddings_fh",
    f"""
WITH tk AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
h AS (SELECT doc_id, {_PH.format(x="tok")} % 64 AS dim FROM tk)
SELECT doc_id, CAST(dim AS INTEGER) AS dim, CAST(count(*) AS INTEGER) AS cnt
FROM h GROUP BY doc_id, dim
""",
    doc="Train-free feature-hash embeddings (hashing trick): "
    "v[hash(token) mod 64] = count — no vocabulary, no model; entry "
    "emits the nonzero (doc, dim, count) triples as an explode + "
    "count groupBy (hash each token once, O(n) per doc — the oracle "
    "states the identical sparse form) "
    "(operators/text.py:featurehash_sparse)",
    tags=("text", "similarity"),
)
def q_doc_embeddings_fh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: the sparse twin emits the identical (doc, dim, cnt) triples
    # without materializing the dense vector at all (the old
    # posexplode-of-fold form evaluated the O(dims·n_tokens) fold up to
    # 3x per row — in the Generate's pushed-down filter and again in the
    # Project; measured 2.42 s → 0.93 s at sf0.1)
    return TX.featurehash_sparse(
        load_table(spark, sf_dir, "documents"), dims=64, portable=True
    )


@register(
    "docs_bow_cosine_topk",
    f"""
WITH st AS (SELECT doc_id, {_FH} AS hs FROM documents),
e AS (
  SELECT doc_id,
         list_transform(range(0, 64),
                        i -> CAST(len(list_filter(hs, h -> h = i)) AS DOUBLE))
           AS emb
  FROM st
),
nz_e AS (SELECT * FROM e WHERE {_NORMSQ.format(v='emb')} > 0),
q AS (SELECT doc_id AS query_id, emb AS qv FROM nz_e WHERE doc_id < 5),
c AS (SELECT doc_id AS neighbor_id, emb AS cv FROM nz_e),
scored AS (
  SELECT query_id, neighbor_id,
         {_DOT.format(a='qv', b='cv')}
         / sqrt({_NORMSQ.format(v='qv')} * {_NORMSQ.format(v='cv')}) AS cos_sim
  FROM q JOIN c ON query_id <> neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="Bag-of-words cosine top-k over the DOCUMENTS table end-to-end: "
    "feature-hash embeddings (map-side, no model) feed the existing "
    "brute-force cosine scan unchanged — text-to-vector-to-"
    "neighbors in one composed plan, quantization-exact because the "
    "vector components are integer counts. The LSH/IVF tiers accept "
    "the same frame for the 100 TB path",
    tags=("text", "similarity"),
)
def q_docs_bow_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    fh = TX.featurehash_embeddings(
        load_table(spark, sf_dir, "documents"), dims=64, portable=True
    )
    return S.cosine_topk_bruteforce(
        fh, F.col("doc_id") < 5, k=5, id_col="doc_id", vec_col="embedding"
    )


@register(
    "dedup_incremental",
    f"""
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
newb AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id % 2 = 0 AND doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM documents
  WHERE doc_id % 2 = 1 AND doc_id % 10 = 5
),
bh AS (SELECT DISTINCT md5({_NORM}) AS ch FROM base),
nh AS (SELECT doc_id, md5({_NORM}) AS ch FROM newb),
vs AS (SELECT doc_id, 'dup_of_base' AS status FROM nh
       WHERE ch IN (SELECT ch FROM bh)),
nv AS (SELECT doc_id, ch FROM nh WHERE ch NOT IN (SELECT ch FROM bh)),
k AS (SELECT ch, min(doc_id) AS keeper FROM nv GROUP BY ch)
SELECT doc_id, status FROM vs
UNION ALL
SELECT nv.doc_id,
       CASE WHEN nv.doc_id = k.keeper THEN 'novel' ELSE 'dup_in_batch' END
         AS status
FROM nv JOIN k USING (ch)
""",
    doc="Incremental cross-snapshot exact dedup — the rolling-crawl "
    "ingestion step: classify each NEW doc as dup_of_base (hash already "
    "curated), dup_in_batch (novel content but a smaller-id batch twin "
    "is the keeper), or novel (append these). Base corpus reduces "
    "map-side to distinct 16-byte hashes; the batch joins on the hash "
    "only. Exercised over a deterministic even/odd snapshot split with "
    "injected base- and batch-copies so all three statuses fire "
    "(operators/dedup.py:incremental_duplicates)",
    tags=("dedup", "curation"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    new = (
        odd.select("doc_id", "text")
        .unionAll(
            base.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
        .unionAll(
            odd.filter(F.col("doc_id") % 10 == 5).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
            )
        )
    )
    return D.incremental_duplicates(base, new)


@register(
    "length_bucketed_batches",
    f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
b AS (
  SELECT doc_id, n_tokens,
         CAST(n_tokens // 16 AS INTEGER) AS len_bucket
  FROM t
),
r AS (
  SELECT doc_id, n_tokens, len_bucket,
         row_number() OVER (PARTITION BY len_bucket ORDER BY doc_id) - 1 AS rn
  FROM b
)
SELECT doc_id, n_tokens, len_bucket,
       CAST(rn // 8 AS BIGINT) AS batch_id,
       CAST(rn % 8 AS INTEGER) AS batch_slot
FROM r
""",
    doc="Length-bucketed batch assignment (padding-waste reduction): "
    "same-length-bucket docs batched together, 8 per batch, "
    "deterministic key order — all-integer div/mod on a per-bucket "
    "row_number, bit-identical on any engine "
    "(operators/text.py:length_bucketed_batches)",
    tags=("text", "packing"),
)
def q_length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.length_bucketed_batches(
        load_table(spark, sf_dir, "documents"), bucket_tokens=16, batch_size=8
    )


@register(
    "percentile_length_gate",
    f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
n AS (SELECT count(*) AS n FROM t),
r AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (ORDER BY n_tokens, doc_id) AS rk
  FROM t
)
SELECT doc_id, n_tokens FROM r, n WHERE rk > n * 50 // 1000
""",
    doc="Corpus-relative length gate: drop the shortest 5%% of docs by "
    "token count (ties by id) — integer-permille cutoff, never float "
    "percentiles. The oracle states it as a global rank; the Spark plan "
    "decomposes that rank into histogram-cumsum + per-value window so "
    "no global ordered window ever touches the corpus "
    "(operators/text.py:percentile_length_gate)",
    tags=("text", "filter"),
)
def q_percentile_length_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.percentile_length_gate(
        load_table(spark, sf_dir, "documents"), drop_permille=50
    )


@register(
    "top_terms_tfdf",
    f"""
WITH tk AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
FROM (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
  FROM tf JOIN df USING (term)
)
WHERE rank <= 5
""",
    doc="Per-document top-5 characteristic terms: tf desc, doc-frequency "
    "asc tie-break (the tf-idf ordering on all-integer ranks — "
    "bit-identical across engines, no float idf); explode + two "
    "map-side-partial aggregations + per-doc window "
    "(operators/text.py:top_terms)",
    tags=("text",),
)
def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.top_terms(load_table(spark, sf_dir, "documents"), k=5)


_PROFILE_COLS = (
    ("event_id", "event_id"),
    ("user_id", "user_id"),
    ("event_type", "event_type"),
    ("value", "CAST(FLOOR(value * 1000000) AS BIGINT)"),
)

_PROFILE_ORACLE = (
    "WITH w AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, "
    + ", ".join(
        f"CAST(count(DISTINCT {expr}) AS BIGINT) AS {c}_d, "
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS {c}_n, "
        f"CAST(min({expr}) AS VARCHAR) AS {c}_lo, "
        f"CAST(max({expr}) AS VARCHAR) AS {c}_hi"
        for c, expr in _PROFILE_COLS
    )
    + " FROM events)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col_name, n_rows, {c}_d AS n_distinct, "
        f"{c}_n AS n_nulls, {c}_lo AS min_str, {c}_hi AS max_str FROM w"
        for c, _ in _PROFILE_COLS
    )
)


@register(
    "table_profile",
    _PROFILE_ORACLE,
    doc="Data-profiling pass (pre-training sanity report): per tracked "
    "events column — exact distinct count, null count, min/max (doubles "
    "profiled on their micro-quantized integer form; cross-engine float "
    "rendering differs). ONE aggregation job via Spark's expand-based "
    "multi-distinct planning (operators/analytics.py:table_profile)",
    tags=("agg", "profiling"),
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import analytics as A  # noqa: PLC0415

    return A.table_profile(load_table(spark, sf_dir, "events"))


@register(
    "multimodal_features",
    """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_size,
       md5(text) AS checksum,
       CAST(octet_length(encode(text)) % 30 + 1 AS INTEGER) AS fake_frames,
       CASE WHEN octet_length(encode(text)) = 0 THEN 0.0
            ELSE CAST(list_sum(list_transform(
                   range(1, 2 * octet_length(encode(text)), 2),
                   i -> CAST(concat('0x', substring(hex(encode(text)), i, 2)) AS INTEGER)
                 )) AS DOUBLE) / CAST(octet_length(encode(text)) AS DOUBLE)
       END AS fake_mean_byte
FROM documents
""",
    doc="Arrow-batched mapInPandas feature extraction over binary payloads "
    "(decode stubbed; deterministic byte-level fake — mean byte value and "
    "frame count are pure byte arithmetic, so the SQL twin recomputes "
    "them from hex(encode(text)) and the entry is fully oracle-checked)",
    tags=("multimodal",),
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return M.extract_features(M.attach_binary_payload(docs))


@register(
    "multimodal_frames",
    """
WITH m AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS bs
  FROM documents
),
f AS (
  SELECT doc_id, hx, bs, bs % 30 + 1 AS n,
         unnest(range(0, bs % 30 + 1, 4)) AS i
  FROM m
)
SELECT doc_id,
       CAST(i AS INTEGER) AS frame_index,
       CAST(i * bs // n AS INTEGER) AS frame_offset,
       CAST((i + 1) * bs // n - i * bs // n AS INTEGER) AS frame_len,
       CAST(COALESCE(list_sum(list_transform(
              range(i * bs // n + 1, (i + 1) * bs // n + 1),
              j -> CAST(concat('0x', substring(hx, 2*j - 1, 2)) AS INTEGER))), 0)
            AS BIGINT) AS frame_byte_sum
FROM f
""",
    doc="Frame sampling over binary payloads: one output row per "
    "sampled frame (every 4th of the deterministic fake layout "
    "n_frames = byte_size %% 30 + 1, frame i = bytes "
    "[i*size/n, (i+1)*size/n)) — the row-EXPANDING Arrow mapInPandas "
    "shape a real video pipeline has, byte-exact against the oracle's "
    "hex arithmetic; a real codec swaps in as the loop body "
    "(operators/multimodal.py:sample_frames)",
    tags=("multimodal",),
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return M.sample_frames(M.attach_binary_payload(docs), every_nth=4)


@register(
    "bpe_merge_step",
    f"""
WITH toks AS (SELECT unnest({_TOKS}) AS w FROM documents),
words AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY w),
pairs AS (
  SELECT w, freq,
         unnest(list_transform(range(1, length(w)), i -> substring(w, i, 2))) AS pair
  FROM words WHERE length(w) >= 2
),
agg AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS weight,
         CAST(count(DISTINCT w) AS BIGINT) AS n_types
  FROM pairs GROUP BY pair
)
SELECT CAST(rank AS INTEGER) AS rank, pair, weight, n_types FROM (
  SELECT *, row_number() OVER (ORDER BY weight DESC, pair) AS rank FROM agg
) WHERE rank <= 20
""",
    doc="BPE-trainer iteration kernel: top-20 adjacent-symbol merge "
    "candidates by corpus-weighted occurrence count over the base "
    "(character) vocabulary — the distributed statistic a byte-pair-"
    "encoding trainer loops; the only corpus-sized shuffle is the "
    "word-frequency groupBy (map-side combine), pair explosion runs "
    "over DISTINCT words weighted by frequency "
    "(operators/text.py:bpe_merge_candidates)",
    tags=("text", "tokenizer"),
)
def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.bpe_merge_candidates(docs, top_k=20)


# shared nearest-seed-centroid assignment CTE (the deterministic id<16
# seed convention every IVF-family entry uses; ties to lowest cent_id)
_ASSIGN_CTE = f"""{_NZ_CTE},
{_ranked_cte(16)},
assign AS (
  SELECT vec_id, embedding, CAST(cent_id AS INTEGER) AS cell FROM ranked WHERE rn = 1
)"""


@register(
    "semantic_dedup",
    f"""
WITH {_ASSIGN_CTE},
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_DOT.format(a='a.embedding', b='b.embedding')}
        / sqrt({_NORMSQ.format(v='a.embedding')} * {_NORMSQ.format(v='b.embedding')}) >= 0.35
)
SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS kept
FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
""",
    doc="SemDeDup-shaped semantic dedup (arXiv:2303.09540): nearest-seed-"
    "centroid clustering confines the pairwise cosine comparison to "
    "within-cell candidates (O(N²/k)); vectors with an earlier-id "
    "in-cell neighbor at cos≥0.35 are dropped (threshold is data-"
    "dependent: the synthetic embeddings' cosine mass sits near 0 — "
    "real-corpus SemDeDup runs ≈0.95). Blocked int64-matmul "
    "scoring with the hot-cell sub-split guard; kept-flag per input row "
    "(operators/similarity.py:semantic_dedup)",
    tags=("similarity", "dedup"),
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semantic_dedup(emb, n_centroids=16, threshold=0.35)


@register(
    "dsir_select",
    f"""
WITH toks AS (
  SELECT doc_id, (source = 'src0') AS tgt, unnest({_TOKS}) AS t FROM documents
),
tc AS (SELECT t, CAST(count(*) AS BIGINT) AS c_t FROM toks WHERE tgt GROUP BY t),
cc AS (SELECT t, CAST(count(*) AS BIGINT) AS c_c FROM toks GROUP BY t),
tot AS (
  SELECT (SELECT CAST(sum(c_t) AS BIGINT) FROM tc) AS nt,
         (SELECT CAST(sum(c_c) AS BIGINT) FROM cc) AS nc
),
pd AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(COALESCE(tc.c_t, 0)) AS BIGINT) AS sum_t,
         CAST(sum(cc.c_c) AS BIGINT) AS sum_c
  FROM toks LEFT JOIN tc ON toks.t = tc.t JOIN cc ON toks.t = cc.t
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, sum_t, sum_c,
       CAST(sum_t * nc AS DOUBLE) / CAST(sum_c * nt AS DOUBLE) AS ratio,
       ({_PH.format(x="concat('dsir:', CAST(doc_id AS VARCHAR))")} % 1000000)
         * CAST(sum_c AS HUGEINT) * nt
         < 500000 * CAST(sum_t AS HUGEINT) * nc AS selected
FROM pd, tot
""",
    doc="DSIR-shaped importance resampling toward the src0 domain "
    "(arXiv:2302.03169): per-doc target-vs-corpus unigram likelihood "
    "ratio in exact count space, acceptance-thinned by a deterministic "
    "md5 gate (alpha=0.5 keep rate) with the comparison cross-multiplied in "
    "DECIMAL(38,0); both count models are vocabulary-sized broadcasts, "
    "the only corpus shuffle is the per-doc groupBy "
    "(operators/text.py:importance_weights)",
    tags=("text", "sampling"),
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.importance_weights(docs, F.col("source") == "src0", alpha=0.5)


@register(
    "ann_recall_eval",
    f"""
WITH {_NZ_CTE},
sig AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql(bits=4)} AS bucket FROM nz
),
q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket FROM sig WHERE vec_id < 25),
c AS (SELECT vec_id AS neighbor_id, embedding AS cvec, bucket FROM sig),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY {_DOT.format(a='qvec', b='cvec')}
                      / sqrt({_NORMSQ.format(v='qvec')} * {_NORMSQ.format(v='cvec')}) DESC,
                      neighbor_id
           ) AS rn
    FROM q, c WHERE query_id <> neighbor_id
  ) WHERE rn <= 5
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY {_DOT.format(a='qvec', b='cvec')}
                      / sqrt({_NORMSQ.format(v='qvec')} * {_NORMSQ.format(v='cvec')}) DESC,
                      neighbor_id
           ) AS rn
    FROM q JOIN c ON bit_count(xor(q.bucket, c.bucket)) <= 1
    WHERE query_id <> neighbor_id
  ) WHERE rn <= 5
),
hits AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM exact JOIN approx USING (query_id, neighbor_id) GROUP BY query_id
)
SELECT e.query_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 5.0 AS recall_at_k
FROM (SELECT DISTINCT query_id FROM exact) e LEFT JOIN hits h USING (query_id)
""",
    doc="ANN evaluation harness as a query: recall@5 of Hamming-1 "
    "multi-probe LSH (4-bit buckets — sized to the sf corpus; at scale "
    "raise bits with N to keep buckets bounded) vs exact brute force "
    "for 25 query vectors — the "
    "intersection is a semi-join of two top-k-sized frames, so the "
    "measurement itself is distributed and oracle-checkable; queries "
    "with zero LSH candidates surface as recall 0 instead of vanishing "
    "(operators/similarity.py:ann_recall_at_k)",
    tags=("similarity", "eval"),
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_recall_at_k(
        emb, F.col("vec_id") < 25, k=5, dims=64, bits=4, probe_hamming=1
    )


def _bpe_pass_sql(expr: str, x: str, y: str) -> str:
    """SQL twin of text._bpe_merge_pass: same string-accumulator fold,
    same leading-space marker, same leftmost-non-overlapping greed —
    list_reduce's first-element-as-init convention is satisfied because
    every symbol string starts with ' ' so element 1 is always ''."""
    return (
        f"list_reduce(string_split({expr}, ' '), "
        f"(acc, s) -> CASE WHEN s = '' THEN acc "
        f"WHEN ends_with(acc, ' {x}') AND s = '{y}' "
        f"THEN left(acc, length(acc) - {len(x)}) || '{x}{y}' "
        f"ELSE acc || ' ' || s END)"
    )


_BPE_SEG = "regexp_replace(w, '(.)', ' \\1', 'g')"
for _x, _y in (("e", "r"), ("t", "er"), ("o", "w")):
    _BPE_SEG = _bpe_pass_sql(_BPE_SEG, _x, _y)


@register(
    "bpe_apply",
    f"""
WITH toks AS (SELECT unnest({_TOKS}) AS w FROM documents),
words AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY w),
seg AS (SELECT w, freq, trim({_BPE_SEG}) AS s FROM words)
SELECT w AS word, freq, s AS segments,
       CAST(len(string_split(s, ' ')) AS INTEGER) AS n_symbols
FROM seg ORDER BY word
""",
    doc="BPE merge-table APPLICATION (pairs with bpe_merge_step's "
    "selection): word -> subword segments under a topologically-ordered "
    "merge table — (t,er) consumes (e,r)'s output — via one exact "
    "string-fold pass per rule; segmentation runs over the DISTINCT-"
    "word table so the fold cost is vocabulary-bound "
    "(operators/text.py:bpe_apply)",
    tags=("text", "tokenizer"),
)
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.bpe_apply(docs)


@register(
    "knn_graph",
    f"""
WITH {_ASSIGN_CTE},
scored AS (
  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         {_DOT.format(a='a.embedding', b='b.embedding')}
         / sqrt({_NORMSQ.format(v='a.embedding')} * {_NORMSQ.format(v='b.embedding')}) AS cos_sim
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
)
SELECT src_id, CAST(rank AS INTEGER) AS rank, dst_id, cos_sim FROM (
  SELECT *, row_number() OVER (
    PARTITION BY src_id ORDER BY cos_sim DESC, dst_id
  ) AS rank FROM scored
) WHERE rank <= 3
""",
    doc="Cell-confined kNN graph: top-3 in-cell cosine neighbors for "
    "EVERY corpus vector (the batch adjacency behind SemDeDup pruning "
    "and diversity sampling) — map-side assignment, blocked int64 "
    "matmul pairs mirrored once, per-source rank window "
    "(operators/similarity.py:knn_graph)",
    tags=("similarity", "graph"),
)
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.knn_graph(emb, k=3, n_centroids=16)


@register(
    "ngram_containment_topk",
    f"""
WITH sh0 AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len({_TOKS})-1),
                   i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2])
  )) AS shingle
  FROM documents WHERE len({_TOKS}) >= 3
),
hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 20),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(shared AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE) AS containment,
       CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
ORDER BY containment DESC, doc_a, doc_b LIMIT 20
""",
    doc="Broder containment near-superset detection: shared/min(|A|,|B|) "
    "over distinct 3-gram shingles — catches a short doc embedded in a "
    "long one, which symmetric Jaccard dilutes toward 0 (containment 1 "
    "+ jaccard 0.01 IS the signature); same pair machinery and "
    "hot-shingle guard as ngram_jaccard_topk "
    "(operators/dedup.py:ngram_containment_pairs)",
    tags=("dedup", "join"),
)
def q_ngram_containment_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_containment_pairs(docs, max_doc_freq=20)
    return pairs.orderBy(F.desc("containment"), "doc_a", "doc_b").limit(20)


@register(
    "char_stats",
    """
WITH ch AS (
  SELECT doc_id, unnest(list_transform(range(1, length(text)+1), i -> text[i:i])) AS c
  FROM documents
),
counts AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt FROM ch GROUP BY doc_id, c),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS distinct_chars,
         CAST(max(cnt) AS BIGINT) AS top_char_count,
         CAST(sum(cnt*cnt) AS BIGINT) AS sumsq
  FROM counts GROUP BY doc_id
)
SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS n_chars,
       CAST(COALESCE(a.distinct_chars, 0) AS INTEGER) AS distinct_chars,
       CAST(COALESCE(a.top_char_count, 0) AS BIGINT) AS top_char_count,
       CASE WHEN length(d.text) > 0
            THEN 1.0 - CAST(a.sumsq AS DOUBLE)
                       / CAST(length(d.text)*length(d.text) AS DOUBLE)
            ELSE 0.0 END AS gini_diversity,
       (length(d.text) = 0 OR 2*COALESCE(a.top_char_count, 0) <= length(d.text))
         AS top_char_ok
FROM documents d LEFT JOIN agg a USING (doc_id)
""",
    doc="Character-distribution quality signals (degenerate-text "
    "detection before tokenization): distinct chars, top-char count, "
    "Gini diversity 1-sum(c^2)/N^2 (log-free, bit-exact entropy "
    "stand-in), half-text top-char gate — ONE map-side sorted-array "
    "scan per doc, zero shuffle; the oracle states the same numbers "
    "via explode+groupBy (operators/text.py:char_stats)",
    tags=("text", "quality"),
)
def q_char_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.char_stats(docs)


# winnowing selection, relationally (windows join + rank) — shared by
# the fingerprint entry and the overlap-pairs entry built on it
_WINNOW_CTE = f"""t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)-1),
            i -> {_PH.format(x="toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")})) AS h,
         unnest(range(1, len(toks)-1)) AS pos
  FROM t WHERE len(toks) >= 3
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM g GROUP BY doc_id),
wins AS (
  SELECT doc_id, unnest(range(1, m - LEAST(4, m) + 2)) AS ws, LEAST(4, m) AS l
  FROM sizes
),
cand AS (
  SELECT w.doc_id, w.ws, g.pos, g.h,
         row_number() OVER (
           PARTITION BY w.doc_id, w.ws ORDER BY g.h ASC, g.pos DESC
         ) AS rn
  FROM wins w JOIN g ON g.doc_id = w.doc_id
                    AND g.pos BETWEEN w.ws AND w.ws + w.l - 1
),
winnowed AS (
  SELECT DISTINCT doc_id, CAST(pos AS INTEGER) AS pos, h AS fp
  FROM cand WHERE rn = 1
)"""


@register(
    "winnow_fingerprints",
    f"""
WITH {_WINNOW_CTE}
SELECT doc_id, pos, fp FROM winnowed
""",
    doc="Winnowing fingerprint selection (the MOSS algorithm): rightmost "
    "minimal 3-gram hash per 4-window — guarantees a shared fingerprint "
    "for any shared 6-token run while keeping ~2/(w+1) of shingles; "
    "entirely map-side (window transform + lexicographic array_min of "
    "(hash,-pos) structs), one explode, no shuffle; the oracle states "
    "the same selection relationally (windows join + rank) "
    "(operators/text.py:winnow_fingerprints)",
    tags=("text", "dedup", "fingerprint"),
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.winnow_fingerprints(docs, n=3, window=4)


@register(
    "winnow_overlap_topk",
    f"""
WITH {_WINNOW_CTE},
fpd AS (SELECT DISTINCT doc_id, fp FROM winnowed),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared_fps
  FROM fpd a JOIN fpd b
    ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= 2
)
SELECT doc_a, doc_b, shared_fps FROM pairs
ORDER BY shared_fps DESC, doc_a, doc_b LIMIT 20
""",
    doc="MOSS end-to-end: top-20 document pairs by shared winnowed "
    "fingerprints (>=2) — the overlap self-join runs on the ~2/(w+1) "
    "selected rows instead of every shingle, with the shared-run "
    "guarantee bounding what sampling can miss "
    "(operators/text.py:winnow_overlap_pairs)",
    tags=("text", "dedup", "join"),
)
def q_winnow_overlap_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = TX.winnow_overlap_pairs(docs, min_shared=2)
    return pairs.orderBy(F.desc("shared_fps"), "doc_a", "doc_b").limit(20)


# PQ sub-vector quantizer twin: subspace m's slice of vector v, int64-quantized
_PQSUB = (
    "list_transform(list_slice({v}, {m}*8+1, {m}*8+8), "
    f"x -> {_Q.format(x='x')})"
)
# exact squared L2 between two quantized sub-vectors
_PQDIST = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
)
_PQ_CB_CTE = f"""cb AS (
  SELECT m, CAST(vec_id AS INTEGER) AS code,
         {_PQSUB.format(v='embedding', m='m')} AS qc
  FROM embeddings, (SELECT CAST(unnest(range(8)) AS INTEGER) AS m)
  WHERE vec_id < 16
)"""
_PQ_ENC_CTE = f"""dist AS (
  SELECT e.vec_id, cb.m, cb.code,
         {_PQDIST.format(a=_PQSUB.format(v='e.embedding', m='cb.m'), b='cb.qc')} AS qdist
  FROM embeddings e, cb
),
enc AS (
  SELECT vec_id, m, code, qdist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY qdist, code) AS rn
    FROM dist
  ) WHERE rn = 1
)"""


@register(
    "pq_encode",
    f"""
WITH {_PQ_CB_CTE},
{_PQ_ENC_CTE}
SELECT vec_id, m, code, qdist FROM enc
""",
    doc="Product-quantization encoding: 64-dim vectors -> 8 subspaces x "
    "16 deterministic seed codewords (id<16 sub-vectors), nearest "
    "codeword by exact int64 squared-L2, ties to lowest code; qdist is "
    "the per-subspace reconstruction error. The compression half of "
    "IVF-PQ — n_sub bytes/vector instead of float dims "
    "(operators/similarity.py:pq_encode; one Arrow pass of the numpy PQ "
    "kernel, codebook in the task closure, first-min argmin)",
    tags=("similarity", "index"),
)
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.pq_encode(emb, n_sub=8, k_codes=16)


@register(
    "ann_pq_adc",
    f"""
WITH {_PQ_CB_CTE},
{_PQ_ENC_CTE},
lut AS (
  SELECT q.vec_id AS query_id, cb.m, cb.code,
         {_PQDIST.format(a=_PQSUB.format(v='q.embedding', m='cb.m'), b='cb.qc')} AS ldist
  FROM embeddings q, cb WHERE q.vec_id < 5
),
scored AS (
  SELECT l.query_id, e.vec_id AS neighbor_id,
         CAST(sum(l.ldist) AS BIGINT) AS adist
  FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, adist FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="Asymmetric-distance (ADC) top-5 over PQ codes: full-precision "
    "queries precompute an 8x16 int64 LUT of partial squared distances "
    "(shipped in the task closure); corpus distance = 8 table lookups "
    "summed over the codes, encoded in the same Arrow pass, with a "
    "per-batch partial top-k before the one window (operators/similarity.py:cosine_topk_pq_adc)",
    tags=("similarity",),
)
def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk_pq_adc(emb, F.col("vec_id") < 5, k=5, n_sub=8, k_codes=16)


def _pagerank_iter_sql(prev: str, out: str) -> str:
    """One fixed-point PageRank step as SQL — the exact integer twin of
    graph.pagerank_fixedpoint's loop body."""
    return f"""{out} AS (
  SELECT n.node,
         CAST((SELECT (15 * (1000000000000 // n)) // 100 FROM nn)
              + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS rank_fp
  FROM nodes n LEFT JOIN (
    SELECT e.dst_id AS node,
           CAST(SUM(r.rank_fp // d.deg) AS BIGINT) AS c
    FROM edges e
    JOIN {prev} r ON e.src_id = r.node
    JOIN outdeg d ON e.src_id = d.src_id
    GROUP BY e.dst_id
  ) s ON s.node = n.node
)"""


_PAGERANK_ITERS = ",\n".join(
    _pagerank_iter_sql(f"r{i}", f"r{i + 1}") for i in range(3)
)


@register(
    "knn_pagerank",
    f"""
WITH {_ASSIGN_CTE},
scored AS (
  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         {_DOT.format(a='a.embedding', b='b.embedding')}
         / sqrt({_NORMSQ.format(v='a.embedding')} * {_NORMSQ.format(v='b.embedding')}) AS cos_sim
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
),
edges AS (
  SELECT src_id, dst_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY src_id ORDER BY cos_sim DESC, dst_id
    ) AS rank FROM scored
  ) WHERE rank <= 3
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src_id AS node FROM edges
    UNION ALL SELECT dst_id AS node FROM edges
  )
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
outdeg AS (
  SELECT src_id, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src_id
),
r0 AS (
  SELECT node, CAST((SELECT 1000000000000 // n FROM nn) AS BIGINT) AS rank_fp
  FROM nodes
),
{_PAGERANK_ITERS}
SELECT node, rank_fp, CAST(rank_fp AS DOUBLE) / 1000000000000 AS rank FROM r3
""",
    doc="Fixed-point PageRank (3 synchronous steps, damping 85/100, all "
    "int64 floor arithmetic — the deterministic skeleton of the float "
    "algorithm) over the cell-confined kNN graph: the centrality signal "
    "behind graph-based quality scoring and diversity sampling. Per "
    "step: edges→ranks join on src, map-side-partial groupBy(dst), "
    "node-sized left join; edges persisted, ranks lazy, driver sees one "
    "count. In-edge sums are bounded by total rank mass so int64 never "
    "overflows at any graph size "
    "(operators/graph.py:pagerank_fixedpoint)",
    tags=("graph", "iterative"),
)
def q_knn_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank_fixedpoint  # noqa: PLC0415

    emb = load_table(spark, sf_dir, "embeddings")
    edges = S.knn_graph(emb, k=3, n_centroids=16).select("src_id", "dst_id")
    return pagerank_fixedpoint(edges, iters=3).withColumnRenamed("node", "node")


_PQ_CB_CTE_NZ = _PQ_CB_CTE.replace("FROM embeddings,", "FROM nz,")
_PQ_ENC_CTE_NZ = _PQ_ENC_CTE.replace("FROM embeddings e", "FROM nz e")


@register(
    "ann_pq_rerank",
    f"""
WITH {_NZ_CTE},
{_PQ_CB_CTE_NZ},
{_PQ_ENC_CTE_NZ},
lut AS (
  SELECT q.vec_id AS query_id, cb.m, cb.code,
         {_PQDIST.format(a=_PQSUB.format(v='q.embedding', m='cb.m'), b='cb.qc')} AS ldist
  FROM nz q, cb WHERE q.vec_id < 5
),
adc AS (
  SELECT l.query_id, e.vec_id AS neighbor_id,
         CAST(sum(l.ldist) AS BIGINT) AS adist
  FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
    FROM adc
  ) WHERE rn <= 50
),
rer AS (
  SELECT s.query_id, s.neighbor_id,
         {_DOT.format(a='q.embedding', b='n.embedding')}
         / sqrt({_NORMSQ.format(v='q.embedding')} * {_NORMSQ.format(v='n.embedding')}) AS cos_sim
  FROM short s
  JOIN nz q ON q.vec_id = s.query_id
  JOIN nz n ON n.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM rer
) WHERE rank <= 5
""",
    doc="The COMPLETE IVF-PQ query pattern (faiss search+refine), "
    "driver-hashed end-to-end: ADC over compressed codes shortlists 50 "
    "candidates/query (~n_sub bytes/vector scanned), then ONLY those "
    "candidates' full vectors are fetched (broadcast candidate frame — "
    "the corpus never shuffles) and exactly re-ranked by quantized "
    "cosine. Recall is the shortlist knob, compute the code scan; "
    "measured 0.66 recall@5 vs brute force here at a 10% shortlist "
    "(operators/similarity.py:cosine_topk_pq_rerank)",
    tags=("similarity",),
)
def q_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk_pq_rerank(
        emb, F.col("vec_id") < 5, k=5, shortlist=50, n_sub=8, k_codes=16
    )


# ---------------------------------------------------------------------------
# OPQ (permutation variant): variance-balanced subspaces before PQ —
# faiss OPQMatrix/IndexPreTransform shape, the dimension-permutation
# baseline of Ge et al. CVPR 2013. The permutation is DATA-DERIVED and
# the oracle RE-DERIVES it (the IVF-centroid pattern): exact quantized
# int64 per-dim sums, variance numerator n*sum(q^2) - sum(q)^2 in
# arbitrary precision (Python ints / DuckDB HUGEINT), snake-dealt into
# subspaces by decreasing variance.
# ---------------------------------------------------------------------------

_OPQ_PERM_CTES = f"""qc AS (
  SELECT unnest(range(len(embedding))) AS dim,
         unnest(list_transform(embedding, x -> {_Q.format(x='x')})) AS q
  FROM nz
),
dvar AS (
  SELECT dim, CAST(count(*) AS HUGEINT) * sum(q*q) - sum(q)*sum(q) AS v
  FROM qc GROUP BY dim
),
ranked AS (
  SELECT dim, row_number() OVER (ORDER BY v DESC, dim) - 1 AS r FROM dvar
),
permmap AS (
  SELECT dim AS old_dim,
         (CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - (r % 8) END) * 8
           + (r // 8) AS new_pos
  FROM ranked
)"""


@register(
    "opq_map",
    f"""
WITH {_NZ_CTE},
{_OPQ_PERM_CTES}
SELECT CAST(new_pos AS INTEGER) AS new_pos, CAST(old_dim AS INTEGER) AS old_dim
FROM permmap
""",
    doc="The OPQ dimension permutation itself (perm[new_pos]=old_dim), "
    "driver-hashed: per-dim variance from ONE map-side-partial "
    "aggregation (exact DECIMAL(38,0) sums of quantized components; "
    "the n*ss-s^2 numerator in arbitrary precision so the ordering is "
    "bit-reproducible), highest-variance dims dealt boustrophedon into "
    "the 8 subspaces. 64 rows; at 100 TB the aggregation runs on a "
    "sample (operators/similarity.py:opq_permutation)",
    tags=("similarity", "index"),
)
def q_opq_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    perm = S.opq_permutation(S.nonzero_norm(emb), n_sub=8)
    return spark.createDataFrame(
        [(p, d) for p, d in enumerate(perm)], "new_pos int, old_dim int"
    )


_ROT_CTE = """rot AS (
  SELECT e.vec_id,
         list(e.embedding[p.old_dim + 1] ORDER BY p.new_pos) AS embedding
  FROM nz e, permmap p
  GROUP BY e.vec_id
)"""
_PQ_CB_CTE_ROT = _PQ_CB_CTE.replace("FROM embeddings,", "FROM rot,")
_PQ_ENC_CTE_ROT = _PQ_ENC_CTE.replace("FROM embeddings e", "FROM rot e")


@register(
    "ann_pq_opq",
    f"""
WITH {_NZ_CTE},
{_OPQ_PERM_CTES},
{_ROT_CTE},
{_PQ_CB_CTE_ROT},
{_PQ_ENC_CTE_ROT},
lut AS (
  SELECT q.vec_id AS query_id, cb.m, cb.code,
         {_PQDIST.format(a=_PQSUB.format(v='q.embedding', m='cb.m'), b='cb.qc')} AS ldist
  FROM rot q, cb WHERE q.vec_id < 5
),
adc AS (
  SELECT l.query_id, e.vec_id AS neighbor_id,
         CAST(sum(l.ldist) AS BIGINT) AS adist
  FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
    FROM adc
  ) WHERE rn <= 50
),
rer AS (
  SELECT s.query_id, s.neighbor_id,
         {_DOT.format(a='q.embedding', b='n.embedding')}
         / sqrt({_NORMSQ.format(v='q.embedding')} * {_NORMSQ.format(v='n.embedding')}) AS cos_sim
  FROM short s
  JOIN rot q ON q.vec_id = s.query_id
  JOIN rot n ON n.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM rer
) WHERE rank <= 5
""",
    doc="OPQ-composed PQ rerank (faiss IndexPreTransform(OPQMatrix) + "
    "IVFPQ search+refine): permute dims to balance per-subspace "
    "variance, then encode/ADC-shortlist/exact-rerank in the permuted "
    "space. Permutations preserve inner products, so the exact rerank "
    "scores equal the unpermuted ones — OPQ moves recall via better "
    "codes at zero query-time cost (measured +0.08 recall@5 with "
    "trained codebooks at shortlist=50; codebook-dependent). The rotate "
    "step is 64 getItems inside codegen, map-side "
    "(operators/similarity.py:cosine_topk_pq_opq, opq_permutation)",
    tags=("similarity",),
)
def q_ann_pq_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk_pq_opq(
        emb, F.col("vec_id") < 5, k=5, shortlist=50, n_sub=8, k_codes=16
    )


# ---------------------------------------------------------------------------
# IVF-residual PQ (faiss IndexIVFPQ by_residual=true): codes quantize
# the residual v - centroid[cell]; ADC LUTs are per-(query, probed
# cell) on the target q - centroid[cell]. All-integer residual space
# (q(v) - q(c)), so the oracle re-derives the whole tier exactly.
# ---------------------------------------------------------------------------

# exact squared L2 between two ALREADY-QUANTIZED int lists
_RQDIST = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
)
_QL = f"list_transform({{v}}, x -> {_Q.format(x='x')})"


@register(
    "ann_ivfpq_residual",
    f"""
WITH {_ASSIGN_CTE},
rq AS (
  SELECT a.vec_id, a.cell,
         list_transform(
           list_zip({_QL.format(v='a.embedding')}, {_QL.format(v='c.cvec')}),
           p -> p[1] - p[2]
         ) AS rv
  FROM assign a JOIN cents c ON c.cent_id = a.cell
),
rcb AS (
  -- codebook seeds DISJOINT from the centroid ids: a centroid's own
  -- residual is exactly zero, so ids 0..15 would build an all-zero
  -- (degenerate) codebook — see similarity._ivf_setup
  SELECT m, CAST(r.vec_id - 16 AS INTEGER) AS code,
         list_slice(r.rv, m*8+1, m*8+8) AS qc
  FROM rq r, (SELECT CAST(unnest(range(8)) AS INTEGER) AS m)
  WHERE r.vec_id >= 16 AND r.vec_id < 32
),
rdist AS (
  SELECT e.vec_id, e.cell, cb.m, cb.code,
         {_RQDIST.format(a='list_slice(e.rv, cb.m*8+1, cb.m*8+8)', b='cb.qc')} AS qdist
  FROM rq e, rcb cb
),
renc AS (
  SELECT vec_id, cell, m, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY qdist, code) AS rn
    FROM rdist
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qvec, CAST(cent_id AS INTEGER) AS cell
  FROM ranked WHERE vec_id < 5 AND rn <= 4
),
lut AS (
  SELECT p.query_id, p.cell, cb.m, cb.code,
         {_RQDIST.format(
             a="list_slice(list_transform("
               "list_zip(" + _QL.format(v='p.qvec') + ", " + _QL.format(v='c.cvec') + "), "
               "p2 -> p2[1] - p2[2]), cb.m*8+1, cb.m*8+8)",
             b='cb.qc',
         )} AS ldist
  FROM probes p
  JOIN cents c ON c.cent_id = p.cell
  CROSS JOIN (SELECT DISTINCT m, code, qc FROM rcb) cb
),
adc AS (
  SELECT l.query_id, e.vec_id AS neighbor_id,
         CAST(sum(l.ldist) AS BIGINT) AS adist
  FROM renc e
  JOIN lut l ON l.cell = e.cell AND l.m = e.m AND l.code = e.code
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
    FROM adc
  ) WHERE rn <= 50
),
rer AS (
  SELECT s.query_id, s.neighbor_id,
         {_DOT.format(a='q.embedding', b='n.embedding')}
         / sqrt({_NORMSQ.format(v='q.embedding')} * {_NORMSQ.format(v='n.embedding')}) AS cos_sim
  FROM short s
  JOIN nz q ON q.vec_id = s.query_id
  JOIN nz n ON n.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM rer
) WHERE rank <= 5
""",
    doc="faiss IndexIVFPQ with by_residual=true, driver-hashed "
    "end-to-end: codes quantize the residual against the assigned "
    "cell's centroid (finer quantization — residual magnitudes are "
    "small); ADC uses a per-(query, probed cell) LUT on the target "
    "q - centroid[cell], |Q|*nprobe tables in the task closure of one "
    "Arrow pass; a row is scored only by the queries probing its cell, "
    "then the 50-candidate shortlist is exactly re-ranked. "
    "Measured recall@5 0.728 vs 0.656 for raw-vector codes at "
    "nprobe=all (seed codebooks; codebook seeds ids 16..31, disjoint "
    "from the centroids — centroid residuals are identically zero) "
    "(operators/similarity.py:cosine_topk_ivfpq_residual)",
    tags=("similarity",),
)
def q_ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk_ivfpq_residual(
        emb, F.col("vec_id") < 5, k=5, n_centroids=16, nprobe=4,
        n_sub=8, k_codes=16, shortlist=50,
    )
