"""Text analysis for large-scale training-data pipelines.

Beyond-reference operators (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting — all as
JVM-side column expressions (no Python in the hot path), so they run
inside whole-stage codegen over a 100 TB documents table.

Determinism contract: every expression here has an exact SQL twin in
``plans.datapipe`` oracles; ratios divide exact integer counts as
doubles at the very end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A tiny embedded English stopword list — enough for an n-gram-free
# heuristic language scorer; at real scale you'd broadcast a per-language
# table instead.
EN_STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "for", "on", "with",
    "as", "at", "by", "it", "be",
)


def normalized(text: Column) -> Column:
    """Lowercase, strip non-alphanumerics to spaces, collapse runs, trim."""
    return F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))


def tokens(text: Column) -> Column:
    return F.split(normalized(text), " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: alpha runs, digit runs, and each
    punctuation mark count separately (the pre-merge segmentation every
    BPE tokenizer starts from). Pure-ASCII regex ⇒ identical semantics in
    Java regex and RE2-based engines, so the DuckDB oracle matches."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


def punct_count(text: Column) -> Column:
    """Count of non-alphanumeric, non-space characters via the
    length-difference trick (portable to any SQL engine)."""
    return F.length(text) - F.length(F.regexp_replace(text, "[^a-zA-Z0-9 ]", ""))


def staged_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stage normalization and tokenization as bound columns.

    Anything that uses tokens inside a higher-order-function lambda MUST
    reference a staged attribute: expressions embedded in a lambda are
    re-evaluated on every lambda call (no codegen, no subexpression
    elimination inside HOFs), so an unstaged ``element_at(split(...), i)``
    re-runs the regex+split over the whole document per shingle position.
    """
    t = F.col(text_col)
    return docs.withColumn("_norm", normalized(t)).withColumn(
        "_toks", F.split(F.col("_norm"), " ")
    )


def quality_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality scoring: char/token counts, mean token length,
    punctuation ratio, stopword ratio. One projection, no shuffle."""
    t = F.col(text_col)
    staged = staged_tokens(docs, text_col)
    ntok = F.size("_toks")
    return staged.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        ntok.alias("n_tokens"),
        (F.length("_norm").cast("double") / ntok.cast("double")).alias("avg_token_len"),
        # try_divide: an EMPTY document has length 0 — ANSI division
        # would kill the whole job on one degenerate row (found by the
        # differential fuzzer); NULL matches the DuckDB oracle's
        # divide-by-zero semantics exactly
        F.try_divide(punct_count(t).cast("double"), F.length(t).cast("double")).alias(
            "punct_ratio"
        ),
        (
            F.size(F.filter("_toks", lambda tok: tok.isin(*EN_STOPWORDS))).cast("double")
            / ntok.cast("double")
        ).alias("stopword_ratio"),
    )


def language_id(docs: DataFrame, text_col: str = "text", threshold: float = 0.08) -> DataFrame:
    """Heuristic language ID: English-stopword density. Predicts 'en'
    above the threshold, 'unknown' otherwise — the shape of a real
    n-gram scorer with the model table swapped for a constant list."""
    staged = staged_tokens(docs, text_col)
    ratio = (
        F.size(F.filter("_toks", lambda tok: tok.isin(*EN_STOPWORDS))).cast("double")
        / F.size("_toks").cast("double")
    )
    return staged.select(
        "doc_id",
        ratio.alias("en_score"),
        F.when(ratio > threshold, F.lit("en")).otherwise(F.lit("unknown")).alias("lang_pred"),
    )


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: md5 of the normalized text (order-sensitive)
    and md5 of the sorted token bag (order-insensitive — catches
    shuffled near-duplicates)."""
    staged = staged_tokens(docs, text_col)
    return staged.select(
        "doc_id",
        F.md5(F.to_binary(F.col("_norm"), F.lit("utf-8"))).alias("content_hash"),
        F.md5(
            F.to_binary(F.array_join(F.array_sort("_toks"), " "), F.lit("utf-8"))
        ).alias("bag_hash"),
    )


def hash_split(
    docs: DataFrame,
    key_col: str = "doc_id",
    val_pct: int = 10,
    test_pct: int = 10,
) -> DataFrame:
    """Deterministic train/val/test assignment by key hash — the
    reproducible-at-scale alternative to RNG sampling (same row → same
    split on any engine, any run, any partitioning; adding data never
    reassigns existing rows). Group-stable by construction: anything
    keyed by ``key_col`` (e.g. every chunk of a document) lands in the
    same split, preventing train/eval leakage.

    bucket = md5-slice hash of the key mod 100; val = [0, val_pct),
    test = [val_pct, val_pct+test_pct), train = the rest. Pure map-side
    projection, no shuffle, no RNG."""
    from .dedup import portable_hash64  # noqa: PLC0415 (avoid module cycle)

    bucket = F.pmod(portable_hash64(F.col(key_col).cast("string")), F.lit(100))
    split = (
        F.when(bucket < val_pct, F.lit("val"))
        .when(bucket < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return docs.withColumn("split", split)


# PII patterns — pure-ASCII character classes so Java regex (Spark) and
# RE2 (DuckDB) agree byte-for-byte.
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_PATTERN = "https?://[^ \\t\\n]+"


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Curation-time PII scrub: mask emails and URLs, and report how
    many of each were removed per document (audit trail). One map-side
    projection — regex count first, then two sequential replaces."""
    t = F.col(text_col)

    def n_matches(pat: str) -> Column:
        return F.size(F.regexp_extract_all(t, F.lit(pat), 0))

    redacted = F.regexp_replace(
        F.regexp_replace(t, EMAIL_PATTERN, "[EMAIL]"), URL_PATTERN, "[URL]"
    )
    return docs.select(
        "doc_id",
        n_matches(EMAIL_PATTERN).alias("n_emails"),
        n_matches(URL_PATTERN).alias("n_urls"),
        redacted.alias("clean_text"),
    )


# Gopher-ish document-quality gates (length, word shape, symbol density):
# each rule is a named boolean; the verdict is their conjunction.
QUALITY_RULES = {
    "len_ok": "n_tokens between 5 and 100000",
    "token_len_ok": "mean token length in [2, 12]",
    "punct_ok": "punctuation ratio < 0.3",
    "stopword_ok": "stopword ratio > 0.02",
    "dup_line_ok": "duplicate-line fraction < 0.3",
    "top2gram_ok": "top word-2-gram character share < 0.2",
}


def _trimmed_lines(t: Column) -> Column:
    """Non-empty trimmed lines of the RAW text (line structure is
    destroyed by normalization, so this reads the original column)."""
    return F.transform(
        F.filter(F.split(t, "\n"), lambda line: F.trim(line) != ""),
        lambda line: F.trim(line),
    )


def _word_2grams(toks: Column) -> Column:
    """ALL word 2-grams of a staged token array — NON-distinct, order
    preserved (repetition measurement needs multiplicity, unlike the
    dedup shingles of :func:`word_ngrams_from`)."""
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


# Max over distinct 2-grams of count·chars, as ONE O(n log n) pass: the
# array is pre-sorted, so equal grams are contiguous and a single
# aggregate() scan tracks the current run length and the best
# run·length(gram) seen. Equals the oracle's quadratic
# max(count(g)·length(g)) form, at linear scan cost — stays inside
# whole-stage codegen, no explode/shuffle.
_TOP2GRAM_SCAN = (
    "aggregate({col}, "
    "named_struct('prev', '', 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)), "
    "(acc, x) -> named_struct("
    "'prev', x, "
    "'run', IF(x = acc.prev, acc.run + 1L, 1L), "
    "'best', GREATEST(acc.best, IF(x = acc.prev, acc.run + 1L, 1L) * length(x))), "
    "acc -> acc.best)"
)


def _stage_repetition(staged: DataFrame, t: Column) -> DataFrame:
    return staged.withColumn("_lines", _trimmed_lines(t)).withColumn(
        "_grams2", F.array_sort(_word_2grams(F.col("_toks")))
    )


def _repetition_rules() -> tuple[Column, Column]:
    """(dup_line_ok, top2gram_ok) over a repetition-staged frame.

    Both thresholds are rational (3/10 and 1/5), so the comparisons are
    pure INTEGER arithmetic — engine-exact by construction, no float
    division: dup/lines < 0.3 ⇔ 10·dup < 3·lines, and
    best/chars < 0.2 ⇔ 5·best < chars."""
    n_lines = F.size("_lines")
    n_dup = n_lines - F.size(F.array_distinct("_lines"))
    best = F.expr(_TOP2GRAM_SCAN.format(col="_grams2"))
    n_chars = F.length("_norm")
    dup_line_ok = (n_lines == 0) | (F.lit(10) * n_dup < F.lit(3) * n_lines)
    top2gram_ok = (n_chars == 0) | (F.lit(5) * best < n_chars)
    return dup_line_ok, top2gram_ok


def repetition_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition signals — the gates real C4/Gopher-style
    curation leads with: duplicate-line counts and the character share
    of the single most-repeated word 2-gram, plus the two rule
    booleans (``QUALITY_RULES``). All-integer numerators/denominators,
    so every column is bit-exact on any engine. One map-side projection
    (array sort + linear scan per doc) — no shuffle at any scale."""
    t = F.col(text_col)
    staged = _stage_repetition(staged_tokens(docs, text_col), t)
    n_lines = F.size("_lines")
    n_dup = n_lines - F.size(F.array_distinct("_lines"))
    best = F.expr(_TOP2GRAM_SCAN.format(col="_grams2"))
    dup_line_ok, top2gram_ok = _repetition_rules()
    return staged.select(
        "doc_id",
        n_lines.cast("int").alias("n_lines"),
        n_dup.cast("int").alias("n_dup_lines"),
        best.cast("long").alias("top2gram_chars"),
        F.length("_norm").cast("int").alias("n_chars"),
        dup_line_ok.alias("dup_line_ok"),
        top2gram_ok.alias("top2gram_ok"),
    )


def quality_filter(
    docs: DataFrame, text_col: str = "text", keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Rule-based keep/drop verdict per document (the C4/Gopher-style
    curation gate): emits each rule's boolean plus the conjunction, so
    downstream can both filter and report per-rule drop rates. Rules:
    shape (length, mean token length, punctuation, stopwords) AND the
    repetition signals (duplicate-line fraction, top-2-gram character
    share) that production C4/Gopher gates lead with. One map-side
    projection over the staged tokens — no shuffle. ``keep_cols``
    passes named input columns through unchanged (so a rollup like
    :func:`curation_report` avoids a corpus-sized self-join back onto
    the gated frame).

    r12: the rule evaluation (tokenize + stopword filter + repetition
    scans, all interpreted HOF work per row) fans out across the cores
    when the input scan is one unsplittable file — scale-adaptive no-op
    on splittable inputs (fanout.py), so the zero-shuffle map-side plan
    is preserved exactly where it matters (measured 0.74 s single-task
    at sf0.1 → wide)."""
    from .fanout import fan_out_scan  # noqa: PLC0415

    t = F.col(text_col)
    staged = _stage_repetition(
        staged_tokens(fan_out_scan(docs, "doc_id"), text_col), t
    )
    ntok = F.size("_toks")
    mean_len = F.length("_norm").cast("double") / ntok.cast("double")
    # try_divide: empty text => NULL ratio => NULL rule => keep=false
    # via the len rule; ANSI division would crash the gate on one
    # empty row (differential-fuzzer find; DuckDB yields NULL)
    punct = F.try_divide(punct_count(t).cast("double"), F.length(t).cast("double"))
    stop = (
        F.size(F.filter("_toks", lambda tok: tok.isin(*EN_STOPWORDS))).cast("double")
        / ntok.cast("double")
    )
    len_ok = (ntok >= 5) & (ntok <= 100_000)
    token_len_ok = (mean_len >= 2.0) & (mean_len <= 12.0)
    punct_ok = punct < 0.3
    stopword_ok = stop > 0.02
    dup_line_ok, top2gram_ok = _repetition_rules()
    return staged.select(
        "doc_id",
        *keep_cols,
        len_ok.alias("len_ok"),
        token_len_ok.alias("token_len_ok"),
        punct_ok.alias("punct_ok"),
        stopword_ok.alias("stopword_ok"),
        dup_line_ok.alias("dup_line_ok"),
        top2gram_ok.alias("top2gram_ok"),
        (
            len_ok
            & token_len_ok
            & punct_ok
            & stopword_ok
            & dup_line_ok
            & top2gram_ok
        ).alias("keep"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    standard LLM-ingestion preprocessing step (context-window packing).

    Pure JVM and shuffle-free: staged tokens → stride ``sequence`` of
    chunk starts → ``posexplode`` → ``slice``/``array_join`` per chunk.
    One output row per chunk: (doc_id, chunk_id, n_tokens, chunk_text).
    At 100 TB this runs inside whole-stage codegen over the scan; row
    count multiplies by ~ntokens/stride with zero exchanges."""
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("chunk_tokens must exceed overlap")
    staged = staged_tokens(docs, text_col)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("_toks") - overlap, F.lit(1)),
        F.lit(stride),
    )
    exploded = staged.select(
        "doc_id", "_toks", F.posexplode(starts).alias("chunk_id", "start")
    )
    piece = F.slice(F.col("_toks"), F.col("start"), chunk_tokens)
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(piece).cast("int").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def word_ngrams_from(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a STAGED token-array column
    (see :func:`staged_tokens` — never pass a computed expression here;
    arrays are 1-indexed in Spark SQL).

    Guarded for short docs: Spark's ``sequence(1, 0)`` throws, so docs
    with fewer than n tokens yield an empty shingle array."""
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + k) for k in range(n)]
    )
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.array_distinct(
        F.when(F.size(toks) >= n, F.transform(idx, gram)).otherwise(
            F.array().cast("array<string>")
        )
    )


def stratified_sample(
    docs: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum sampling — the data-mixing primitive of
    a training pipeline (e.g. keep 100% of books, 30% of web, 5% of
    boilerplate). Row kept iff
    ``hash(salt:key) mod 1e6 < rate(stratum)·1e6`` with the md5-slice
    :func:`tv_event_streaming_spark.operators.dedup.portable_hash64` —
    reproducible on any engine/run/partitioning (no RNG), monotone in
    the rate (raising a stratum's rate only ADDS rows, never swaps
    them), and pure map-side: no shuffle at any scale. Changing ``salt``
    draws an independent sample.

    The threshold is ``round(rate·1e6)`` — rounded, not truncated,
    because binary-inexact rates (0.29 → 289999.999…) would otherwise
    truncate to an off-by-one cutoff vs the documented contract (and vs
    any SQL twin written with integer literals)."""
    from .dedup import portable_hash64  # noqa: PLC0415 (avoid module cycle)

    bucket = F.pmod(
        portable_hash64(
            F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))
        ),
        F.lit(1_000_000),
    )
    rate = F.lit(default_rate)
    for s, r in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == s, F.lit(r)).otherwise(rate)
    return docs.filter(bucket < F.round(rate * 1_000_000).cast("long"))


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int = 2048,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_groups: int = 32,
    shuffle_salt: str | None = None,
) -> DataFrame:
    """Deterministic sequence packing — assign documents to
    fixed-token-budget packs for training-batch construction.

    Contract: documents are ordered by ``key_col``; a document's pack is
    ``floor(cumulative_tokens_before_it / budget_tokens)`` — i.e. packs
    are budget-sized windows over the running token total, and a
    document belongs to the pack its FIRST token falls in (a document
    may overflow its pack's tail; the loader truncates or spills, the
    standard concat-then-chunk packing LLM dataloaders use). This form
    is a pure window cumsum — expressible identically in any SQL engine
    (the oracle twin), deterministic under any partitioning, and, unlike
    greedy first-fit, independent of execution order.

    Scale shape: a GLOBAL running total is a single ordered window and
    would serialize at 100 TB, so the cumsum is computed per
    ``pack_group`` = a hash bucket of the key (md5-slice
    :func:`~tv_event_streaming_spark.operators.dedup.portable_hash64`,
    engine-portable for the oracle; per-doc, not per-token, so the cost
    is negligible): packs never span groups, every group packs
    independently in parallel, and determinism is preserved because
    group assignment and in-group order are both pure functions of the
    key. ``n_groups`` bounds the packing parallelism — size it to a few
    × total cores at scale (each group is one window task); changing it
    changes pack assignments, so fix it per dataset.

    ``shuffle_salt`` packs in DETERMINISTIC-SHUFFLED order instead of
    key order — what a training run actually wants (key order leaks
    collection order into the batch sequence). In-group order becomes
    ``(hash(salt:key), key)``: still a pure function of the key — fully
    reproducible, engine-portable, re-drawable by changing the salt —
    with zero extra shuffle (the window partitioning is unchanged; only
    its sort key differs).
    Output: (key, pack_group, pack_id, n_tokens).
    """
    from .dedup import portable_hash64  # noqa: PLC0415 (avoid module cycle)

    grp = F.pmod(
        portable_hash64(F.col(key_col).cast("string")), F.lit(n_groups)
    )
    toks = docs.select(
        F.col(key_col),
        grp.alias("pack_group"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    from pyspark.sql import Window  # noqa: PLC0415

    if shuffle_salt is not None:
        toks = toks.withColumn(
            "_ord",
            portable_hash64(
                F.concat(
                    F.lit(f"{shuffle_salt}:"), F.col(key_col).cast("string")
                )
            ),
        )
        order = [F.col("_ord"), F.col(key_col)]
    else:
        order = [F.col(key_col)]
    w = (
        Window.partitionBy("pack_group")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    # pack_id = (tokens before this doc) div budget — INTEGER floor
    # division (`div`), not double division + cast: double truncation
    # only equals floor while ulp(quotient) < 1/budget, so the oracle
    # parity would rest on a magnitude argument instead of holding by
    # construction. The prefix sum is ≥ 0, so div == floor-div.
    staged = toks.select(
        key_col,
        "pack_group",
        "n_tokens",
        (cum - F.col("n_tokens")).alias("_prev"),
    )
    return staged.select(
        key_col,
        F.col("pack_group").cast("int").alias("pack_group"),
        F.expr(f"_prev div {int(budget_tokens)}").cast("long").alias("pack_id"),
        "n_tokens",
    )


def _featurehash_counts(
    docs: DataFrame,
    dims: int,
    text_col: str,
    portable: bool,
) -> DataFrame:
    """Internal sparse feature-hash histogram: ``(doc_id, dim, cnt)``
    with one per-doc count per NONZERO dimension, plus a ``dim IS NULL``
    marker row for docs whose ``text_col`` is NULL (so the dense
    rebuild can reproduce their NULL embedding; callers that want the
    pure sparse form filter the marker out on the post-aggregation
    ``dim`` attribute — one cheap attribute comparison, never a
    re-evaluation of the hash).

    This explode → count shape replaced the r8-r11 O(dims·n_tokens)
    ``aggregate`` fold (one interpreted ``transform`` of the whole
    64-slot accumulator PER TOKEN — dims× more work than the histogram
    needs, and evaluated up to 3× per row because the optimizer inlines
    the fold into pushed-down size/isnotnull filters; r12 measured the
    sparse entry 2.6× faster and the dense rebuild ~2× faster at
    sf0.1). ``explode_outer`` rather than ``explode``: an inner explode
    makes the optimizer push a ``size(_toks) > 0 AND isnotnull(_toks)``
    filter below the Generate whose condition re-runs the whole
    normalize+split tokenizer per doc; outer explode needs no such
    filter and NULL-token rows are exactly the NULL-text markers we
    must keep anyway.

    :func:`fanout.fan_out_scan` spreads the per-token hashing across
    the cores when the input scan is an unsplittable small file (the
    bench regime), keyed on ``doc_id`` so BOTH groupBys below reuse the
    one exchange (hash partitioning on a subset of the grouping keys
    satisfies the aggregation's required distribution); at cluster
    scale the scan parallelizes naturally, fan-out is a no-op, and the
    two aggregations exchange map-side-combined partials (≤ dims+1
    rows/doc) instead of text bytes."""
    from .dedup import portable_hash64  # noqa: PLC0415 (avoid module cycle)
    from .fanout import fan_out_scan  # noqa: PLC0415

    staged = staged_tokens(fan_out_scan(docs, "doc_id"), text_col)
    base = (
        (lambda c: portable_hash64(c)) if portable else (lambda c: F.xxhash64(c))
    )
    tok = staged.select("doc_id", F.explode_outer("_toks").alias("_t"))
    # xxhash64(NULL) is NON-null (seed hash), so the NULL-token marker
    # must be made explicit — md5 would propagate it, xxhash64 would
    # silently count a phantom token for every NULL-text doc.
    dim = F.when(
        F.col("_t").isNotNull(),
        F.pmod(base(F.col("_t")), F.lit(dims)).cast("int"),
    )
    return (
        tok.select("doc_id", dim.alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count("*").cast("int").alias("cnt"))
    )


def featurehash_sparse(
    docs: DataFrame,
    dims: int = 64,
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """Sparse twin of :func:`featurehash_embeddings`: the nonzero
    ``(doc_id, dim, cnt)`` triples directly — identical rows to
    posexploding the dense vector and filtering zeros, without ever
    materializing (or folding) the dense array. NULL-text docs emit no
    rows, exactly like posexplode of their NULL dense vector."""
    return _featurehash_counts(docs, dims, text_col, portable).filter(
        F.col("dim").isNotNull()
    )


def featurehash_embeddings(
    docs: DataFrame,
    dims: int = 64,
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """Train-free text embeddings by token feature hashing (the classic
    hashing trick): ``v[hash(token) mod dims] = count`` — a
    bag-of-words vector in a fixed ``dims``-dim space, no vocabulary,
    no model. Connects the text tier to the ANN/near-dup tier: the
    output frame (key, ``embedding array<double>`` of exact integer
    counts) plugs directly into ``similarity.cosine_topk_bruteforce`` /
    ``allpairs_cosine_lsh`` and stays quantization-exact (counts are
    integers, so floor(x·1e6) loses nothing). NULL-text docs keep
    their NULL-embedding row.

    Scale shape (rebuilt in r12 — see :func:`_featurehash_counts` for
    the measured rationale): hash each token ONCE, count by
    ``(doc, dim)``, then assemble the dense vector from the ≤ dims
    surviving counts per doc — O(n_tokens + dims) per doc instead of
    the previous O(dims·n_tokens) interpreted accumulator fold. The
    histogram groupBy and the per-doc assembly groupBy share one
    partitioning, so the pipeline costs a single exchange after
    fan-out (or two map-combined partial-agg exchanges at cluster
    scale, each carrying ≤ dims+1 rows/doc).

    ``portable=True`` uses the md5-slice hash for oracle checking;
    default xxhash64 is the scale path."""
    sp = _featurehash_counts(docs, dims, text_col, portable)
    assembled = sp.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.when(F.col("dim").isNotNull(), F.struct("dim", "cnt"))
            )
        ).alias("_m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        lambda d: F.coalesce(
            F.element_at("_m", d.cast("int")), F.lit(0)
        ).cast("double"),
    )
    # empty map ⟺ only the NULL-dim marker row ⟺ NULL text (split()
    # yields at least [""] for every non-NULL text, so a real doc always
    # has ≥ 1 nonzero count)
    return assembled.select(
        "doc_id", F.when(F.size("_m") > 0, dense).alias("embedding")
    )


def length_bucketed_batches(
    docs: DataFrame,
    bucket_tokens: int = 64,
    batch_size: int = 32,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Length-bucketed batch assignment — the dataloader trick that cuts
    padding waste: documents whose token counts land in the same
    ``bucket_tokens``-wide length bucket are batched together (a batch
    pads to its longest member, so same-length batches waste the least),
    ``batch_size`` docs per batch in deterministic ``key_col`` order.

    Output (key, n_tokens, len_bucket, batch_id, batch_slot) — all
    integer arithmetic (`div`/`pmod` on a per-bucket row_number), so the
    assignment is bit-identical on any engine and reproducible across
    runs/partitionings.

    Scale shape: one window per length bucket. Bucket COUNT is small
    (max plausible doc length / bucket_tokens), so at 100 TB compose the
    window key with a hash sub-group exactly like
    :func:`pack_sequences`'s ``pack_group`` if per-bucket row counts
    exceed one task's comfort — the semantics stay per-(bucket,
    sub-group) deterministic."""
    from pyspark.sql import Window  # noqa: PLC0415

    toks = docs.select(
        F.col(key_col),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    ).withColumn(
        "len_bucket",
        F.expr(f"n_tokens div {int(bucket_tokens)}").cast("int"),
    )
    w = Window.partitionBy("len_bucket").orderBy(key_col)
    staged = toks.withColumn(
        "_rn", (F.row_number().over(w) - 1).cast("long")
    )
    return staged.select(
        key_col,
        "n_tokens",
        "len_bucket",
        F.expr(f"_rn div {int(batch_size)}").cast("long").alias("batch_id"),
        F.pmod(F.col("_rn"), F.lit(batch_size)).cast("int").alias("batch_slot"),
    )


def percentile_length_gate(
    docs: DataFrame,
    drop_permille: int = 50,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-RELATIVE length gate: drop the ``drop_permille``/1000
    shortest documents (by token count, ties broken by key) — the
    distribution-relative form real curation uses alongside absolute
    thresholds (an absolute cut tuned for web text guts a code corpus).
    ``drop_permille`` is an integer so the cutoff k = N·p/1000 is exact
    rational arithmetic on both engines (never float percentiles, whose
    interpolation rules differ across engines).

    Scale shape — equivalent to rank > k under the total order
    (n_tokens, key), WITHOUT a global window (which would serialize the
    corpus through one task): global rank decomposes as
    (#docs with smaller count) + (in-value rank by key). The first term
    is a cumulative sum over the token-count HISTOGRAM — thousands of
    rows however big the corpus, so its ordered window is trivially
    single-task — broadcast-joined back; the second is a window
    partitioned BY COUNT VALUE, parallel across values (a degenerate
    corpus concentrated on one value serializes that value's rank —
    sub-bucket by hashed key ranges if that ever matters). N rides the
    same histogram (sum of bucket counts), so no driver-side count().
    Output: surviving (key, n_tokens)."""
    if not 0 <= drop_permille <= 1000:
        raise ValueError("drop_permille must be in [0, 1000]")
    from pyspark.sql import Window  # noqa: PLC0415

    staged = docs.select(
        F.col(key_col),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    hist = staged.groupBy("n_tokens").agg(F.count("*").alias("_c"))
    wh = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, -1
    )
    hist = hist.withColumn(
        "_below", F.coalesce(F.sum("_c").over(wh), F.lit(0).cast("long"))
    )
    total = hist.agg(F.sum("_c").alias("_n"))
    wv = Window.partitionBy("n_tokens").orderBy(key_col)
    ranked = (
        staged.join(F.broadcast(hist.select("n_tokens", "_below")), "n_tokens")
        .withColumn("_rank", F.col("_below") + F.row_number().over(wv))
        .crossJoin(F.broadcast(total))
    )
    return ranked.filter(
        F.col("_rank") > F.expr(f"(_n * {int(drop_permille)}) div 1000")
    ).select(key_col, "n_tokens")


def top_terms(
    docs: DataFrame, k: int = 5, text_col: str = "text", max_df: int | None = None
) -> DataFrame:
    """Per-document top-k characteristic terms: rank by term frequency
    (desc), breaking ties by document frequency (asc — rarer corpus-wide
    wins, the tf-idf ordering) then term. All-integer ranking — no float
    idf, so the output is bit-identical on any engine. ``max_df`` drops
    corpus-dominant terms entirely (the integer analogue of an idf
    floor). Shape: one explode + two hash aggregations + one per-doc
    window — the groupBys partial-aggregate map-side; nothing is
    quadratic."""
    from pyspark.sql import Window  # noqa: PLC0415

    toks = staged_tokens(docs, text_col).select(
        "doc_id", F.explode("_toks").alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    if max_df is not None:
        df = df.filter(F.col("df") <= max_df)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(df, "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "df")
    )


def token_fluency(
    docs: DataFrame,
    text_col: str = "text",
    ref_frac: float = 0.5,
    salt: str = "lmref",
    max_oov_frac: float = 0.5,
) -> DataFrame:
    """Count-based LM fluency scoring — the shape of the CCNet/KenLM
    perplexity filter with the n-gram LM replaced by an exact unigram
    count model, so every verdict is integer arithmetic (a log-prob
    scorer differs in the last ulp across libm implementations and
    would not be oracle-hashable; the count form preserves the gate's
    semantics — rare/garbage token mass scores low — while staying
    engine-exact).

    Train: unigram counts over a deterministic reference slice of the
    corpus (``hash(salt:doc_id) mod 1e6 < ref_frac·1e6``, the same
    md5-slice gate as :func:`stratified_sample` — at scale the slice
    would be a curated high-quality subset; the gate is the sandbox
    stand-in). Score: every document by its token's reference counts.

    Output per doc: ``n_tokens``, ``sum_freq`` (Σ reference count of
    each token occurrence), ``n_oov`` (occurrences of tokens absent
    from the reference), ``mean_freq`` (one final double division), and
    two gates —

    - ``fluent``: mean token probability under the reference unigram LM
      exceeds the uniform baseline ``1/|vocab|``, i.e.
      ``sum_freq·|vocab| > n_tokens·N_ref`` — self-normalizing (no
      corpus-size-dependent threshold) and all-integer;
    - ``oov_ok``: OOV fraction ≤ ``max_oov_frac``, compared as
      ``1e6·n_oov ≤ round(1e6·max_oov_frac)·n_tokens``.

    Scale shape: the count model is vocabulary-sized (Zipf — tiny next
    to the corpus) → broadcast left join on the token; the 1-row
    (|vocab|, N_ref) aggregate attaches as a broadcast cross-join; the
    only corpus-sized shuffle is the per-doc groupBy, whose partials
    collapse map-side. Changing ``salt`` redraws the reference slice."""
    from .dedup import portable_hash64  # noqa: PLC0415 (avoid module cycle)

    toks = staged_tokens(docs, text_col).select(
        "doc_id", F.explode("_toks").alias("t")
    )
    gate = F.pmod(
        portable_hash64(
            F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string"))
        ),
        F.lit(1_000_000),
    ) < F.lit(round(ref_frac * 1_000_000))
    ref_counts = (
        toks.filter(gate).groupBy("t").agg(F.count("*").alias("c"))
    )
    totals = ref_counts.agg(
        F.count("*").alias("_vocab"), F.sum("c").alias("_nref")
    )
    oov_thr = round(max_oov_frac * 1_000_000)
    scored = (
        toks.join(F.broadcast(ref_counts), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("c"), F.lit(0))).alias("sum_freq"),
            F.sum(F.col("c").isNull().cast("long")).alias("n_oov"),
        )
    )
    return scored.crossJoin(F.broadcast(totals)).select(
        "doc_id",
        "n_tokens",
        "sum_freq",
        "n_oov",
        (
            F.col("sum_freq").cast("double") / F.col("n_tokens").cast("double")
        ).alias("mean_freq"),
        (
            F.col("sum_freq") * F.col("_vocab")
            > F.col("n_tokens") * F.col("_nref")
        ).alias("fluent"),
        (
            F.col("n_oov") * F.lit(1_000_000)
            <= F.lit(oov_thr) * F.col("n_tokens")
        ).alias("oov_ok"),
    )


def mixture_plan(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    stratum_col: str = "source",
    text_col: str = "text",
    default_weight: float = 0.0,
) -> DataFrame:
    """Data-mixture planning — the Dolma/Pile-style step that turns
    per-source mixing weights plus a total token budget into an
    executable sampling plan: per stratum, how many FULL epochs of the
    stratum to take (``n_repeats``) and what fraction of one more epoch
    (``frac_ppm``, parts-per-million) closes the gap to the stratum's
    token target.

    All arithmetic is integer (weights enter as ``round(w·1e6)`` ppm;
    targets and epoch splits are integer div/mod), so the plan is
    bit-identical on any engine. The ppm split requires
    ``(target mod avail)·1e6`` to fit int64 — per-stratum corpora up to
    ~9·10^12 tokens; switch the two ppm constants to DECIMAL(38,0)
    arithmetic beyond that.

    Output: (stratum, n_docs, avail_tokens, weight_ppm, target_tokens,
    n_repeats, frac_ppm). One groupBy on the stratum — partials
    collapse map-side; the plan frame is strata-sized (tiny)."""
    avail = docs.groupBy(stratum_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col(text_col)).cast("long")).alias("avail_tokens"),
    )
    w = F.lit(round(default_weight * 1_000_000))
    for s, wt in sorted(weights.items()):
        w = F.when(F.col(stratum_col) == s, F.lit(round(wt * 1_000_000))).otherwise(w)
    return (
        avail.withColumn("weight_ppm", w.cast("long"))
        .withColumn(
            "target_tokens",
            F.expr(f"{int(budget_tokens)} * weight_ppm div 1000000"),
        )
        .withColumn("n_repeats", F.expr("target_tokens div avail_tokens"))
        .withColumn(
            "frac_ppm",
            F.expr("((target_tokens % avail_tokens) * 1000000) div avail_tokens"),
        )
    )


def materialize_mixture(
    docs: DataFrame,
    plan: DataFrame,
    stratum_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Execute a :func:`mixture_plan`: emit (key, stratum, epoch) rows —
    every doc of a stratum appears in epochs ``0..n_repeats-1``
    unconditionally, and in the final partial epoch ``n_repeats`` iff
    its salted hash bucket clears ``frac_ppm`` (the same deterministic
    md5-slice gate as :func:`stratified_sample`, salted per epoch so
    the partial epoch is an independent draw). Reproducible on any
    engine/partitioning; changing ``salt`` redraws only the partial
    epoch.

    Scale shape: the plan is strata-sized → broadcast join; the epoch
    explode and hash gate are pure map-side — the corpus is never
    shuffled. Downstream packing/shuffling keys on (epoch, key)."""
    from .dedup import portable_hash64  # noqa: PLC0415 (avoid module cycle)

    joined = docs.select(key_col, stratum_col).join(
        F.broadcast(plan.select(stratum_col, "n_repeats", "frac_ppm")),
        stratum_col,
    )
    ex = joined.select(
        key_col,
        stratum_col,
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n_repeats"))
        ).alias("epoch"),
        "n_repeats",
        "frac_ppm",
    )
    bucket = F.pmod(
        portable_hash64(
            F.concat(
                F.lit(f"{salt}:"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col(key_col).cast("string"),
            )
        ),
        F.lit(1_000_000),
    )
    return ex.filter(
        (F.col("epoch") < F.col("n_repeats")) | (bucket < F.col("frac_ppm"))
    ).select(key_col, stratum_col, "epoch")


_QF_RULES = (
    "len_ok",
    "token_len_ok",
    "punct_ok",
    "stopword_ok",
    "dup_line_ok",
    "top2gram_ok",
)


def curation_report(
    docs: DataFrame, stratum_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-source curation dashboard — the rollup every large-scale
    cleaning pass publishes alongside the filtered corpus: per stratum,
    document and token mass, each gate rule's pass count, and the
    overall keep rate. Absolute counts (not just rates) so reports from
    disjoint corpus shards ADD — the property that lets a 100 TB report
    be computed per-partition and merged.

    Shape: the gate booleans ride :func:`quality_filter`'s map-side
    projection (``keep_cols`` carries the stratum and token count
    through — no corpus self-join), then ONE groupBy(stratum) whose
    integer partials collapse map-side. keep_rate is the single final
    double division."""
    staged = docs.withColumn(
        "_ntok", token_count(F.col(text_col)).cast("long")
    )
    qf = quality_filter(staged, text_col, keep_cols=(stratum_col, "_ntok"))
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum("_ntok").alias("n_tokens"),
        *[
            # when().otherwise(0): a NULL rule (degenerate doc, e.g.
            # empty text -> NULL punct ratio) counts as NOT passed —
            # matching the oracle's CASE WHEN; a bare sum(cast) would
            # return NULL for an all-degenerate stratum
            F.sum(F.when(F.col(r), 1).otherwise(0).cast("long")).alias(f"{r}_n")
            for r in _QF_RULES
        ],
        F.sum(F.col("keep").cast("long")).alias("keep_n"),
    ]
    return qf.groupBy(stratum_col).agg(*aggs).withColumn(
        "keep_rate",
        F.col("keep_n").cast("double") / F.col("n_docs").cast("double"),
    )


def vocab_coverage(
    docs: DataFrame, top_k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Tokenizer-prep vocabulary statistics: the top-``top_k`` tokens by
    corpus frequency with their cumulative occurrence coverage — the
    curve that sizes a vocabulary (how many types cover 95% of the
    token mass) before training a tokenizer.

    Output: (rank, token, n_occ, cum_count, coverage) ordered by rank;
    ties broken by token so the ranking is total and engine-exact.
    coverage = cum_count/total as the single final double division.

    Scale shape: the corpus collapses to VOCABULARY-sized (token,
    count) rows via one map-side-combining groupBy; the ordered rank
    window then runs over the vocab table, not the corpus — fine up to
    ~1e8 types in one task's sort. For degenerate vocabularies beyond
    that, decompose the global rank exactly like
    :func:`percentile_length_gate` decomposes its global length rank
    (count-histogram cumsum + per-count windows). The 1-row total
    attaches as a broadcast."""
    from pyspark.sql import Window  # noqa: PLC0415

    toks = staged_tokens(docs, text_col).select(
        "doc_id", F.explode("_toks").alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("n_occ"))
    total = counts.agg(F.sum("n_occ").alias("_total"))
    w = Window.orderBy(F.desc("n_occ"), F.asc("token"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        counts.withColumn("rank", F.row_number().over(w))
        .withColumn("cum_count", F.sum("n_occ").over(wc))
        .filter(F.col("rank") <= top_k)
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        F.col("rank").cast("int").alias("rank"),
        "token",
        "n_occ",
        "cum_count",
        (
            F.col("cum_count").cast("double") / F.col("_total").cast("double")
        ).alias("coverage"),
    )


def bpe_merge_candidates(
    docs: DataFrame, top_k: int = 20, text_col: str = "text"
) -> DataFrame:
    """One BPE-trainer iteration kernel: rank adjacent-symbol pairs by
    corpus-weighted occurrence count — the statistic a byte-pair-encoding
    trainer maximizes when it picks the next merge. Symbols here are the
    base (character) vocabulary, i.e. the FIRST merge decision; a trainer
    loops this kernel, re-segmenting with the chosen merge each round
    (the re-segmentation table is vocabulary-sized driver state in real
    trainers too — the distributed part is exactly this count).

    Output: (rank, pair, weight, n_types) — ``weight`` is the corpus
    occurrence count of the pair (each adjacent position in each word
    counts once, times the word's corpus frequency, so "aaa" contributes
    "aa" twice per occurrence — the true BPE statistic), ``n_types`` the
    number of distinct words containing it. Ties break on the pair
    string, so the ranking is total and engine-exact; all counts are
    int64.

    Scale shape: the ONLY corpus-sized operation is the word-frequency
    groupBy (map-side partial combine; shuffles the vocabulary, not the
    corpus — Zipf makes the type table orders of magnitude smaller than
    the token stream). Pair explosion runs over DISTINCT words weighted
    by their frequency: O(types × avg word length) rows, corpus-size-
    independent. The final rank window is global but over the pair
    alphabet (≤ |charset|² ≈ 1.3k rows for normalized ascii) — trivially
    single-task."""
    from pyspark.sql import Window  # noqa: PLC0415

    toks = staged_tokens(docs, text_col).select(F.explode("_toks").alias("w"))
    words = toks.groupBy("w").agg(F.count("*").alias("freq"))
    w = F.col("w")
    # guard len>=2: Spark sequence(1,0) is DESCENDING [1,0], not empty
    positions = F.when(
        F.length(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(w) - 1),
            lambda i: w.substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = words.select("w", "freq", F.explode(positions).alias("pair"))
    agg = pairs.groupBy("pair").agg(
        F.sum("freq").alias("weight"),
        F.count_distinct("w").alias("n_types"),
    )
    rk = Window.orderBy(F.desc("weight"), F.asc("pair"))
    return (
        agg.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= top_k)
        .select(F.col("rank").cast("int").alias("rank"), "pair", "weight", "n_types")
    )


def importance_weights(
    docs: DataFrame,
    target: Column,
    alpha: float = 1.0,
    text_col: str = "text",
    salt: str = "dsir",
) -> DataFrame:
    """DSIR-shaped data selection via importance resampling (Xie et al.
    2023, arXiv:2302.03169): score every document by how much more
    likely its tokens are under a TARGET-domain unigram model than under
    the whole-corpus model, then thin the corpus with acceptance
    probability min(1, alpha·ratio) — upsampling target-like text
    without ever materializing the target more than once. The published
    method uses hashed-bigram log-likelihood ratios; this keeps the
    ratio semantics but in count space, so every decision is exact
    integer arithmetic (log-space scores differ in the last ulp across
    libm builds and would not be oracle-hashable).

    Per-doc output: ``n_tokens``, ``sum_t``/``sum_c`` (Σ over token
    occurrences of the target/corpus model counts), ``ratio`` =
    (sum_t·N_c)/(sum_c·N_t) as ONE final double division of exact int64
    products (the per-token-mean likelihood ratio; N_t/N_c are the
    model masses), and ``selected`` — the deterministic thinning gate
    ``u·sum_c·N_t < round(alpha·10⁶)·sum_t·N_c`` with
    ``u = md5-hash(salt:doc_id) mod 10⁶``, cross-multiplied in
    DECIMAL(38,0) so the comparison is exact on both engines (the
    int64 form would overflow at u·sum_c·N_t ≈ 10¹⁹). ``ratio``'s
    int64 products are exact in double below 2⁵³ — at corpus scales
    where sum_t·N_c approaches that, promote the ratio to decimal too
    and hash only the gate.

    Scale shape (the :func:`token_fluency` family): both count models
    are VOCABULARY-sized (Zipf) → broadcast joins on the token; the
    1-row mass totals attach as a broadcast cross-join; the only
    corpus-sized shuffle is the per-doc groupBy, map-side-combined.
    Changing ``salt`` redraws the thinning; ``alpha`` rescales
    acceptance without rescoring."""
    from .dedup import portable_hash64  # noqa: PLC0415 (avoid module cycle)

    toks = staged_tokens(docs, text_col).select(
        "doc_id", target.alias("_tgt"), F.explode("_toks").alias("t")
    )
    tgt_counts = toks.filter("_tgt").groupBy("t").agg(F.count("*").alias("c_t"))
    cor_counts = toks.groupBy("t").agg(F.count("*").alias("c_c"))
    totals = tgt_counts.agg(F.sum("c_t").alias("_nt")).crossJoin(
        cor_counts.agg(F.sum("c_c").alias("_nc"))
    )
    per_doc = (
        toks.join(F.broadcast(tgt_counts), "t", "left")
        .join(F.broadcast(cor_counts), "t")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("c_t"), F.lit(0))).alias("sum_t"),
            F.sum("c_c").alias("sum_c"),
        )
    )
    u = F.pmod(
        portable_hash64(
            F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string"))
        ),
        F.lit(1_000_000),
    )
    alpha_scaled = round(alpha * 1_000_000)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return per_doc.crossJoin(F.broadcast(totals)).select(
        "doc_id",
        "n_tokens",
        "sum_t",
        "sum_c",
        (
            (F.col("sum_t") * F.col("_nc")).cast("double")
            / (F.col("sum_c") * F.col("_nt")).cast("double")
        ).alias("ratio"),
        (
            dec(u) * dec(F.col("sum_c")) * dec(F.col("_nt"))
            < F.lit(alpha_scaled) * dec(F.col("sum_t")) * dec(F.col("_nc"))
        ).alias("selected"),
    )


def _bpe_merge_pass(seg: Column, x: str, y: str) -> Column:
    """One full BPE merge pass: rewrite every (x, y) adjacency in a
    space-prefixed symbol string (" f i l t e r") as the merged symbol.
    Left-to-right fold with a string accumulator — the leading-space
    marker makes "symbol equals x" an exact ``endswith(" "+x)`` test
    (no prefix aliasing), and consuming matched symbols as the fold
    advances yields the leftmost-non-overlapping semantics BPE
    specifies ("a a a" + (a,a) → "aa a"). Pure string ops ⇒
    bit-identical across engines."""
    return F.aggregate(
        F.split(seg, " "),
        F.lit(""),
        lambda acc, s: (
            F.when(s == "", acc)
            .when(
                acc.endswith(" " + x) & (s == y),
                F.concat(
                    F.substring(acc, F.lit(1), F.length(acc) - len(x)),
                    F.lit(x + y),
                ),
            )
            .otherwise(F.concat(acc, F.lit(" "), s))
        ),
    )


def bpe_apply(
    docs: DataFrame,
    merges: tuple[tuple[str, str], ...] = (("e", "r"), ("t", "er"), ("o", "w")),
    text_col: str = "text",
) -> DataFrame:
    """Apply a trained BPE merge table to the corpus vocabulary — the
    tokenizer APPLICATION step that pairs with
    :func:`bpe_merge_candidates` (selection): word → ordered subword
    segments under the merge rules, with the corpus frequency each
    segmentation serves.

    Exactness contract: one full left-to-right pass per merge rule, in
    table order. That equals true priority-ordered BPE whenever the
    table is topologically ordered (each rule's input symbols are base
    characters or outputs of EARLIER rules — the order a trainer emits
    naturally); a rule whose input is produced by a LATER rule would
    need another pass, which this fixed-depth plan deliberately does
    not do. The default table demonstrates the hierarchy: (t, er)
    consumes (e, r)'s output.

    Scale shape: segmentation runs over the DISTINCT-word table (the
    word-frequency groupBy is the only corpus-sized shuffle — Zipf
    makes the type table tiny), so the per-word fold cost is
    vocabulary-bound, not corpus-bound; applying the segmentation back
    to running text is a broadcast join on the word."""
    toks = staged_tokens(docs, text_col).select(F.explode("_toks").alias("w"))
    words = toks.groupBy("w").agg(F.count("*").alias("freq"))
    seg = F.regexp_replace(F.col("w"), "(.)", " $1")
    for x, y in merges:
        seg = _bpe_merge_pass(seg, x, y)
    seg = F.trim(seg)
    return words.select(
        F.col("w").alias("word"),
        "freq",
        seg.alias("segments"),
        F.size(F.split(seg, " ")).cast("int").alias("n_symbols"),
    ).orderBy("word")


# Character-distribution stats as ONE O(n log n) map-side pass: sort the
# char array, then a single aggregate() scan over the contiguous runs
# accumulates Σ count², the max count, and the distinct-char count.
# Equals the oracle's explode+groupBy form with zero shuffle; the
# quality signals derive as exact integer ratios (Gini diversity
# 1 − Σc²/N², top-char share c_max/N).
_CHAR_SCAN = (
    "aggregate(array_sort(split({col}, '')), "
    "named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), "
    "'sumsq', CAST(0 AS BIGINT), 'maxrun', CAST(0 AS BIGINT), "
    "'distinct', CAST(0 AS BIGINT)), "
    "(acc, x) -> IF(x <=> acc.prev, "
    "named_struct('prev', x, 'run', acc.run + 1L, 'sumsq', acc.sumsq, "
    "'maxrun', acc.maxrun, 'distinct', acc.distinct), "
    "named_struct('prev', x, 'run', 1L, "
    "'sumsq', acc.sumsq + acc.run * acc.run, "
    "'maxrun', GREATEST(acc.maxrun, acc.run), "
    "'distinct', acc.distinct + 1L)), "
    "acc -> named_struct("
    "'sumsq', acc.sumsq + acc.run * acc.run, "
    "'maxcount', GREATEST(acc.maxrun, acc.run), "
    "'distinct', acc.distinct))"
)


def char_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document character-distribution quality signals — the
    degenerate-text detectors (one repeated character, binary noise,
    keyboard mash) that run BEFORE tokenization can even apply:

    - ``n_chars``, ``distinct_chars``, ``top_char_count``;
    - ``gini_diversity`` = 1 − Σc²/N² (0 for a single repeated char,
      →1 for a uniform spread) as ONE double division of exact int64
      sums — a log-free stand-in for character entropy that orders
      distributions the same way at the gate thresholds and, unlike
      entropy, is bit-exact across engines;
    - ``top_char_ok``: no character exceeds half the text, compared as
      ``2·c_max ≤ N`` (pure integers).

    Scale shape: one map-side sorted-array scan per document (the
    :data:`_TOP2GRAM_SCAN` pattern) — no explode, no shuffle at any
    corpus size; the oracle states the same numbers via the quadratic
    explode+groupBy form. Empty text yields zeros and a vacuously-true
    gate."""
    from .fanout import fan_out_scan  # noqa: PLC0415

    scan = F.expr(_CHAR_SCAN.format(col=text_col))
    # r12: the per-char sorted-array scan is heavy interpreted HOF work;
    # fan out when the input scan is one unsplittable file (no-op at
    # scale — the plan stays exchange-free on real clusters)
    staged = fan_out_scan(docs, "doc_id").select(
        "doc_id", F.length(text_col).alias("n_chars"), scan.alias("_cs")
    )
    n = F.col("n_chars")
    sumsq = F.col("_cs.sumsq")
    cmax = F.col("_cs.maxcount")
    return staged.select(
        "doc_id",
        n.cast("int").alias("n_chars"),
        # split('', '') yields [''] — one phantom run; zero out on empty
        F.when(n > 0, F.col("_cs.distinct")).otherwise(F.lit(0)).cast("int").alias("distinct_chars"),
        F.when(n > 0, cmax).otherwise(F.lit(0)).cast("long").alias("top_char_count"),
        F.when(n > 0, 1.0 - sumsq.cast("double") / (n * n).cast("double"))
        .otherwise(F.lit(0.0))
        .alias("gini_diversity"),
        ((n == 0) | (F.lit(2) * cmax <= n)).alias("top_char_ok"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every ORDERED word n-gram, slide a
    ``window`` over the hash sequence, and keep the RIGHTMOST minimal
    hash of each window. The selection guarantees that any shared run
    of ``window + n - 1`` tokens between two documents yields at least
    one shared (position-independent) fingerprint, while keeping only
    ~2/(window+1) of all shingles — the principled sampling that makes
    corpus-wide overlap detection cheap without the recall cliff of
    arbitrary shingle sampling.

    Output: one row per selected fingerprint (doc_id, pos, fp) with
    ``pos`` the 1-based shingle position and ``fp`` the portable 64-bit
    hash (md5-slice — oracle-matchable; swap xxhash64 at scale like the
    other fingerprint tiers). Documents with at least one shingle but
    fewer than ``window`` of them winnow over one whole-array window,
    so every non-trivial document gets ≥1 fingerprint.

    Scale shape: entirely map-side per document (two staged array
    columns + one transform over windows picking an array_min of
    (hash, -pos) structs — lexicographic min IS the rightmost-minimum
    rule), then one explode of the ~m·2/(w+1) selected rows. No
    shuffle; downstream overlap detection groups on ``fp`` exactly like
    the shingle tiers, at a fraction of the rows."""
    from .dedup import portable_hash64  # noqa: PLC0415 (avoid module cycle)
    from .fanout import fan_out_scan  # noqa: PLC0415

    # r12: the gram-build + hash + window-min scan below is the round's
    # single most CPU-heavy map-side HOF chain; fan it out across the
    # cores when the scan is one unsplittable file (no-op at scale)
    staged = staged_tokens(fan_out_scan(docs, "doc_id"), text_col)
    toks = F.col("_toks")
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + k) for k in range(n)]
    )
    ordered = F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)), gram),
    ).otherwise(F.array().cast("array<string>"))
    from pyspark import StorageLevel  # noqa: PLC0415

    # The hash array MUST be materialized before the window scan: a
    # staged-but-collapsed `_H` referenced from the nested window
    # lambdas costs 23x (measured 14.2 s vs 0.6 s at sf0.1 — the
    # element_at references inside per-(window, offset) lambda
    # invocations defeat subexpression elimination). A repartition
    # barrier does NOT fix it (column pruning pushes the pick
    # projection below the exchange, re-collapsing); persist does —
    # the picks then read a real InMemoryRelation attribute. Same
    # level/lifetime notes as dedup.ngram_jaccard_pairs.
    staged = (
        staged.withColumn("_grams", ordered)
        .withColumn("_H", F.transform(F.col("_grams"), lambda g: portable_hash64(g)))
        .select("doc_id", "_H")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    m = F.size("_H")
    L = F.least(F.lit(window), m)
    n_windows = m - L + 1
    picks = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: F.array_min(
                F.transform(
                    F.sequence(F.lit(0), L - 1),
                    lambda j: F.named_struct(
                        F.lit("h"), F.element_at(F.col("_H"), i + j),
                        F.lit("negpos"), -(i + j),
                    ),
                )
            ),
        )
    )
    return (
        staged.filter(m >= 1)
        .select("doc_id", F.explode(picks).alias("_p"))
        .select(
            "doc_id",
            (-F.col("_p.negpos")).cast("int").alias("pos"),
            F.col("_p.h").alias("fp"),
        )
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Corpus-wide overlap detection on the winnowed fingerprints: pairs
    of documents sharing at least ``min_shared`` selected fingerprints,
    scored by the shared count — the MOSS pipeline end-to-end. Because
    winnowing keeps ~2/(window+1) of shingles, the self-join runs over a
    fraction of the rows the full shingle tiers shuffle, at the cost of
    the documented guarantee (only runs of ``window+n-1`` tokens are
    assured to collide — shorter overlaps may be missed, which is the
    sampling trade).

    Same candidate discipline as the shingle tiers: optional
    ``max_doc_freq`` hot-fingerprint guard, distinct (doc, fp) before
    the equi-self-join, one count aggregation. Output:
    (doc_a, doc_b, shared_fps)."""
    fps = (
        winnow_fingerprints(docs, text_col, n, window)
        .select("doc_id", "fp")
        .distinct()
    )
    if max_doc_freq is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("fp")
        )
        fps = fps.join(hot, "fp", "left_anti")
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
