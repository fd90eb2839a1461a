"""Physical-plan regression guards.

Every measured pathology in SCALE.md §6c earned a fix whose PLAN SHAPE
is the actual deliverable (a persist barrier, a pushed filter, a
map-side-only chain, a TakeOrderedAndProject). These tests pin those
shapes mechanically, so a refactor that silently reverts one (a dropped
persist re-inlining a pipeline, a filter no longer reaching the scan)
fails here instead of resurfacing as a 10-20x bench regression rounds
later. Assertions run on the INITIAL physical plan (deterministic;
AQE's runtime re-planning never rewrites these specific shapes).
"""

from __future__ import annotations

import re

import pytest

from tv_event_streaming_spark.plans import CATALOG


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_of(spark, name: str, sf_dir: str) -> str:
    return executed_plan(CATALOG[name].build(spark, sf_dir))


def n_exchanges(plan: str) -> int:
    return len(re.findall(r"\bExchange\b", plan))


#: the broadcast codebook / lookup-table rows the interpreted PQ argmin
#: and ADC scans scored against
PQ_HOF_ROW = re.compile(r"\b_(cb|lut)\b")


def test_pq_encode_is_single_pass_map_side(spark, sf_dir):
    """PQ encode is one Arrow pass of the numpy PQ kernel with the
    codebook in the task closure: no broadcast ``_cb`` codebook row
    (the interpreted argmin it fed was 2-3x slower at sf0.1)."""
    plan = plan_of(spark, "pq_encode", sf_dir)
    assert "MapInPandas" in plan
    assert not PQ_HOF_ROW.search(plan)
    # r12: ≤1 — the scan fan-out (scale-adaptive no-op on splittable
    # inputs, tests/test_fanout.py); the encode itself still never
    # shuffles the corpus
    assert n_exchanges(plan) <= 1
    # column pruning reaches the scan: only the two needed columns
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m and set(m.group(1).split(",")) <= {
        "vec_id:bigint",
        "embedding:array<float",
    }, m and m.group(1)


def test_pq_paths_run_the_pq_kernel(spark, sf_dir):
    """Every PQ encode and ADC query runs the numpy PQ kernel: no
    executed plan carries a ``_cb``/``_lut`` row or the ``array_sort``
    argmin of the interpreted twins."""
    from pyspark.sql import functions as F

    from tv_event_streaming_spark.domain import load_table
    from tv_event_streaming_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") < 5
    frames = {
        "pq_encode": S.pq_encode(emb),
        "pq_adc": S.cosine_topk_pq_adc(emb, qf),
        "pq_rerank": S.cosine_topk_pq_rerank(emb, qf),
        "ivfpq_residual": S.cosine_topk_ivfpq_residual(emb, qf),
        "pq_opq": S.cosine_topk_pq_opq(emb, qf),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan, name
        assert not PQ_HOF_ROW.search(plan), name
        assert "array_sort" not in plan, name
    spark.catalog.clearCache()


#: entries whose cells come from the nearest-seed-centroid assignment
CELL_ENTRIES = [
    "ann_cosine_ivf",
    "kmeans_update",
    "semantic_dedup",
    "knn_graph",
    "knn_pagerank",
    "ann_ivfpq_residual",
]


def test_cell_assignment_runs_the_arrow_kernel(spark, sf_dir, monkeypatch):
    """Every cell assignment is one Arrow mapInPandas pass of the exact
    kernel: no entry's plan builds the broadcast ``_cents`` row the
    interpreted higher-order-function argmin scored against (measured
    as a 10-CPU-minute straggler at sqrt(N) centroid counts, SCALE.md
    §6e, and slower than the Arrow pass even at C=16). The assignment
    frame itself stays at one exchange, the scan fan-out (a no-op on
    inputs whose scan parallelizes, pinned by test_fanout.py), on
    both sides of the two-level switch."""
    from tv_event_streaming_spark.domain import load_table
    from tv_event_streaming_spark.operators import similarity as S

    def executed(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assign_cells, passes = S._assign_cells, []

    def recording(*args, **kwargs):
        passes.append(assign_cells(*args, **kwargs))
        return passes[-1]

    monkeypatch.setattr(S, "_assign_cells", recording)
    for name in CELL_ENTRIES:
        passes.clear()
        final = plan_of(spark, name, sf_dir)
        plans = [executed(df) for df in passes]
        # knn_pagerank's final plan starts at its checkpoint, past the
        # cells: its assignment shows in the frames the build ran
        checked = plans if name == "knn_pagerank" else [final, *plans]
        assert checked and all("MapInPandas" in p for p in checked), name
        assert all("_cents" not in p for p in [final, *plans]), name
        spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")
    for n in (16, S._TWO_LEVEL_MIN_CENTROIDS):
        plan = executed(S._seed_cell_assignment(emb, n, "vec_id", "embedding"))
        assert "MapInPandas" in plan and "_cents" not in plan, n
        assert n_exchanges(plan) <= 1, n


#: entries whose query-set cosine top-k runs the numpy cosine scan
COSINE_SCAN_ENTRIES = [
    "ann_cosine_topk",
    "ann_cosine_ivf",
    "ann_cosine_lsh",
    "ann_cosine_lsh_multiprobe",
    "docs_bow_cosine_topk",
    "ann_pq_rerank",
]


def test_cosine_paths_run_the_cosine_kernel(spark, sf_dir):
    """Every cosine in the vector family runs the exact numpy scorer: no
    executed plan of a ``similarity``-tagged entry carries the
    interpreted ``zip_with``/``aggregate`` dot, and the query-set top-k
    entries score in one Arrow pass (``MapInPandas``) with the queries
    in the task closure."""
    for name, entry in CATALOG.items():
        if "similarity" not in entry.tags:
            continue
        plan = plan_of(spark, name, sf_dir)
        assert "aggregate(" not in plan and "zip_with(" not in plan, name
        if name in COSINE_SCAN_ENTRIES:
            assert "MapInPandas" in plan, name
        spark.catalog.clearCache()


def test_pq_adc_is_one_fused_arrow_pass(spark, sf_dir):
    # r13: the build-from-embeddings ADC query fuses encode + LUT
    # scoring + per-batch top-k into ONE Arrow pass — no persisted code
    # table, no interpreted HOF chains; the only exchanges are the scan
    # fan-out (scale-adaptive no-op on splittable inputs) and the final
    # per-query top-k window over the batch-partial candidates
    plan = plan_of(spark, "ann_pq_adc", sf_dir)
    assert "MapInPandas" in plan
    assert "InMemoryTableScan" not in plan
    assert "aggregate(" not in plan  # the interpreted ADC fold is gone
    assert n_exchanges(plan) <= 2
    spark.catalog.clearCache()


def test_bloom_probe_prunes_before_the_join(spark, sf_dir):
    plan = plan_of(spark, "bloom_semi_reduction", sf_dir)
    # the bit_get membership fold sits in a Filter on the fact scan
    # side, below the real join
    assert "bit_get" in plan
    assert plan.index("bit_get") > plan.index("BroadcastHashJoin")
    # both scans keep pushdown
    assert plan.count("PushedFilters: [IsNotNull") >= 1


def test_pricing_summary_filter_reaches_parquet(spark, sf_dir):
    plan = plan_of(spark, "pricing_summary", sf_dir)
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)


def test_tail_events_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, "tail_events", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no full-table sort operator


def test_rolling_window_uses_range_frame(spark, sf_dir):
    plan = plan_of(spark, "rolling_event_value", sf_dir)
    assert "RangeFrame" in plan
    assert n_exchanges(plan) == 1  # the single user_id shuffle


def test_doc_embeddings_fh_shape(spark, sf_dir):
    """r12 rewrite: the entry is the sparse explode→count form — hash
    each token ONCE — instead of posexploding the O(dims·n_tokens)
    interpreted accumulator fold (which the optimizer additionally
    inlined into the Generate's pushed-down filter, evaluating it up to
    3× per row; measured 2.93 s → 0.91 s at sf0.1). Pins: no dense fold
    (no array_repeat accumulator, no posexplode), and exactly ONE
    exchange — the doc_id fan-out, which the count groupBy reuses
    (hash partitioning on a subset of the grouping keys satisfies the
    aggregation's distribution)."""
    plan = plan_of(spark, "doc_embeddings_fh", sf_dir)
    assert "posexplode" not in plan
    assert "array_repeat" not in plan
    assert n_exchanges(plan) == 1


def test_revenue_cube_expands_before_the_exchange(spark, sf_dir):
    plan = plan_of(spark, "revenue_cube", sf_dir)
    assert "Expand" in plan
    assert n_exchanges(plan) <= 2  # grouping-set partials collapse map-side
    assert "CartesianProduct" not in plan


def test_flagship_join_has_no_cartesian_or_nested_loop(spark, sf_dir):
    plan = plan_of(spark, "titles_for_users", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def subtrees(plan: str, node: str, stage: bool = False) -> list[list[str]]:
    """The lines below every ``node`` in a plan's tree string; with
    ``stage``, cut below the shuffle ``Exchange``s that end the node's
    stage."""
    lines = plan.splitlines()
    depth = [len(re.match(r"[\s:+\-]*", ln).group()) for ln in lines]
    out = []
    for i, ln in enumerate(lines):
        if not ln[depth[i]:].startswith(node):
            continue
        below, cut = [], None
        for j in range(i + 1, len(lines)):
            if depth[j] <= depth[i]:
                break
            if cut is not None and depth[j] > cut:
                continue
            if stage and re.match(r"Exchange\b", lines[j][depth[j]:]):
                cut = depth[j]
            else:
                cut = None
            below.append(lines[j])
        out.append(below)
    return out


@pytest.mark.parametrize("name", ["title_index", "user_prefs"])
def test_per_row_derivations_do_not_shuffle(spark, sf_dir, name):
    """The index and the prefs deduplicate each source row's own array
    (the keys are primary keys), so deriving them is one scan and one
    explode: no ``Exchange`` of any kind (the DISTINCT shuffled 80 k
    exploded rows at sf0.1 on every serving request)."""
    from tv_event_streaming_spark.domain import derive_domain

    plan = executed_plan(derive_domain(spark, sf_dir)[name])
    assert "Exchange" not in plan, plan


def test_one_user_titles_is_a_flat_broadcast_join(spark, sf_dir, tmp_path):
    """One user's /titles over the served prefs table: the user's source
    and genre prefs are broadcast side by side against the index (no
    broadcast is built by joining another broadcast in its own stage),
    the per-user ``(user_id, title_id)`` set is broadcast onto the
    enriched-titles scan (which is never broadcast itself), and the
    distinct on that set is the one shuffle."""
    from pyspark.sql import functions as F

    from tv_event_streaming_spark.domain import derive_domain
    from tv_event_streaming_spark.operators.preferences import PREF_KEY
    from tv_event_streaming_spark.operators.titles import titles_for_users
    from tv_event_streaming_spark.schemas import USER_PREF_SCHEMA
    from tv_event_streaming_spark.streaming.storage import KeyedTable

    d = derive_domain(spark, sf_dir)
    prefs = KeyedTable(spark, str(tmp_path / "prefs"), PREF_KEY, USER_PREF_SCHEMA)
    prefs.upsert(d["user_prefs"])
    plan = executed_plan(
        titles_for_users(prefs.read(), d["title_index"], d["titles"], F.col("user_id") == "7")
    )
    assert n_exchanges(plan) == 1, plan
    assert re.search(r"Exchange hashpartitioning\(user_id#\d+, title_id#\d+L", plan), plan
    stages = subtrees(plan, "BroadcastExchange", stage=True)
    assert len(stages) == 3, plan
    assert not any("BroadcastExchange" in ln for lines in stages for ln in lines), plan
    # the enriched-titles scan is the one that reads p_name
    titles_scan = [ln for ln in plan.splitlines() if "FileScan" in ln and "p_name" in ln]
    assert len(titles_scan) == 1, plan
    assert not any(
        titles_scan[0] in lines for lines in subtrees(plan, "BroadcastExchange")
    ), plan


def test_top_combinations_shuffles_once(spark, sf_dir):
    """A3 over the per-row index: the one ``Exchange`` is the groupBy's,
    under the top-k."""
    from tv_event_streaming_spark.domain import derive_domain
    from tv_event_streaming_spark.operators.analytics import top_combinations

    plan = executed_plan(top_combinations(derive_domain(spark, sf_dir)["title_index"]))
    assert n_exchanges(plan) == 1, plan
    assert plan.index("TakeOrderedAndProject") < plan.index("Exchange hashpartitioning"), plan


@pytest.mark.parametrize(
    "name",
    ["quality_filter", "winnow_fingerprints", "char_stats", "zorder_stats"],
)
def test_map_side_entries_shuffle_at_most_once(spark, sf_dir, name):
    plan = plan_of(spark, name, sf_dir)
    assert n_exchanges(plan) <= 1, f"{name}: {n_exchanges(plan)} exchanges"
    spark.catalog.clearCache()


def test_opq_rotate_stays_map_side(spark, sf_dir):
    """The OPQ permutation is 64 getItems inside the scan projection:
    ann_pq_opq must keep the ann_pq_rerank plan shape (no extra
    exchange for the rotate). The shortlist (the fused Arrow ADC pass
    plus one window) is collected while the plan is built, so the plan
    is the exact rerank: one Arrow cosine scan over the fanned-out
    corpus plus the final top-k window."""
    plan = plan_of(spark, "ann_pq_opq", sf_dir)
    assert "MapInPandas" in plan
    assert "InMemoryTableScan" not in plan  # no persisted code table
    # the rerank scan's fan-out + its top-k window
    assert n_exchanges(plan) <= 3
    spark.catalog.clearCache()


def test_ivfpq_residual_scan_shape(spark, sf_dir):
    """r13: the build-from-embeddings residual query is ONE fused Arrow
    pass (assignment + residual + encode + probed-ADC + per-batch
    top-k) feeding the shortlist window; the shortlist is collected
    while the plan is built and the exact rerank is one Arrow cosine
    scan — no persisted index materialization, no interpreted HOF
    chains in the corpus stage."""
    plan = plan_of(spark, "ann_ivfpq_residual", sf_dir)
    assert "MapInPandas" in plan
    assert "InMemoryTableScan" not in plan
    # the rerank scan's fan-out + its top-k window
    assert n_exchanges(plan) <= 4
    spark.catalog.clearCache()


def test_small_upsert_submits_at_most_four_jobs(spark, tmp_path):
    """A reference-sized batch (API_FETCH_LIMIT = 20 rows) MERGEs on the
    driver: one bounded collect of the batch plus its bucket ids, then
    pyarrow; the Spark MERGE of the same batch ran ~10 jobs (touched
    collect, emptiness probe, journal and data writes, AQE stages)."""
    from pyspark.sql import types as T

    from tv_event_streaming_spark.streaming.storage import KeyedTable

    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType())]
    )
    table = KeyedTable(spark, str(tmp_path / "t"), ["k"], schema)
    table.upsert(spark.createDataFrame([(k, "a") for k in range(200)], schema))
    sc = spark.sparkContext
    group = "pin-small-upsert"
    sc.setJobGroup(group, group)
    try:
        out = table.upsert(
            spark.createDataFrame([(k, "b") for k in range(190, 210)], schema)
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out == {"version": 1, "inserts": 10, "modifies": 10}
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 4, len(jobs)


@pytest.mark.parametrize(
    "empty, journal",
    [(False, False), (False, True), (True, False), (True, True)],
    ids=["no_journal", "journal", "empty-no_journal", "empty-journal"],
)
def test_large_upsert_submits_few_jobs(spark, tmp_path, empty, journal):
    """An upsert of cap + 1 rows runs the MERGE kernel in Spark tasks,
    into an empty table (seeding, an initial load) as into a non-empty
    one: the bounded probe, then the grouped ``applyInArrow`` (its
    shuffle and its result stage), whose tasks also write the journal
    rows: 3 jobs in every case. The join-based Spark MERGE it replaced
    ran 7, and 8 with the journal; the Spark bulk load that took the
    empty case ran 2, and 3 with its copy into the journal."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tv_event_streaming_spark.streaming.storage import (
        LOCAL_MERGE_MAX_ROWS,
        KeyedTable,
    )

    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType())]
    )
    table = KeyedTable(spark, str(tmp_path / "t"), ["k"], schema, journal=journal)
    seeded = 0 if empty else 200
    if seeded:
        table.upsert(spark.createDataFrame([(k, "a") for k in range(0, 2 * seeded, 2)], schema))
    n = LOCAL_MERGE_MAX_ROWS + 1
    batch = spark.range(n).select(F.col("id").alias("k"), F.lit("b").alias("v"))
    sc = spark.sparkContext
    group = f"pin-large-upsert-{empty}-{journal}"
    sc.setJobGroup(group, group)
    try:
        out = table.upsert(batch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out == {"version": int(not empty), "inserts": n - seeded, "modifies": seeded}
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 3, len(jobs)


@pytest.mark.parametrize("journal", [False, True], ids=["no_journal", "journal"])
def test_one_user_put_submits_no_jobs(spark, tmp_path, journal):
    """PUT /preferences for one user is a pyarrow lookup of the user's
    rows, a set diff and one driver-side MERGE: no Spark job, and one
    table version for its adds and deletes together (none for a no-op
    PUT). It ran 6 jobs and wrote two versions as two Spark-planned
    MERGEs."""
    from tv_event_streaming_spark.operators.preferences import PREF_KEY, set_user_preferences
    from tv_event_streaming_spark.schemas import USER_PREF_SCHEMA
    from tv_event_streaming_spark.streaming.storage import KeyedTable

    table = KeyedTable(spark, str(tmp_path / "prefs"), PREF_KEY, USER_PREF_SCHEMA, journal=journal)
    table.upsert(
        spark.createDataFrame(
            [(str(u), kind, str(p)) for u in range(50) for kind in ("source", "genre") for p in range(3)],
            USER_PREF_SCHEMA,
        )
    )
    sc = spark.sparkContext
    outs, jobs = [], []
    for i, body in enumerate([(["1", "7"], ["2"]), (["1", "7"], ["2"])]):
        group = f"pin-one-user-put-{journal}-{i}"
        sc.setJobGroup(group, group)
        try:
            outs.append((set_user_preferences(table, "7", *body), table.current_version()))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert outs == [({"adds": 1, "deletes": 4}, 1), ({"adds": 0, "deletes": 0}, 1)]
    assert jobs == [0, 0]
    if journal:
        assert sorted(map(tuple, table.read_changes().filter("version = 1").collect())) == [
            ("INSERT", 1, "7", "source", "7"),
            ("REMOVE", 1, "7", "genre", "0"),
            ("REMOVE", 1, "7", "genre", "1"),
            ("REMOVE", 1, "7", "source", "0"),
            ("REMOVE", 1, "7", "source", "2"),
        ]


def test_consumer_micro_batch_is_two_jobs_without_exchange(spark, sf_dir, tmp_path):
    """One consumer micro-batch of a 20-title bus file is its two MERGEs'
    bounded collects, titles then index, and nothing else: 2 jobs, and
    neither batch plan shuffles. The MERGE kernel deduplicates each
    table's rows on the key, so the micro-batch needs no
    ``dropDuplicates``, no cache and no index ``distinct`` (4 jobs)."""
    import glob

    from tv_event_streaming_spark.domain import derive_domain
    from tv_event_streaming_spark.streaming.consumer import index_table, start_consumer, titles_table
    from tv_event_streaming_spark.streaming.producer import build_title_events, publish

    from .test_streaming import title_lookup

    d = derive_domain(spark, sf_dir)
    bus = str(tmp_path / "bus")
    publish(build_title_events(d["user_prefs"], title_lookup(d), fetch_limit=20), bus)
    assert len(glob.glob(f"{bus}/*.json")) == 1
    titles = titles_table(spark, str(tmp_path / "titles"))
    index = index_table(spark, str(tmp_path / "index"))
    plans = []
    for table in (titles, index):

        def upsert(batch, table=table):
            plans.append(executed_plan(batch))
            return type(table).upsert(table, batch)

        table.upsert = upsert
    q = start_consumer(spark, bus, titles, index, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert titles.read().count() == 20
    assert len(plans) == 2
    for plan in plans:
        assert n_exchanges(plan) == 0, plan
    # Structured Streaming runs a query's jobs in a job group named by its run id
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == 2, jobs


def test_build_title_events_aggregates_once(spark, sf_dir):
    """The producer builds both preference arrays in one global
    aggregate: one ``Exchange``, the aggregate's gather to a single
    partition, broadcast onto the fetched titles. The distinct and the
    per-kind aggregates it replaced planned two, and a publish ran 5
    jobs against 3."""
    from tv_event_streaming_spark.domain import derive_domain
    from tv_event_streaming_spark.streaming.producer import build_title_events

    from .test_streaming import title_lookup

    d = derive_domain(spark, sf_dir)
    plan = executed_plan(build_title_events(d["user_prefs"], title_lookup(d), fetch_limit=20))
    assert n_exchanges(plan) == 1, plan
    assert "Exchange SinglePartition" in plan, plan
