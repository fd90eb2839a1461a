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


def plan_of(spark, name: str, sf_dir: str) -> str:
    return (
        CATALOG[name]
        .build(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def n_exchanges(plan: str) -> int:
    return len(re.findall(r"\bExchange\b", plan))


def test_pq_encode_is_single_pass_map_side(spark, sf_dir):
    plan = plan_of(spark, "pq_encode", sf_dir)
    # r12: ≤1 — the scan fan-out (scale-adaptive no-op on splittable
    # inputs, tests/test_fanout.py); the encode itself still never
    # shuffles the corpus
    assert n_exchanges(plan) <= 1
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row codebook
    # column pruning reaches the scan: only the two needed columns
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m and set(m.group(1).split(",")) <= {
        "vec_id:bigint",
        "embedding:array<float",
    }, m and m.group(1)


def test_seed_cell_assignment_auto_switch_plan_shape(spark, sf_dir):
    """The centroid-assignment auto switch is a PLAN property: at the
    catalog's n_centroids=16 the plan must stay the pure-expression
    form (no Python worker round-trip — every oracle-green entry's
    shape), and at >= 64 it must be the Arrow mapInPandas form (the
    interpreted-HOF argmin measured as a 10-CPU-minute straggler at
    sqrt(N) centroid counts, SCALE.md §6e)."""
    from tv_event_streaming_spark.domain import load_table
    from tv_event_streaming_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")

    def plan(n):
        df = S._seed_cell_assignment(emb, n, "vec_id", "embedding")
        return df._jdf.queryExecution().executedPlan().toString()

    small, large = plan(16), plan(64)
    assert "MapInPandas" not in small and "EvalPython" not in small
    assert "MapInPandas" in large
    # r12: the corpus pass fans out across cores when the scan is one
    # unsplittable file (the ONLY exchange — scale-adaptive: no-op on
    # inputs whose scan parallelizes, pinned by test_fanout.py)
    assert n_exchanges(small) <= 1 and n_exchanges(large) <= 1


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
    exchange for the rotate). r13: the shortlist is the fused Arrow
    ADC pass (MapInPandas over the fanned scan + one window) feeding
    the broadcast-candidate rerank directly — the r12 localCheckpoint
    re-A/B'd flat once the heavy ADC stages were gone and was
    dropped."""
    plan = plan_of(spark, "ann_pq_opq", sf_dir)
    assert "MapInPandas" in plan
    assert "InMemoryTableScan" not in plan  # no persisted code table
    # fan-out + shortlist window + final top-k window
    assert n_exchanges(plan) <= 3
    spark.catalog.clearCache()


def test_ivfpq_residual_scan_shape(spark, sf_dir):
    """r13: the build-from-embeddings residual query is ONE fused Arrow
    pass (assignment + residual + encode + probed-ADC + per-batch
    top-k) feeding the shortlist window, then the broadcast-candidate
    exact rerank — no persisted index materialization, no interpreted
    HOF chains in the corpus stage."""
    plan = plan_of(spark, "ann_ivfpq_residual", sf_dir)
    assert "MapInPandas" in plan
    assert "InMemoryTableScan" not in plan
    # fan-out + shortlist window + rerank window + two broadcast builds
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
