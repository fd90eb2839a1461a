"""Physical-layout operators: Z-order locality and Bloom-filter
membership."""

from __future__ import annotations

from pyspark.sql import functions as F

from tv_event_streaming_spark.domain import load_table


def test_zvalue_interleaves_bits(spark):
    from tv_event_streaming_spark.operators.layout import zvalue

    # (d1, d2) = (0b11, 0b00) -> odd bit positions set: 0b1010
    # (d1, d2) = (0b00, 0b11) -> even positions: 0b0101
    df = spark.createDataFrame(
        [(3, 0), (0, 3), (1023, 1023)], "d1 long, d2 long"
    ).select(zvalue(F.col("d1"), F.col("d2")).alias("z"))
    assert [r.z for r in df.collect()] == [0b1010, 0b0101, (1 << 20) - 1]


def test_zorder_buckets_have_locality_in_both_dims(spark, sf_dir):
    """The point of Z-order: every leading-bit bucket covers a SMALL
    min/max box in BOTH dimensions, so footer-stat pruning works for
    predicates on either column. With 6 leading bits (3 per dimension),
    each bucket spans at most 1/8 of each dimension's 0..1023 range."""
    from tv_event_streaming_spark.operators.layout import zorder_stats

    ev = load_table(spark, sf_dir, "events")
    rows = zorder_stats(ev, bits=10, bucket_bits=6).collect()
    assert len(rows) <= 64
    for r in rows:
        assert r.max_d1 - r.min_d1 <= 1024 // 8 - 1, r
        assert r.max_d2 - r.min_d2 <= 1024 // 8 - 1, r


def test_revenue_cube_levels_are_consistent(spark, sf_dir):
    """The grand-total row equals the sum of each full-granularity
    level — the cube's internal consistency across grouping sets."""
    from tv_event_streaming_spark.plans import CATALOG

    rows = CATALOG["revenue_cube"].build(spark, sf_dir).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    # gid bitmask MSB-first: 0 = both dims, 1 = priority rolled up,
    # 2 = region rolled up, 3 = grand total
    assert set(by_gid) == {0, 1, 2, 3}
    total = by_gid[3][0]
    assert len(by_gid[3]) == 1
    for gid in (0, 1, 2):
        assert sum(r.n_orders for r in by_gid[gid]) == total.n_orders
        assert abs(sum(r.total_price for r in by_gid[gid]) - total.total_price) < 1e-6


def test_bloom_prunes_without_false_negatives(spark, sf_dir):
    from tv_event_streaming_spark.operators.layout import (
        bloom_build,
        bloom_might_contain,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    bits = bloom_build(urgent, "o_orderkey")
    pruned = bloom_might_contain(li, "l_orderkey", bits)

    n_total = li.count()
    n_pruned = pruned.count()
    n_true = li.join(
        urgent, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    ).count()
    # no false negatives: everything that truly joins survives the bloom
    missed = (
        li.join(urgent, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .join(pruned.select("l_orderkey", "l_linenumber"), ["l_orderkey", "l_linenumber"], "left_anti")
        .count()
    )
    assert missed == 0
    # real pruning: the bloom keeps the true matches plus a small
    # false-positive tail, far below the full table (urgent is ~20% of
    # orders, so >50% of lineitem must be pruned at the configured fp)
    assert n_true <= n_pruned < n_total // 2, (n_true, n_pruned, n_total)


def test_bloom_probe_is_exact_for_members(spark):
    from tv_event_streaming_spark.operators.layout import (
        bloom_build,
        bloom_might_contain,
    )

    keys = spark.range(1000).select(F.col("id").alias("k"))
    bits = bloom_build(keys, "k", m_bits=1 << 14)
    kept = bloom_might_contain(keys, "k", bits).count()
    assert kept == 1000  # every inserted key must probe positive
