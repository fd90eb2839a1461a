"""Physical-layout operators: Z-order clustering and Bloom filters.

The reference never needs these (its biggest aggregation is a 20-way
count), but at 100 TB they decide how much of a table a query reads:

- **Z-order** — a Morton-interleaved key over two dimensions lays a
  table out so that a predicate on EITHER dimension prunes most files
  (:func:`zorder_stats` reports the per-file min/max boxes a scan would
  skip on).
- **Bloom filters** — a compact membership test built over a small key
  set prunes a fact table map-side BEFORE its join shuffle (the
  semi-join reduction, :func:`bloom_might_contain`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zvalue(d1: Column, d2: Column, bits: int = 10) -> Column:
    """Morton (Z-order) interleaving of two ``bits``-bit non-negative
    ints into one ``2·bits``-bit locality key: bit i of ``d1`` lands at
    position 2i+1, bit i of ``d2`` at 2i. Pure integer bit arithmetic
    unrolled at plan-build time (2·bits terms inside whole-stage
    codegen) — identical in any engine, no UDF."""
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = (
            out
            + F.shiftleft(F.shiftright(d1.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(d2.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return out


def zorder_stats(
    events: DataFrame, bits: int = 10, bucket_bits: int = 6
) -> DataFrame:
    """Z-order clustering stats for 2-dimensional data skipping — the
    OPTIMIZE ZORDER story: lay the table out in Morton order of
    (user bucket, minute-of-day) and a predicate on EITHER dimension
    prunes most files, because each Z-range file covers a small
    min/max box in BOTH dimensions (a single-column sort gives perfect
    pruning on one dimension and none on the other).

    Emits, per leading ``bucket_bits`` of the z-value (= one file/row
    group under a z-sorted write): row count and the min/max box of
    each dimension — exactly the footer stats a scan would skip on.
    tests/test_layout.py asserts the locality property: the mean box
    side is a small fraction of each dimension's global range.

    Shape: the z-value is map-side bit math; the stats are one
    grouped agg over ≤ 2^bucket_bits groups. The z-sorted WRITE at
    scale is ``df.repartitionByRange(n, zval).sortWithinPartitions``
    — the same one-time shuffle any clustered layout pays."""
    mask = (1 << bits) - 1
    d1 = F.pmod(F.col("user_id"), F.lit(mask + 1)).cast("long")
    d2 = F.pmod(
        (F.hour("ts") * 60 + F.minute("ts")).cast("long"), F.lit(mask + 1)
    ).cast("long")
    staged = events.select(d1.alias("d1"), d2.alias("d2")).withColumn(
        "zbucket", F.shiftright(zvalue(F.col("d1"), F.col("d2"), bits), 2 * bits - bucket_bits)
    )
    return staged.groupBy("zbucket").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("d1").alias("min_d1"),
        F.max("d1").alias("max_d1"),
        F.min("d2").alias("min_d2"),
        F.max("d2").alias("max_d2"),
    )


def _bloom_positions(h32: Column, m_bits: int, k: int) -> list[Column]:
    """k affine-hash bit positions (the deterministic ``minhash_coeffs``
    family dedup uses): (a_i·h32 + b_i) mod 2^32 mod m_bits."""
    from .dedup import minhash_coeffs  # noqa: PLC0415

    out = []
    for i in range(k):
        a, b = minhash_coeffs(i)
        out.append(F.pmod(F.lit(a) * h32 + F.lit(b), F.lit(1 << 32)) % m_bits)
    return out


def _bloom_base(key_col: str, portable: bool) -> Column:
    from .dedup import portable_hash64  # noqa: PLC0415

    key = F.col(key_col).cast("string")
    base = portable_hash64(key) if portable else F.xxhash64(key)
    return F.pmod(base, F.lit(1 << 32))


def bloom_build(
    keys: DataFrame, key_col: str, m_bits: int = 1 << 18, k: int = 4,
    portable: bool = False,
) -> list[int]:
    """Build a Bloom filter over a (small) key set, packed 64 bits/word:
    k affine-hash positions per key, OR-ed into words JVM-side (one
    ``bit_or`` aggregation over ≤ m_bits/64 groups — map-side partials
    collapse the key set before the shuffle), densified driver-side.
    Only m_bits/64 longs cross the Py4J boundary and later broadcast
    (32 KB at the default 2^18 bits) — the boolean-per-position form
    cost ~2 s/attempt in raw driver↔JVM serialization alone.

    xxhash64 by default: a bloom never needs a cross-engine twin
    (membership errors are one-sided; any downstream exact join removes
    false positives), so the md5 portable hash is opt-in only."""
    h32 = _bloom_base(key_col, portable)
    pos = _bloom_positions(F.col("_h32"), m_bits, k)
    words = (
        keys.select(h32.alias("_h32"))
        .select(F.explode(F.array(*pos)).alias("p"))
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    dense = [0] * (m_bits // 64)
    for r in words:
        dense[int(r.w)] = int(r.bits)
    return dense


def bloom_might_contain(
    df: DataFrame, key_col: str, words: list[int], k: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Filter ``df`` to rows whose key MIGHT be in the bloom (no false
    negatives; false positives at the filter's configured rate). The
    word array travels as ONE broadcast data row (never plan literals —
    analyzer cost); the probe is an ``aggregate`` fold over the
    k-position array — per-row hash computed once regardless of k, bit
    test via ``bit_get`` on the looked-up word. Map-side only: this is
    the semi-join reduction that prunes a fact table BEFORE its join
    shuffle at 100 TB."""
    m_bits = len(words) * 64
    spark = df.sparkSession
    bloom_row = spark.createDataFrame([(words,)], "_bloom array<bigint>")
    h32 = _bloom_base(key_col, portable)
    pos = _bloom_positions(F.col("_h32"), m_bits, k)
    staged = df.withColumn("_h32", h32)
    # r12: the probe is k explicit bit-test conjuncts instead of an
    # `aggregate` HOF fold over an array of the same k positions — HOF
    # lambdas run interpreted (they never enter whole-stage codegen),
    # and this predicate runs per fact-table row at 100 TB. Same k
    # hash positions, same bit tests, strictly less work (no array
    # construction, short-circuiting AND).
    cond = F.lit(True)
    for p in pos:
        cond = cond & (
            F.bit_get(
                F.element_at(F.col("_bloom"), (p / 64).cast("int") + 1),
                F.pmod(p, F.lit(64)).cast("int"),
            )
            == 1
        )
    probed = staged.crossJoin(F.broadcast(bloom_row)).filter(cond)
    return probed.drop("_h32", "_bloom")
