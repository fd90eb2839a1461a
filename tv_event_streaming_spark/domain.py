"""Deterministic TV-domain derivation from the synthetic test tables.

The reference's entities (sources, genres, titles, user preferences, the
source×genre inverted index — SURVEY.md §1.1) don't exist in the driver's
TPC-H-ish testdata, so this module derives them *deterministically* from
the tables that do exist, using integer arithmetic only:

- ``sources``      ← supplier   (one streaming source per supplier)
- ``genres``       ← nation     (one genre per nation)
- ``titles``       ← part       (one title per part, enrichment fields
                                 derived so P5/P6/P7 filters partition
                                 non-trivially — see FIXTURES.md §5)
- ``user_prefs``   ← customer   (2 source prefs + 2 genre prefs each)
- ``title_index``  ← part       (2 source links × 2 genre links per title,
                                 the J2 cross-product index)
- ``details``      ← part       (the deterministic stand-in for the
                                 WatchMode details API, SURVEY.md S11/J3)

Because the derivation is pure arithmetic, the DuckDB oracle can rebuild
the *identical* domain from the same parquet files: ``DOMAIN_CTES`` below
is the SQL twin of the DataFrame derivations and is prepended to every
oracle query. Keep the two in lockstep — tests/test_domain.py checks them
row-for-row.

Scale note: every derivation is a per-row projection with no shuffle
(index/prefs deduplicate each key row's own array). At 100 TB the dims
(sources/genres) stay broadcast-sized; titles/user_prefs scale linearly
with part/customer and derive map-side. Deriving the
domain submits no Spark job: table schemas and the dim counts come from
parquet footers (``footer_schema``, ``table_rows``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Timestamp normalization: depending on the driver round, the testdata
# parquet stores these columns as TIMESTAMP(NANOS) (which Spark's
# vectorized reader rejects — read as raw nanosecond longs via the
# legacy conf and truncate to micros, exactly what DuckDB does on read)
# or as plain micros with isAdjustedToUTC=false (Spark reads
# TIMESTAMP_NTZ — cast to TIMESTAMP; the session timezone is UTC, so the
# wall-clock values are unchanged and match DuckDB's naive read).
# Integer DIV avoids the double-rounding hazard of `/ 1000` at 1e18
# magnitudes.
_NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# Memoized lazy plans per (session, table): spark.read.parquet lists files
# and reads footers eagerly on every call — catalog-cache behavior a real
# metastore gives for free. Keyed on applicationId (stable per live
# session, never reused by a successor session the way id() can be).
# SINGLE-SESSION ASSUMPTION (ADVICE r12): sibling sessions from
# spark.newSession() share the application id, so they receive frames
# bound to the FIRST caller's SparkSession — their own temp views and
# SQL conf do not apply to the cached plans. Every caller in this
# engine builds catalog plans on the primary session only (the cluster
# loop's private session never calls load_table/derive_domain); a
# deployment that hands sibling sessions to user code should register
# real catalog views instead of this memo.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _session_key(spark: SparkSession) -> str:
    return spark.sparkContext.applicationId


def _data_files(path: str) -> list[str]:
    """``path`` itself, or the parquet data files of a directory (Spark
    also leaves ``_SUCCESS`` and ``.crc`` files beside them)."""
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _spark_type(t) -> T.DataType:
    """The Spark type of a nested or non-timestamp parquet column that
    pyarrow reads as ``t``, every level nullable as Spark reads it;
    TypeError for a type this mapping does not cover."""
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import from_arrow_type  # noqa: PLC0415

    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return T.ArrayType(_spark_type(t.value_type), True)
    if pa.types.is_struct(t):
        return T.StructType([T.StructField(f.name, _spark_type(f.type), True) for f in t])
    if pa.types.is_map(t):
        return T.MapType(_spark_type(t.key_type), _spark_type(t.item_type), True)
    flat = (
        pa.types.is_boolean(t)
        or pa.types.is_signed_integer(t)
        or pa.types.is_float32(t)
        or pa.types.is_float64(t)
        or pa.types.is_decimal(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
        or pa.types.is_fixed_size_binary(t)
        or pa.types.is_date32(t)
    )
    if not flat:
        raise TypeError(f"no footer mapping for {t}")
    return from_arrow_type(t)


def footer_schema(path: str) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, from the footer of
    the file (or a directory's first data file) with no Spark job. Top-
    level timestamps map as Spark reads them: INT96 and UTC-adjusted ones
    to ``timestamp``, naive ones to ``timestamp_ntz``, TIMESTAMP(NANOS)
    to ``bigint`` (the reader runs with ``nanosAsLong``). None when the
    footer holds a type the mapping does not cover (nested timestamps,
    unsigned ints, ...) or a directory has no top-level data file — the
    caller then lets Spark infer."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    files = _data_files(path)
    if not files:
        return None
    pf = pq.ParquetFile(files[0])
    leaves = {
        c.path: c for c in (pf.schema.column(i) for i in range(len(pf.schema)))
    }
    fields = []
    for f in pf.schema_arrow:
        leaf = leaves.get(f.name)
        try:
            if leaf is not None and leaf.physical_type == "INT96":
                dtype = T.TimestampType()
            elif leaf is None or leaf.logical_type.type != "TIMESTAMP":
                dtype = _spark_type(f.type)
            else:
                ts = json.loads(leaf.logical_type.to_json())
                dtype = (
                    T.LongType()
                    if ts["timeUnit"] == "nanoseconds"
                    else T.TimestampType()
                    if ts["isAdjustedToUTC"]
                    else T.TimestampNTZType()
                )
        except TypeError:
            return None
        fields.append(T.StructField(f.name, dtype, True))
    return T.StructType(fields)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (_session_key(spark), sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _NANO_TS_COLUMNS.get(name, ()):
        if c not in df.columns:
            continue
        dtype = dict(df.dtypes)[c]
        if dtype == "bigint":  # TIMESTAMP(NANOS) read as raw nanos
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} DIV 1000")))
        elif dtype == "timestamp_ntz":  # micros, isAdjustedToUTC=false
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    _TABLE_CACHE[key] = df
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``{sf_dir}/{name}.parquet`` read with its footer schema
    (:func:`footer_schema`), so building the frame submits no job, with
    the same timestamp normalization as :func:`load_table`."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    schema = footer_schema(path)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    for c in _NANO_TS_COLUMNS.get(name, ()):
        if c not in df.columns:
            continue
        dtype = dict(df.dtypes)[c]
        if dtype == "bigint":  # TIMESTAMP(NANOS) read as raw nanos
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} DIV 1000")))
        elif dtype == "timestamp_ntz":  # micros, isAdjustedToUTC=false
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Every test table, read by :func:`_read_table` (no Spark job) and
    memoized where :func:`load_table` looks, so both hand out the same
    frame. ``load_table`` on a table not memoized yet still lets Spark
    infer the schema (one job): every catalog entry reaches it, and a
    change there re-fingerprints all of them at once (see
    ``evidence.py``), so it moves onto ``_read_table`` separately."""
    out = {}
    for name in TABLES:
        key = (_session_key(spark), sf_dir, name)
        if key not in _TABLE_CACHE:
            _TABLE_CACHE[key] = _read_table(spark, sf_dir, name)
        out[name] = _TABLE_CACHE[key]
    return out


# Exact row counts straight from parquet footers — the statistics a real
# metastore publishes (Iceberg/Delta snapshot row counts). Driver-side
# pyarrow metadata reads: no Spark job, no scan, O(footer) per file.
# Feeds the engine's approx_rows hints (simhash n_blocks ladder, ANN
# centroid counts) so auto-knob selection never pays a count() pass, and
# the dim cardinalities ``derive_domain`` folds into its derivations.
_ROWS_CACHE: dict[tuple[str, str], int] = {}


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of ``{sf_dir}/{name}.parquet`` from file-footer
    metadata (single file or a directory of part files). Exact: the
    ``approx_rows`` hints use it (auto-knob ladders tolerate 2× error,
    footers give 0), and so do the derivations' dim counts."""
    key = (sf_dir, name)
    hit = _ROWS_CACHE.get(key)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq  # noqa: PLC0415

    n = sum(
        pq.read_metadata(f).num_rows
        for f in _data_files(os.path.join(sf_dir, f"{name}.parquet"))
    )
    _ROWS_CACHE[key] = n
    return n


def sources(supplier: DataFrame) -> DataFrame:
    """Streaming-source dim (reference entity: PK ``source:<id>``,
    src/periodic_reference_data/reference.py:138-143)."""
    return supplier.select(
        F.col("s_suppkey").cast("string").alias("source_id"),
        F.col("s_name").alias("name"),
    )


def genres(nation: DataFrame) -> DataFrame:
    """Genre dim (reference entity: PK ``genre:<id>``, reference.py:151-158)."""
    return nation.select(
        F.col("n_nationkey").cast("string").alias("genre_id"),
        F.col("n_name").alias("name"),
    )


def valid_ref_data(ref: DataFrame, id_col: str, name_col: str = "name") -> DataFrame:
    """P11 — the ref-data ingestion validity filter (reference.py:135-137):
    drop records missing the id or the name before writing. (The
    reference's "not a dict" arm is the malformed-JSON case, which the
    PERMISSIVE ``from_json`` decode already turns into NULLs — so one
    null filter covers both arms here.)"""
    return ref.filter(F.col(id_col).isNotNull() & F.col(name_col).isNotNull())


def titles(part: DataFrame) -> DataFrame:
    """Canonical title records incl. enrichment fields (reference:
    consumer.py:61-69 + enrichment.py:114-125).

    Enrichment-field distributions are chosen so the reference's filters
    are non-trivial: ``user_rating`` 0.0–10.0 straddles the
    recommendations cutoff (strict > 7, web_api.py:229-235); poster is
    NULL for partkey%7==0 and '' for %7==1 (both excluded by the
    enriched-only display filter, web_api.py:203-207); plot_overview is
    NULL for partkey%11==0.
    """
    pk = F.col("p_partkey")
    return part.select(
        pk.alias("title_id"),
        F.col("p_name").alias("title"),
        (F.lit(1990) + pk % 35).alias("year"),
        F.when(pk % 2 == 0, F.lit("movie")).otherwise(F.lit("tv_series")).alias("type"),
        ((pk % 101).cast("double") / F.lit(10.0)).alias("user_rating"),
        F.when(pk % 7 == 0, F.lit(None).cast("string"))
        .when(pk % 7 == 1, F.lit(""))
        .otherwise(F.concat(F.lit("https://img.example/poster/"), pk.cast("string")))
        .alias("poster"),
        F.when(pk % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("Overview: "), F.col("p_name")))
        .alias("plot_overview"),
    )


def title_index(part: DataFrame, sn: int, gn: int) -> DataFrame:
    """The source×genre inverted index (reference: consumer.py:79-89).

    Each title links to 2 sources and 2 genres; the index is each title's
    distinct (source, genre) pairings, exactly what the reference's
    nested put-loop materializes. The dim counts are literals. Relies on
    ``p_partkey`` being a primary key (as :func:`titles` does): every
    duplicate comes from one part row, so ``array_distinct`` per row
    equals the SQL twin's DISTINCT, with no shuffle.
    """
    pk = F.col("p_partkey")
    # ONE scan + explode(4-struct array) — the UNION-of-4-selects form
    # scans the fact table 4× (visible in .explain as 4 parquet scans).
    s1, s2 = pk % sn, (pk * 7 + 3) % sn
    g1, g2 = pk % gn, (pk * 11 + 5) % gn
    combos = F.array(
        *[
            F.struct(
                s.cast("string").alias("source_id"),
                g.cast("string").alias("genre_id"),
            )
            for s in (s1, s2)
            for g in (g1, g2)
        ]
    )
    return part.select(
        pk.alias("title_id"), F.explode(F.array_distinct(combos)).alias("c")
    ).select("c.source_id", "c.genre_id", "title_id")


def user_prefs(customer: DataFrame, sn: int, gn: int) -> DataFrame:
    """One row per user selection (reference: preferences.py:153-161):
    2 source prefs + 2 genre prefs per customer, deduplicated because the
    arithmetic can collide (mirrors the reference's set semantics —
    (PK, SK) is the primary key, duplicates are impossible). Relies on
    ``c_custkey`` being a primary key, as :func:`title_index` does on
    ``p_partkey``."""
    ck = F.col("c_custkey")
    selections = F.array(
        *[
            F.struct(F.lit(kind).alias("kind"), expr.cast("string").alias("pref_id"))
            for kind, expr in (
                ("source", ck % sn),
                ("source", (ck * 13 + 7) % sn),
                ("genre", F.col("c_nationkey")),
                ("genre", (ck * 3 + 1) % gn),
            )
        ]
    )
    return customer.select(
        ck.cast("string").alias("user_id"),
        F.explode(F.array_distinct(selections)).alias("s"),
    ).select("user_id", "s.kind", "s.pref_id")


def details(part: DataFrame) -> DataFrame:
    """Deterministic enrichment-details lookup (stands in for the
    WatchMode /v1/title/{id}/details/ HTTP call, enrichment.py:69-79).
    Titles with partkey%13==0 have no details row (the fetch-failure
    path, enrichment.py:104-106)."""
    t = titles(part)
    return t.filter(F.col("title_id") % 13 != 0).select(
        "title_id", "plot_overview", "poster", "user_rating"
    )


#: Memoized derived-domain views per (session, sf_dir) — the same
#: catalog-cache idea as ``_TABLE_CACHE`` one level up: the derivations
#: are pure lazy plans (no data, no conf), but CONSTRUCTING them is
#: hundreds of py4j expression calls (~0.4-0.5 s per call measured at
#: r12), paid by every domain entry on every build. A real deployment
#: registers these once as catalog views; the memo is that registration.
_DOMAIN_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


def derive_domain(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All derived TV-domain tables plus the raw test tables. The
    returned dict is a fresh shallow copy; the cached frames are
    immutable lazy plans.

    Static-dataset assumption (ADVICE r12): the memoized plans pin the
    scan's file listing at first call — files added to ``sf_dir`` later
    in the same session are invisible, exactly like a registered catalog
    view over a non-transactional path table. The driver's testdata dirs
    are immutable; a deployment with a mutating directory should register
    a real catalog table instead."""
    key = (_session_key(spark), sf_dir)
    hit = _DOMAIN_CACHE.get(key)
    if hit is not None:
        return dict(hit)
    t = load_tables(spark, sf_dir)
    # dim cardinalities fold into the derivations as literals (no
    # count-subquery cross joins, which replicate a broadcast exchange
    # per UNION branch), read from footers: building the domain
    # submits no job
    sn, gn = table_rows(sf_dir, "supplier"), table_rows(sf_dir, "nation")
    t["sources"] = sources(t["supplier"])
    t["genres"] = genres(t["nation"])
    t["titles"] = titles(t["part"])
    t["title_index"] = title_index(t["part"], sn, gn)
    t["user_prefs"] = user_prefs(t["customer"], sn, gn)
    t["details"] = details(t["part"])
    _DOMAIN_CACHE[key] = dict(t)
    return t


# ---------------------------------------------------------------------------
# SQL twin for the DuckDB oracle. MUST stay semantically identical to the
# DataFrame derivations above (tests/test_domain.py enforces this).
# ---------------------------------------------------------------------------

DOMAIN_CTES = """
src_n AS (SELECT count(*) AS sn FROM supplier),
gen_n AS (SELECT count(*) AS gn FROM nation),
sources AS (
  SELECT CAST(s_suppkey AS VARCHAR) AS source_id, s_name AS name FROM supplier
),
genres AS (
  SELECT CAST(n_nationkey AS VARCHAR) AS genre_id, n_name AS name FROM nation
),
titles AS (
  SELECT
    p_partkey AS title_id,
    p_name AS title,
    1990 + p_partkey % 35 AS year,
    CASE WHEN p_partkey % 2 = 0 THEN 'movie' ELSE 'tv_series' END AS type,
    CAST(p_partkey % 101 AS DOUBLE) / 10.0 AS user_rating,
    CASE WHEN p_partkey % 7 = 0 THEN NULL
         WHEN p_partkey % 7 = 1 THEN ''
         ELSE 'https://img.example/poster/' || CAST(p_partkey AS VARCHAR)
    END AS poster,
    CASE WHEN p_partkey % 11 = 0 THEN NULL
         ELSE 'Overview: ' || p_name
    END AS plot_overview
  FROM part
),
title_index AS (
  SELECT DISTINCT source_id, genre_id, title_id FROM (
    SELECT CAST(p_partkey % sn AS VARCHAR) AS source_id,
           CAST(p_partkey % gn AS VARCHAR) AS genre_id,
           p_partkey AS title_id
    FROM part, src_n, gen_n
    UNION ALL
    SELECT CAST(p_partkey % sn AS VARCHAR),
           CAST((p_partkey * 11 + 5) % gn AS VARCHAR),
           p_partkey
    FROM part, src_n, gen_n
    UNION ALL
    SELECT CAST((p_partkey * 7 + 3) % sn AS VARCHAR),
           CAST(p_partkey % gn AS VARCHAR),
           p_partkey
    FROM part, src_n, gen_n
    UNION ALL
    SELECT CAST((p_partkey * 7 + 3) % sn AS VARCHAR),
           CAST((p_partkey * 11 + 5) % gn AS VARCHAR),
           p_partkey
    FROM part, src_n, gen_n
  )
),
user_prefs AS (
  SELECT DISTINCT user_id, kind, pref_id FROM (
    SELECT CAST(c_custkey AS VARCHAR) AS user_id, 'source' AS kind,
           CAST(c_custkey % sn AS VARCHAR) AS pref_id
    FROM customer, src_n
    UNION ALL
    SELECT CAST(c_custkey AS VARCHAR), 'source',
           CAST((c_custkey * 13 + 7) % sn AS VARCHAR)
    FROM customer, src_n
    UNION ALL
    SELECT CAST(c_custkey AS VARCHAR), 'genre',
           CAST(c_nationkey AS VARCHAR)
    FROM customer
    UNION ALL
    SELECT CAST(c_custkey AS VARCHAR), 'genre',
           CAST((c_custkey * 3 + 1) % gn AS VARCHAR)
    FROM customer, gen_n
  )
),
details AS (
  SELECT title_id, plot_overview, poster, user_rating
  FROM titles WHERE title_id % 13 <> 0
)
"""


def with_domain(select_sql: str) -> str:
    """Wrap an oracle SELECT with the domain CTE prelude."""
    return f"WITH {DOMAIN_CTES.strip()}\n{select_sql}"
