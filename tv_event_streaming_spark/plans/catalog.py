"""The query catalog.

One :class:`CatalogEntry` per implemented operator from SURVEY.md §2.
``build`` is the idiomatic-Spark plan (DataFrame API); ``oracle`` is the
ANSI-SQL twin DuckDB runs on the same parquet tables for the driver's
row-count + schema + value-hash comparison. Every registered entry
currently carries an oracle (rows-only checks are reserved for genuinely
non-SQL-expressible ops; as of round 2 there are none).

Determinism rules every entry follows:
- every computed column is aliased IDENTICALLY in both plans;
- any LIMIT/top-k is tie-broken on a unique key;
- floating aggregates go through exact DECIMAL accumulation and a single
  final cast to DOUBLE, so Spark and DuckDB produce bit-identical values
  regardless of summation order;
- counts are BIGINT on both sides (DuckDB SUM() is HUGEINT — always cast).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..domain import derive_domain, load_table, with_domain
from ..operators import analytics as A
from ..operators import preferences as P
from ..operators import titles as TI
from ..schemas import USER_PREF_SCHEMA
from ..sources import events as EV


@dataclass(frozen=True)
class CatalogEntry:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


CATALOG: dict[str, CatalogEntry] = {}


def register(
    name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable:
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        CATALOG[name] = CatalogEntry(name=name, build=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Reference-data reads (S2/S3)
# ---------------------------------------------------------------------------

@register(
    "get_sources",
    with_domain("SELECT source_id, name FROM sources"),
    doc="S3 — GET /sources projection (web_api.py:50-75)",
    tags=("scan", "projection"),
)
def q_get_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_domain(spark, sf_dir)["sources"]


@register(
    "get_genres",
    with_domain("SELECT genre_id, name FROM genres"),
    doc="S3 — GET /genres projection (web_api.py:50-75)",
    tags=("scan", "projection"),
)
def q_get_genres(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_domain(spark, sf_dir)["genres"]


# ---------------------------------------------------------------------------
# Preference reads (S4) and the delta mutation (J5/SO2)
# ---------------------------------------------------------------------------

@register(
    "get_preferences",
    with_domain(
        "SELECT user_id, kind, pref_id FROM user_prefs WHERE CAST(user_id AS BIGINT) <= 5"
    ),
    doc="S4 — key-range read: all preference rows for users 0-5 (preferences.py:90-100)",
    tags=("scan", "filter"),
)
def q_get_preferences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = derive_domain(spark, sf_dir)
    return P.get_preferences(d["user_prefs"], F.col("user_id").cast("long") <= 5)


@register(
    "prefs_response",
    with_domain(
        """
SELECT user_id,
       array_to_string(list_sort(COALESCE(list(DISTINCT pref_id) FILTER (WHERE kind='source'), [])), ',') AS sources_csv,
       array_to_string(list_sort(COALESCE(list(DISTINCT pref_id) FILTER (WHERE kind='genre'), [])), ',') AS genres_csv
FROM user_prefs
WHERE CAST(user_id AS BIGINT) <= 50
GROUP BY user_id
"""
    ),
    doc="S4/SO1 — the GET /preferences response shape: sorted id arrays per "
    "kind, one row per user (web_api.py:86-96; CSV form for cross-engine "
    "hash stability)",
    tags=("groupby", "collect_set"),
)
def q_prefs_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = derive_domain(spark, sf_dir)
    prefs = d["user_prefs"].filter(F.col("user_id").cast("long") <= 50)
    return P.preferences_response(prefs).select(
        "user_id",
        F.array_join("sources", ",").alias("sources_csv"),
        F.array_join("genres", ",").alias("genres_csv"),
    )


_OVERLAP_SOURCES = ("1", "7", "13")
_OVERLAP_GENRES = ("2", "5")


@register(
    "titles_by_overlap",
    with_domain(
        f"""
SELECT t.title_id, t.title, t.year, t.type
FROM titles t
WHERE EXISTS (SELECT 1 FROM title_index ti
              WHERE ti.title_id = t.title_id
                AND ti.source_id IN ({", ".join(repr(s) for s in _OVERLAP_SOURCES)}))
  AND EXISTS (SELECT 1 FROM title_index ti
              WHERE ti.title_id = t.title_id
                AND ti.genre_id IN ({", ".join(repr(g) for g in _OVERLAP_GENRES)}))
"""
    ),
    doc="J1 alternative form — arrays_overlap on the payload arrays instead "
    "of the materialized index (SURVEY.md J1: semantically identical because "
    "the index derives from those arrays); single scan, no join",
    tags=("filter", "arrays"),
)
def q_titles_by_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = derive_domain(spark, sf_dir)
    arrays = TI.arrays_from_index(d["title_index"])
    with_arrays = d["titles"].join(arrays, "title_id")
    return TI.titles_by_overlap(
        with_arrays, list(_OVERLAP_SOURCES), list(_OVERLAP_GENRES)
    ).select("title_id", "title", "year", "type")


_NEW_PREFS = [
    ("1", "source", "1"),
    ("1", "source", "2"),
    ("1", "source", "3"),
    ("1", "genre", "0"),
    ("1", "genre", "5"),
]

_PREFS_DELTA_ORACLE = with_domain(
    """
, new_prefs AS (
    SELECT * FROM (VALUES ('1','source','1'),('1','source','2'),('1','source','3'),
                          ('1','genre','0'),('1','genre','5'))
    AS t(user_id, kind, pref_id)
), old_prefs AS (SELECT user_id, kind, pref_id FROM user_prefs WHERE user_id = '1')
SELECT 'add' AS op, user_id, kind, pref_id FROM new_prefs n
WHERE NOT EXISTS (SELECT 1 FROM old_prefs o
                  WHERE o.user_id=n.user_id AND o.kind=n.kind AND o.pref_id=n.pref_id)
UNION ALL
SELECT 'delete' AS op, user_id, kind, pref_id FROM old_prefs o
WHERE NOT EXISTS (SELECT 1 FROM new_prefs n
                  WHERE o.user_id=n.user_id AND o.kind=n.kind AND o.pref_id=n.pref_id)
"""
)


@register(
    "prefs_delta",
    _PREFS_DELTA_ORACLE,
    doc="J5/SO2 — PUT /preferences delta: adds=new−old, deletes=old−new "
    "(preferences.py:128-161, web_api.py:101-145)",
    tags=("anti-join", "set-op", "mutation"),
)
def q_prefs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = derive_domain(spark, sf_dir)
    old = d["user_prefs"].filter(F.col("user_id") == "1")
    new = spark.createDataFrame(_NEW_PREFS, USER_PREF_SCHEMA)
    return P.prefs_delta(old, new)


# ---------------------------------------------------------------------------
# The flagship read (J1) and recommendations (P5)
# ---------------------------------------------------------------------------

_FLAGSHIP_SELECT = """
, ps AS (SELECT user_id, pref_id AS source_id FROM user_prefs
         WHERE kind='source' AND CAST(user_id AS BIGINT) <= 20),
pg AS (SELECT user_id, pref_id AS genre_id FROM user_prefs
       WHERE kind='genre' AND CAST(user_id AS BIGINT) <= 20),
tids AS (
  SELECT DISTINCT ps.user_id, ti.title_id
  FROM ps JOIN pg ON ps.user_id = pg.user_id
  JOIN title_index ti ON ti.source_id = ps.source_id AND ti.genre_id = pg.genre_id
)
SELECT tids.user_id, t.title_id,
       COALESCE(t.title, 'Unknown Title') AS title,
       t.plot_overview, t.poster,
       COALESCE(CAST(t.user_rating AS DOUBLE), 0.0) AS user_rating
FROM tids JOIN titles t ON tids.title_id = t.title_id
WHERE t.poster IS NOT NULL AND t.poster <> ''
  AND t.plot_overview IS NOT NULL AND t.plot_overview <> ''
"""


@register(
    "titles_for_users",
    with_domain(_FLAGSHIP_SELECT),
    doc="J1 — the flagship GET /titles semi-join for users 0-20 "
    "(web_api.py:147-223; SURVEY.md §3.1)",
    tags=("join", "distinct", "flagship"),
)
def q_titles_for_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = derive_domain(spark, sf_dir)
    return TI.titles_for_users(
        d["user_prefs"], d["title_index"], d["titles"],
        user_filter=F.col("user_id").cast("long") <= 20,
    )


@register(
    "recommendations",
    with_domain(_FLAGSHIP_SELECT + " AND t.user_rating > 7"),
    doc="P5 — GET /recommendations = flagship + strict user_rating > 7 "
    "(web_api.py:229-235)",
    tags=("join", "filter", "flagship"),
)
def q_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = derive_domain(spark, sf_dir)
    return TI.recommendations_for_users(
        d["user_prefs"], d["title_index"], d["titles"],
        user_filter=F.col("user_id").cast("long") <= 20,
    )


_TITLE_ID_LIST = (1, 2, 3, 5, 8, 13, 21, 34, 55, 999_999_999)  # last id absent


@register(
    "titles_by_ids",
    with_domain(
        f"""
SELECT title_id, title, year, type, user_rating, poster, plot_overview
FROM titles WHERE title_id IN ({", ".join(str(i) for i in _TITLE_ID_LIST)})
"""
    ),
    doc="S5 — point-get batch: canonical records for an id list via broadcast "
    "left-semi join (web_api.py:177-192; absent ids drop out)",
    tags=("semi-join", "point-get"),
)
def q_titles_by_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = derive_domain(spark, sf_dir)
    ids = spark.createDataFrame([(i,) for i in _TITLE_ID_LIST], "title_id long")
    return TI.titles_by_ids(d["titles"], ids).select(
        "title_id", "title", "year", "type", "user_rating", "poster", "plot_overview"
    )


@register(
    "titles_display",
    with_domain(
        """
, src_names AS (
  SELECT ti.title_id,
         array_to_string(list_sort(list(DISTINCT s.name)), ',') AS source_names
  FROM title_index ti JOIN sources s ON ti.source_id = s.source_id
  GROUP BY ti.title_id
), gen_names AS (
  SELECT ti.title_id,
         array_to_string(list_sort(list(DISTINCT g.name)), ',') AS genre_names
  FROM title_index ti JOIN genres g ON ti.genre_id = g.genre_id
  GROUP BY ti.title_id
)
SELECT t.title_id, t.title, sn2.source_names, gn2.genre_names
FROM titles t
JOIN src_names sn2 ON t.title_id = sn2.title_id
JOIN gen_names gn2 ON t.title_id = gn2.title_id
"""
    ),
    doc="J4 — id→name display join: per-title sorted comma-joined source/genre "
    "names via broadcast dim joins (mainView.js:211-212; F15 comma-join)",
    tags=("join", "broadcast", "collect_set"),
)
def q_titles_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = derive_domain(spark, sf_dir)
    return TI.display_names(d["titles"], d["title_index"], d["sources"], d["genres"])


# ---------------------------------------------------------------------------
# Index build (J2) — arrays → double explode → index
# ---------------------------------------------------------------------------

@register(
    "index_build",
    with_domain("SELECT source_id, genre_id, title_id FROM title_index"),
    doc="J2 — inverted-index build: per-title id arrays double-exploded "
    "(consumer.py:79-89); round-trips arrays_from_index ∘ index_from_arrays",
    tags=("explode", "distinct"),
)
def q_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = derive_domain(spark, sf_dir)
    return TI.index_from_arrays(TI.arrays_from_index(d["title_index"]))


# ---------------------------------------------------------------------------
# Aggregations (A1, A3-A6) and windows (W1, W2)
# ---------------------------------------------------------------------------

@register(
    "distinct_prefs",
    with_domain("SELECT DISTINCT kind, pref_id FROM user_prefs"),
    doc="A1 — global distinct-union of preferred ids per kind (ingestion.py:99-116)",
    tags=("distinct",),
)
def q_distinct_prefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.distinct_preferences(derive_domain(spark, sf_dir)["user_prefs"])


@register(
    "top_combinations",
    with_domain(
        """
SELECT source_id, genre_id, CAST(count(*) AS BIGINT) AS n_titles
FROM title_index GROUP BY source_id, genre_id
ORDER BY n_titles DESC, source_id, genre_id LIMIT 20
"""
    ),
    doc="A3 — top-20 source×genre combinations by title count "
    "(dynamodb_inspector.sh:110-120)",
    tags=("groupby", "topk"),
)
def q_top_combinations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.top_combinations(derive_domain(spark, sf_dir)["title_index"], k=20)


@register(
    "data_quality",
    with_domain(
        """
SELECT CAST(count(*) AS BIGINT) AS total_titles,
       CAST(SUM(CASE WHEN poster IS NOT NULL AND poster <> ''
                      AND plot_overview IS NOT NULL AND plot_overview <> ''
                THEN 1 ELSE 0 END) AS BIGINT) AS enriched,
       CAST(SUM(CASE WHEN poster IS NOT NULL AND poster <> ''
                      AND plot_overview IS NOT NULL AND plot_overview <> ''
                THEN 0 ELSE 1 END) AS BIGINT) AS unenriched,
       CAST(SUM(CASE WHEN user_rating > 7 THEN 1 ELSE 0 END) AS BIGINT) AS recommendable
FROM titles
"""
    ),
    doc="A4/P7/P8 — one-pass data-quality counts (dynamodb_inspector.sh:126-132, "
    "remote_deploy_and_smoke_test.sh:149-162)",
    tags=("agg", "conditional-count"),
)
def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.data_quality_counts(derive_domain(spark, sf_dir)["titles"])


_SUMMARY_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_TABLE_SUMMARY_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name, CAST(count(*) AS BIGINT) AS item_count FROM {t}"
    for t in sorted(_SUMMARY_TABLES)
)


@register(
    "table_summary",
    _TABLE_SUMMARY_ORACLE,
    doc="A5 — item_count per table (admin_lambda.py:28-49)",
    tags=("agg",),
)
def q_table_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = {t: load_table(spark, sf_dir, t) for t in _SUMMARY_TABLES}
    return A.table_summary(tables)


@register(
    "hourly_metrics",
    """
SELECT date_trunc('hour', ts) AS hour, event_type,
       CAST(count(*) AS BIGINT) AS invocations,
       GREATEST(0, CAST(count(*) AS BIGINT)
                   - CAST(SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT)
       ) AS successes
FROM events GROUP BY date_trunc('hour', ts), event_type
""",
    doc="A6 — the trailing-1h metric sum generalized to hourly buckets: "
    "invocations, successes=max(0,n−errors) (admin_lambda.py:72-150)",
    tags=("agg", "time-window"),
)
def q_hourly_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return A.hourly_metrics(ev).drop("errors").select(
        "hour", "event_type", "invocations", "successes"
    )


@register(
    "latest_event_per_user",
    """
SELECT user_id, event_id, ts, event_type, value FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
""",
    doc="W1 — latest-by-group via row_number()==1 (admin_lambda.py:166-177)",
    tags=("window",),
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.latest_event_per_user(load_table(spark, sf_dir, "events"))


@register(
    "user_sessions",
    """
WITH numbered AS (
  SELECT user_id, ts, event_id, value,
         SUM(CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
  FROM (
    SELECT user_id, ts, event_id, value,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
  )
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM numbered
GROUP BY user_id, session_id
""",
    doc="Gap-based sessionization (30-min idle gap): lag-detect, running-sum "
    "number, summarize — the batch twin of streaming session_window; "
    "beyond-reference event analytics",
    tags=("window", "sessionization"),
)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.sessionize(load_table(spark, sf_dir, "events"), gap_minutes=30)


@register(
    "session_metrics_batch",
    """
WITH numbered AS (
  SELECT user_id, ts,
         -- STRICTLY-greater breaks, like sessionize and the streaming
         -- session_window itself (Spark merges sessions whose bounds
         -- TOUCH: an event exactly gap after the last one extends the
         -- session — proven by the events fuzzer's 30:00-gap example;
         -- '>=' here silently diverged on boundary-exact gaps)
         SUM(CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
  FROM (
    SELECT user_id, ts, event_id,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
  )
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM numbered GROUP BY user_id, session_id
""",
    doc="ST6 batch twin — the EXACT session_window plan from "
    "streaming.metrics.session_metrics run in batch mode (session_window "
    "is batch-capable; the watermark is a no-op), so the driver's hash "
    "check covers the streaming operator's session-merge arithmetic. "
    "Oracle is gaps-and-islands with Spark's merge rule: a new session "
    "starts when the gap is >= 30 min (windows are half-open)",
    tags=("window", "sessionization", "streaming-twin"),
)
def q_session_metrics_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.metrics import session_metrics  # noqa: PLC0415

    return session_metrics(load_table(spark, sf_dir, "events"))


@register(
    "running_totals_batch",
    """
SELECT user_id, event_id, ts,
       CAST(count(*) OVER w AS BIGINT) AS n_events,
       CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,6))) OVER w AS DOUBLE)
         AS total_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    doc="ST7 per-user running (event count, value sum) as a window "
    "cumsum: coalesce-to-0 sum arithmetic with exact DECIMAL "
    "accumulation, so the driver's hash check covers the math a "
    "cross-batch stateful total would carry; the final row per user is "
    "the converged total",
    tags=("window", "cumsum", "streaming-twin"),
)
def q_running_totals_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.count("*").over(w).alias("n_events"),
        F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("total_value"),
    )


@register(
    "tail_events",
    """
SELECT event_id, ts, user_id, event_type, value FROM events
ORDER BY ts DESC, event_id DESC LIMIT 20
""",
    doc="W2 — tail-k: last 20 events (admin_lambda.py:179-185)",
    tags=("sort", "limit"),
)
def q_tail_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.tail_events(load_table(spark, sf_dir, "events"), k=20)


# ---------------------------------------------------------------------------
# Envelope codec round-trip (S8/S9/P10, F4/F5/F8)
# ---------------------------------------------------------------------------

_ENVELOPE_ORACLE = with_domain(
    """
, idx AS (
  SELECT title_id,
         CAST(count(DISTINCT source_id) AS INTEGER) AS n_sources,
         CAST(count(DISTINCT genre_id) AS INTEGER) AS n_genres
  FROM title_index GROUP BY title_id
)
SELECT t.title_id AS id, t.title,
       CAST(t.year AS INTEGER) AS year,
       'tt' || CAST(t.title_id AS VARCHAR) AS imdb_id,
       t.title_id * 2 AS tmdb_id,
       CASE WHEN t.type = 'movie' THEN 'movie' ELSE 'tv' END AS tmdb_type,
       t.type,
       i.n_sources, i.n_genres,
       TIMESTAMP '2025-07-04 16:02:51' AS publish_timestamp,
       'scheduled_user_prefs_ingestion' AS publish_cause
FROM titles t JOIN idx i ON t.title_id = i.title_id
"""
)


@register(
    "envelope_roundtrip",
    _ENVELOPE_ORACLE,
    doc="S8→S9 — producer envelope (JSON+base64, ingestion.py:157-167) decoded "
    "back by the consumer codec (consumer.py:37-53); identity ⇒ oracle is the "
    "plain projection",
    tags=("codec", "json", "base64"),
)
def q_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = derive_domain(spark, sf_dir)
    arrays = TI.arrays_from_index(d["title_index"])
    payload = d["titles"].join(arrays, "title_id").select(
        F.col("title_id").alias("id"),
        "title",
        F.col("year").cast("int").alias("year"),
        F.concat(F.lit("tt"), F.col("title_id").cast("string")).alias("imdb_id"),
        (F.col("title_id") * 2).alias("tmdb_id"),
        F.when(F.col("type") == "movie", F.lit("movie")).otherwise(F.lit("tv")).alias("tmdb_type"),
        "type",
        "source_ids",
        "genre_ids",
        F.lit("2025-07-04 16:02:51").cast("timestamp").alias("publish_ts"),
    )
    # r12: JSON+base64 encode/decode is CPU work per row; fan out when
    # the underlying scan is one unsplittable file (scale-adaptive
    # no-op otherwise — operators/fanout.py)
    from tv_event_streaming_spark.operators.fanout import (  # noqa: PLC0415
        fan_out_scan,
    )

    wire = EV.encode_envelope(
        fan_out_scan(payload, "id"), EV.PAYLOAD_COLS, "publish_ts"
    )
    decoded = EV.decode_envelope(wire)
    return decoded.select(
        "id", "title", "year", "imdb_id", "tmdb_id", "tmdb_type", "type",
        F.size("source_ids").alias("n_sources"),
        F.size("genre_ids").alias("n_genres"),
        F.col("publish_timestamp"),
        F.col("publish_cause"),
    )


# ---------------------------------------------------------------------------
# Scalar-function surface (F1-F15)
# ---------------------------------------------------------------------------

@register(
    "scalar_functions",
    """
SELECT event_id,
       'event:' || CAST(event_id AS VARCHAR) AS pk,
       CAST(split_part('event:' || CAST(event_id AS VARCHAR), ':', 2) AS BIGINT) AS parsed_id,
       starts_with(event_type, 'e') AS starts_e,
       upper(event_type) = 'ERROR' AS is_error,
       COALESCE(NULLIF(event_type, 'error'), 'N/A') AS et_default,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_iso,
       ts + INTERVAL 1 HOUR AS ts_plus_1h,
       COALESCE(CAST(value AS DOUBLE), 0.0) AS value_d
FROM events
""",
    doc="F1/F2/F3/F5/F7/F8/F9/F13/F14 — key build/parse, prefix predicates, "
    "JSON extraction, ISO formatting, interval arithmetic, coalesce defaults "
    "(SURVEY.md §2.7)",
    tags=("scalar",),
)
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pk = F.concat(F.lit("event:"), F.col("event_id").cast("string"))
    return ev.select(
        "event_id",
        pk.alias("pk"),
        F.split(pk, ":").getItem(1).cast("long").alias("parsed_id"),
        F.col("event_type").startswith("e").alias("starts_e"),
        (F.upper("event_type") == "ERROR").alias("is_error"),
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("N/A")).alias("et_default"),
        # get_json_object (single-path extraction): measured A/B in fresh
        # sessions at sf0.1 — warm 0.38s vs from_json's 0.47s, cold 2.2s
        # vs 2.5s. The 9-37s get_json_object cold cliff seen in round 2
        # was a filled-code-cache artifact of long many-query sessions;
        # the session factory's ReservedCodeCacheSize=1g removed it, so
        # the faster steady-state path wins again. Same NULL-on-malformed semantics as the oracle's
        # json_extract_string.
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_iso"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts_plus_1h"),
        F.coalesce(F.col("value").cast("double"), F.lit(0.0)).alias("value_d"),
    )


@register(
    "events_asof_order",
    """
WITH l0 AS (
  SELECT user_id AS _k, ts AS _t, 1 AS _side,
         event_id, user_id, ts,
         CAST(NULL AS BIGINT) AS o_orderkey,
         CAST(NULL AS DOUBLE) AS o_totalprice,
         CAST(NULL AS TIMESTAMP) AS o_orderdate
  FROM events
),
r0 AS (
  SELECT o_custkey AS _k, o_orderdate AS _t, 0 AS _side,
         CAST(NULL AS BIGINT) AS event_id,
         CAST(NULL AS BIGINT) AS user_id,
         CAST(NULL AS TIMESTAMP) AS ts,
         o_orderkey, o_totalprice, o_orderdate
  FROM orders
),
u AS (SELECT * FROM l0 UNION ALL SELECT * FROM r0),
f AS (
  SELECT _side, event_id, user_id, ts,
         last_value(o_orderkey IGNORE NULLS) OVER w AS o_orderkey,
         last_value(o_totalprice IGNORE NULLS) OVER w AS o_totalprice,
         last_value(o_orderdate IGNORE NULLS) OVER w AS o_orderdate
  FROM u
  WINDOW w AS (PARTITION BY _k
               ORDER BY _t ASC NULLS FIRST, _side ASC NULLS FIRST,
                        o_orderkey ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, o_orderkey, o_totalprice, o_orderdate
FROM f WHERE _side = 1
""",
    doc="Backward as-of join — each event attaches the user's most "
    "recent order at/before event time (NULLs when none): union + "
    "running last_value(ignore nulls), ONE shuffle, no inequality join; "
    "the oracle mirrors the identical construction (operators/temporal.py)",
    tags=("asof", "window", "join"),
)
def q_events_asof_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import temporal as TP  # noqa: PLC0415

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    return TP.asof_join_backward(
        ev,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["o_orderkey", "o_totalprice", "o_orderdate"],
        tiebreak="o_orderkey",
    )


@register(
    "events_error_context",
    """
WITH err AS (
  SELECT event_id AS err_id, user_id, ts AS err_ts
  FROM events WHERE event_type = 'error'
)
SELECT err_id, err.user_id AS user_id, err_ts,
       CAST(count(*) AS BIGINT) AS n_prior,
       CAST(SUM(CAST(FLOOR(e.value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_micros
FROM err JOIN events e
  ON e.user_id = err.user_id
 AND e.ts > err.err_ts - INTERVAL 1 HOUR
 AND e.ts <= err.err_ts
 AND e.event_id <> err.err_id
GROUP BY err_id, err.user_id, err_ts
""",
    doc="Bounded range join — per error event, count + exact-int value "
    "sum of the same user's events in the preceding hour. Spark side "
    "uses the interval-bucket equi-join (each row lands in ≤2 buckets; "
    "no nested-loop inequality join); oracle is the plain range join "
    "(DuckDB IEJoin)",
    tags=("range-join", "agg"),
)
def q_events_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import temporal as TP  # noqa: PLC0415

    ev = load_table(spark, sf_dir, "events")
    errs = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id", F.col("ts").alias("err_ts")
    )
    src = ev.select(
        F.col("event_id").alias("src_id"),
        F.col("user_id").alias("src_user"),
        F.col("ts").alias("src_ts"),
        "value",
    )
    pairs = TP.range_join_bucketed(
        errs,
        src,
        left_key="user_id",
        right_key="src_user",
        left_ts="err_ts",
        right_ts="src_ts",
        window_seconds=3600,
    )
    return (
        pairs.filter(F.col("src_id") != F.col("err_id"))
        .groupBy("err_id", "user_id", "err_ts")
        .agg(
            F.count("*").alias("n_prior"),
            F.sum(F.floor(F.col("value") * 1000000).cast("bigint"))
            .cast("bigint")
            .alias("sum_value_micros"),
        )
    )


@register(
    "funnel_stages",
    """
WITH v AS (
  SELECT user_id, min(ts) AS view_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS click_ts
  FROM events e JOIN v ON v.user_id = e.user_id AND e.ts >= v.view_ts
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS purchase_ts
  FROM events e JOIN c ON c.user_id = e.user_id AND e.ts >= c.click_ts
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
       CAST(1 + CASE WHEN c.click_ts IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN p.purchase_ts IS NOT NULL THEN 1 ELSE 0 END
            AS INTEGER) AS stages_completed
FROM v
LEFT JOIN c ON c.user_id = v.user_id
LEFT JOIN p ON p.user_id = v.user_id
""",
    doc="Ordered conversion funnel per user (first view → first click at/"
    "after it → first purchase at/after that): one small keyed "
    "aggregation per step, co-partitioned joins, no full-stream windows",
    tags=("funnel", "agg", "join"),
)
def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.funnel_stages(load_table(spark, sf_dir, "events"))


@register(
    "value_percentiles",
    """
WITH o AS (
  SELECT event_type, value, event_id,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
)
SELECT event_type,
       max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS p50,
       max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS p90,
       max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99,
       CAST(max(n) AS BIGINT) AS n_values
FROM o GROUP BY event_type
""",
    doc="Exact discrete percentiles per event_type (rank construction — "
    "integer index selection, engine-identical doubles); the 100 TB "
    "single-group form is approx_percentile, kept oracle-free by design",
    tags=("window", "agg"),
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.value_percentiles(load_table(spark, sf_dir, "events"))


@register(
    "admin_jobs",
    """
SELECT c_custkey,
       concat(substring(md5(CAST(c_custkey AS VARCHAR)), 1, 8), '-',
              substring(md5(CAST(c_custkey AS VARCHAR)), 9, 4), '-',
              '4' || substring(md5(CAST(c_custkey AS VARCHAR)), 14, 3), '-',
              '8' || substring(md5(CAST(c_custkey AS VARCHAR)), 18, 3), '-',
              substring(md5(CAST(c_custkey AS VARCHAR)), 21, 12)) AS job_id,
       CASE WHEN length('arn:aws:lambda:eu-west-1:123456789012:function:ingest-'
                        || CAST(c_custkey AS VARCHAR)) <= 4 THEN '***'
            ELSE '***' || right('arn:aws:lambda:eu-west-1:123456789012:function:ingest-'
                                || CAST(c_custkey AS VARCHAR), 4)
       END AS masked_arn,
       CASE WHEN c_name IS NULL OR length(c_name) <= 4 THEN '***'
            ELSE substring(c_name, 1, 2) || '***' || right(c_name, 2)
       END AS masked_user
FROM customer
""",
    doc="F10/F11 — admin job ids (uuid4-shaped, deterministic md5 form for "
    "the oracle; production form is F.uuid() — admin_lambda.py:53) plus "
    "ARN masking (reference.py:13-17) and username masking "
    "(add_cognito_user.py:9-17)",
    tags=("scalar", "admin"),
)
def q_admin_jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import admin as AD  # noqa: PLC0415

    cust = load_table(spark, sf_dir, "customer")
    arn = F.concat(
        F.lit("arn:aws:lambda:eu-west-1:123456789012:function:ingest-"),
        F.col("c_custkey").cast("string"),
    )
    return cust.select(
        "c_custkey",
        AD.deterministic_job_id(F.col("c_custkey")).alias("job_id"),
        AD.mask_arn(arn).alias("masked_arn"),
        AD.mask_username(F.col("c_name")).alias("masked_user"),
    )


@register(
    "ref_data_validity",
    with_domain(
        """
SELECT id, name FROM (
  SELECT CASE WHEN CAST(source_id AS BIGINT) % 11 = 0 THEN NULL ELSE source_id END AS id,
         CASE WHEN CAST(source_id AS BIGINT) % 7 = 0 THEN NULL ELSE name END AS name
  FROM sources
) WHERE id IS NOT NULL AND name IS NOT NULL
"""
    ),
    doc="P11 — ref-data ingestion validity filter (reference.py:135-137): "
    "records missing id or name are dropped before the write; exercised "
    "over a deterministically-dirtied sources dim",
    tags=("filter", "ingestion"),
)
def q_ref_data_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..domain import valid_ref_data  # noqa: PLC0415

    src = derive_domain(spark, sf_dir)["sources"]
    dirtied = src.select(
        F.when(F.col("source_id").cast("long") % 11 == 0, F.lit(None))
        .otherwise(F.col("source_id"))
        .alias("id"),
        F.when(F.col("source_id").cast("long") % 7 == 0, F.lit(None))
        .otherwise(F.col("name"))
        .alias("name"),
    )
    return valid_ref_data(dirtied, "id", "name")


@register(
    "user_retention",
    """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
marked AS (
  SELECT day,
         CASE WHEN day - lag(day) OVER (PARTITION BY user_id ORDER BY day) = 1
              THEN 1 ELSE 0 END AS retained
  FROM days
)
SELECT CAST(day AS TIMESTAMP) AS day, CAST(count(*) AS BIGINT) AS n_active,
       CAST(sum(retained) AS BIGINT) AS n_retained,
       CAST(sum(retained) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS retention_rate
FROM marked GROUP BY day
""",
    doc="Day-over-day cohort retention: distinct (user, day) collapses "
    "map-side, lag() marks retained days per user, one date-sized final "
    "agg; rate = exact integer counts through one double division "
    "(operators/analytics.py:daily_retention)",
    tags=("window", "agg", "analytics"),
)
def q_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.daily_retention(load_table(spark, sf_dir, "events"))


def _zvalue_sql(d1: str, d2: str, bits: int = 10) -> str:
    """SQL twin of layout.zvalue — the identical unrolled bit interleave."""
    terms = []
    for i in range(bits):
        terms.append(f"((({d1} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({d2} >> {i}) & 1) << {2 * i})")
    return "(" + " + ".join(terms) + ")"


@register(
    "zorder_stats",
    f"""
WITH dims AS (
  SELECT user_id % 1024 AS d1,
         CAST(hour(ts) * 60 + minute(ts) AS BIGINT) % 1024 AS d2
  FROM events
),
z AS (
  SELECT d1, d2, {_zvalue_sql('d1', 'd2')} >> 14 AS zbucket FROM dims
)
SELECT zbucket, CAST(count(*) AS BIGINT) AS n_rows,
       min(d1) AS min_d1, max(d1) AS max_d1,
       min(d2) AS min_d2, max(d2) AS max_d2
FROM z GROUP BY zbucket
""",
    doc="Z-order (Morton) clustering stats for 2-D data skipping — the "
    "OPTIMIZE ZORDER story: per leading-6-bit z-range (= one file under "
    "a z-sorted write), the min/max box of (user bucket, minute-of-day) "
    "that footer-stat pruning would skip on; predicates on EITHER "
    "dimension prune most ranges, where a single-column sort prunes one "
    "dimension only. Pure unrolled bit math in whole-stage codegen, one "
    "64-group agg (operators/layout.py:zvalue, zorder_stats; locality "
    "asserted in tests/test_layout.py)",
    tags=("layout", "agg"),
)
def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # import the FUNCTION, not the module: a module alias degrades the
    # evidence fingerprint to layout.py's whole file (evidence.py
    # fallback), coupling this entry to every future layout edit
    from ..operators.layout import zorder_stats  # noqa: PLC0415

    return zorder_stats(load_table(spark, sf_dir, "events"))


@register(
    "rolling_event_value",
    """
SELECT event_id, user_id, ts,
       CAST(count(*) OVER w AS BIGINT) AS n_trailing,
       CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,6))) OVER w AS DOUBLE) AS value_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
    doc="Per-event trailing-60min count/value-sum per user — the RANGE "
    "window frame (value bounds on exact integer microseconds), the one "
    "window shape the catalog didn't exercise; continuous twin of A6's "
    "hourly buckets (operators/analytics.py:rolling_event_window)",
    tags=("window", "time-window"),
)
def q_rolling_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.rolling_event_window(load_table(spark, sf_dir, "events"))


@register(
    "daily_event_pivot",
    """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
FROM events GROUP BY day
""",
    doc="Daily activity matrix via pivot (long->wide) with an EXPLICIT "
    "value list — deterministic schema, one PivotFirst groupBy pass, no "
    "per-type scans (operators/analytics.py:daily_event_pivot)",
    tags=("agg", "pivot"),
)
def q_daily_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.daily_event_pivot(load_table(spark, sf_dir, "events"))


@register(
    "daily_event_unpivot",
    """
WITH d AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events),
t AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
c AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY day, event_type
)
SELECT d.day, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM d CROSS JOIN t
LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
""",
    doc="The inverse unpivot/melt (wide->long): the daily matrix back to "
    "dense (day, type, n) rows including zero cells — Spark's Expand "
    "node, map-side over the aggregated wide frame "
    "(operators/analytics.py:daily_event_unpivot)",
    tags=("agg", "unpivot"),
)
def q_daily_event_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.daily_event_unpivot(load_table(spark, sf_dir, "events"))


@register(
    "sliding_metrics_batch",
    """
WITH ex AS (
  SELECT make_timestamp((epoch_us(ts) // 900000000 - i) * 900000000) AS window_start,
         event_type
  FROM events, (SELECT unnest(range(4)) AS i)
)
SELECT window_start,
       window_start + INTERVAL 60 MINUTE AS window_end,
       event_type,
       CAST(count(*) AS BIGINT) AS invocations,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
       GREATEST(0, CAST(count(*) AS BIGINT)
                   - CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)) AS successes
FROM ex GROUP BY window_start, event_type
""",
    doc="ST6 third window shape, batch twin — the EXACT sliding-window "
    "plan from streaming.metrics.sliding_metrics (60min window, 15min "
    "slide; epoch-aligned starts) run in batch mode, so the driver "
    "hash-checks the streaming operator's window-assignment arithmetic. "
    "Oracle enumerates each event's 4 overlapping windows by integer "
    "epoch-microsecond math — exactly Spark's Expand-node assignment "
    "(streaming/metrics.py:sliding_metrics)",
    tags=("window", "time-window", "streaming-twin"),
)
def q_sliding_metrics_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.metrics import sliding_metrics  # noqa: PLC0415

    return sliding_metrics(load_table(spark, sf_dir, "events"))


@register(
    "user_value_deciles",
    """
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS total_value
  FROM events GROUP BY user_id
),
tiled AS (
  SELECT user_id, total_value,
         ntile(10) OVER (ORDER BY total_value DESC, user_id) AS decile
  FROM per_user
)
SELECT CAST(decile AS INTEGER) AS decile,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(SUM(CAST(total_value AS DECIMAL(18,6))) AS DOUBLE) AS decile_value,
       min(total_value) AS min_value,
       max(total_value) AS max_value
FROM tiled GROUP BY decile
""",
    doc="Whale-curve segmentation: users bucketed into spend deciles via "
    "ntile(10) (the remaining window function family — equal-count "
    "buckets with the remainder to the first buckets, deterministic "
    "under the unique tie-break), then per-decile value mass. The "
    "ntile window is global by construction (a decile IS a global "
    "rank statement) but runs on the user-level AGGREGATE (one row "
    "per user, after a map-side-collapsing groupBy) — never on raw "
    "events; at 100 TB the per-user frame is the small output of the "
    "one real shuffle",
    tags=("window", "agg", "analytics"),
)
def q_user_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value")
        )
    )
    w = Window.orderBy(F.desc("total_value"), "user_id")
    tiled = per_user.withColumn("decile", F.ntile(10).over(w))
    return tiled.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.col("total_value").cast("decimal(18,6)"))
        .cast("double")
        .alias("decile_value"),
        F.min("total_value").alias("min_value"),
        F.max("total_value").alias("max_value"),
    ).select(
        F.col("decile").cast("int").alias("decile"),
        "n_users",
        "decile_value",
        "min_value",
        "max_value",
    )


@register(
    "error_bursts_batch",
    """
WITH err AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'
),
numbered AS (
  SELECT user_id, ts,
         SUM(CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 259200000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS burst_id
  FROM (
    SELECT user_id, ts, event_id,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM err
  )
)
SELECT user_id, min(ts) AS burst_start, max(ts) AS burst_end,
       CAST(count(*) AS BIGINT) AS n_errors
FROM numbered GROUP BY user_id, burst_id
HAVING count(*) >= 3
""",
    doc="CEP, driver-hashed: error bursts = maximal runs of a user's "
    "error events with gaps <= 72h, kept at >= 3 errors, as "
    "gaps-and-islands over the error subset (one user_id shuffle; "
    "the event_type filter is pushed to the scan)",
    tags=("window", "sessionization", "streaming-twin", "cep"),
)
def q_error_bursts_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.metrics import error_bursts_batch  # noqa: PLC0415

    return error_bursts_batch(
        load_table(spark, sf_dir, "events"), gap_minutes=4320, min_count=3
    )
