"""The flagship read path: preferences → titles.

Reference: ``GET /titles`` / ``GET /recommendations``
(src/web_api/web_api.py:147-235). The reference runs a nested loop —
sources×genres per user, one DynamoDB index query per pair, then a
chunked BatchGetItem — SURVEY.md §3.1. Here the whole lifecycle is ONE
declarative plan Catalyst can fuse:

    title_index ⋈ b(source prefs) on source_id
        ⋈ b(genre prefs) on (user_id, genre_id)
        → distinct (user_id, title_id)
    enriched titles (P6) ⋈ b(that set) → API projection (P9)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def enriched_filter(titles: DataFrame) -> DataFrame:
    """P6 — drop titles missing poster or plot_overview (empty or absent)
    (web_api.py:203-207)."""
    return titles.filter(
        F.col("poster").isNotNull()
        & (F.col("poster") != "")
        & F.col("plot_overview").isNotNull()
        & (F.col("plot_overview") != "")
    )


def api_projection(df: DataFrame, extra: list[str] | None = None) -> DataFrame:
    """P9 — the /titles response shape (web_api.py:209-218): id, title,
    plot_overview, poster, user_rating as double."""
    cols = [
        F.col("title_id"),
        F.coalesce(F.col("title"), F.lit("Unknown Title")).alias("title"),
        F.col("plot_overview"),
        F.col("poster"),
        F.coalesce(F.col("user_rating").cast("double"), F.lit(0.0)).alias("user_rating"),
    ]
    return df.select(*[F.col(c) for c in (extra or [])], *cols)


def titles_for_users(
    user_prefs: DataFrame,
    title_index: DataFrame,
    titles: DataFrame,
    user_filter: Column | None = None,
) -> DataFrame:
    """J1 — the flagship semi-join, for one user or a few users.

    Scale: the point-query shape. The selected users' source and genre
    prefs are broadcast side by side against the index, so the index
    never shuffles and neither broadcast waits on the other; the
    per-user ``(user_id, title_id)`` set is broadcast onto the enriched
    titles scan, so no hash table of all titles is built. The one
    shuffle is the distinct on that output key.
    """
    prefs = user_prefs.filter(user_filter) if user_filter is not None else user_prefs
    ps = prefs.filter(F.col("kind") == "source").select(
        "user_id", F.col("pref_id").alias("source_id")
    )
    pg = prefs.filter(F.col("kind") == "genre").select(
        "user_id", F.col("pref_id").alias("genre_id")
    )
    title_ids = (
        title_index.join(F.broadcast(ps), "source_id")
        .join(F.broadcast(pg), ["user_id", "genre_id"])
        .select("user_id", "title_id")
        .distinct()
    )
    return api_projection(
        enriched_filter(titles).join(F.broadcast(title_ids), "title_id"),
        extra=["user_id"],
    )


def recommendations_for_users(
    user_prefs: DataFrame,
    title_index: DataFrame,
    titles: DataFrame,
    user_filter: Column | None = None,
    min_rating: float = 7.0,
) -> DataFrame:
    """P5 — /recommendations = /titles + strict ``user_rating > 7``
    (web_api.py:229-235; NULL/0 excluded by the strict comparison)."""
    out = titles_for_users(user_prefs, title_index, titles, user_filter)
    return out.filter(F.col("user_rating") > min_rating)


def index_from_arrays(titles_with_arrays: DataFrame) -> DataFrame:
    """J2 — build the inverted index from per-title source_ids/genre_ids
    arrays: two explodes = the reference's nested put-loop
    (consumer.py:79-89). Map-side until the final distinct."""
    return (
        titles_with_arrays.select(
            F.col("title_id"), F.explode("source_ids").alias("source_id"), "genre_ids"
        )
        .select("title_id", "source_id", F.explode("genre_ids").alias("genre_id"))
        .select("source_id", "genre_id", "title_id")
        .distinct()
    )


def arrays_from_index(title_index: DataFrame) -> DataFrame:
    """Inverse of :func:`index_from_arrays` — per-title sorted id arrays
    (the ``source_ids``/``genre_ids`` payload fields, ingestion.py:153-155)."""
    return title_index.groupBy("title_id").agg(
        F.sort_array(F.collect_set("source_id")).alias("source_ids"),
        F.sort_array(F.collect_set("genre_id")).alias("genre_ids"),
    )


def titles_by_ids(titles: DataFrame, ids: DataFrame) -> DataFrame:
    """S5 — point-get batch: fetch canonical title records for an id list
    (web_api.py:177-192, BatchGetItem chunked by 100). The id list is
    tiny by construction (one user's result set) → broadcast left-semi
    join; the titles table never shuffles and absent ids drop out exactly
    like DynamoDB's UnprocessedKeys-free response. A semi join emits each
    title at most once however often its id repeats, so the id list is
    not deduplicated first. Chunking is obsolete.
    """
    return titles.join(F.broadcast(ids.select("title_id")), "title_id", "left_semi")


def display_names(
    titles: DataFrame,
    title_index: DataFrame,
    sources: DataFrame,
    genres: DataFrame,
) -> DataFrame:
    """J4 — id→name display join (mainView.js:211-212): resolve each
    title's source/genre id sets to sorted, comma-joined display names.

    Both dims broadcast onto the index in one pass (they stay dim-sized
    at any scale), then ONE groupBy(title_id) collects both name sets —
    collect_set dedupes the cross-product repetition, so this is exactly
    the two-aggregation form at half the shuffle cost.
    """
    joined = title_index.join(
        F.broadcast(sources.select("source_id", F.col("name").alias("_sname"))),
        "source_id",
    ).join(
        F.broadcast(genres.select("genre_id", F.col("name").alias("_gname"))),
        "genre_id",
    )
    agg = joined.groupBy("title_id").agg(
        F.array_join(F.sort_array(F.collect_set("_sname")), ",").alias("source_names"),
        F.array_join(F.sort_array(F.collect_set("_gname")), ",").alias("genre_names"),
    )
    return titles.select("title_id", "title").join(agg, "title_id")


def titles_by_overlap(
    titles_with_arrays: DataFrame,
    user_sources: list[str],
    user_genres: list[str],
) -> DataFrame:
    """J1 alternative form — skip the materialized index entirely:
    ``arrays_overlap`` on the payload arrays is semantically identical
    because the index is built from exactly those arrays (SURVEY.md J1).
    Useful when the index isn't materialized; scans titles once with the
    predicate pushed into the scan."""
    return titles_with_arrays.filter(
        F.arrays_overlap(F.col("source_ids"), F.array([F.lit(s) for s in user_sources]))
        & F.arrays_overlap(F.col("genre_ids"), F.array([F.lit(g) for g in user_genres]))
    )
