"""Flagship-query edge semantics the reference's UI suite asserts
(tests/ui/specs/titles.spec.ts): empty-state on nonexistent pref ids
(:68-108), the strict rating>7 recommendation rule (:410-443), and the
enriched-only display filter (web_api.py:203-207)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tv_event_streaming_spark.domain import derive_domain
from tv_event_streaming_spark.operators.titles import (
    recommendations_for_users,
    titles_by_ids,
    titles_for_users,
)
from tv_event_streaming_spark.schemas import USER_PREF_SCHEMA


def test_nonexistent_pref_ids_give_empty_result(spark, sf_dir):
    d = derive_domain(spark, sf_dir)
    ghost = spark.createDataFrame(
        [("u", "source", "no-such-source"), ("u", "genre", "no-such-genre")],
        USER_PREF_SCHEMA,
    )
    out = titles_for_users(ghost, d["title_index"], d["titles"])
    assert out.count() == 0


def test_user_with_no_prefs_gives_empty_result(spark, sf_dir):
    d = derive_domain(spark, sf_dir)
    out = titles_for_users(
        d["user_prefs"], d["title_index"], d["titles"],
        user_filter=F.lit(False),
    )
    assert out.count() == 0  # the reference's early-exit (web_api.py:154-156)


def test_recommendation_rating_strictly_above_7(spark, sf_dir):
    d = derive_domain(spark, sf_dir)
    recs = recommendations_for_users(
        d["user_prefs"], d["title_index"], d["titles"],
        user_filter=F.col("user_id").cast("long") <= 20,
    )
    ratings = [r.user_rating for r in recs.select("user_rating").distinct().collect()]
    assert ratings, "no recommendations at all — fixture broken"
    assert all(r > 7 for r in ratings)
    # titles rated exactly 7.0 exist in the domain and must be excluded
    assert d["titles"].filter(F.col("user_rating") == 7.0).count() > 0


def test_unenriched_titles_never_served(spark, sf_dir):
    d = derive_domain(spark, sf_dir)
    served = titles_for_users(
        d["user_prefs"], d["title_index"], d["titles"],
        user_filter=F.col("user_id").cast("long") <= 20,
    )
    bad = served.filter(
        F.col("poster").isNull()
        | (F.col("poster") == "")
        | F.col("plot_overview").isNull()
        | (F.col("plot_overview") == "")
    )
    assert bad.count() == 0
    # and the domain does contain unenriched titles, so the filter is live
    unenriched = d["titles"].filter(
        F.col("poster").isNull() | (F.col("poster") == "")
    )
    assert unenriched.count() > 0


def test_repeated_pairs_give_each_title_once(spark, sf_dir):
    """A user whose source prefs collide (one listed twice) and whose
    two sources and two genres all link to the same title reaches that
    title through repeated index pairs; it is still served once, and
    the result is exactly the enriched titles of the user's pairs."""
    d = derive_domain(spark, sf_dir)
    index = [tuple(r) for r in d["title_index"].collect()]
    links: dict[int, set] = {}
    for s, g, t in index:
        links.setdefault(t, set()).add((s, g))
    tid = next(t for t, p in sorted(links.items()) if len(p) == 4 and t % 7 > 1 and t % 11)
    srcs = sorted({s for s, _ in links[tid]})
    gens = sorted({g for _, g in links[tid]})
    prefs = spark.createDataFrame(
        [("u", "source", s) for s in [*srcs, srcs[0]]]
        + [("u", "genre", g) for g in gens],
        USER_PREF_SCHEMA,
    )
    got = [r.title_id for r in titles_for_users(prefs, d["title_index"], d["titles"]).collect()]
    enriched = {
        r.title_id
        for r in d["titles"].filter(
            (F.col("poster") != "") & (F.col("plot_overview") != "")
        ).collect()
    }
    want = {t for s, g, t in index if s in srcs and g in gens} & enriched
    assert tid in want
    assert sorted(got) == sorted(want)


def test_titles_by_ids_returns_each_present_title_once(spark, sf_dir):
    """A repeated id yields its title once and an absent id yields
    nothing (BatchGetItem semantics, web_api.py:177-192)."""
    d = derive_domain(spark, sf_dir)
    ids = spark.createDataFrame([(3,), (5,), (3,), (3,), (-1,)], "title_id long")
    got = sorted(r.title_id for r in titles_by_ids(d["titles"], ids).collect())
    assert got == [3, 5]
