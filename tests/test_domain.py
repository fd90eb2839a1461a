"""The DataFrame domain derivations and their SQL twins (DOMAIN_CTES)
must stay row-for-row identical — every oracle depends on it."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tv_event_streaming_spark import domain
from tv_event_streaming_spark.domain import TABLES, derive_domain, with_domain

from .conftest import SF_SMOKE
from .oracle import canonicalize, duck_connection

DERIVED = ["sources", "genres", "titles", "title_index", "user_prefs", "details"]


@pytest.mark.parametrize("name", DERIVED)
def test_derivation_lockstep(spark, sf_dir, name):
    d = derive_domain(spark, sf_dir)
    spark_pdf = d[name].toPandas()
    con = duck_connection(sf_dir)
    try:
        duck_pdf = con.execute(with_domain(f"SELECT * FROM {name}")).fetchdf()
    finally:
        con.close()
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
    assert canonicalize(spark_pdf) == canonicalize(duck_pdf), f"{name} diverged"


def test_pivot_value_list_matches_data(spark, sf_dir):
    """daily_event_pivot pins an EXPLICIT pivot value list; if the
    generated testdata ever grows a new event type, the pivot would
    silently drop it into no column — fail loudly here instead."""
    from tv_event_streaming_spark.domain import load_table
    from tv_event_streaming_spark.operators.analytics import EVENT_TYPES

    types = {
        r.event_type
        for r in load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .collect()
    }
    assert types == set(EVENT_TYPES), types


def test_derive_domain_submits_no_jobs(spark, sf_dir, tmp_path):
    """Schemas and dim counts come from parquet footers, so deriving the
    domain of a directory the session has never read submits no job
    (Spark's schema inference and the two dim count()s ran 14)."""
    fresh = str(tmp_path / "sf")
    shutil.copytree(sf_dir, fresh)
    sc = spark.sparkContext
    group = "pin-derive-domain"
    sc.setJobGroup(group, group)
    try:
        d = derive_domain(spark, fresh)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert d["user_prefs"].count() == derive_domain(spark, sf_dir)["user_prefs"].count()


@pytest.mark.parametrize("name", TABLES)
def test_footer_read_schema_equals_inferred(spark, sf_dir, monkeypatch, name):
    """The footer schema is the one Spark infers, and the frame
    ``load_tables`` builds from it (timestamp normalization included)
    has the schema of ``load_table``'s, whose schema Spark infers."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    assert domain.footer_schema(path) == spark.read.parquet(path).schema
    monkeypatch.setattr(domain, "_TABLE_CACHE", {})
    footer = domain.load_tables(spark, sf_dir)[name].schema
    monkeypatch.setattr(domain, "_TABLE_CACHE", {})
    assert footer == domain.load_table(spark, sf_dir, name).schema


@pytest.mark.parametrize("int96", [False, True], ids=["int64", "int96"])
def test_footer_schema_timestamps_and_arrays(spark, tmp_path, int96):
    """TIMESTAMP(NANOS) reads as raw longs (``nanosAsLong``), UTC-adjusted
    micros as ``timestamp``, naive micros as ``timestamp_ntz``, INT96 as
    ``timestamp``; lists of floats as arrays. Schema and rows equal what
    Spark's own inference reads."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.table(
            {
                "ns": pa.array([1_500_000_000_123_456_789, None], pa.timestamp("ns")),
                "us_tz": pa.array([1_500_000_000_123_456, 7], pa.timestamp("us", tz="UTC")),
                "us": pa.array([None, 1_500_000_000_123_456], pa.timestamp("us")),
                "v": pa.array([[1.5, None], []], pa.list_(pa.float32())),
                "s": pa.array(["a", None], pa.large_string()),
            }
        ),
        path,
        use_deprecated_int96_timestamps=int96,
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    inferred = spark.read.parquet(path)
    schema = domain.footer_schema(path)
    assert schema == inferred.schema
    got = spark.read.schema(schema).parquet(path)
    assert sorted(map(repr, got.collect())) == sorted(map(repr, inferred.collect()))


def test_footer_schema_defers_unmapped_types(tmp_path):
    """A footer type the mapping does not cover leaves inference to Spark."""
    path = str(tmp_path / "u.parquet")
    pq.write_table(pa.table({"u": pa.array([1], pa.uint32())}), path)
    assert domain.footer_schema(path) is None


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
@pytest.mark.parametrize("table,key", [("part", "p_partkey"), ("customer", "c_custkey")])
def test_derivation_keys_are_primary_keys(sf, table, key):
    """``title_index`` and ``user_prefs`` deduplicate per source row,
    which equals the SQL twin's DISTINCT only while ``p_partkey`` and
    ``c_custkey`` are unique and non-null in every testdata scale."""
    col = pq.read_table(
        os.path.join(os.path.dirname(SF_SMOKE), sf, f"{table}.parquet"), columns=[key]
    ).column(key)
    assert col.null_count == 0
    assert len(col.unique()) == len(col) > 0
