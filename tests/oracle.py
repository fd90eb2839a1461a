"""Local replica of the driver's DuckDB-oracle comparison.

Runs a catalog entry's Spark plan and its SQL oracle over the same
parquet tables, canonicalizes both results (columns sorted by name, rows
sorted, timestamps normalized), and compares values.
"""

from __future__ import annotations

import math
from datetime import datetime

import duckdb
import pandas as pd

from tv_event_streaming_spark.domain import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_value(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (datetime, pd.Timestamp)):
        return pd.Timestamp(v).tz_localize(None).isoformat() if pd.Timestamp(v).tzinfo else pd.Timestamp(v).isoformat()
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def canonicalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_value(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows)


def compare_entry(spark, entry, sf_dir: str) -> tuple[bool, str]:
    spark_pdf = entry.build(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        duck_pdf = con.execute(entry.oracle).fetchdf()
    finally:
        con.close()
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return False, f"columns differ: {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return False, f"row counts differ: spark={len(spark_pdf)} duck={len(duck_pdf)}"
    a, b = canonicalize(spark_pdf), canonicalize(duck_pdf)
    if a != b:
        diff = [f"  spark={x}\n  duck ={y}" for x, y in zip(a, b) if x != y][:5]
        return False, "value mismatch (first diffs):\n" + "\n".join(diff)
    return True, f"ok ({len(spark_pdf)} rows)"


def duckdb_cell_ranks(
    con: duckdb.DuckDBPyConnection, n_centroids: int, nprobe: int = 1
) -> dict[int, list[int]]:
    """vec_id → its ``nprobe`` nearest seed-centroid ids, best first, from
    the oracles' ranked CTE over the ``embeddings`` view in ``con`` — the
    reference the Spark cell assignment and probe order are checked
    against."""
    from tv_event_streaming_spark.plans.datapipe import _NZ_CTE, _ranked_cte

    rows = con.execute(
        f"WITH {_NZ_CTE}, {_ranked_cte(n_centroids)} "
        f"SELECT vec_id, cent_id FROM ranked WHERE rn <= {nprobe} "
        "ORDER BY vec_id, rn"
    ).fetchall()
    ranks: dict[int, list[int]] = {}
    for vec_id, cent_id in rows:
        ranks.setdefault(vec_id, []).append(cent_id)
    return ranks
