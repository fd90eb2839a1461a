#!/usr/bin/env python3
"""Quantify the two-level assignment APPROXIMATION (SCALE.md §6g): at
centroid counts where `_seed_cell_assignment` dispatches to the
coarse-then-fine search, what fraction of vectors land in the same
cell as the exact one-level scan — and what that does to the one
result-shaped consumer, `semantic_dedup`'s dropped set.

The approximation contract (similarity.py:_two_level_kernel)
says boundary vectors may move to an adjacent cell; this measures how
many actually do, on the real embedding corpora, at the C values the
auto rules pick. Cell agreement is the strict metric; the dedup-set
Jaccard is the consumer-visible one (a moved vector only changes the
output if its near-duplicate neighborhood straddles the cell change).

Run: `python tools/measure_assignment_agreement.py [sf_dir ...]`
(defaults to /tmp/scale_corpus/d10 and d100, where C = √N crosses the
two-level (256) dispatch threshold so both paths are real; at the
shipped sf dirs C ≤ 44 and the auto dispatch never reaches two-level). Prints one JSON line per (corpus, C).
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def measure(spark, sf_dir: str) -> dict:
    from tv_event_streaming_spark.domain import load_table  # noqa: PLC0415
    from tv_event_streaming_spark.operators import similarity as S  # noqa: PLC0415

    emb = load_table(spark, sf_dir, "embeddings").persist()
    n = emb.count()
    c = max(16, math.isqrt(n))
    # both searches on the same kernel, so the delta is purely the
    # coarse-group restriction
    nz = S.nonzero_norm(emb)
    one = S._seed_cell_assignment_one_level(nz, c, "vec_id", "embedding").select(
        "vec_id", F.col("cell").alias("cell_one")
    )
    two = S._seed_cell_assignment_two_level(nz, c, "vec_id", "embedding").select(
        "vec_id", F.col("cell").alias("cell_two")
    )
    joined = one.join(two, "vec_id").persist()
    agree = joined.filter(F.col("cell_one") == F.col("cell_two")).count()
    total = joined.count()
    joined.unpersist()

    # consumer-visible: semantic_dedup dropped-set under each path,
    # toggling the dispatch threshold (the knob the auto dispatch keys
    # on) around this C — semantic_dedup takes no two_level arg, so the
    # threshold is the only way to drive the operator down both paths
    old = S._TWO_LEVEL_MIN_CENTROIDS
    try:
        S._TWO_LEVEL_MIN_CENTROIDS = c + 1  # force exact
        kept_one = {
            r.vec_id
            for r in S.semantic_dedup(emb, n_centroids=c)
            .filter("kept")
            .select("vec_id")
            .collect()
        }
        S._TWO_LEVEL_MIN_CENTROIDS = 1  # force two-level (C≥16 always)
        kept_two = {
            r.vec_id
            for r in S.semantic_dedup(emb, n_centroids=c)
            .filter("kept")
            .select("vec_id")
            .collect()
        }
    finally:
        S._TWO_LEVEL_MIN_CENTROIDS = old
    inter = len(kept_one & kept_two)
    union = len(kept_one | kept_two)
    emb.unpersist()
    return {
        "corpus": sf_dir.rstrip("/").rsplit("/", 1)[-1],
        "n_vectors": n,
        "n_centroids": c,
        "cell_agreement": round(agree / total, 5) if total else None,
        "moved_vectors": total - agree,
        "dedup_dropped_exact": n - len(kept_one),
        "dedup_dropped_two_level": n - len(kept_two),
        "dedup_kept_jaccard": round(inter / union, 5) if union else None,
    }


def main() -> None:
    from tv_event_streaming_spark.session import get_spark  # noqa: PLC0415

    dirs = sys.argv[1:] or [
        d
        for d in ("/tmp/scale_corpus/d10", "/tmp/scale_corpus/d100")
        if os.path.isdir(d)
    ]
    spark = get_spark(app_name="assignment-agreement")
    for sf_dir in dirs:
        print(json.dumps(measure(spark, sf_dir)), flush=True)


if __name__ == "__main__":
    main()
