"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real — binary payload column, metadata struct,
Arrow-batched ``mapInPandas`` feature extraction — while the codec is a
deterministic stand-in: features are computed from the payload bytes,
so every output is oracle-checkable. A real codec (PIL / torchaudio /
pyav) replaces the loop body of the same ``mapInPandas`` closure.

At 100 TB the pattern is: payloads stay in parquet binary columns
(or pointers to object storage), metadata prunes partitions, and the
decode UDF runs once per Arrow batch, never per row.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id bigint, media_type string, byte_size int, checksum string, "
    "fake_frames int, fake_mean_byte double"
)


def attach_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Build a multimodal-shaped table from documents: payload =
    utf-8 bytes of the text (stand-in for image/audio bytes), plus a
    typed metadata struct derived deterministically."""
    payload = F.encode(F.col(text_col), "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
            .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
            .otherwise(F.lit("video"))
            .alias("media_type"),
            F.octet_length(payload).alias("byte_size"),
            F.md5(payload).alias("checksum"),
        ).alias("meta"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload.

    ``mapInPandas`` keeps the decode loop per-batch (not per-row); the
    features are deterministic byte-level stand-ins for decoded frames
    (``fake_frames = byte_size % 30 + 1`` and the payload's mean byte).
    """

    # NOTE: this closure must stay self-contained (stdlib + pandas
    # only). Referencing module globals would make cloudpickle
    # serialize them by reference to this package, which isn't
    # importable on the driver's Python workers unless shipped with
    # addPyFile.
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd  # noqa: PLC0415

        for pdf in batches:
            out = _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "byte_size": pdf["byte_size"],
                    "checksum": pdf["checksum"],
                }
            )
            out["fake_frames"] = (pdf["byte_size"] % 30 + 1).astype("int32")
            out["fake_mean_byte"] = [
                float(sum(p)) / len(p) if len(p) else 0.0
                for p in pdf["payload"]
            ]
            yield out

    flat = media.select(
        "doc_id",
        "payload",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.byte_size").alias("byte_size"),
        F.col("meta.checksum").alias("checksum"),
    )
    flat = flat.withColumn("byte_size", F.col("byte_size").cast("int"))
    return flat.mapInPandas(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = (
    "doc_id long, frame_index int, frame_offset int, frame_len int, "
    "frame_byte_sum long"
)


def sample_frames(media: DataFrame, every_nth: int = 4) -> DataFrame:
    """Frame sampling over video/audio payloads — the ROW-EXPANDING
    ``mapInPandas`` shape a real frame pipeline has (1 input row →
    n_sampled output rows), with the codec stubbed behind the same
    deterministic fake layout as :func:`extract_features`:
    ``n_frames = byte_size % 30 + 1`` and frame ``i`` spans payload
    bytes ``[i·size/n, (i+1)·size/n)`` (floor arithmetic). Every
    ``every_nth`` frame (always including frame 0) yields one output
    row with its offset, length, and byte sum — all integers, so the
    fake path is byte-exact against the SQL oracle while the Spark
    plumbing (Arrow batching, schema, row expansion, downstream
    shuffle shape) is the production one. Swap the loop body for a
    real codec's frame iterator to go real."""
    if every_nth < 1:
        raise ValueError("every_nth must be >= 1")

    # self-contained closure — see extract_features NOTE
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd  # noqa: PLC0415

        for pdf in batches:
            ids, idxs, offs, lens, sums = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                size = len(payload)
                n = size % 30 + 1
                for i in range(0, n, every_nth):
                    a = i * size // n
                    b = (i + 1) * size // n
                    seg = payload[a:b]
                    ids.append(doc_id)
                    idxs.append(i)
                    offs.append(a)
                    lens.append(b - a)
                    sums.append(int(sum(seg)))
            yield _pd.DataFrame(
                {
                    "doc_id": _pd.Series(ids, dtype="int64"),
                    "frame_index": _pd.Series(idxs, dtype="int32"),
                    "frame_offset": _pd.Series(offs, dtype="int32"),
                    "frame_len": _pd.Series(lens, dtype="int32"),
                    "frame_byte_sum": _pd.Series(sums, dtype="int64"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        run, schema=FRAME_SCHEMA
    )


def media_metadata(media: DataFrame) -> DataFrame:
    """Pure-JVM metadata projection (no UDF): the query-able face of the
    multimodal table."""
    return media.select(
        "doc_id",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.byte_size").cast("int").alias("byte_size"),
        F.col("meta.checksum").alias("checksum"),
    )
