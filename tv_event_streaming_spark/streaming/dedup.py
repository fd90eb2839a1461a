"""Streaming exact dedup — cross-micro-batch, bounded state.

The batch dedup tiers live in ``operators/dedup.py``; this is the
streaming form a training-data ingestion pipeline needs: drop records
whose key was already seen, across micro-batches, with state that
EXPIRES — ``dropDuplicatesWithinWatermark`` keeps a key in the state
store only until the watermark passes it, so state is bounded by
(watermark horizon × arrival rate) instead of growing with the full
history (plain ``dropDuplicates`` on a stream never forgets: a 100 TB
ingest would accumulate every key ever seen).

The reference's equivalent is the idempotent keyed put (consumer.py:58 —
last write wins, so duplicates are harmless but still cost a write);
this operator removes them before the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def dedup_stream(
    records: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first arrival per key within the watermark horizon.

    Works on a stream (stateful, state expires with the watermark) and
    degrades to a plain dropDuplicates on a batch frame."""
    if not records.isStreaming:
        return records.dropDuplicates(key_cols)
    return records.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def start_dedup_stream(
    records: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> StreamingQuery:
    """Deduped append-mode parquet sink (availableNow for the batch/test
    form; drop the trigger for continuous ingestion)."""
    out = dedup_stream(records, key_cols, ts_col, watermark)
    return (
        out.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def semantic_dedup_stream(
    vectors: DataFrame,
    codebook: list[list[list[int]]],
    ts_col: str = "ts",
    watermark: str = "1 hour",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SEMANTIC dedup on a vector stream: encode each arriving vector
    to its PQ codes with a PRETRAINED codebook (a stateless Arrow pass
    of the same kernel as the batch ``pq_encode`` —
    tests/test_streaming.py pins stream/batch encode parity), then
    first-arrival-wins on the code tuple. Two vectors deduplicate iff
    every subspace quantizes to the same codeword — the streaming
    approximation of SemDeDup at n_sub·log2(k_codes) bits of
    resolution, with NO pairwise scoring and NO corpus state: the state
    store keys on the (watermark-bounded) code strings.

    The resolution/recall trade is the codebook's: a finer codebook
    (more subspaces/codewords) splits near-duplicates apart; coarser
    merges more. Exactly the batch ``pq_encode``'s arithmetic, so
    offline backfill and live ingestion agree on what is a duplicate."""
    from pyspark.sql import types as T  # noqa: PLC0415

    from ..operators.similarity import _kernel_pass, _pq_kernel

    if codebook is None:
        raise ValueError(
            "semantic_dedup_stream needs a pretrained codebook — a stream "
            "cannot collect its own seeds (train offline with pq_train / "
            "pq_seed_codebook on the batch corpus)"
        )
    # the key rides the SAME pass as the data (a join back onto the
    # stream would be a stateful stream-stream join): every input column
    # passes through and the code key is added, with the codebook in the
    # task closure. The only stateful operator is the dedup itself.
    schema = T.StructType(
        [*vectors.schema.fields, T.StructField("_code_key", T.StringType())]
    )

    def emit(pdf, qv, cells, codes, qdist):
        return pdf.assign(_code_key=[",".join(map(str, c)) for c in codes.tolist()])

    with_key = _kernel_pass(
        vectors, id_col, vec_col, schema, emit, pq=_pq_kernel(codebook)
    )
    return dedup_stream(with_key, ["_code_key"], ts_col, watermark).drop("_code_key")
