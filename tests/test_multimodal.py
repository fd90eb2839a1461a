"""Multimodal plumbing: real schema/batching, deterministic stand-in codec."""

from __future__ import annotations

import hashlib

import pytest

from tv_event_streaming_spark.domain import load_table
from tv_event_streaming_spark.operators import multimodal as M


def test_fake_features_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = M.attach_binary_payload(docs)
    feats = {r.doc_id: r for r in M.extract_features(media).collect()}
    for r in docs.collect():
        payload = r.text.encode("utf-8")
        f = feats[r.doc_id]
        assert f.byte_size == len(payload)
        assert f.checksum == hashlib.md5(payload).hexdigest()
        assert f.fake_frames == len(payload) % 30 + 1
        assert abs(f.fake_mean_byte - sum(payload) / len(payload)) < 1e-9


def test_media_type_partitioning(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    meta = M.media_metadata(M.attach_binary_payload(docs))
    counts = {r.media_type: r["count"] for r in meta.groupBy("media_type").count().collect()}
    assert set(counts) == {"image", "audio", "video"}


def test_sample_frames_partition_payload_at_stride_one(spark, sf_dir):
    """every_nth=1 yields ALL frames: offsets/lengths tile the payload
    exactly (no gaps, no overlap) and the byte sums add up to the whole
    payload's byte sum — the invariant that makes the sampled (every
    4th) catalog entry's arithmetic trustworthy."""
    docs = load_table(spark, sf_dir, "documents").limit(10)
    media = M.attach_binary_payload(docs)
    frames = {}
    for r in M.sample_frames(media, every_nth=1).collect():
        frames.setdefault(r.doc_id, []).append(r)
    for r in docs.collect():
        payload = r.text.encode("utf-8")
        n = len(payload) % 30 + 1
        rows = sorted(frames[r.doc_id], key=lambda x: x.frame_index)
        assert [x.frame_index for x in rows] == list(range(n))
        pos = 0
        for x in rows:
            assert x.frame_offset == pos
            pos += x.frame_len
        assert pos == len(payload)
        assert sum(x.frame_byte_sum for x in rows) == sum(payload)


def test_sample_frames_rejects_bad_stride(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(1)
    with pytest.raises(ValueError):
        M.sample_frames(M.attach_binary_payload(docs), every_nth=0)
