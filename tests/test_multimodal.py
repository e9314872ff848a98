"""Multimodal binary-column plumbing (multimodal/binary.py): the
Arrow-batched mapInPandas dataflow is real; the codec is a stub."""

from __future__ import annotations

import pytest

from mergers_acquisitions_predictions_spark.multimodal.binary import (
    attach_fake_payload,
    decode_image,
    extract_features,
)
from mergers_acquisitions_predictions_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def test_payload_schema_and_meta(spark):
    docs = load_table(spark, SF, "documents").limit(20)
    media = attach_fake_payload(docs)
    assert [f.name for f in media.schema.fields] == ["doc_id", "media", "meta"]
    row = media.first()
    assert isinstance(row.media, (bytes, bytearray))
    assert row.meta.n_bytes == len(row.media) and row.meta.format == "fake/raw"


def test_extract_features_mapinpandas(spark):
    docs = load_table(spark, SF, "documents").limit(50)
    media = attach_fake_payload(docs)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows[:5]:
        assert len(r.feature) == 8
        assert sum(r.feature) == r.n_bytes  # histogram partitions the bytes
        assert 0 <= r.byte_mean <= 255


def test_decode_is_a_declared_stub():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_sample_frames_fanout_and_geometry(spark):
    from mergers_acquisitions_predictions_spark.multimodal.binary import (
        attach_fake_payload,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [(1, "a" * 700), (2, "b" * 100), (3, "c" * 256)], ["doc_id", "text"]
    )
    frames = sample_frames(attach_fake_payload(docs), frame_size=256, every_n=2).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append((r.frame_idx, len(r.frame)))
    # 700 bytes -> frames 0,1,2 -> sampled 0 (256B) and 2 (188B)
    assert sorted(by_doc[1]) == [(0, 256), (2, 188)]
    assert by_doc[2] == [(0, 100)]
    assert by_doc[3] == [(0, 256)]
