"""Multimodal operator plumbing: schema contract, Arrow-batch feature
extraction vs a scalar reference, real container encode/decode round
trips (PPM/PGM/WAV, no codec library), frame fan-out."""

from __future__ import annotations

import math

import numpy as np
import pytest

from sf_etl_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    decode_media,
    decode_stats,
    encode_media_from_documents,
    encode_payload,
    extract_features,
    frame_sample_plan,
    media_from_documents,
)
from sf_etl_spark.sources import load_table


def shannon_entropy(counts: list[int]) -> float:
    """Scalar byte entropy, the reference for extract_features."""
    total = sum(counts)
    return -sum(c / total * math.log2(c / total) for c in counts if c)


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    return media_from_documents(load_table(spark, sf_dir, "documents")).cache()


def test_media_schema_contract(media):
    assert [f.name for f in media.schema.fields] == ["media_id", "payload", "meta"]
    assert media.schema["payload"].dataType.typeName() == "binary"
    meta = media.schema["meta"].dataType
    assert [f.name for f in meta.fields] == [
        "format",
        "width",
        "height",
        "n_bytes",
        "sample_rate",
    ]


def test_feature_extraction_matches_scalar_reference(media):
    feats = extract_features(media)
    assert feats.schema == FEATURE_SCHEMA
    got = {r["media_id"]: r for r in feats.collect()}
    src = media.select("media_id", "payload").collect()
    assert len(got) == len(src)
    for row in src[:25]:
        payload = bytes(row["payload"])
        counts = [0] * 256
        for byte in payload:
            counts[byte] += 1
        expect_mean = sum(payload) / len(payload)
        expect_entropy = shannon_entropy(counts)
        f = got[row["media_id"]]
        assert f["n_bytes"] == len(payload)
        assert math.isclose(f["byte_mean"], expect_mean, rel_tol=1e-9)
        assert math.isclose(f["byte_entropy"], expect_entropy, rel_tol=1e-9)


@pytest.mark.parametrize("media_id,fmt", [(0, "ppm"), (1, "pgm"), (2, "wav")])
def test_encode_decode_round_trip(media_id, fmt):
    raw = bytes(range(7, 250, 3)) * 2  # 162 bytes, full value spread
    got_fmt, payload = encode_payload(raw, media_id)
    assert got_fmt == fmt
    dec_fmt, values, meta = decode_media(payload, fmt)
    assert dec_fmt == fmt
    if fmt == "ppm":
        k = len(raw) - len(raw) % 3
        assert np.array_equal(values, np.frombuffer(raw[:k], dtype=np.uint8))
        assert meta == {"width": k // 3, "height": 1, "channels": 3}
    elif fmt == "pgm":
        assert np.array_equal(values, np.frombuffer(raw, dtype=np.uint8))
        assert meta == {"width": len(raw), "height": 1, "channels": 1}
    else:
        k = len(raw) - len(raw) % 2
        assert np.array_equal(values, np.frombuffer(raw[:k], dtype="<i2"))
        assert meta == {"channels": 1, "sample_rate": 16000, "bits": 16}


def test_decode_rejects_mislabeled_and_garbage_payloads():
    _, payload = encode_payload(b"some raw bytes!!", 0)  # a real PPM
    with pytest.raises(ValueError, match="labeled"):
        decode_media(payload, "wav")
    with pytest.raises(ValueError, match="unrecognized"):
        decode_media(b"\x00\x01\x02\x03 definitely not a container")
    with pytest.raises(ValueError, match="truncated"):
        decode_media(b"P6\n100 100\n255\nshort")


def test_decode_handles_netpbm_comments_and_foreign_headers():
    # headers our encoder never writes, but the spec allows: comments,
    # multi-row rasters, arbitrary whitespace — the decoder is a real
    # Netpbm reader, not a round-trip-only parser
    _, vals, meta = decode_media(b"P5\n# made elsewhere\n 3\t2 \n255\nABCDEF")
    assert list(vals) == [65, 66, 67, 68, 69, 70]
    assert meta == {"width": 3, "height": 2, "channels": 1}


def test_decode_stats_lane_matches_scalar_reference(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    stats = {
        r["media_id"]: r
        for r in decode_stats(encode_media_from_documents(docs)).collect()
    }
    for row in docs.select("doc_id", "text").limit(30).collect():
        raw = row["text"].encode("utf-8")
        fmt, payload = encode_payload(raw, row["doc_id"])
        _, values, _ = decode_media(payload, fmt)
        got = stats[row["doc_id"]]
        assert got["format"] == fmt
        assert got["n_values"] == values.size
        assert got["val_sum"] == int(values.sum(dtype="int64"))
        assert (got["val_min"], got["val_max"]) == (values.min(), values.max())


def test_frame_sample_counts(media):
    frames = frame_sample_plan(media, every_n_bytes=128)
    per = frames.groupBy("media_id").count().collect()
    sizes = {r["media_id"]: r["n_bytes"] for r in media.select("media_id", "meta.n_bytes").collect()}
    for r in per[:50]:
        expect = max(-(-sizes[r["media_id"]] // 128), 1)
        assert r["count"] == expect
