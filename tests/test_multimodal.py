"""Multimodal plumbing: the Spark-side machinery is real (schemas,
Arrow batches, fan-out cardinality); decode is a deterministic stub."""

from __future__ import annotations

import pytest

from airflow_loan_etl_pipeline_spark import schemas
from airflow_loan_etl_pipeline_spark.operators.multimodal import extract_features


@pytest.fixture()
def media(spark):
    rows = [
        (1, "image", b"\x89PNGxxxxxxxx" * 10, {"src": "cam"}),
        (2, "audio", b"RIFFyyyy" * 100, {"src": "mic"}),
        (3, "video", b"\x00\x00\x01\xba" * 2048, {"src": "cam"}),
        (4, "image", None, {}),
    ]
    return spark.createDataFrame(rows, schemas.MEDIA)


def test_extract_features(media):
    feats = {r["asset_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["n_bytes"] == 120
    assert feats[1]["width"] >= 16 and feats[1]["height"] >= 16
    assert feats[2]["duration_ms"] > 0
    assert feats[4]["n_bytes"] == 0
    assert len(feats[3]["checksum"]) == 32
    # deterministic across runs
    again = {r["asset_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["checksum"] == again[1]["checksum"]


def test_unknown_media_type_raises(spark):
    bad = spark.createDataFrame([(9, "hologram", b"x", {})], schemas.MEDIA)
    with pytest.raises(Exception, match="hologram"):
        extract_features(bad).collect()


def test_real_png_decode_path(spark):
    """A REAL 1×1 PNG through the feature pipeline. With Pillow in the
    container the codec path reports the true 1×1 dimensions; without
    it the deterministic fallback runs (still non-crashing, stable).
    Either way the plumbing — schema, Arrow batch, checksum — is real.
    """
    import base64

    from airflow_loan_etl_pipeline_spark.operators.multimodal import HAS_PIL

    png_1px = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNk"
        "YPhfDwAChwGA60e6kgAAAABJRU5ErkJggg=="
    )
    df = spark.createDataFrame([(1, "image", png_1px, {})], schemas.MEDIA)
    feat = extract_features(df).collect()[0]
    assert feat["n_bytes"] == len(png_1px)
    if HAS_PIL:
        assert (feat["width"], feat["height"]) == (1, 1)
    else:
        # deterministic pseudo-dimensions from the payload head
        again = extract_features(df).collect()[0]
        assert (feat["width"], feat["height"]) == (again["width"], again["height"])


def test_block_hash_flags_near_identical_payloads(spark):
    """One corrupted block moves ~1 signature bit: the banded hamming
    join must pair the original with its near-copy, identical payloads
    at distance 0, and leave an unrelated payload unpaired."""
    from airflow_loan_etl_pipeline_spark.operators.dedup import hamming_pairs
    from airflow_loan_etl_pipeline_spark.operators.multimodal import block_hash

    base = bytes(range(256)) * 8  # 2048 bytes -> 64-byte blocks
    corrupted = base[:100] + b"\x00\x00\x00" + base[103:]  # one block touched
    unrelated = bytes((i * 37 + 11) % 256 for i in range(2048))  # deterministic
    rows = [
        (1, bytearray(base)),
        (2, bytearray(base)),       # exact copy
        (3, bytearray(corrupted)),  # near copy
        (4, bytearray(unrelated)),
    ]
    assets = spark.createDataFrame(rows, "asset_id long, payload binary")
    sig = block_hash(assets)
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in hamming_pairs(sig, id_col="asset_id", hash_col="phash").collect()
    }
    assert pairs[(1, 2)] == 0
    assert 1 <= pairs[(1, 3)] <= 3 and 1 <= pairs[(2, 3)] <= 3
    assert not any(4 in p for p in pairs)


def test_audio_energy_windows_on_synthesized_pcm(spark):
    """Real PCM16 decode: a full-scale sine has RMS ~ 1/sqrt(2) and
    peak ~ 1.0; digital silence has RMS 0; a half-amplitude block sits
    at half the energy. Windows are exact sample blocks."""
    import math
    import struct

    import numpy as np

    from airflow_loan_etl_pipeline_spark.operators.multimodal import (
        audio_energy_windows,
    )

    sr = 16_000
    n = 2048  # two 1024-sample windows
    t = np.arange(n)
    sine = (np.sin(2 * np.pi * 440 * t / sr) * 32767).astype("<i2")
    silence = np.zeros(n, dtype="<i2")
    half = (np.ones(n) * 16384).astype("<i2")
    rows = [
        ("sine", "audio", sine.tobytes()),
        ("silence", "audio", silence.tobytes()),
        ("half", "audio", half.tobytes()),
        ("tiny", "audio", struct.pack("<3h", 1, 2, 3)),  # < one window
    ]
    df = spark.createDataFrame(
        rows, "asset_id string, media_type string, payload binary"
    )
    out = {}
    for r in audio_energy_windows(df).collect():
        out.setdefault(r.asset_id, []).append(r)
    assert len(out["sine"]) == 2
    for w in out["sine"]:
        assert math.isclose(w.rms, 1 / math.sqrt(2), abs_tol=0.01)
        assert w.peak > 0.99
    assert all(w.rms == 0.0 for w in out["silence"])
    assert math.isclose(out["half"][0].rms, 0.5, abs_tol=0.001)
    assert "tiny" not in out  # sub-window assets produce no rows
    assert out["sine"][1].start_s == 1024 / sr
