"""Multimodal plumbing: schema/batch shape via Spark, decode math
cross-checked against pure numpy on the same deterministic bytes."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from map_reduce_rpc_spark.operators import multimodal as mm
from tests.oracle import registry_run

ORACLE_KEYS = ["media_catalog", "media_frame_plan"]


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_multimodal_oracle_queries(spark, duck, sf_dir, name):
    registry_run(spark, duck, sf_dir, name).assert_ok()


def test_media_schema(spark, sf_dir):
    media = mm.synthesize_media(spark, sf_dir)
    dtypes = dict(media.dtypes)
    assert dtypes["data"] == "binary"
    assert dtypes["meta"].startswith("struct<width:int,height:int")
    row = media.where(mm.F.col("kind") == "image").first()
    assert len(bytes(row.data)) == mm.BLOB_BYTES


def test_image_features_match_numpy(spark, sf_dir):
    media = mm.synthesize_media(spark, sf_dir)
    feats = {r.media_id: r for r in mm.image_features(media).collect()}
    sample = media.where(mm.F.col("kind") == "image").limit(3).collect()
    assert sample and len(feats) > 0
    for row in sample:
        px = mm.decode_image(bytes(row.data), row.meta.width, row.meta.height)
        assert px.shape == (row.meta.height, row.meta.width, 3)
        expect = px.astype(np.float64).reshape(-1, 3).mean(axis=0)
        got = feats[row.media_id]
        assert got.mean_r == pytest.approx(expect[0])
        assert got.brightness == pytest.approx(expect.mean())


def test_resize_shape_and_determinism(spark, sf_dir):
    media = mm.synthesize_media(spark, sf_dir)
    out = mm.resize_images(media, 16, 12).limit(5).collect()
    assert out
    for r in out:
        assert (r.width, r.height) == (16, 12)
        assert len(bytes(r.data)) == 16 * 12 * 3
    again = {r.media_id: bytes(r.data) for r in mm.resize_images(media, 16, 12).limit(5).collect()}
    assert {r.media_id: bytes(r.data) for r in out} == again


def test_audio_features_match_numpy(spark, sf_dir):
    media = mm.synthesize_media(spark, sf_dir)
    row = media.where(mm.F.col("kind") == "audio").first()
    pcm = mm.decode_audio(bytes(row.data)).astype(np.float64)
    got = {r.media_id: r for r in mm.audio_features(media).collect()}[row.media_id]
    assert got.rms == pytest.approx(float(np.sqrt(np.mean(pcm**2))))
    assert got.n_samples == len(pcm)


def test_frame_checksums_cross_check(spark, sf_dir):
    media = mm.synthesize_media(spark, sf_dir)
    rows = mm.frame_checksums(media, every_n=2).collect()
    blobs = {r.media_id: bytes(r.data) for r in media.where(mm.F.col("kind") == "video").collect()}
    metas = {r.media_id: r.meta for r in media.where(mm.F.col("kind") == "video").collect()}
    assert rows
    r = rows[0]
    meta = metas[r.media_id]
    off = r.frame_idx * meta.width * meta.height * 3
    frame = mm._tile_bytes(blobs[r.media_id], off + 64)[off : off + 64]
    assert r.frame_sha == hashlib.sha256(frame.tobytes().hex().encode()).hexdigest()
    # plan side: sampled every 2nd frame of n_frames
    per_media = sum(1 for x in rows if x.media_id == r.media_id)
    assert per_media == (metas[r.media_id].n_frames + 1) // 2


def test_decode_audio_real_wav_path():
    """The real-decode branch is reachable: a genuine RIFF/WAV payload
    decodes to its actual PCM samples (channel 0 for stereo), never
    the synthetic tile fallback (round-9 verdict item 7 — the old
    probe raised NotImplementedError when a decoder WAS available)."""
    import io
    import wave

    rng = np.random.default_rng(7)
    mono = rng.integers(-30000, 30000, size=500, dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(16000)
        wf.writeframes(mono.tobytes())
    got = mm.decode_audio(buf.getvalue())
    assert np.array_equal(got, mono)

    left = rng.integers(-30000, 30000, size=200, dtype=np.int16)
    right = rng.integers(-30000, 30000, size=200, dtype=np.int16)
    stereo = np.empty(400, dtype=np.int16)
    stereo[0::2], stereo[1::2] = left, right
    buf2 = io.BytesIO()
    with wave.open(buf2, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(16000)
        wf.writeframes(stereo.tobytes())
    assert np.array_equal(mm.decode_audio(buf2.getvalue()), left)

    # undecodable bytes: deterministic synthetic fallback, sized by
    # n_samples
    junk = b"\x01\x02\x03\x04" * 8
    syn = mm.decode_audio(junk, n_samples=64)
    assert syn.dtype == np.dtype("<i2") and len(syn) == 64
