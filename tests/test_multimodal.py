"""Multimodal plumbing: schema, mapInPandas batching, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xdan_dqa_spark.operators.multimodal import (
    EMBED_DIM,
    frame_sample,
    media_features,
    try_real_decoders,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, bytes(range(256)) * 4, ("image/png", 16, 16, None)),
        (2, b"\x00" * 128, ("image/jpeg", 8, 8, None)),
        (3, b"abcdef" * 100, ("video/mp4", 64, 48, 3500)),
        (4, None, ("image/png", 0, 0, None)),
    ]
    return spark.createDataFrame(
        rows,
        schema="doc_id long, payload binary, media_meta struct<mime:string,width:int,height:int,duration_ms:int>",
    )


def test_decoder_is_stubbed_here():
    assert not try_real_decoders()  # container ships no codec libs


def test_media_features_schema_and_determinism(media):
    out = media_features(media)
    a = {r["doc_id"]: r for r in out.collect()}
    b = {r["doc_id"]: r for r in media_features(media.repartition(3)).collect()}
    assert set(a) == {1, 2, 3, 4}
    for k in a:
        assert a[k]["embedding"] == b[k]["embedding"]  # partition-invariant
        assert len(a[k]["embedding"]) == EMBED_DIM
    assert a[1]["n_bytes"] == 1024
    assert a[1]["byte_entropy"] == pytest.approx(8.0)  # uniform bytes
    assert a[2]["byte_entropy"] == 0.0                 # constant bytes
    assert a[4]["n_bytes"] == 1                        # null payload stub


def test_frame_sample_grid(media):
    out = frame_sample(media.filter(F.col("doc_id") == 3), every_ms=1000)
    rows = sorted(r["frame_ms"] for r in out.collect())
    assert rows == [0, 1000, 2000, 3000]  # duration 3500ms @ 1s grid
    checks = {r["frame_ms"]: r["frame_checksum"] for r in out.collect()}
    assert len(set(checks.values())) >= 2  # frames differ by timestamp slice


def test_frame_sample_zero_duration(media):
    out = frame_sample(media.filter(F.col("doc_id") == 1), every_ms=1000)
    assert [r["frame_ms"] for r in out.collect()] == [0]


def test_decoder_swap_point_contract(media, spark):
    """Pins the codec swap-point signature (bytes|None -> 1-D uint8
    ndarray): a fake "real" decoder injected through the ``decoder``
    parameter must flow through the ENTIRE media_features / frame_sample
    dataflow — same schema, same row set, values reflecting the injected
    decode — so the stub boundary can't silently drift. The fake is
    defined locally so cloudpickle ships it BY VALUE to the python
    workers (the reason the swap point is a parameter, not a module
    global to monkeypatch)."""
    import numpy as np

    from xdan_dqa_spark.operators.multimodal import MEDIA_FEATURES_SCHEMA

    def fake_real_decoder(payload):
        # stands in for PIL.Image.open(...): fixed 4x4 "image" whose
        # pixels depend on payload length, so outputs provably came
        # through THIS decoder
        n = len(payload) if payload else 0
        return np.full(16, n % 251, dtype=np.uint8)

    out = media_features(media, decoder=fake_real_decoder)
    assert out.schema == MEDIA_FEATURES_SCHEMA
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}
    for doc_id, payload_len in [(1, 1024), (2, 128), (3, 600), (4, 0)]:
        r = rows[doc_id]
        assert r["n_bytes"] == 16                       # decoded size, not payload size
        assert r["byte_entropy"] == 0.0                 # constant pixels
        emb = np.array(r["embedding"])
        assert emb.shape == (EMBED_DIM,)
        # one-hot-ish: all 16 identical pixels land in ONE histogram bucket
        assert np.count_nonzero(emb) == 1 and emb.max() == pytest.approx(1.0)
        bucket = (payload_len % 251) * EMBED_DIM // 256
        assert emb[bucket] == pytest.approx(1.0)

    frames = frame_sample(media.filter(F.col("doc_id") == 3), every_ms=1000,
                          decoder=fake_real_decoder)
    got = {r["frame_ms"]: r["frame_checksum"] for r in frames.collect()}
    assert sorted(got) == [0, 1000, 2000, 3000]
    # checksum = sum of the timestamp-keyed slice of the 16 constant fake
    # pixels (slice start = ms % 16) — proves the FRAME path used the
    # injected decode too
    pix = 600 % 251
    expected = {ms: (16 - ms % 16) * pix for ms in got}
    assert got == expected
