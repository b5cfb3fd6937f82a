"""Pin the r13 fused single-decode pass (multimodal.media_decode_all +
analytics_queries4.features_from_decoded) row-equal to the unfused
single-purpose operators it replaced in the ingest store fold — the
optimization changes HOW values are produced (one decode per payload
instead of two), never WHAT is produced."""

from __future__ import annotations

import pytest

from aggregator_spark.sources.media_store import store_kind, store_row


@pytest.fixture(scope="module")
def media(spark):
    # a spread of doc_ids covering all three modalities and payload-key
    # wraparound (the store's residue map: even→image, %4==1→audio,
    # %4==3→video)
    ids = list(range(0, 24)) + [256, 257, 259, 513, 515]
    rows = [store_row(d) for d in ids]
    df = spark.createDataFrame(
        [(m, k, bytearray(p)) for (m, k, p) in rows],
        "media_id long, kind string, payload binary",
    )
    return df.localCheckpoint(eager=True)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_fused_image_matches_unfused(spark, media):
    from aggregator_spark.operators.multimodal import (
        decode_image_features,
        image_dhash,
        media_decode_all,
    )

    dec = media_decode_all(media)
    img = dec.filter("kind = 'image'")
    assert _rows(img.select("media_id", "dhash")) == _rows(
        image_dhash(media)
    )
    assert _rows(
        img.select("media_id", "width", "height", "features")
    ) == _rows(decode_image_features(media, fake=False))


def test_fused_audio_matches_unfused(spark, media):
    from aggregator_spark.operators.multimodal import (
        audio_fp64,
        extract_audio_features,
        media_decode_all,
    )

    dec = media_decode_all(media)
    aud = dec.filter("kind = 'audio'")
    assert _rows(aud.select("media_id", "afp")) == _rows(audio_fp64(media))
    assert _rows(
        aud.select("media_id", "duration_ms", "rms", "features")
    ) == _rows(
        extract_audio_features(media, fake=False).select(
            "media_id", "duration_ms", "rms", F_mfcc()
        )
    )


def F_mfcc():
    from pyspark.sql import functions as F

    return F.col("mfcc").alias("features")


def test_fused_video_matches_unfused(spark, media):
    from pyspark.sql import functions as F

    from aggregator_spark.operators.multimodal import (
        media_decode_all,
        video_frame_dhash,
    )

    dec = media_decode_all(media)
    fused = dec.filter("kind = 'video'").select(
        "media_id", F.explode("fhashes").alias("fhash")
    )
    assert _rows(fused) == _rows(
        video_frame_dhash(media).select("media_id", "fhash")
    )


def test_fused_features_projection_matches(spark, media):
    from aggregator_spark.analytics_queries4 import (
        features_from_decoded,
        features_from_media,
    )
    from aggregator_spark.operators.multimodal import media_decode_all

    fused = features_from_decoded(media_decode_all(media))
    assert _rows(fused) == _rows(features_from_media(media))
    assert fused.schema == features_from_media(media).schema


def test_store_kind_residues():
    for d in range(0, 40):
        k = store_kind(d)
        if d % 2 == 0:
            assert k == "image"
        elif d % 4 == 1:
            assert k == "audio"
        else:
            assert k == "video"


def _payload_of(kind: str) -> bytes:
    for d in range(0, 16):
        m, k, p = store_row(d)
        if k == kind:
            return bytes(p)
    raise AssertionError(f"no {kind} fixture row")


def test_decode_memo_keys_interchange():
    """r14 ADVICE: media_decode_all memoizes each derived piece under
    the SAME key its single-purpose pass uses, so a worker that ran
    either side reuses the other's decode. Pinned in-process (no
    Spark): run the fused decode on a cleared memo, then prove every
    single-purpose key is populated with the correct value; then seed
    sentinels under the single-purpose keys and prove the fused
    decode reads them."""
    from aggregator_spark.operators import codecs
    from aggregator_spark.operators.multimodal import _decode_all_one

    img, aud, vid = _payload_of("image"), _payload_of("audio"), _payload_of("video")

    def boom():
        raise AssertionError("memo entry missing — key mismatch")

    # fused → single-purpose direction
    codecs._PAYLOAD_MEMO.clear()
    w, h, _, _, feats, dh, _, _ = _decode_all_one("image", img, 500)
    _, _, dur, rms, afeats, _, afp, _ = _decode_all_one("audio", aud, 500)
    fh = _decode_all_one("video", vid, 500)[7]
    assert codecs.payload_memo("imgfeat", img, boom) == (h, w, feats)
    assert codecs.payload_memo("dhash", img, boom) == dh
    assert codecs.payload_memo("aufeat", aud, boom) == (dur, rms, afeats)
    assert codecs.payload_memo("afp", aud, boom) == afp
    assert [x for _, x in codecs.payload_memo(("vfh", 500), vid, boom)] == fh

    # values are the real codec outputs, not memo artifacts
    px = codecs.decode_png(img)
    assert dh == codecs.dhash64(px)
    assert (h, w) == (int(px.shape[0]), int(px.shape[1]))
    rate, _, samples = codecs.decode_wav(aud)
    assert afp == codecs.audio_fingerprint64(samples, rate)

    # single-purpose → fused direction (seeded sentinels are read); the
    # memo is process-global, so the sentinels must not outlive the test
    codecs._PAYLOAD_MEMO.clear()
    try:
        assert codecs.payload_memo("dhash", img, lambda: "SENTINEL-DH") == "SENTINEL-DH"
        assert _decode_all_one("image", img, 500)[5] == "SENTINEL-DH"
        assert codecs.payload_memo("afp", aud, lambda: "SENTINEL-FP") == "SENTINEL-FP"
        assert _decode_all_one("audio", aud, 500)[6] == "SENTINEL-FP"
    finally:
        codecs._PAYLOAD_MEMO.clear()


def test_decode_all_one_decodes_once_when_cold(monkeypatch):
    """Two cold image pieces (features + dhash) share ONE PNG decode
    inside the fused per-payload decode."""
    from aggregator_spark.operators import codecs
    from aggregator_spark.operators.multimodal import _decode_all_one

    img = _payload_of("image")
    calls = {"n": 0}
    real = codecs.decode_png

    def counting(payload):
        calls["n"] += 1
        return real(payload)

    monkeypatch.setattr(codecs, "decode_png", counting)
    codecs._PAYLOAD_MEMO.clear()
    _decode_all_one("image", img, 500)
    assert calls["n"] == 1
    codecs._PAYLOAD_MEMO.clear()
