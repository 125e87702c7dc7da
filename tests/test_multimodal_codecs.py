"""Real (non-fake) multimodal decode paths: pure-numpy BMP + stdlib WAV
codecs and their wiring through the Spark-side pipeline ops."""

from __future__ import annotations

import numpy as np
import pytest

from flink_1_3_2_hopsworks_spark.multimodal import codecs
from flink_1_3_2_hopsworks_spark.multimodal.binary_ops import (
    decode_audio,
    decode_image,
    extract_features,
    resize_images,
)


def _pixels(h=5, w=7, seed=0):
    return np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)


def test_bmp_roundtrip_odd_width():
    px = _pixels(5, 7)  # width 7 → 21-byte rows padded to 24
    assert np.array_equal(codecs.decode_bmp(codecs.encode_bmp(px)), px)


def test_wav_roundtrip():
    t = np.linspace(0, 1, 8000, dtype=np.float32)
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)
    got, rate = codecs.decode_wav(codecs.encode_wav(sine, 8000))
    assert rate == 8000 and got.shape == sine.shape
    assert np.abs(got - sine).max() < 1e-3  # 16-bit quantization bound


def test_decode_image_real_bmp_no_fake_flag():
    px = _pixels(4, 4)
    assert np.array_equal(decode_image(codecs.encode_bmp(px)), px)


def test_decode_audio_real_wav_no_fake_flag():
    samples = np.zeros(100, dtype=np.float32)
    assert decode_audio(codecs.encode_wav(samples, 16000)).shape == (100,)


def test_decode_unknown_format_still_gated():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG not supported")
    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3 mp3 not supported")


def test_extract_features_real_bmp_and_wav(spark):
    """fake=False end-to-end: features come from genuine decoded pixels and
    samples, matching the local codec helpers exactly."""
    px = _pixels(8, 8, seed=1)
    t = np.linspace(0, 1, 4000, dtype=np.float32)
    sine = 0.25 * np.sin(2 * np.pi * 220 * t)
    rows = [
        (1, "image", bytearray(codecs.encode_bmp(px)), 8, 8, None, None),
        (2, "audio", bytearray(codecs.encode_wav(sine, 4000)), None, None, 4000, 1000),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, media_type string, payload binary, width long, "
        "height long, sample_rate long, duration_ms long",
    )
    got = {r["media_id"]: r["features"] for r in extract_features(media, fake=False).collect()}
    want_img = codecs.image_features(px)
    want_aud = codecs.audio_features(
        codecs.decode_wav(codecs.encode_wav(sine, 4000))[0]
    )
    assert np.allclose(got[1], want_img, atol=1e-6)
    assert np.allclose(got[2], want_aud, atol=1e-6)


def test_resize_images_real_bmp(spark):
    px = _pixels(16, 16, seed=2)
    rows = [(1, "image", bytearray(codecs.encode_bmp(px)), 16, 16, None, None)]
    media = spark.createDataFrame(
        rows,
        "media_id long, media_type string, payload binary, width long, "
        "height long, sample_rate long, duration_ms long",
    )
    out = resize_images(media, 4, 6, fake=False).collect()
    resized = codecs.decode_bmp(bytes(out[0]["payload"]))
    assert resized.shape == (6, 4, 3)
    assert np.array_equal(resized, codecs.resize_nearest(px, 4, 6))


def _avro_available(spark) -> bool:
    import tempfile

    try:
        spark.range(1).write.format("avro").mode("overwrite").save(
            tempfile.mkdtemp() + "/probe"
        )
        return True
    except Exception:
        return False


def test_avro_roundtrip_or_gate(spark, tmp_path):
    """Avro fixture test 'one way or the other': full roundtrip when the
    spark-avro jar is present, clear RuntimeError gate when absent."""
    from flink_1_3_2_hopsworks_spark.sources import io as src_io

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    path = str(tmp_path / "avro_rt")
    if _avro_available(spark):
        src_io.write_avro(df, path)
        back = src_io.read_avro(spark, path)
        assert sorted((r["id"], r["s"]) for r in back.collect()) == [(1, "a"), (2, "b")]
    else:
        with pytest.raises(RuntimeError, match="avro format unavailable"):
            src_io.write_avro(df, path)
        with pytest.raises(RuntimeError, match="avro format unavailable"):
            src_io.read_avro(spark, path).collect()


def test_fake_stays_total_over_malformed_sniffable_payloads():
    """fake=True must never raise: a payload that sniffs as WAV/BMP but is
    malformed (non-PCM16 WAV, truncated BMP) falls back to the stand-in."""
    import struct

    # RIFF/WAVE header but not a parseable PCM-16 file
    bad_wav = b"RIFF" + b"\x00" * 4 + b"WAVE" + b"\x00" * 20
    # BMP header claiming pixels beyond the payload
    bad_bmp = struct.pack(
        "<2sIHHI" + "IiiHHIIiiII",
        b"BM", 54, 0, 0, 54, 40, 100, 100, 1, 24, 0, 0, 0, 0, 0, 0,
    )
    assert decode_audio(bad_wav, fake=True).shape == (16,)
    assert decode_image(bad_bmp, fake=True).shape == (16,)
    with pytest.raises(Exception):
        decode_audio(bad_wav, fake=False)
    with pytest.raises(Exception):
        decode_image(bad_bmp, fake=False)


# --------------------------------------------------- image near-dup (aHash)


def test_ahash_brightness_invariant_and_edit_sensitive():
    """aHash contract behind the image near-dup gate: brightness-shifted
    copies collide at Hamming 0 for EVERY pattern; a 4×4 local edit flips
    a small, nonzero number of block bits."""
    from flink_1_3_2_hopsworks_spark.multimodal.codecs import ahash64
    from flink_1_3_2_hopsworks_spark.multimodal.synth import synth_image

    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    for k in range(16):
        f0 = ahash64(synth_image(k, 0))
        assert ahash64(synth_image(k, 1)) == f0, k
        d = ham(f0, ahash64(synth_image(k, 2)))
        assert 1 <= d <= 10, (k, d)


def test_image_near_dup_pipeline_clusters_planted_copies(spark):
    """Planted media end-to-end: real BMP encode → decode → aHash kernel →
    simhash star machinery. The brightness copy (Hamming 0) and the small
    local edit (pattern 1: Hamming 3) cluster with their base; the large
    edit (pattern 15: Hamming 10) and a different pattern stay apart."""
    import pyspark.sql.functions as F

    from flink_1_3_2_hopsworks_spark.dedup.neardup import (
        resolve_duplicate_clusters,
    )
    from flink_1_3_2_hopsworks_spark.dedup.simhash import simhash_star_edges
    from flink_1_3_2_hopsworks_spark.multimodal.binary_ops import (
        image_ahash_fingerprints,
    )
    from flink_1_3_2_hopsworks_spark.multimodal.codecs import encode_bmp
    from flink_1_3_2_hopsworks_spark.multimodal.synth import synth_image

    rows = [
        (1, encode_bmp(synth_image(1, 0))),   # base A
        (2, encode_bmp(synth_image(1, 1))),   # brightness copy of A
        (3, encode_bmp(synth_image(1, 2))),   # local edit of A (h=3)
        (4, encode_bmp(synth_image(15, 0))),  # base B
        (5, encode_bmp(synth_image(15, 2))),  # heavy edit of B (h=10)
        (6, encode_bmp(synth_image(7, 0))),   # unrelated pattern
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    fps = image_ahash_fingerprints(media, "media_id")
    edges = simhash_star_edges(
        fps, "media_id", "simhash", max_distance=3, fingerprints=fps
    )
    out = {
        r["media_id"]: r
        for r in resolve_duplicate_clusters(
            media.select("media_id"), edges, "media_id"
        ).collect()
    }
    assert out[1]["kept"] and out[1]["canonical_id"] == 1
    assert not out[2]["kept"] and out[2]["canonical_id"] == 1
    assert not out[3]["kept"] and out[3]["canonical_id"] == 1
    assert out[4]["kept"] and out[5]["kept"] and out[6]["kept"]


def test_energyhash_gain_invariant_and_edit_sensitive():
    """energyhash64 contract behind the audio near-dup gate: half-gain
    remasters collide at Hamming 0 for EVERY pattern (through the PCM-16
    quantization round-trip); the two-frame local edit flips a small,
    nonzero number of frame bits."""
    from flink_1_3_2_hopsworks_spark.multimodal.codecs import (
        decode_wav,
        encode_wav,
        energyhash64,
    )
    from flink_1_3_2_hopsworks_spark.multimodal.synth import (
        AUDIO_RATE,
        synth_audio,
    )

    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    fp = lambda k, v: energyhash64(  # noqa: E731
        decode_wav(encode_wav(synth_audio(k, v), AUDIO_RATE))[0]
    )
    for k in range(16):
        f0 = fp(k, 0)
        assert fp(k, 1) == f0, k
        d = ham(f0, fp(k, 2))
        assert 1 <= d <= 8, (k, d)


def test_audio_near_dup_pipeline_clusters_planted_copies(spark):
    """Planted clips end-to-end: real WAV encode → decode → energy hash →
    simhash star machinery. The half-gain remaster (Hamming 0) and the
    small edit (pattern 10: Hamming 2 <= 4) cluster with their base; the
    larger edit (pattern 9: Hamming 7) and an unrelated pattern stay
    apart."""
    from flink_1_3_2_hopsworks_spark.dedup.neardup import (
        resolve_duplicate_clusters,
    )
    from flink_1_3_2_hopsworks_spark.dedup.simhash import simhash_star_edges
    from flink_1_3_2_hopsworks_spark.multimodal.binary_ops import (
        audio_energy_fingerprints,
    )
    from flink_1_3_2_hopsworks_spark.multimodal.codecs import encode_wav
    from flink_1_3_2_hopsworks_spark.multimodal.synth import (
        AUDIO_RATE,
        synth_audio,
    )

    wav = lambda k, v: encode_wav(synth_audio(k, v), AUDIO_RATE)  # noqa: E731
    rows = [
        (1, wav(10, 0)),   # base A
        (2, wav(10, 1)),   # half-gain remaster of A
        (3, wav(10, 2)),   # small edit of A (h=2)
        (4, wav(9, 0)),    # base B
        (5, wav(9, 2)),    # larger edit of B (h=7 > 4)
        (6, wav(3, 0)),    # unrelated pattern
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    fps = audio_energy_fingerprints(media, "media_id")
    edges = simhash_star_edges(
        fps, "media_id", "simhash", max_distance=4, fingerprints=fps
    )
    out = {
        r["media_id"]: r
        for r in resolve_duplicate_clusters(
            media.select("media_id"), edges, "media_id"
        ).collect()
    }
    assert out[1]["kept"] and out[1]["canonical_id"] == 1
    assert not out[2]["kept"] and out[2]["canonical_id"] == 1
    assert not out[3]["kept"] and out[3]["canonical_id"] == 1
    assert out[4]["kept"] and out[5]["kept"] and out[6]["kept"]


def test_bmv_container_roundtrip():
    from flink_1_3_2_hopsworks_spark.multimodal.codecs import (
        decode_bmv,
        encode_bmp,
        encode_bmv,
        is_bmv,
    )
    from flink_1_3_2_hopsworks_spark.multimodal.synth import synth_video

    frames = [encode_bmp(fr) for fr in synth_video(3, 0)]
    payload = encode_bmv(frames)
    assert is_bmv(payload) and not is_bmv(frames[0])
    assert decode_bmv(payload) == frames


def test_video_near_dup_pipeline_clusters_planted_copies(spark):
    """Planted videos end-to-end: BMV demux → per-frame BMP decode →
    aHash → exact frame-set Jaccard >= 0.6 → clusters. The re-encode
    (identical frame hashes) and the partial copy (7/8 shared frames,
    J = 7/9) cluster with their base; an unrelated video stays apart."""
    from flink_1_3_2_hopsworks_spark.dedup.neardup import (
        resolve_duplicate_clusters,
    )
    from flink_1_3_2_hopsworks_spark.dedup.ngram import item_set_jaccard_pairs
    from flink_1_3_2_hopsworks_spark.multimodal.binary_ops import (
        video_frame_hashes,
    )
    from flink_1_3_2_hopsworks_spark.multimodal.codecs import (
        encode_bmp,
        encode_bmv,
    )
    from flink_1_3_2_hopsworks_spark.multimodal.synth import synth_video

    bmv = lambda k, v: encode_bmv(  # noqa: E731
        [encode_bmp(fr) for fr in synth_video(k, v)]
    )
    rows = [
        (1, bmv(3, 0)),   # base A
        (2, bmv(3, 1)),   # re-encode of A (same frame hashes)
        (3, bmv(3, 2)),   # partial copy of A (7/8 frames)
        (4, bmv(9, 0)),   # unrelated video
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    frames = video_frame_hashes(media, "media_id")
    pairs = item_set_jaccard_pairs(frames, "media_id", "simhash", threshold=0.6)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert abs(got[(1, 3)] - round(7 / 9, 4)) < 1e-9
    assert (1, 4) not in got and (3, 4) not in got
    out = {
        r["media_id"]: r
        for r in resolve_duplicate_clusters(
            media.select("media_id"), pairs, "media_id"
        ).collect()
    }
    assert out[1]["kept"] and not out[2]["kept"] and not out[3]["kept"]
    assert out[2]["canonical_id"] == 1 and out[3]["canonical_id"] == 1
    assert out[4]["kept"]


def test_item_set_jaccard_cap_semantics(spark):
    """A hot item shared by everything must not explode the join: capped
    away it can no longer witness pairs (the documented recall trade),
    while Jaccard still divides by the FULL set sizes."""
    from flink_1_3_2_hopsworks_spark.dedup.ngram import item_set_jaccard_pairs

    rows = (
        [(i, 999) for i in range(6)]   # hot item in every set
        + [(1, 10), (2, 10), (1, 11), (2, 11)]  # real overlap between 1,2
    )
    df = spark.createDataFrame(rows, "id long, item long")
    pairs = item_set_jaccard_pairs(
        df, "id", "item", threshold=0.5, max_bucket=3
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    # 999 capped away: ids 1,2 share {10,11} of their {10,11,999} sets ->
    # J computed on FULL set sizes = 2/(3+3-2) = 0.5
    assert got == {(1, 2): 0.5}


# ------------------------------------------------------- image curation funnel


def test_image_curation_verdicts_stage_semantics(spark):
    """Planted corpus: a corrupt payload fails decode, a flat image fails
    contrast, a brightness-shifted copy collapses at exact-perceptual
    dedup, a locally-edited copy clusters at the star stage, and a clean
    distinct image survives to the shard."""
    import numpy as np

    from flink_1_3_2_hopsworks_spark.multimodal.codecs import encode_bmp
    from flink_1_3_2_hopsworks_spark.multimodal.curation import (
        image_curation_verdicts,
    )
    from flink_1_3_2_hopsworks_spark.multimodal.synth import synth_image

    base = synth_image(3, 0)            # mean 115.51, std 44.66 -> passes
    flat = np.full((32, 32, 3), 120, dtype=np.uint8)   # std 0 -> contrast fail
    rows = [
        (1, bytearray(encode_bmp(base))),
        (2, bytearray(encode_bmp(synth_image(3, 1)))),  # +20 copy: same aHash
        (3, bytearray(encode_bmp(synth_image(3, 2)))),  # local edit: near-dup
        (4, bytearray(encode_bmp(flat))),
        (5, bytearray(b"not a bmp")),
        (6, bytearray(encode_bmp(synth_image(7, 0)))),  # distinct survivor
    ]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: r
        for r in image_curation_verdicts(media, "doc_id").collect()
    }
    assert not got[5]["s1"]                       # corrupt: decode fail
    assert got[4]["s1"] and not got[4]["s2"]      # flat: contrast rule
    assert got[1]["simhash"] == got[2]["simhash"]  # brightness invariance
    assert got[1]["s3"] and not got[2]["s3"]      # min-id wins the collapse
    assert got[3]["s3"] and not got[3]["s4"]      # edited copy: star cluster
    assert got[1]["s4"] and got[6]["s5"]
    assert got[6]["shard"] is not None and got[2]["shard"] is None


def test_decode_signals_exact_ahash_in_batch_with_corrupt_payload(spark):
    """A corrupt payload sharing an Arrow batch with decodable images must
    not cost them precision: each decoded row's ``simhash`` is exactly
    ``ahash64`` of its pixels (all 64 bits, not a float64 rounding) and
    the corrupt row's is NULL. ``coalesce(1)`` forces one batch whatever
    the core count."""
    from flink_1_3_2_hopsworks_spark.multimodal.codecs import (
        ahash64,
        decode_bmp,
        encode_bmp,
    )
    from flink_1_3_2_hopsworks_spark.multimodal.curation import (
        decode_signals,
    )
    from flink_1_3_2_hopsworks_spark.multimodal.synth import synth_image

    payloads = {k: encode_bmp(synth_image(k, 0)) for k in range(8)}
    want = {k: ahash64(decode_bmp(p)) for k, p in payloads.items()}
    # The check has teeth only if some hash is not exact in a float64.
    assert any(int(float(h)) != h for h in want.values())
    rows = [(k, bytearray(p)) for k, p in payloads.items()]
    rows.insert(4, (99, bytearray(b"not a bmp")))
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: r
        for r in decode_signals(media.coalesce(1), "doc_id").collect()
    }
    assert not got[99]["decoded"] and got[99]["simhash"] is None
    assert {k: got[k]["simhash"] for k in want} == want


def test_image_curation_funnel_monotone_and_checksums(spark):
    from flink_1_3_2_hopsworks_spark.catalog import load_table
    from flink_1_3_2_hopsworks_spark.multimodal.curation import (
        image_curation_funnel,
    )
    from flink_1_3_2_hopsworks_spark.multimodal.synth import image_twin

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = image_curation_funnel(image_twin(docs, "doc_id"), "doc_id").collect()
    assert [r["stage"] for r in rows][0] == "input"
    counts = [r["n_images"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] == docs.count() and counts[-1] > 0
    # Shard-stage survivor set == near-dup-stage set, but the checksum
    # binds the shard assignment, so it must differ.
    assert rows[-1]["n_images"] == rows[-2]["n_images"]
    assert rows[-1]["id_checksum"] != rows[-2]["id_checksum"]


def test_video_descriptor_batched_exact_parity_and_fallback():
    """r11: the batched frame-stack descriptor must equal the per-frame
    path BIT-FOR-BIT over the whole frozen gate corpus (the frozen model
    tables and SQL oracles regenerate from video_descriptor, so any
    float drift would break every mm_video gate), and mixed-shape frame
    lists fall back to the per-frame loop."""
    import numpy as np

    from flink_1_3_2_hopsworks_spark.multimodal.codecs import (
        video_descriptor,
        video_descriptor_batched,
    )
    from flink_1_3_2_hopsworks_spark.multimodal.synth import synth_video

    for k in range(16):
        for v in range(3):
            px = synth_video(k, v)
            assert np.array_equal(
                video_descriptor(px), video_descriptor_batched(px)
            ), (k, v)

    mixed = [synth_video(0, 0)[0], synth_video(0, 0)[1][:16, :, :]]
    assert np.array_equal(
        video_descriptor(mixed), video_descriptor_batched(mixed)
    )
