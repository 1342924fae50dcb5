"""Multimodal column plumbing: schema, batch shapes, stub gating."""

import numpy as np
import pytest
import pyspark.sql.functions as F

from apache_arrow_spark.functions.multimodal import (
    attach_fake_media,
    decode_image,
    extract_features,
)


@pytest.fixture()
def media(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    return attach_fake_media(docs)


def test_media_schema(media):
    assert media.schema.simpleString() == (
        "struct<doc_id:bigint,payload:binary,media_type:string,width:int,height:int>"
    )
    r = media.first()
    assert isinstance(r["payload"], (bytes, bytearray)) and len(r["payload"]) > 0
    assert 64 <= r["width"] < 1088 and 64 <= r["height"] < 832


def test_decode_stub_gated():
    with pytest.raises(NotImplementedError):
        decode_image(b"abc", fake=False)
    feats = decode_image(b"abcabc", fake=True)
    assert len(feats) == 16 and abs(sum(feats) - 1.0) < 1e-9


def test_extract_features_batchwise(spark, media):
    out = extract_features(media)
    rows = out.collect()
    assert len(rows) == 50
    for r in rows[:5]:
        assert len(r["features"]) == 16
        assert abs(sum(r["features"]) - 1.0) < 1e-6
        assert r["n_bytes"] > 0


# ---------------------------------------------------------------------------
# Real codecs (BMP 24-bit BI_RGB / PPM P6, pure numpy)
# ---------------------------------------------------------------------------


def test_bmp_roundtrip_padded_widths():
    import numpy as np

    from apache_arrow_spark.functions.multimodal import decode_bmp, encode_bmp

    rng = np.random.RandomState(3)
    for w, h in [(1, 1), (2, 3), (3, 2), (5, 7), (8, 8), (13, 4)]:
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = encode_bmp(px)
        assert payload[:2] == b"BM"
        back = decode_bmp(payload)
        assert back.shape == (h, w, 3)
        assert np.array_equal(back, px)


def test_ppm_roundtrip_and_comment_header():
    import numpy as np

    from apache_arrow_spark.functions.multimodal import decode_ppm, encode_ppm

    rng = np.random.RandomState(4)
    px = rng.randint(0, 256, size=(5, 9, 3), dtype=np.uint8)
    payload = encode_ppm(px)
    assert payload[:2] == b"P6"
    assert np.array_equal(decode_ppm(payload), px)
    # Netpbm comments in the header are legal
    commented = b"P6\n# a comment\n9 5\n255\n" + px.tobytes()
    assert np.array_equal(decode_ppm(commented), px)


def test_decode_image_real_path():
    import numpy as np

    from apache_arrow_spark.functions.multimodal import (
        decode_image,
        encode_bmp,
        encode_ppm,
    )

    px = np.full((4, 4, 3), 17, dtype=np.uint8)  # all bytes -> bucket 1
    for payload in (encode_bmp(px), encode_ppm(px)):
        feats = decode_image(payload, fake=False)
        assert len(feats) == 16
        assert feats[17 % 16] == 1.0

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n", fake=False)


def test_extract_features_real(spark):
    """extract_features over real BMP/PPM payloads."""
    from apache_arrow_spark.functions.multimodal import (
        attach_real_media,
        extract_features,
    )

    df = spark.range(6).select(F.col("id").alias("doc_id"), F.lit("x").alias("text"))
    media = attach_real_media(df)
    out = extract_features(media).collect()
    assert len(out) == 6
    for r in out:
        assert len(r["features"]) == 16
        assert abs(sum(r["features"]) - 1.0) < 1e-9


def test_channel_stats_matches_formula(spark):
    from apache_arrow_spark.functions.multimodal import attach_real_media, channel_stats

    df = spark.range(10).select(F.col("id").alias("doc_id"))
    rows = {r["doc_id"]: r for r in channel_stats(attach_real_media(df)).collect()}
    for i in range(10):
        w, h = 8 + i % 5, 8 + i % 7
        s = sum((i * 31 + x * 7 + y * 13) % 256 for x in range(w) for y in range(h))
        assert rows[i]["width"] == w and rows[i]["height"] == h
        assert rows[i]["mean_r_micro"] == s * 1_000_000 // (w * h)


# ---------------------------------------------------------------------------
# Real audio codec (WAV RIFF 16-bit PCM, pure numpy)
# ---------------------------------------------------------------------------


def test_wav_roundtrip():
    import numpy as np

    from apache_arrow_spark.functions.multimodal import decode_wav, encode_wav

    rng = np.random.RandomState(9)
    s = rng.randint(-32768, 32768, size=1234, dtype=np.int16)
    payload = encode_wav(s, 8000)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    rate, back = decode_wav(payload)
    assert rate == 8000
    assert np.array_equal(back, s)


def test_wav_extra_chunks_and_rejects():
    import numpy as np
    import pytest as _pytest

    from apache_arrow_spark.functions.multimodal import decode_wav, encode_wav

    s = np.array([1, -2, 3], dtype=np.int16)
    payload = encode_wav(s, 16000)
    # splice a LIST chunk between fmt and data: decoder must skip it
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    spliced = payload[:fmt_end] + extra + payload[fmt_end:]
    spliced = spliced[:4] + (len(spliced) - 8).to_bytes(4, "little") + spliced[8:]
    rate, back = decode_wav(spliced)
    assert rate == 16000 and np.array_equal(back, s)
    with _pytest.raises(ValueError):
        decode_wav(b"OggS1234")


def test_audio_features_match_formula(spark):
    from apache_arrow_spark.functions.multimodal import attach_real_audio, audio_features

    df = spark.range(7).select(F.col("id").alias("doc_id"))
    rows = {r["doc_id"]: r for r in audio_features(attach_real_audio(df)).collect()}
    for i in range(7):
        n = 800 + (i % 5) * 160
        s = [((i * 31 + k * 7) % 2003) - 1001 for k in range(n)]
        assert rows[i]["n_samples"] == n
        assert rows[i]["energy_micro"] == sum(v * v for v in s) * 1_000_000 // n
        assert rows[i]["zero_crossings"] == sum(
            1 for a, b in zip(s, s[1:]) if a * b < 0
        )


def test_resize_pixels_nearest_neighbor():
    from apache_arrow_spark.functions.multimodal import resize_pixels

    px = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)
    out = resize_pixels(px, 14, 10)
    assert out.shape == (10, 14, 3)
    for yy in range(10):
        for xx in range(14):
            assert (out[yy, xx] == px[yy * 5 // 10, xx * 7 // 14]).all()
    # downscale picks the floor-mapped source pixel
    small = resize_pixels(px, 3, 2)
    assert (small[1, 2] == px[1 * 5 // 2, 2 * 7 // 3]).all()


def test_resize_image_reencodes_same_format(spark):
    from apache_arrow_spark.functions.multimodal import (
        attach_real_media,
        decode_image_pixels,
        resize_image,
    )

    df = spark.range(6).select(F.col("id").alias("doc_id"))
    rows = resize_image(attach_real_media(df), 16, 12).collect()
    for r in rows:
        raw = bytes(r["payload"])
        # format preserved: even ids were BMP, odd ids PPM
        assert raw[:2] == (b"BM" if r["doc_id"] % 2 == 0 else b"P6")
        px = decode_image_pixels(raw)
        assert px.shape == (12, 16, 3)
        assert r["width"] == 16 and r["height"] == 12
        # spot-check the closed form at the mapped source coordinate
        i, w, h = r["doc_id"], 8 + r["doc_id"] % 5, 8 + r["doc_id"] % 7
        sx, sy = 5 * w // 16, 3 * h // 12
        assert px[3, 5, 0] == (i * 31 + sx * 7 + sy * 13) % 256


def test_mvid_roundtrip_and_rejects():
    import pytest as _pytest

    from apache_arrow_spark.functions.multimodal import decode_mvid, encode_mvid

    frames = [
        np.full((4, 6, 3), v, dtype=np.uint8) for v in (0, 127, 255)
    ]
    back = decode_mvid(encode_mvid(frames))
    assert len(back) == 3
    assert all(np.array_equal(a, b) for a, b in zip(frames, back))
    with _pytest.raises(ValueError):
        decode_mvid(b"RIFF1234")


def test_frame_sample_matches_formula(spark):
    from apache_arrow_spark.functions.multimodal import attach_real_video, frame_sample

    df = spark.range(9).select(F.col("id").alias("doc_id"))
    rows = frame_sample(attach_real_video(df), every_n=2).collect()
    by_key = {(r["doc_id"], r["frame_no"]): r for r in rows}
    for i in range(9):
        n, w, h = 4 + i % 5, 8 + i % 3, 6 + i % 4
        expect_frames = list(range(0, n, 2))
        got = sorted(f for (d, f) in by_key if d == i)
        assert got == expect_frames
        for f in expect_frames:
            s = sum(
                (i * 31 + f * 11 + x * 7 + y * 13) % 256
                for x in range(w)
                for y in range(h)
            )
            assert by_key[(i, f)]["mean_r_micro"] == s * 1_000_000 // (w * h)


def test_perceptual_dhash_matches_formula(spark):
    from apache_arrow_spark.functions.multimodal import (
        attach_real_media,
        perceptual_dhash_blocks,
    )

    df = spark.range(12).select(F.col("id").alias("doc_id"))
    rows = {r["doc_id"]: r for r in perceptual_dhash_blocks(attach_real_media(df)).collect()}
    for i in range(12):
        w, h = 8 + i % 5, 8 + i % 7
        gray = {}
        for X in range(9):
            for Y in range(8):
                sx, sy = X * w // 9, Y * h // 8
                e = sx * 7 + sy * 13
                gray[(X, Y)] = sum((i * k + e) % 256 for k in (31, 57, 97))
        bits = [
            1 if gray[(X + 1, Y)] > gray[(X, Y)] else 0
            for Y in range(8)
            for X in range(8)
        ]
        for b in range(4):
            want = sum(bits[b * 16 + j] << j for j in range(16))
            assert rows[i][f"b{b}"] == want, (i, b)


def test_image_near_duplicates_finds_planted_copy(spark):
    from apache_arrow_spark.functions.multimodal import (
        attach_real_media,
        image_near_duplicates,
    )

    base = spark.range(6).select(F.col("id").alias("doc_id"))
    media = attach_real_media(base)
    # plant an exact pixel copy of doc 0 under a new id: the identical
    # hash group {0, 100} reports as ONE cluster row on its representative
    twin = media.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 100).alias("doc_id"),
        "payload", "media_type", "width", "height",
    )
    rows = image_near_duplicates(media.unionByName(twin), max_hamming=0).collect()
    assert any(
        r["id_a"] == 0 and r["id_b"] == 0 and r["hamming"] == 0 and r["n_pairs"] == 1
        for r in rows
    )


def test_decimate_audio_matches_formula(spark):
    from apache_arrow_spark.functions.multimodal import (
        attach_real_audio,
        audio_features,
        decimate_audio,
    )

    df = spark.range(5).select(F.col("id").alias("doc_id"))
    out = audio_features(decimate_audio(attach_real_audio(df)))
    rows = {r["doc_id"]: r for r in out.collect()}
    for i in range(5):
        n = 800 + (i % 5) * 160
        s = [((i * 31 + k * 7) % 2003) - 1001 for k in range(n)]
        d = [(s[2 * j] + s[2 * j + 1]) // 2 for j in range(n // 2)]
        assert rows[i]["sample_rate"] == 8000
        assert rows[i]["n_samples"] == n // 2
        assert rows[i]["energy_micro"] == sum(v * v for v in d) * 1_000_000 // (n // 2)
        assert rows[i]["zero_crossings"] == sum(
            1 for a, b in zip(d, d[1:]) if a * b < 0
        )


def test_equalize_image_matches_numpy_reference(spark):
    from apache_arrow_spark.functions.multimodal import (
        attach_real_media,
        decode_image_pixels,
        equalize_image,
    )

    df = spark.range(6).select(F.col("id").alias("doc_id"))
    rows = equalize_image(attach_real_media(df)).collect()
    for r in rows:
        i = r["doc_id"]
        w, h = 8 + i % 5, 8 + i % 7
        # rebuild source pixels and the reference equalization
        x = np.arange(w, dtype=np.int64) * 7
        y = np.arange(h, dtype=np.int64) * 13
        base = y[:, None] + x[None, :]
        src = np.stack([(i * k + base) % 256 for k in (31, 57, 97)], axis=-1)
        want = np.empty_like(src)
        for c in range(3):
            ch = src[:, :, c]
            hist = np.bincount(ch.ravel(), minlength=256)
            cdf = hist.cumsum()
            cdf_min = int(cdf[np.nonzero(hist)[0][0]])
            denom = w * h - cdf_min
            lut = (
                np.floor(255.0 * (cdf - cdf_min) / denom).astype(np.int64)
                if denom > 0
                else np.zeros(256, dtype=np.int64)
            )
            want[:, :, c] = lut[ch]
        got = decode_image_pixels(bytes(r["payload"]))
        assert (got == want.astype(np.uint8)).all(), i
