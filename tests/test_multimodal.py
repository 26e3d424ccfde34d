"""multimodal.columns — binary payload plumbing over mapInPandas."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.multimodal import (
    MEDIA_META_SCHEMA,
    attach_text_payload,
    decode_image,
    extract_byte_features,
    fake_decode_meta,
    sample_frame_indices,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(0, "ab cd"), (1, "xyz"), (2, "")], ["doc_id", "text"]
    )


def test_attach_and_extract_byte_features(spark, docs):
    out = {r["doc_id"]: r for r in extract_byte_features(attach_text_payload(docs)).collect()}
    assert (out[0]["byte_len"], out[0]["n_space_bytes"]) == (5, 1)
    assert out[0]["byte_checksum"] == (97 + 98 + 32 + 99 + 100)
    assert (out[1]["byte_len"], out[1]["n_space_bytes"]) == (3, 0)
    assert (out[2]["byte_len"], out[2]["byte_checksum"]) == (0, 0)


def test_media_meta_struct(spark, docs):
    row = attach_text_payload(docs).select("media_meta").first()["media_meta"]
    assert row["media_type"] == "text" and row["codec"] == "utf-8"
    assert set(row.asDict()) == {f.name for f in MEDIA_META_SCHEMA.fields}


def test_fake_decode_deterministic():
    w1, h1, m1 = fake_decode_meta(b"hello world")
    w2, h2, m2 = fake_decode_meta(b"hello world")
    assert (w1, h1, m1) == (w2, h2, m2)
    assert fake_decode_meta(b"") == (16, 16, 0)


def test_decode_ppm_round_trip():
    import numpy as np

    from olympic_athletes_etl_spark.multimodal import encode_ppm

    arr = np.arange(5 * 4 * 3, dtype=np.uint8).reshape(4, 5, 3)
    w, h, out = decode_image(encode_ppm(arr))
    assert (w, h) == (5, 4)
    assert np.array_equal(out, arr)


def test_decode_pgm_replicates_gray_to_rgb():
    import numpy as np

    gray = bytes(range(12))
    payload = b"P5\n# a comment\n4 3\n255\n" + gray
    w, h, out = decode_image(payload)
    assert (w, h) == (4, 3)
    assert out.shape == (3, 4, 3)
    assert np.array_equal(out[..., 0], np.frombuffer(gray, np.uint8).reshape(3, 4))
    assert np.array_equal(out[..., 0], out[..., 1]) and np.array_equal(
        out[..., 0], out[..., 2]
    )


def _bmp24(pixels) -> bytes:
    """Hand-roll a bottom-up 24-bit BI_RGB BMP from an (h, w, 3) RGB array."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w = arr.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = b""
    for y in range(h - 1, -1, -1):  # bottom-up
        row = arr[y][..., ::-1].tobytes()  # RGB → BGR
        rows += row + b"\x00" * (stride - len(row))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 0, 0, 0, 0)
    return header + info + rows


def test_decode_bmp24_matches_source_pixels():
    import numpy as np

    arr = (np.arange(6 * 3 * 3, dtype=np.int64) * 7 % 256).astype(np.uint8)
    arr = arr.reshape(3, 6, 3)  # w=6 → stride padding exercised (18 → 20)
    w, h, out = decode_image(_bmp24(arr))
    assert (w, h) == (6, 3)
    assert np.array_equal(out, arr)


def test_decode_image_rejects_unknown_codec():
    with pytest.raises(ValueError, match="unsupported image codec"):
        decode_image(b"GIF89a....")


def test_decode_wav_round_trip():
    import numpy as np

    from olympic_athletes_etl_spark.multimodal import decode_audio, encode_wav

    samples = (np.arange(200, dtype=np.int64) * 331 % 20000 - 10000).astype(np.int16)
    stereo = samples.reshape(-1, 2)
    rate, nch, out = decode_audio(encode_wav(stereo, 8000))
    assert (rate, nch) == (8000, 2)
    assert np.array_equal(out, stereo)
    with pytest.raises(ValueError, match="not a PCM WAV"):
        decode_audio(b"nonsense bytes")


def test_sample_frame_indices(spark):
    df = spark.createDataFrame([(1, 25)], ["vid_id", "n"]).select(
        "vid_id",
        F.lit(b"fake").alias("payload"),
        F.struct(
            F.lit("video").alias("media_type"),
            F.lit("fake").alias("codec"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.col("n").cast("int").alias("n_frames"),
        ).alias("media_meta"),
    )
    out = sample_frame_indices(df, every=10)
    assert [r["frame_idx"] for r in out.collect()] == [0, 10, 20]
    assert "payload" not in out.columns


def test_plan_resize_dims_integer_fit(spark):
    from olympic_athletes_etl_spark.multimodal.columns import plan_resize_dims

    df = spark.createDataFrame(
        [(1, 16, 16), (2, 64, 16), (3, 16, 64), (4, 64, 48), (5, 1000, 1)],
        "id long, w int, h int",
    )
    rows = {
        r["id"]: (r["dst_w"], r["dst_h"], r["needs_resize"])
        for r in plan_resize_dims(df, "w", "h", 32, 32).collect()
    }
    assert rows[1] == (16, 16, False)     # already fits: untouched
    assert rows[2] == (32, 8, True)       # wide: width binds
    assert rows[3] == (8, 32, True)       # tall: height binds
    assert rows[4] == (32, 24, True)      # 4:3 preserved exactly
    assert rows[5] == (32, 1, True)       # degenerate: floor clamps to 1
    # aspect never inverted: dst fits the box for every row
    assert all(dw <= 32 and dh <= 32 for dw, dh, _ in rows.values())


def test_resize_image_nearest_neighbor_exact():
    import numpy as np

    from olympic_athletes_etl_spark.multimodal import encode_ppm, resize_image

    # 4×4 checkerboard downscaled 2×: each dst pixel is the exact source
    # pixel at (y*src//dst, x*src//dst) — integer nearest-neighbor.
    src = np.zeros((4, 4, 3), dtype=np.uint8)
    src[::2, ::2] = 255
    src[1::2, 1::2] = 7
    out_w, out_h, out = decode_image(resize_image(encode_ppm(src), 2, 2))
    assert (out_w, out_h) == (2, 2)
    expect = src[(np.arange(2) * 4) // 2][:, (np.arange(2) * 4) // 2]
    assert np.array_equal(out, expect)
    # upscale also exact (indices repeat)
    _, _, up = decode_image(resize_image(encode_ppm(src), 8, 8))
    ys = (np.arange(8) * 4) // 8
    assert np.array_equal(up, src[ys][:, ys])


def test_image_ahash_uniform_image_has_no_bits(spark):
    import numpy as np

    from olympic_athletes_etl_spark.multimodal.columns import (
        encode_ppm,
        image_ahash,
    )

    flat = np.full((6, 10, 3), 77, dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(flat)))], "doc_id long, payload binary"
    )
    r = image_ahash(df).collect()[0]
    # no block is STRICTLY brighter than the mean on a flat image
    assert r["ahash"] == 0 and r["n_bits"] == 0


def test_image_ahash_bright_half_sets_exactly_those_blocks(spark):
    import numpy as np

    from olympic_athletes_etl_spark.multimodal.columns import (
        encode_ppm,
        image_ahash,
    )

    # 14 rows: top 7 white, bottom 7 black. Grid row mapping r*7//14
    # puts image rows (0,1)->0, (2,3)->1, (4,5)->2, (6,7)->3 — so grid
    # rows 0-2 are pure white (strictly above the 50% mean -> set) and
    # grid row 3 mixes one white + one black row, landing EXACTLY at
    # the mean: the strict compare leaves it unset, pinning the
    # tie-goes-to-zero semantics the oracle shares.
    px = np.zeros((14, 8, 3), dtype=np.uint8)
    px[:7, :, :] = 255
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(px)))], "doc_id long, payload binary"
    )
    r = image_ahash(df).collect()[0]
    expected = 0
    for gr in range(3):  # grid rows 0..2 hold only white pixels
        for gc in range(8):
            expected |= 1 << (gr * 8 + gc)
    assert r["ahash"] == expected
    assert r["n_bits"] == 24
    # popcount consistency always holds
    assert bin(r["ahash"]).count("1") == r["n_bits"]


def test_image_ahash_is_reencode_stable(spark):
    """The property that makes ahash a NEAR-dup key: a brightness-
    preserving re-encode (identical pixels, fresh container bytes)
    hashes identically, where md5-of-payload would differ."""
    import numpy as np

    from olympic_athletes_etl_spark.multimodal.columns import (
        encode_ppm,
        image_ahash,
    )

    rng_px = (np.arange(9 * 12 * 3, dtype=np.int64) * 37 % 251).astype(
        np.uint8
    ).reshape(9, 12, 3)
    p1 = encode_ppm(rng_px)
    p2 = b"P6\n" + b"12 9\n" + b"255\n" + rng_px.tobytes()  # same raster
    df = spark.createDataFrame(
        [(1, bytearray(p1)), (2, bytearray(p2))], "doc_id long, payload binary"
    )
    rows = {r["doc_id"]: r["ahash"] for r in image_ahash(df).collect()}
    assert rows[1] == rows[2]


def test_image_neardup_pairs_are_hamming_verified(spark, sf_dir):
    from olympic_athletes_etl_spark.plans.multimodal_q import (
        m_image_ahash,
        m_image_neardup,
    )

    hashes = {
        r["doc_id"]: r["ahash"] for r in m_image_ahash(spark, sf_dir).collect()
    }
    rows = m_image_neardup(spark, sf_dir).collect()
    assert rows  # non-vacuous at the test SF (832 identical rasters)
    for r in rows:
        true_h = bin(hashes[r["doc_a"]] ^ hashes[r["doc_b"]]).count("1")
        assert r["hamming"] == true_h  # verify step reports TRUE distance
        assert true_h <= 8
        assert r["doc_a"] < r["doc_b"]
    # identical synthetic rasters (same pixel phase + dims) must surface
    assert any(r["hamming"] == 0 for r in rows)


def test_image_neardup_hot_band_cap_binds_at_sf001(spark, sf001_dir):
    """At sf0.01 the degenerate all-zero bands exceed _HOT_BAND_CAP and
    are dropped; the query must equal a pure-Python reimplementation of
    capped-band candidates + hamming verify over the 500-doc corpus.
    Pins both directions: no pair whose only shared bands are hot, and
    every pair sharing a cold band with hamming <= 8 present."""
    from itertools import combinations

    from olympic_athletes_etl_spark.plans.multimodal_q import (
        _HOT_BAND_CAP,
        m_image_ahash,
        m_image_neardup,
    )

    sf001 = sf001_dir
    hashes = {
        r["doc_id"]: r["ahash"]
        for r in m_image_ahash(spark, sf001).collect()
    }
    bands: dict[tuple[int, int], list[int]] = {}
    for doc, h in hashes.items():
        for j in range(4):
            bands.setdefault((j, (h >> (j * 14)) & 16383), []).append(doc)
    hot = {k for k, v in bands.items() if len(v) > _HOT_BAND_CAP}
    assert hot  # non-vacuous: the cap actually binds at this SF
    expected = set()
    for k, members in bands.items():
        if k in hot:
            continue
        for a, b in combinations(sorted(members), 2):
            d = bin(hashes[a] ^ hashes[b]).count("1")
            if d <= 8:
                expected.add((a, b, d))
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in m_image_neardup(spark, sf001).collect()
    }
    assert got == expected
