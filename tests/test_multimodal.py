"""Multimodal plumbing: binary columns + typed metadata through
Arrow-batched mapInPandas stages, deterministic across partitionings
and parquet round-trips."""

import pytest
from pyspark.sql import functions as F

from kgspark import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.media_df(spark, 60, partitions=4).cache()


def test_decode_meta_roundtrip(media):
    got = {r["media_id"]: r for r in mm.decode_meta(media).collect()}
    assert len(got) == 60
    for i in range(60):
        r = got[f"m{i:08d}"]
        assert r["valid"]
        assert r["kind"] == mm.KINDS[i % 3]
        if r["kind"] != "audio":
            assert r["width"] == 16 + (i % 7) * 16
            assert r["height"] == 16 + (i % 5) * 16
        if r["kind"] == "video":
            assert r["n_frames"] == 2 + i % 6
            assert r["n_payload_bytes"] == r["n_frames"] * mm.FRAME_BYTES
        if r["kind"] == "audio":
            assert r["sample_rate"] in (8000, 12000, 16000, 20000)


def test_decode_meta_poison_pill(spark):
    bad = spark.createDataFrame(
        [("x1", None), ("x2", b"not-a-container"), ("x3", b"KG")],
        "media_id string, content binary",
    )
    rows = {r["media_id"]: r for r in mm.decode_meta(bad).collect()}
    assert not any(r["valid"] for r in rows.values())
    assert rows["x2"]["n_payload_bytes"] == len(b"not-a-container")


def test_sample_frames(media):
    frames = mm.sample_frames(media, every_n=2).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    for i in range(60):
        mid = f"m{i:08d}"
        kind = mm.KINDS[i % 3]
        if kind == "image":
            assert [r["frame_idx"] for r in by_id[mid]] == [0]
            w, h = 16 + (i % 7) * 16, 16 + (i % 5) * 16
            if i % 9 in (0, 6):  # real BMP/PPM: frame = decoded pixels
                assert len(by_id[mid][0]["frame"]) == 3 * w * h
                assert bytes(by_id[mid][0]["frame"]) == mm.media_pixels(
                    mid, w, h
                ).tobytes()
            else:  # KGSM fake container keeps the fixed fake frame
                assert len(by_id[mid][0]["frame"]) == mm.FRAME_BYTES
        elif kind == "video":
            nf = 2 + i % 6
            assert sorted(r["frame_idx"] for r in by_id[mid]) == list(
                range(0, nf, 2)
            )
            assert all(len(r["frame"]) == mm.FRAME_BYTES for r in by_id[mid])
        else:
            assert mid not in by_id


def test_features_deterministic_across_partitioning(spark, media):
    a = {r["media_id"]: list(r["feature"]) for r in mm.media_features(media).collect()}
    b = {
        r["media_id"]: list(r["feature"])
        for r in mm.media_features(media.repartition(7)).collect()
    }
    assert a == b
    assert all(len(v) == 16 for v in a.values())
    # unit-norm
    import math

    for v in list(a.values())[:5]:
        assert math.isqrt(int(sum(x * x for x in v))) <= 1
        assert abs(sum(x * x for x in v) - 1.0) < 1e-3


def test_resize_images_rewrites_dims_only_for_images(media):
    resized = mm.resize_images(media, 32, 32)
    meta = {r["media_id"]: r for r in mm.decode_meta(resized).collect()}
    for i in range(60):
        r = meta[f"m{i:08d}"]
        if mm.KINDS[i % 3] == "image":
            assert (r["width"], r["height"]) == (32, 32)
        elif mm.KINDS[i % 3] == "video":
            assert r["width"] == 16 + (i % 7) * 16  # untouched


def test_parquet_roundtrip(tmp_path, spark, media):
    path = str(tmp_path / "media.parquet")
    media.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert back.schema.simpleString() == media.schema.simpleString()
    a = {r["media_id"]: bytes(r["content"]) for r in media.collect()}
    b = {r["media_id"]: bytes(r["content"]) for r in back.collect()}
    assert a == b


def test_media_stats(media):
    stats = {r["kind"]: r for r in mm.media_stats(media).collect()}
    assert stats["image"]["n_media"] == 20
    assert stats["audio"]["n_media"] == 20
    assert stats["video"]["n_media"] == 20
    assert stats["image"]["max_frames"] == 1


def test_real_codec_stub_is_marked(media):
    with pytest.raises(NotImplementedError, match="PIL"):
        mm._decode_payload(b"KGSM" + b"\x00" * 20)


# ---------------------------------------------------------------------------
# round 5: real pure-Python BMP / PPM codecs
# ---------------------------------------------------------------------------


def test_bmp_roundtrip_bit_exact():
    import numpy as np

    rng = np.random.default_rng(3)
    for (h, w) in [(1, 1), (3, 5), (16, 16), (7, 13)]:  # odd widths pad
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        back = mm._decode_bmp(mm.encode_bmp(px))
        assert back.shape == (h, w, 3)
        assert np.array_equal(back, px)


def test_ppm_roundtrip_bit_exact():
    import numpy as np

    rng = np.random.default_rng(4)
    px = rng.integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
    back = mm._decode_ppm(mm.encode_ppm(px))
    assert np.array_equal(back, px)
    # comment in header is skipped
    blob = mm.encode_ppm(px)
    commented = b"P6\n# a comment\n" + blob[3:]
    assert np.array_equal(mm._decode_ppm(commented), px)


def test_bmp_topdown_and_malformed():
    import struct as st

    import numpy as np

    px = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    blob = bytearray(mm.encode_bmp(px))
    # flip to top-down (negative height) and reverse the stored rows:
    # decoder must produce the same logical image
    st.pack_into("<i", blob, 22, -2)
    row_size = (3 * 2 + 3) // 4 * 4
    rows = bytes(blob[54:])
    flipped = rows[row_size:] + rows[:row_size]
    assert np.array_equal(
        mm._decode_bmp(bytes(blob[:54]) + flipped), px
    )
    # truncated pixel data -> ValueError -> poison-pill in decode_meta
    trunc = mm.encode_bmp(px)[:-4]
    with pytest.raises(ValueError):
        mm._decode_bmp(trunc)
    meta = mm._decode_header(trunc)
    assert meta[-1] is False


def test_decode_payload_real_formats():
    import numpy as np

    px = mm.media_pixels("seed", 8, 6)
    assert np.array_equal(mm._decode_payload(mm.encode_bmp(px)), px)
    assert np.array_equal(mm._decode_payload(mm.encode_ppm(px)), px)


def test_decode_meta_reports_decoded_dims_for_real_images(media):
    got = {r["media_id"]: r for r in mm.decode_meta(media).collect()}
    for i in range(0, 60, 3):  # images
        r = got[f"m{i:08d}"]
        w, h = 16 + (i % 7) * 16, 16 + (i % 5) * 16
        assert r["valid"] and r["kind"] == "image"
        assert (r["width"], r["height"]) == (w, h)
        if i % 9 in (0, 6):  # real image: payload = decoded pixel bytes
            assert r["n_payload_bytes"] == 3 * w * h


def test_resize_real_images_resizes_pixels(media):
    """Real path: decode -> nearest-neighbor -> re-encode; the resized
    blob decodes to the exact subsampled pixel array."""
    import numpy as np

    resized = {r["media_id"]: bytes(r["content"])
               for r in mm.resize_images(media, 8, 8).collect()}
    for i in (0, 6):  # m0 BMP, m6 PPM
        mid = f"m{i:08d}"
        w, h = 16 + (i % 7) * 16, 16 + (i % 5) * 16
        want = mm.resize_pixels(mm.media_pixels(mid, w, h), 8, 8)
        got = mm._decode_payload(resized[mid])
        assert got.shape == (8, 8, 3)
        assert np.array_equal(got, want)


def test_resize_pixels_nearest_neighbor_hand_checked():
    import numpy as np

    px = np.array(
        [[[0, 0, 0], [1, 1, 1]], [[2, 2, 2], [3, 3, 3]]], dtype=np.uint8
    )
    up = mm.resize_pixels(px, 4, 4)
    assert up.shape == (4, 4, 3)
    # each source pixel becomes a 2x2 block
    assert up[0, 0, 0] == 0 and up[0, 3, 0] == 1
    assert up[3, 0, 0] == 2 and up[3, 3, 0] == 3


def test_ppm_crlf_separator_and_malformed_separator():
    """A CRLF after maxval (what Windows-convention writers emit) must
    not shift the raster by one byte, and a NON-whitespace byte there
    is a malformed header, not pixel data."""
    import numpy as np

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(2, 2, 3), dtype=np.uint8)
    blob = mm.encode_ppm(px)
    crlf = blob.replace(b"255\n", b"255\r\n", 1)
    assert np.array_equal(mm._decode_ppm(crlf), px)
    with pytest.raises(ValueError):
        mm._decode_ppm(blob.replace(b"255\n", b"255X", 1))


def test_image_dims_is_header_only_and_matches_full_decode(monkeypatch):
    """_image_dims parses only the BMP/PPM header (the decoders are
    disabled while it runs) and still reports the full-decode dims,
    while a truncated payload is still caught by the length check."""
    blobs = []
    for i, (w, h) in enumerate([(1, 1), (7, 13), (16, 48)]):
        px = mm.media_pixels(f"m{i}", w, h)
        ppm = mm.encode_ppm(px)
        blobs += [mm.encode_bmp(px), ppm,
                  ppm.replace(b"255\n", b"255\r\n", 1),
                  b"P6\n# a comment\n" + ppm[3:]]
    want = []
    for blob in blobs:
        px = mm._decode_payload(blob)
        want.append((px.shape[1], px.shape[0], px.size))

    def no_decode(content):
        raise AssertionError("_image_dims decoded pixels")

    monkeypatch.setattr(mm, "_decode_bmp", no_decode)
    monkeypatch.setattr(mm, "_decode_ppm", no_decode)
    assert [mm._image_dims(b) for b in blobs] == want
    for blob in blobs:
        assert mm._image_dims(blob[:-1]) is None
    assert mm._image_dims(b"KGSM") is None
