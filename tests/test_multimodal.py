"""Multimodal binary columns: real Spark mechanics, real from-scratch
codecs (numpy BMP/PPM parsers + RIFF/AVI demuxer — codecs.py)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from multi_task_offensive_language_detection_spark.multimodal import (
    decode_avi,
    decode_bmp,
    decode_image,
    decode_ppm,
    encode_avi,
    encode_bmp,
    sample_frames,
    with_image_features,
)


def encode_ppm(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → binary P6; (H, W, 1) or (H, W) → binary P5."""
    if img.dtype != np.uint8:
        raise ValueError("encode_ppm expects uint8")
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    if ch == 3:
        return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()
    if ch == 1:
        return b"P5\n%d %d\n255\n" % (w, h) + img.tobytes()
    raise ValueError(f"unsupported channel count {ch}")


def test_bmp_roundtrip_bit_exact():
    rng = np.random.default_rng(7)
    for hw in [(1, 1), (2, 2), (5, 7), (16, 9), (8, 3)]:  # odd widths → row padding
        img = rng.integers(0, 256, (*hw, 3), dtype=np.uint8)
        assert (decode_bmp(encode_bmp(img)) == img).all(), hw


def test_bmp_handcrafted_bytes_decode_exactly():
    # 2×1 24-bit bottom-up BMP written field by field from the spec:
    # pixels (RGB) = (255,0,0), (0,128,64); row 6 B padded to 8
    px = bytes([0, 0, 255, 64, 128, 0, 0, 0])
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, len(px), 2835, 2835, 0, 0
    )
    out = decode_bmp(hdr + px)
    assert out.shape == (1, 2, 3)
    assert (out[0, 0] == [255, 0, 0]).all() and (out[0, 1] == [0, 128, 64]).all()
    # top-down variant (negative height)
    hdr2 = struct.pack("<2sIHHI", b"BM", 54 + 16, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 2, -2, 1, 24, 0, 16, 2835, 2835, 0, 0
    )
    px2 = bytes([1, 2, 3, 4, 5, 6, 0, 0, 7, 8, 9, 10, 11, 12, 0, 0])
    td = decode_bmp(hdr2 + px2)
    assert (td[0, 0] == [3, 2, 1]).all() and (td[1, 1] == [12, 11, 10]).all()


def test_ppm_roundtrip_and_comments():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (4, 5, 3), dtype=np.uint8)
    assert (decode_ppm(encode_ppm(img)) == img).all()
    gray = rng.integers(0, 256, (3, 2, 1), dtype=np.uint8)
    assert (decode_ppm(encode_ppm(gray)) == gray).all()
    ppm = b"P6\n# a comment\n2 1\n# more\n255\n" + bytes([1, 2, 3, 4, 5, 6])
    assert (decode_ppm(ppm) == np.array([[[1, 2, 3], [4, 5, 6]]], np.uint8)).all()


def test_decode_image_rejects_unknown_magic():
    for bad in (b"\x89PNG....", b"", b"X"):
        with pytest.raises(ValueError):
            decode_image(bad)


def test_image_features_decode_real_images(spark):
    rng = np.random.default_rng(3)
    rows = []
    expected = {}
    for i in range(30):
        h, w = int(rng.integers(1, 12)), int(rng.integers(1, 12))
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        data = encode_bmp(img) if i % 2 == 0 else encode_ppm(img)
        rows.append((f"c{i}", data))
        expected[f"c{i}"] = (w, h, float(img.mean()))
    rows.append(("bad", b"not an image"))
    rows.append(("null", None))
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    out = {r["clip_id"]: r for r in with_image_features(df).select("clip_id", "image_meta.*").collect()}
    assert len(out) == 32
    for cid, (w, h, mean) in expected.items():
        r = out[cid]
        assert r["ok"] and r["width"] == w and r["height"] == h and r["channels"] == 3
        assert abs(r["mean_intensity"] - mean) < 1e-9
    assert not out["bad"]["ok"] and not out["null"]["ok"]


def test_avi_roundtrip_bit_exact():
    rng = np.random.default_rng(23)
    for hw, n in [((4, 6), 7), ((3, 3), 1), ((5, 2), 4)]:  # odd widths → padding
        frames = [rng.integers(0, 256, (*hw, 3), dtype=np.uint8) for _ in range(n)]
        out, meta = decode_avi(encode_avi(frames, fps=25))
        assert meta == {"width": hw[1], "height": hw[0], "fps": 25.0, "n_frames": n}
        assert len(out) == n
        for a, b in zip(frames, out):
            assert (a == b).all()


def test_avi_handcrafted_bytes_decode_exactly():
    # minimal AVI written field by field from the RIFF spec: one 2×1
    # 24-bit DIB frame, pixels (RGB) = (255,0,0), (0,128,64)
    def chunk(cc, payload):
        return cc + struct.pack("<I", len(payload)) + payload + (
            b"\x00" if len(payload) % 2 else b""
        )

    avih = struct.pack("<14I", 40000, 0, 0, 0, 1, 0, 1, 8, 2, 1, 0, 0, 0, 0)
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, 25, 0, 1, 8, 0, 0, 0, 0, 2, 1,
    )
    strf = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, 8, 0, 0, 0, 0)
    hdrl = chunk(
        b"LIST",
        b"hdrl" + chunk(b"avih", avih)
        + chunk(b"LIST", b"strl" + chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    px = bytes([0, 0, 255, 64, 128, 0, 0, 0])  # BGR BGR + row pad to 8
    movi = chunk(b"LIST", b"movi" + chunk(b"00db", px))
    body = b"AVI " + hdrl + movi
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    frames, meta = decode_avi(data)
    assert meta["width"] == 2 and meta["height"] == 1 and meta["fps"] == 25.0
    assert (frames[0][0, 0] == [255, 0, 0]).all()
    assert (frames[0][0, 1] == [0, 128, 64]).all()


def test_avi_top_down_dib_negative_biheight():
    # spec-valid top-down DIB: biHeight < 0 means rows are stored
    # top-first and must NOT be flipped on decode
    rng = np.random.default_rng(31)
    frame = rng.integers(0, 256, (4, 3, 3), dtype=np.uint8)
    data = bytearray(encode_avi([frame]))
    strf_off = bytes(data).find(b"strf") + 8
    struct.pack_into("<i", data, strf_off + 8, -4)  # biHeight = -H
    out, meta = decode_avi(bytes(data))
    assert meta["height"] == 4
    # the encoder stored bottom-up rows; a top-down reader takes them
    # verbatim, so the decode is the vertical mirror of the original
    assert (out[0] == frame[::-1]).all()


def test_avi_audio_first_stream_order():
    # stream 0 = audio ('auds'), stream 1 = video: headers must skip the
    # audio strl (not abort), and frames arrive as '01db' chunks
    def chunk(cc, payload):
        return cc + struct.pack("<I", len(payload)) + payload + (
            b"\x00" if len(payload) % 2 else b""
        )

    avih = struct.pack("<14I", 40000, 0, 0, 0, 1, 0, 2, 8, 2, 1, 0, 0, 0, 0)
    strh_a = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0, 1, 8000, 0, 100, 0, 0, 1, 0, 0, 0, 0,
    )
    # oversized fake WAVEFORMATEX (≥40 B) — must not be parsed as a BITMAPINFOHEADER
    strf_a = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16) + b"\x00" * 32
    strh_v = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, 25, 0, 1, 8, 0, 0, 0, 0, 2, 1,
    )
    strf_v = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, 8, 0, 0, 0, 0)
    hdrl = chunk(
        b"LIST",
        b"hdrl" + chunk(b"avih", avih)
        + chunk(b"LIST", b"strl" + chunk(b"strh", strh_a) + chunk(b"strf", strf_a))
        + chunk(b"LIST", b"strl" + chunk(b"strh", strh_v) + chunk(b"strf", strf_v)),
    )
    px = bytes([0, 0, 255, 64, 128, 0, 0, 0])  # BGR BGR + row pad
    movi = chunk(b"LIST", b"movi" + chunk(b"00wb", b"\x80" * 4) + chunk(b"01db", px))
    body = b"AVI " + hdrl + movi
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    frames, meta = decode_avi(data)
    assert meta["width"] == 2 and meta["height"] == 1
    assert len(frames) == 1
    assert (frames[0][0, 0] == [255, 0, 0]).all()
    assert (frames[0][0, 1] == [0, 128, 64]).all()


def test_avi_rejects_non_avi_and_compressed():
    with pytest.raises(ValueError):
        decode_avi(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        decode_avi(b"not riff at all")
    # compressed stream (non-BI_RGB fourcc in strf) must refuse, not garble
    img = np.zeros((1, 1, 3), np.uint8)
    good = bytearray(encode_avi([img]))
    strf_off = bytes(good).find(b"strf") + 8
    struct.pack_into("<I", good, strf_off + 16, 0x44495658)  # biCompression='XVID'
    with pytest.raises(ValueError, match="unsupported AVI"):
        decode_avi(bytes(good))


def test_frame_sampling_demuxes_real_avi(spark):
    rng = np.random.default_rng(5)
    frames_a = [rng.integers(0, 256, (4, 5, 3), dtype=np.uint8) for _ in range(10)]
    frames_b = [rng.integers(0, 256, (2, 2, 3), dtype=np.uint8) for _ in range(2)]
    df = spark.createDataFrame(
        [
            ("a", bytearray(encode_avi(frames_a))),
            ("b", bytearray(encode_avi(frames_b))),
            ("bad", b"not a video"),
            ("null", None),
        ],
        "clip_id string, bytes binary",
    )
    out = sample_frames(df, every_n=3).collect()
    by_clip: dict[str, dict[int, bytes]] = {}
    for r in out:
        by_clip.setdefault(r["clip_id"], {})[r["frame_idx"]] = bytes(r["frame_bytes"])
    assert sorted(by_clip["a"]) == [0, 3, 6, 9]  # every 3rd source frame
    assert sorted(by_clip["b"]) == [0]
    assert "bad" not in by_clip and "null" not in by_clip
    # sampled frame payloads are standalone images, bit-exact vs source
    for idx, fb in by_clip["a"].items():
        assert (decode_image(fb) == frames_a[idx]).all()


def test_resize_images_nearest_neighbor_exact(spark):
    from multi_task_offensive_language_detection_spark.multimodal.binary_ops import (
        resize_images,
    )
    from multi_task_offensive_language_detection_spark.multimodal.codecs import (
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (10, 7, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [("a", bytearray(encode_bmp(img))), ("bad", bytearray(b"nope")), ("n", None)],
        "clip_id string, bytes binary",
    )
    out = {r["clip_id"]: r["resized"] for r in resize_images(df, 4, 5).collect()}
    got = decode_bmp(bytes(out["a"]))
    # numpy reference with the same half-pixel-center grid
    ys = np.minimum(((np.arange(4) + 0.5) * (10 / 4)).astype(int), 9)
    xs = np.minimum(((np.arange(5) + 0.5) * (7 / 5)).astype(int), 6)
    assert (got == img[ys][:, xs]).all()
    assert out["bad"] is None and out["n"] is None
