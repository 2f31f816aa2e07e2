"""From-scratch image codecs — pure numpy, no image libraries.

Real decoders for the two classic uncompressed container formats, built
the same way operators/audio.py built its WAV/µ-law codec: parse the
header fields from the spec, slice the pixel payload with numpy, never
loop per pixel.

- BMP: BITMAPFILEHEADER (14 B) + BITMAPINFOHEADER (40 B), uncompressed
  (BI_RGB) 24- or 32-bit; rows padded to 4-byte boundaries; bottom-up
  (positive height) and top-down (negative height) orders. Public spec:
  the Windows BMP file format.
- PPM/PGM: binary P6 (RGB) and P5 (grayscale) with whitespace/comment
  tokenized headers, maxval ≤ 255. Public spec: netpbm formats.

Decoded form is ``np.ndarray`` of shape (H, W, 3) or (H, W, 1), dtype
uint8. Encoders exist so tests can round-trip bit-exactly and fixtures
need no binary blobs in the repo.
"""

from __future__ import annotations

import struct

import numpy as np

# --- BMP ---------------------------------------------------------------------

_BI_RGB = 0


def encode_bmp(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → 24-bit bottom-up BI_RGB BMP bytes."""
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError("encode_bmp expects (H, W, 3) uint8")
    h, w, _ = img.shape
    row_len = w * 3
    pad = (-row_len) % 4
    stride = row_len + pad
    # BGR order, bottom-up rows, padded
    bgr = img[::-1, :, ::-1]
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :row_len] = bgr.reshape(h, row_len)
    pixel_data = rows.tobytes()
    offset = 14 + 40
    header = struct.pack(
        "<2sIHHI", b"BM", offset + len(pixel_data), 0, 0, offset
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, _BI_RGB, len(pixel_data), 2835, 2835, 0, 0
    )
    return header + pixel_data


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP bytes → (H, W, 3) uint8 RGB. Supports BI_RGB 24/32-bit,
    bottom-up and top-down."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP stream")
    offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    w, h_signed = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if compression != _BI_RGB:
        raise ValueError(f"unsupported BMP compression {compression}")
    if bpp not in (24, 32):
        raise ValueError(f"unsupported BMP bpp {bpp}")
    if w <= 0 or h_signed == 0:
        raise ValueError("degenerate BMP dimensions")
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    need = offset + stride * h
    if len(data) < need:
        raise ValueError("truncated BMP pixel array")
    rows = np.frombuffer(data, dtype=np.uint8, count=stride * h, offset=offset)
    rows = rows.reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
    if not top_down:
        rows = rows[::-1]
    # BGR(A) → RGB
    return np.ascontiguousarray(rows[:, :, 2::-1][:, :, :3])


# --- PPM / PGM ---------------------------------------------------------------


def _pnm_tokens(data: bytes, n_tokens: int) -> tuple[list[int], int]:
    """First ``n_tokens`` whitespace/comment-separated integer tokens after
    the magic; returns (values, payload_offset)."""
    vals: list[int] = []
    i = 2  # past magic
    while len(vals) < n_tokens:
        if i >= len(data):
            raise ValueError("truncated PNM header")
        c = data[i : i + 1]
        if c == b"#":
            nl = data.find(b"\n", i)
            if nl == -1:
                raise ValueError("unterminated PNM comment")
            i = nl + 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(data) and not data[j : j + 1].isspace():
                j += 1
            tok = data[i:j]
            if not tok.isdigit():
                raise ValueError(f"bad PNM header token {tok!r}")
            vals.append(int(tok))
            i = j
    # exactly ONE whitespace byte separates header from payload
    if i >= len(data) or not data[i : i + 1].isspace():
        raise ValueError("missing PNM header terminator")
    return vals, i + 1


def decode_ppm(data: bytes) -> np.ndarray:
    """P6 → (H, W, 3) uint8; P5 → (H, W, 1) uint8. maxval ≤ 255 only."""
    magic = data[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM stream")
    (w, h, maxval), off = _pnm_tokens(data, 3)
    if maxval > 255 or maxval <= 0 or w <= 0 or h <= 0:
        raise ValueError("unsupported PNM parameters")
    nch = 3 if magic == b"P6" else 1
    need = w * h * nch
    if len(data) - off < need:
        raise ValueError("truncated PNM payload")
    arr = np.frombuffer(data, dtype=np.uint8, count=need, offset=off)
    return arr.reshape(h, w, nch)


# --- AVI (RIFF) ---------------------------------------------------------------
#
# Uncompressed-video AVI, from the public RIFF/AVI container spec:
#
#   'RIFF' size 'AVI '
#     LIST 'hdrl'
#       'avih' (MainAVIHeader, 56 B)
#       LIST 'strl'
#         'strh' (AVIStreamHeader: fccType='vids', handler='DIB ')
#         'strf' (BITMAPINFOHEADER, 40 B — same struct BMP uses)
#     LIST 'movi'
#       '00db' <DIB frame: bottom-up BGR rows padded to 4 B>  × n
#     'idx1' (AVIINDEXENTRY × n)
#
# Every chunk is word-aligned (odd payloads get one pad byte). The frame
# payload is exactly a BMP pixel array without the file header, so the
# demuxer shares the BMP row/stride/flip logic above.


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) % 2 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _riff_list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def _dib_frame(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → bottom-up padded BGR rows (the '00db' payload)."""
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
    return rows.tobytes()


def encode_avi(frames: list[np.ndarray], fps: int = 30) -> bytes:
    """Uniform (H, W, 3) uint8 RGB frames → uncompressed 24-bit DIB AVI."""
    if not frames:
        raise ValueError("encode_avi needs at least one frame")
    h, w, _ = frames[0].shape
    for f in frames:
        if f.shape != (h, w, 3) or f.dtype != np.uint8:
            raise ValueError("encode_avi expects uniform (H, W, 3) uint8 frames")
    stride = (w * 3 + 3) & ~3
    frame_bytes = stride * h
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        frame_bytes * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        len(frames),  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        frame_bytes,  # dwSuggestedBufferSize
        w,
        h,
        0, 0, 0, 0,  # dwReserved[4]
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ",
        0, 0, 0, 0,  # dwFlags, wPriority, wLanguage, dwInitialFrames
        1, fps,  # dwScale, dwRate → fps frames/sec
        0, len(frames),  # dwStart, dwLength
        frame_bytes, 0xFFFFFFFF, 0,  # dwSuggestedBufferSize, dwQuality(-1), dwSampleSize
        0, 0, w, h,  # rcFrame
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, _BI_RGB, frame_bytes, 2835, 2835, 0, 0
    )
    hdrl = _riff_list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _riff_list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_chunks, index = [], []
    offset = 4  # index offsets count from the start of the 'movi' list type
    for f in frames:
        payload = _dib_frame(f)
        movi_chunks.append(_chunk(b"00db", payload))
        index.append(struct.pack("<4sIII", b"00db", 0x10, offset, len(payload)))
        offset += len(movi_chunks[-1])
    movi = _riff_list(b"movi", b"".join(movi_chunks))
    idx1 = _chunk(b"idx1", b"".join(index))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _walk_chunks(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_size) over a RIFF chunk run,
    honoring word alignment; tolerant of a truncated final chunk."""
    i = start
    while i + 8 <= end:
        fourcc = data[i : i + 4]
        size = struct.unpack_from("<I", data, i + 4)[0]
        payload = i + 8
        if payload + size > end:
            break
        yield fourcc, payload, size
        i = payload + size + (size % 2)


def decode_avi(data: bytes) -> tuple[list[np.ndarray], dict]:
    """AVI bytes → ([(H, W, 3) uint8 RGB frames], meta).

    Demuxes stream-0 uncompressed DIB chunks ('00db'/'00dc'); meta holds
    width/height/fps/n_frames from the headers. BI_RGB 24-bit only —
    anything compressed needs a real codec and raises."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    w = h = bpp = None
    fps = 0.0
    top_down = False  # negative biHeight = top-down DIB (rows already in order)
    vid_stream = None  # index of the first 'vids' strl — frame chunks are '<NN>db'
    frames: list[np.ndarray] = []

    def parse_hdrl(s: int, e: int) -> None:
        nonlocal w, h, bpp, fps, top_down, vid_stream
        idx = -1
        for cc, p, sz in _walk_chunks(data, s, e):
            if cc == b"LIST" and data[p : p + 4] == b"strl":
                idx += 1
                if vid_stream is not None:
                    continue  # first video stream wins; later strls ignored
                is_vids = False
                for cc2, p2, sz2 in _walk_chunks(data, p + 4, p + sz):
                    if cc2 == b"strh" and sz2 >= 32:
                        is_vids = data[p2 : p2 + 4] == b"vids"
                        if not is_vids:
                            break  # audio/other stream: skip THIS strl only
                        scale, rate = struct.unpack_from("<II", data, p2 + 20)
                        if scale:
                            fps = rate / scale
                    elif cc2 == b"strf" and sz2 >= 40 and is_vids:
                        _, bw, bh, _, b_bpp, comp = struct.unpack_from(
                            "<IiiHHI", data, p2
                        )
                        if comp != _BI_RGB or b_bpp != 24:
                            raise ValueError(
                                f"unsupported AVI video format bpp={b_bpp} comp={comp}"
                            )
                        w, h, bpp = bw, abs(bh), b_bpp
                        top_down = bh < 0
                        vid_stream = idx

    movi_ranges: list[tuple[int, int]] = []
    for cc, p, sz in _walk_chunks(data, 12, len(data)):
        if cc == b"LIST":
            lt = data[p : p + 4]
            if lt == b"hdrl":
                parse_hdrl(p + 4, p + sz)
            elif lt == b"movi":
                movi_ranges.append((p + 4, p + sz))
    if w is None or not movi_ranges:
        raise ValueError("AVI missing video headers or movi list")
    stride = (w * 3 + 3) & ~3
    pref = b"%02d" % vid_stream  # e.g. '01db' when audio is stream 0
    for s, e in movi_ranges:
        for cc, p, sz in _walk_chunks(data, s, e):
            if cc in (pref + b"db", pref + b"dc"):
                if sz < stride * h:
                    raise ValueError("truncated AVI frame chunk")
                rows = np.frombuffer(data, dtype=np.uint8, count=stride * h, offset=p)
                rgb = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]
                if not top_down:
                    rgb = rgb[::-1]  # bottom-up DIB: last stored row is the top
                frames.append(np.ascontiguousarray(rgb))
    return frames, {"width": w, "height": h, "fps": fps, "n_frames": len(frames)}


# --- dispatch -----------------------------------------------------------------


def decode_image(data: bytes) -> np.ndarray:
    """Sniff the container magic and decode. (H, W, C) uint8, C ∈ {1, 3}."""
    if data is None or len(data) < 2:
        raise ValueError("empty image payload")
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:2] in (b"P6", b"P5"):
        return decode_ppm(data)
    raise ValueError(f"unknown image magic {data[:2]!r}")
