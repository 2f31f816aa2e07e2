"""Audio decode + SNR invariant (SURVEY.md F19, M6; BASELINE.json:15).

Decodes the ``bytes`` binary column to float32 PCM in [-1, 1] according to
``codec`` ∈ {``wav-pcm16``, ``pcm_s16le``, ``ulaw``} — pure numpy, from
scratch (G.711 µ-law expansion implemented here; the pytest oracle uses the
independent stdlib ``wave``/``audioop`` path, giving real cross-checking).

Exposed two ways:
- ``decode_stats_udf`` — Arrow-batched pandas UDF returning
  struct<ok, n_samples, rms, dur_ms_decoded> for the sampled audit pass
  (kept OFF the hot filter path so Parquet column pruning never reads the
  huge ``bytes`` column during text scoring — SURVEY.md §4.2).
- ``decode_pcm(bytes, codec)`` — plain numpy function for tests/tools.

Multimodal note: this is the pattern for all opaque-binary payload
columns — multimodal/ applies it to images (from-scratch BMP/PPM codecs)
and video (from-scratch RIFF/AVI demuxer), all pure numpy like this file.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- codecs (pure numpy) ---------------------------------------------------

_ULAW_BIAS = 0x84


def ulaw_decode(u8: np.ndarray) -> np.ndarray:
    """G.711 µ-law expansion: uint8 → int16 (vectorized)."""
    u = ~u8.astype(np.int32) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    x = (((mant << 3) + _ULAW_BIAS) << exp) - _ULAW_BIAS
    return np.where(sign, -x, x).astype(np.int16)


def _parse_wav(data: bytes) -> np.ndarray:
    """Minimal RIFF/WAVE PCM16 parser (mono/stereo), no stdlib wave."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt_ok = False
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt = int.from_bytes(body[0:2], "little")
            bits = int.from_bytes(body[14:16], "little")
            if audio_fmt != 1 or bits != 16:
                raise ValueError(f"unsupported wav fmt={audio_fmt} bits={bits}")
            fmt_ok = True
        elif cid == b"data":
            if not fmt_ok:
                raise ValueError("data chunk before fmt")
            return np.frombuffer(body[: size - (size % 2)], dtype="<i2")
        pos += 8 + size + (size % 2)
    raise ValueError("no data chunk")


def decode_pcm(data: bytes | None, codec: str | None) -> np.ndarray:
    """bytes + codec → float32 PCM in [-1, 1]."""
    if data is None or codec is None:
        return np.empty(0, dtype=np.float32)
    if codec == "pcm_s16le":
        pcm = np.frombuffer(data[: len(data) - (len(data) % 2)], dtype="<i2")
    elif codec == "wav-pcm16":
        pcm = _parse_wav(data)
    elif codec == "ulaw":
        pcm = ulaw_decode(np.frombuffer(data, dtype=np.uint8))
    else:
        raise ValueError(f"unknown codec {codec!r}")
    return pcm.astype(np.float32) / 32768.0


# --- Spark surface ---------------------------------------------------------

DECODE_STATS = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("dur_ms_decoded", T.DoubleType()),
    ]
)


@F.pandas_udf(DECODE_STATS)
def decode_stats_udf(
    it: Iterator[tuple[pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    """(bytes, codec, sr_hz) → decode stats struct; Arrow-batched."""
    for data, codec, sr in it:
        n = len(data)
        ok = np.zeros(n, dtype=bool)
        ns = np.zeros(n, dtype=np.int32)
        rms = np.full(n, np.nan)
        dur = np.full(n, np.nan)
        for i in range(n):
            try:
                pcm = decode_pcm(data.iloc[i], codec.iloc[i])
                ok[i] = len(pcm) > 0
                ns[i] = len(pcm)
                if len(pcm):
                    rms[i] = float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2)))
                    s = sr.iloc[i]
                    if s and s > 0:
                        dur[i] = 1000.0 * len(pcm) / float(s)
            except (ValueError, IndexError):
                pass
        yield pd.DataFrame({"ok": ok, "n_samples": ns, "rms": rms, "dur_ms_decoded": dur})


def with_audio_stats(df, out_col: str = "audio"):
    """Attach decode stats. Run on a SAMPLED slice in production audits —
    touching ``bytes`` defeats column pruning on the text hot path."""
    return df.withColumn(out_col, decode_stats_udf("bytes", "codec", "sr_hz"))


def synthetic_pcm_udf(sr_hz: int = 16000):
    """Deterministic audio generator for fixtures/checks: given an
    integer id, emits a ±A square wave with A = 1024·2^(id%3) (a power
    of two, so A/32768 — and therefore the decoded RMS — is exactly
    representable in binary floating point) over n = 800 + (id%5)·160
    samples (divisible by 16, so dur_ms = n/16 is exact at 16 kHz).
    Even ids are raw pcm_s16le payloads, odd ids minimal RIFF/WAVE
    files — both decode paths exercised. The closed forms make the
    decode stats SQL-derivable (checks.audio_decode_stats)."""

    @F.pandas_udf(T.BinaryType())
    def _make(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            out = []
            for raw_id in ids:
                d = int(raw_id)
                n = 800 + (d % 5) * 160
                amp = 1024 << (d % 3)
                pcm = np.empty(n, dtype=np.int16)
                pcm[0::2] = amp
                pcm[1::2] = -amp
                payload = pcm.tobytes()
                if d % 2 == 1:  # wrap in a minimal 44-byte WAV header
                    hdr = (
                        b"RIFF"
                        + (36 + len(payload)).to_bytes(4, "little")
                        + b"WAVEfmt "
                        + (16).to_bytes(4, "little")
                        + (1).to_bytes(2, "little")   # PCM
                        + (1).to_bytes(2, "little")   # mono
                        + sr_hz.to_bytes(4, "little")
                        + (sr_hz * 2).to_bytes(4, "little")
                        + (2).to_bytes(2, "little")
                        + (16).to_bytes(2, "little")
                        + b"data"
                        + len(payload).to_bytes(4, "little")
                    )
                    payload = hdr + payload
                out.append(payload)
            yield pd.Series(out)

    return _make


RESAMPLE_RESULT = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
    ]
)


def resample_udf(target_sr: int):
    """(bytes, codec, sr_hz) → struct<bytes, sr_hz, n_samples>: decode by
    codec, linearly interpolate onto the target rate's sample grid
    (np.interp over sample times — the deterministic, library-free
    resampler; a windowed-sinc kernel would slot into the same shape),
    re-encode as raw pcm_s16le. The standard corpus-normalization step
    (e.g. everything → 16 kHz mono) ahead of feature extraction.
    Undecodable or NULL payloads yield a sentinel struct — bytes NULL,
    sr_hz=target, n_samples=0 (branch on ``bytes IS NULL``)."""

    @F.pandas_udf(RESAMPLE_RESULT)
    def _rs(
        it: Iterator[tuple[pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        for data, codec, sr in it:
            n = len(data)
            out_b: list = [None] * n
            out_sr = np.full(n, target_sr, dtype=np.int32)
            out_n = np.zeros(n, dtype=np.int32)
            for i in range(n):
                try:
                    src_sr = int(sr.iloc[i])
                    if data.iloc[i] is None or src_sr <= 0:
                        continue
                    pcm = decode_pcm(data.iloc[i], codec.iloc[i])
                except (ValueError, IndexError, TypeError):
                    continue
                if len(pcm) == 0:
                    continue
                n_out = max(int(round(len(pcm) * target_sr / src_sr)), 1)
                t_out = np.arange(n_out, dtype=np.float64) * (src_sr / target_sr)
                res = np.interp(t_out, np.arange(len(pcm), dtype=np.float64), pcm)
                q = np.clip(np.rint(res * 32768.0), -32768, 32767).astype(np.int16)
                out_b[i] = q.tobytes()
                out_n[i] = n_out
            yield pd.DataFrame(
                {"bytes": out_b, "sr_hz": out_sr, "n_samples": out_n}
            )

    return _rs


def resample_clips(df, target_sr: int, out_col: str = "audio_rs"):
    """Attach the resampled payload; downstream decode uses codec
    'pcm_s16le' with the new sr_hz."""
    return df.withColumn(out_col, resample_udf(target_sr)("bytes", "codec", "sr_hz"))


# --- energy-based VAD ------------------------------------------------------

VAD_RESULT = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_speech_frames", T.IntegerType()),
        T.StructField("speech_ratio", T.DoubleType()),
        T.StructField("lead_trim_ms", T.DoubleType()),
        T.StructField("tail_keep_ms", T.DoubleType()),
    ]
)


def _speech_frames(pcm, s: int, frame_ms: int, energy_thresh: float):
    """(flen, speech): the frame length in samples and the per-frame
    speech mask of non-empty ``pcm`` at ``s`` Hz — fixed ``frame_ms``
    frames, a frame is speech when its mean square exceeds
    ``energy_thresh``, and a trailing partial frame's mean is over its
    real length."""
    flen = max(int(s * frame_ms / 1000), 1)
    k = -(-len(pcm) // flen)  # ceil
    pad = np.zeros(k * flen)
    pad[: len(pcm)] = pcm
    sq = (pad * pad).reshape(k, flen).sum(axis=1)
    lens = np.full(k, flen, dtype=np.float64)
    lens[-1] = len(pcm) - flen * (k - 1)
    return flen, (sq / lens) > energy_thresh


def vad_stats_udf(frame_ms: int = 10, energy_thresh: float = 1e-6):
    """(bytes, codec, sr_hz) → energy-VAD struct: frame the decoded PCM
    into fixed ``frame_ms`` windows, mark a frame speech when its mean
    square exceeds ``energy_thresh``, and emit the frame counts plus the
    lead/tail trim points (first speech frame start, last speech frame
    end, in ms) a silence-trim pass would cut to. The quality-filter
    use: drop clips whose speech_ratio is ~0 (dead air) or whose
    trimmed duration falls under the length gate — the audio-side
    analogue of the transcript length rule. A trailing partial frame is
    counted as a frame (its mean square is over its real length).

    Pure numpy over Arrow batches, one pass per clip; undecodable
    payloads yield ok=false with zeroed counts."""

    @F.pandas_udf(VAD_RESULT)
    def _vad(
        it: Iterator[tuple[pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        for data, codec, sr in it:
            n = len(data)
            ok = np.zeros(n, dtype=bool)
            nf = np.zeros(n, dtype=np.int32)
            nsp = np.zeros(n, dtype=np.int32)
            ratio = np.zeros(n, dtype=np.float64)
            lead = np.zeros(n, dtype=np.float64)
            tail = np.zeros(n, dtype=np.float64)
            for i in range(n):
                try:
                    s = int(sr.iloc[i]) if sr.iloc[i] is not None else 0
                    if s <= 0:
                        continue
                    pcm = decode_pcm(data.iloc[i], codec.iloc[i]).astype(np.float64)
                except (ValueError, IndexError, TypeError):
                    continue
                if len(pcm) == 0:
                    continue
                flen, speech = _speech_frames(pcm, s, frame_ms, energy_thresh)
                ok[i] = True
                nf[i] = k = len(speech)
                nsp[i] = int(speech.sum())
                ratio[i] = nsp[i] / k
                if nsp[i]:
                    idx = np.flatnonzero(speech)
                    lead[i] = idx[0] * flen * 1000.0 / s
                    end = min((idx[-1] + 1) * flen, len(pcm))
                    tail[i] = end * 1000.0 / s
            yield pd.DataFrame(
                {
                    "ok": ok,
                    "n_frames": nf,
                    "n_speech_frames": nsp,
                    "speech_ratio": ratio,
                    "lead_trim_ms": lead,
                    "tail_keep_ms": tail,
                }
            )

    return _vad


def with_vad_stats(df, frame_ms: int = 10, energy_thresh: float = 1e-6, out_col: str = "vad"):
    """Attach energy-VAD stats; same sampled-audit guidance as
    with_audio_stats (touching ``bytes`` defeats column pruning)."""
    return df.withColumn(
        out_col, vad_stats_udf(frame_ms, energy_thresh)("bytes", "codec", "sr_hz")
    )


def synthetic_speech_pcm_udf(sr_hz: int = 16000, frame_ms: int = 10):
    """Deterministic silence|speech|silence generator for the VAD check:
    given an integer id, emits (id%4) silent frames, then
    10 + (id%7) square-wave frames at A = 1024·2^(id%3), then (id%3)
    silent frames — all frame-aligned (frame = sr·frame_ms/1000
    samples), raw pcm_s16le. Every VAD output therefore has a closed
    form in id: silence frames have EXACTLY zero energy and speech
    frames (A/32768)² ≫ threshold, so the frame classification is
    knife-edge-free (checks.audio_vad_stats)."""
    flen = sr_hz * frame_ms // 1000

    @F.pandas_udf(T.BinaryType())
    def _make(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            out = []
            for raw_id in ids:
                d = int(raw_id)
                lead, speech, tail = d % 4, 10 + d % 7, d % 3
                amp = 1024 << (d % 3)
                pcm = np.zeros((lead + speech + tail) * flen, dtype=np.int16)
                seg = np.empty(speech * flen, dtype=np.int16)
                seg[0::2] = amp
                seg[1::2] = -amp
                pcm[lead * flen : (lead + speech) * flen] = seg
                out.append(pcm.tobytes())
            yield pd.Series(out)

    return _make


# --- fixed-window chunking (training-data segmentation) --------------------

CHUNK_ROW = T.ArrayType(
    T.StructType(
        [
            T.StructField("chunk_idx", T.IntegerType()),
            T.StructField("start_ms", T.DoubleType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("bytes", T.BinaryType()),
        ]
    )
)


def chunk_udf(chunk_ms: int, hop_ms: int | None = None, drop_last: bool = False):
    """(bytes, codec, sr_hz) → array of chunk structs: slice the decoded
    PCM into ``chunk_ms`` windows every ``hop_ms`` (defaults to
    chunk_ms, i.e. non-overlapping), re-encoding each chunk as raw
    pcm_s16le plus its per-chunk RMS — the standard segmentation step
    that turns long recordings into model-sized training rows. The
    final partial window is kept (its true length) unless
    ``drop_last``. Overlap mode (``hop_ms < chunk_ms``) stops at
    COVERAGE, not at the last hop offset: chunking ends with the first
    window whose end reaches the clip end, so every sample is covered
    exactly once past the overlap and no trailing suffix windows
    (strict sub-windows of the last emitted chunk) are produced —
    callers wanting those suffixes should re-chunk the tail
    explicitly. Callers explode the array into one row per chunk
    (operators/audio.chunk_clips); at 10^12-clip scale the explode
    stays in the same Arrow stage and the output is REPARTITIONED by
    chunk key downstream if a shuffle is needed — never collected."""
    hop_ms = chunk_ms if hop_ms is None else hop_ms

    @F.pandas_udf(CHUNK_ROW)
    def _chunk(
        it: Iterator[tuple[pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        for data, codec, sr in it:
            rows = []
            for i in range(len(data)):
                try:
                    s = int(sr.iloc[i]) if sr.iloc[i] is not None else 0
                    if s <= 0:
                        rows.append(None)
                        continue
                    pcm = decode_pcm(data.iloc[i], codec.iloc[i])
                except (ValueError, IndexError, TypeError):
                    rows.append(None)
                    continue
                if len(pcm) == 0:
                    rows.append(None)
                    continue
                clen = max(int(s * chunk_ms / 1000), 1)
                hop = max(int(s * hop_ms / 1000), 1)
                chunks = []
                idx = 0
                for start in range(0, len(pcm), hop):
                    seg = pcm[start : start + clen]
                    if len(seg) == 0 or (drop_last and len(seg) < clen):
                        break
                    q = np.clip(
                        np.rint(seg.astype(np.float64) * 32768.0), -32768, 32767
                    ).astype(np.int16)
                    chunks.append(
                        {
                            "chunk_idx": idx,
                            "start_ms": start * 1000.0 / s,
                            "n_samples": len(seg),
                            "rms": float(
                                np.sqrt(np.mean(seg.astype(np.float64) ** 2))
                            ),
                            "bytes": q.tobytes(),
                        }
                    )
                    idx += 1
                    if start + clen >= len(pcm):
                        break
                rows.append(chunks)
            yield pd.Series(rows)

    return _chunk


def chunk_clips(
    df,
    chunk_ms: int,
    hop_ms: int | None = None,
    drop_last: bool = False,
    id_col: str = "clip_id",
):
    """One row per chunk: (id_col, chunk_idx, start_ms, n_samples, rms,
    bytes) with bytes re-encoded pcm_s16le at the source rate.

    explode_OUTER + post-filter on purpose: plain explode makes Catalyst
    synthesize a pre-Generate null/size filter on the UDF column, and
    since the UDF is deterministic the optimizer DUPLICATES the Arrow
    stage to evaluate it (two ArrowEvalPython nodes = the whole decode
    runs twice). The outer variant needs no pre-filter, so the plan
    keeps ONE Python stage and drops null rows JVM-side after the
    Generate (plan-locked in tests/test_plan_shape.py)."""
    c = df.withColumn("_chunks", chunk_udf(chunk_ms, hop_ms, drop_last)(
        "bytes", "codec", "sr_hz"
    ))
    return c.select(
        id_col, F.explode_outer("_chunks").alias("c")
    ).filter(F.col("c").isNotNull()).select(
        id_col,
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.start_ms").alias("start_ms"),
        F.col("c.n_samples").alias("n_samples"),
        F.col("c.rms").alias("rms"),
        F.col("c.bytes").alias("bytes"),
    )


# --- loudness normalization -------------------------------------------------

NORMALIZE_RESULT = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("gain", T.DoubleType()),
        T.StructField("rms_before", T.DoubleType()),
        T.StructField("rms_after", T.DoubleType()),
        T.StructField("clipped", T.IntegerType()),
    ]
)


def normalize_gain_udf(target_rms: float = 0.1, mode: str = "rms", peak_ceiling: float = 0.99):
    """(bytes, codec, sr_hz) → struct<bytes, gain, rms_before, rms_after,
    clipped>: scale the decoded PCM to a target loudness and re-encode
    pcm_s16le — the corpus gain-normalization step ahead of feature
    extraction (quiet clips amplified, hot clips attenuated, so
    energy-based ops like the VAD see one operating point).

    ``mode='rms'``: gain = target_rms / rms, then capped so the scaled
    peak stays ≤ ``peak_ceiling`` (no wrap-around clipping; the
    ``clipped`` count reports samples that still hit the int16 rail
    after the cap — 0 by construction unless the cap is disabled).
    ``mode='peak'``: gain = peak_ceiling / peak.
    Silent or undecodable payloads pass through with gain 1.0 / NULL
    bytes respectively."""
    if mode not in ("rms", "peak"):
        raise ValueError(f"mode must be 'rms' or 'peak', got {mode!r}")

    @F.pandas_udf(NORMALIZE_RESULT)
    def _norm(
        it: Iterator[tuple[pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        for data, codec, sr in it:
            n = len(data)
            out_b: list = [None] * n
            gain = np.ones(n, dtype=np.float64)
            rb = np.zeros(n, dtype=np.float64)
            ra = np.zeros(n, dtype=np.float64)
            clip = np.zeros(n, dtype=np.int32)
            for i in range(n):
                try:
                    pcm = decode_pcm(data.iloc[i], codec.iloc[i]).astype(np.float64)
                except (ValueError, IndexError, TypeError):
                    continue
                if len(pcm) == 0:
                    continue
                rms = float(np.sqrt(np.mean(pcm * pcm)))
                peak = float(np.max(np.abs(pcm)))
                rb[i] = rms
                if peak == 0.0:
                    g = 1.0  # silence: nothing to scale
                elif mode == "peak":
                    g = peak_ceiling / peak
                else:
                    g = (target_rms / rms) if rms > 0 else 1.0
                    g = min(g, peak_ceiling / peak)  # cap: no clipping
                scaled = pcm * g
                q = np.rint(scaled * 32768.0)
                clip[i] = int(np.sum((q > 32767) | (q < -32768)))
                q = np.clip(q, -32768, 32767).astype(np.int16)
                out_b[i] = q.tobytes()
                gain[i] = g
                ra[i] = float(np.sqrt(np.mean(scaled * scaled)))
            yield pd.DataFrame(
                {
                    "bytes": out_b,
                    "gain": gain,
                    "rms_before": rb,
                    "rms_after": ra,
                    "clipped": clip,
                }
            )

    return _norm


def normalize_clips(df, target_rms: float = 0.1, mode: str = "rms", out_col: str = "audio_norm"):
    """Attach the gain-normalized payload (codec 'pcm_s16le', source
    rate unchanged)."""
    return df.withColumn(
        out_col, normalize_gain_udf(target_rms, mode)("bytes", "codec", "sr_hz")
    )

