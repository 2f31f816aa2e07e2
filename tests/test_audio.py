"""M6 — audio decode + SNR invariant (BASELINE.json:15).

The engine decodes with its own numpy codecs (operators/audio.py); the
oracle here is the INDEPENDENT stdlib wave/audioop path the fixture used
to encode — a real cross-implementation check."""

from __future__ import annotations

import audioop

import numpy as np
import pytest
from pyspark.sql import functions as F

from multi_task_offensive_language_detection_spark.operators.audio import (
    decode_pcm,
    ulaw_decode,
    with_audio_stats,
)
from tests.fixtures.clips_gen import encode_audio, make_clips, synth_waveform

_ULAW_SEG_ENDS = np.array(
    [0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF], dtype=np.int32
)


def ulaw_encode(pcm16: np.ndarray) -> np.ndarray:
    """G.711 µ-law compression: int16 → uint8, bit-exact with the classic
    CCITT implementation (14-bit domain, arithmetic >>2 BEFORE magnitude —
    that floor on negatives is why a naive abs-first version is off by one
    code for some negative inputs)."""
    x = pcm16.astype(np.int32) >> 2
    mask = np.where(x < 0, 0x7F, 0xFF)
    x = np.minimum(np.abs(x), 8159) + 33
    seg = np.searchsorted(_ULAW_SEG_ENDS, x, side="left")
    uval = (seg << 4) | ((x >> (seg + 1)) & 0x0F)
    return (np.where(seg >= 8, 0x7F, uval) ^ mask).astype(np.uint8)


def snr_db(ref: np.ndarray, test: np.ndarray) -> float:
    """10·log10(Σref² / Σ(ref−test)²); inf when identical."""
    n = min(len(ref), len(test))
    if n == 0:
        return float("-inf")
    ref, test = ref[:n].astype(np.float64), test[:n].astype(np.float64)
    noise = float(np.sum((ref - test) ** 2))
    sig = float(np.sum(ref**2))
    if noise == 0.0:
        return float("inf")
    if sig == 0.0:
        return float("-inf")
    return 10.0 * np.log10(sig / noise)


def test_decode_snr_invariant_all_codecs():
    """Decoded PCM must be allclose (SNR ≥ 30 dB) to the original float
    waveform for every codec — per-row invariant."""
    rng = np.random.default_rng(99)
    for codec in ("wav-pcm16", "pcm_s16le", "ulaw"):
        for _ in range(20):
            wav = synth_waveform(rng, int(rng.integers(200, 3000)))
            data = encode_audio(wav, codec, 16000)
            dec = decode_pcm(data, codec)
            assert len(dec) == len(wav)
            s = snr_db(wav.astype(np.float64), dec.astype(np.float64))
            assert s >= 30.0, f"{codec}: SNR {s:.1f} dB < 30"


def test_ulaw_matches_stdlib():
    """Engine µ-law vs audioop — bit-exact both directions."""
    rng = np.random.default_rng(7)
    pcm = (rng.uniform(-1, 1, 5000) * 32767).astype("<i2")
    ours = ulaw_encode(pcm)
    ref = np.frombuffer(audioop.lin2ulaw(pcm.tobytes(), 2), dtype=np.uint8)
    assert np.array_equal(ours, ref)
    back_ours = ulaw_decode(ref)
    back_ref = np.frombuffer(audioop.ulaw2lin(ref.tobytes(), 2), dtype="<i2")
    assert np.array_equal(back_ours, back_ref)


def test_decode_stats_udf_spark(spark, tmp_path):
    clips, _ = make_clips(n_rows=60, seed=5)
    sdf = spark.createDataFrame(
        clips[["clip_id", "bytes", "sr_hz", "dur_ms", "codec"]]
    )
    out = with_audio_stats(sdf).select("clip_id", "codec", "audio.*").collect()
    assert len(out) == 60
    for r in out:
        assert r["ok"], f"decode failed for {r['clip_id']} ({r['codec']})"
        assert r["n_samples"] >= 64
        assert 0.0 < r["rms"] < 1.0


def test_decode_garbage_bytes_not_ok(spark):
    sdf = spark.createDataFrame(
        [("x", b"not audio at all", 8000, 100, "wav-pcm16")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string",
    )
    r = with_audio_stats(sdf).select("audio.ok").collect()[0]
    assert r["ok"] is False


def test_resample_matches_numpy_reference_and_preserves_tone(spark):
    import numpy as np

    from multi_task_offensive_language_detection_spark.operators import audio as A

    rng = np.random.default_rng(5)
    pcm = (rng.standard_normal(800) * 8000).astype(np.int16)
    df = spark.createDataFrame(
        [("a", bytearray(pcm.tobytes()), "pcm_s16le", 8000), ("n", None, "pcm_s16le", 8000)],
        "clip_id string, bytes binary, codec string, sr_hz int",
    )
    out = {
        r["clip_id"]: r["audio_rs"]
        for r in A.resample_clips(df, 16000).collect()
    }
    got = np.frombuffer(bytes(out["a"]["bytes"]), dtype=np.int16)
    assert out["a"]["sr_hz"] == 16000 and out["a"]["n_samples"] == 1600
    # independent reference: same grid, float64 interp, round-clip
    ref_f = np.interp(
        np.arange(1600) * (8000 / 16000), np.arange(800), pcm.astype(np.float32) / 32768.0
    )
    ref = np.clip(np.rint(ref_f * 32768.0), -32768, 32767).astype(np.int16)
    assert (got == ref).all()
    # a resample back down recovers the original within LSB rounding
    assert out["n"] is None or out["n"]["bytes"] is None


# --- VAD + chunking (r5) ---------------------------------------------------


def _pcm_bytes(x: np.ndarray) -> bytes:
    return x.astype("<i2").tobytes()


def test_vad_partial_frame_and_silence(spark):
    """Partial trailing frame uses its REAL length for the mean-square;
    all-silence clips report zero speech; undecodable → ok=false."""
    from multi_task_offensive_language_detection_spark.operators.audio import (
        with_vad_stats,
    )

    sr = 16000  # frame = 160 samples at 10ms
    speech = np.empty(160 * 2 + 80, dtype=np.int16)  # 2.5 frames of tone
    speech[0::2] = 4096
    speech[1::2] = -4096
    rows = [
        ("tone_partial", _pcm_bytes(speech), "pcm_s16le", sr),
        ("silence", _pcm_bytes(np.zeros(320, dtype=np.int16)), "pcm_s16le", sr),
        ("garbage", b"\x01", "wav-pcm16", sr),
        ("lead_sil", _pcm_bytes(np.concatenate([
            np.zeros(160, dtype=np.int16), speech])), "pcm_s16le", sr),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")
    out = {r["clip_id"]: r for r in with_vad_stats(df).select("clip_id", "vad.*").collect()}
    t = out["tone_partial"]
    assert t["ok"] and t["n_frames"] == 3 and t["n_speech_frames"] == 3
    assert t["lead_trim_ms"] == 0.0
    assert abs(t["tail_keep_ms"] - (400 / 16.0)) < 1e-9  # 400 samples kept
    s = out["silence"]
    assert s["ok"] and s["n_speech_frames"] == 0 and s["speech_ratio"] == 0.0
    assert s["lead_trim_ms"] == 0.0 and s["tail_keep_ms"] == 0.0
    assert out["garbage"]["ok"] is False
    l = out["lead_sil"]
    assert l["n_frames"] == 4 and l["n_speech_frames"] == 3
    assert abs(l["lead_trim_ms"] - 10.0) < 1e-9


def test_chunk_bytes_roundtrip_bitexact(spark):
    """Chunk payloads decode back to EXACTLY the source slice (pcm16 →
    float → re-encode is lossless for int16 inputs); overlap and
    drop_last behave per contract."""
    from multi_task_offensive_language_detection_spark.operators.audio import (
        chunk_clips,
        decode_pcm,
    )

    rng = np.random.default_rng(5)
    src = rng.integers(-32768, 32767, size=1000, dtype=np.int16)
    df = spark.createDataFrame(
        [("c1", _pcm_bytes(src), "pcm_s16le", 16000)],
        "clip_id string, bytes binary, codec string, sr_hz int",
    )
    # 20ms chunks = 320 samples: expect 1000 -> 320,320,320,40
    got = (
        chunk_clips(df, 20).orderBy("chunk_idx").collect()
    )
    assert [r["n_samples"] for r in got] == [320, 320, 320, 40]
    assert [round(r["start_ms"], 6) for r in got] == [0.0, 20.0, 40.0, 60.0]
    for r in got:
        dec = (decode_pcm(r["bytes"], "pcm_s16le") * 32768.0).astype(np.int16)
        lo = r["chunk_idx"] * 320
        assert np.array_equal(dec, src[lo : lo + r["n_samples"]])
    # 50% overlap: hop 160 samples
    ov = chunk_clips(df, 20, hop_ms=10).orderBy("chunk_idx").collect()
    assert [r["n_samples"] for r in ov][:3] == [320, 320, 320]
    assert abs(ov[1]["start_ms"] - 10.0) < 1e-9
    # drop_last drops the 40-sample tail
    dl = chunk_clips(df, 20, drop_last=True).collect()
    assert sorted(r["n_samples"] for r in dl) == [320, 320, 320]


def test_normalize_gain_rms_and_peak(spark):
    """Gain normalization: RMS mode hits the target unless the peak cap
    binds; peak mode scales the peak to the ceiling; silence passes
    through untouched; normalized payloads decode to the scaled signal."""
    from multi_task_offensive_language_detection_spark.operators.audio import (
        decode_pcm,
        normalize_clips,
    )

    quiet = np.empty(800, dtype=np.int16)   # ±1024 square: rms 1/32
    quiet[0::2] = 1024
    quiet[1::2] = -1024
    hot = np.empty(800, dtype=np.int16)     # ±16384: rms 0.5 > target
    hot[0::2] = 16384
    hot[1::2] = -16384
    rows = [
        ("quiet", _pcm_bytes(quiet), "pcm_s16le", 16000),
        ("hot", _pcm_bytes(hot), "pcm_s16le", 16000),
        ("silence", _pcm_bytes(np.zeros(100, dtype=np.int16)), "pcm_s16le", 16000),
        ("garbage", b"xx", "wav-pcm16", 16000),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")
    out = {r["clip_id"]: r for r in normalize_clips(df, target_rms=0.1).select("clip_id", "audio_norm.*").collect()}
    q = out["quiet"]
    # gain 0.1/(1/32)=3.2; scaled peak 0.1 << ceiling, so target reached
    assert abs(q["rms_after"] - 0.1) < 1e-6 and q["clipped"] == 0
    dec = decode_pcm(q["bytes"], "pcm_s16le")
    assert abs(float(np.sqrt(np.mean(dec.astype(np.float64) ** 2))) - 0.1) < 1e-3
    h = out["hot"]
    assert abs(h["rms_after"] - 0.1) < 1e-6 and h["gain"] < 1.0
    s = out["silence"]
    assert s["gain"] == 1.0 and s["rms_after"] == 0.0
    assert out["garbage"]["bytes"] is None

    # peak mode: ceiling 0.99 regardless of starting level
    pk = {r["clip_id"]: r for r in normalize_clips(df, mode="peak").select("clip_id", "audio_norm.*").collect()}
    for cid in ("quiet", "hot"):
        dec = decode_pcm(pk[cid]["bytes"], "pcm_s16le")
        assert abs(float(np.max(np.abs(dec))) - 0.99) < 2e-3, cid

    # rms mode with an extreme target: the peak cap binds, zero clipping
    capped = {r["clip_id"]: r for r in normalize_clips(df, target_rms=5.0).select("clip_id", "audio_norm.*").collect()}
    c = capped["quiet"]
    assert c["clipped"] == 0
    dec = decode_pcm(c["bytes"], "pcm_s16le")
    assert float(np.max(np.abs(dec))) <= 0.9901


def test_trim_silence_property_vs_independent_reference(spark):
    """Property pin for the VAD's trim points against an INDEPENDENT
    per-frame reference: for random PCM with random silent padding,
    recompute the speech frames with a plain-Python frame loop (no shared
    code with _speech_frames). The VAD must count the same speech frames
    and name the same span [a, b) in samples: lead_trim_ms is a·1000/sr
    and tail_keep_ms b·1000/sr. Clips with no speech report 0 and 0."""
    import numpy as np

    from multi_task_offensive_language_detection_spark.operators.audio import (
        with_vad_stats,
    )

    rng = np.random.default_rng(1234)
    sr, frame_ms, thresh = 16000, 10, 1e-6
    flen = sr * frame_ms // 1000
    rows, ref = [], {}
    for case in range(12):
        n = int(rng.integers(1, 40) * flen + rng.integers(0, flen))  # partial tail
        pcm = np.zeros(n, dtype=np.int16)
        # random speech bursts
        for _ in range(int(rng.integers(0, 4))):
            a = int(rng.integers(0, n))
            b = min(n, a + int(rng.integers(1, 5 * flen)))
            pcm[a:b] = rng.integers(300, 8000, b - a, dtype=np.int16)
        cid = f"p{case}"
        rows.append((cid, pcm.tobytes(), "pcm_s16le", sr))
        # independent reference: per-frame mean square over real length
        f = pcm.astype(np.float64) / 32768.0
        k = -(-n // flen)
        speech = []
        for i in range(k):
            seg = f[i * flen : min((i + 1) * flen, n)]
            speech.append(float(np.mean(seg * seg)) > thresh)
        span = None
        if any(speech):
            first = speech.index(True)
            last = len(speech) - 1 - speech[::-1].index(True)
            span = first * flen, min((last + 1) * flen, n)
        ref[cid] = (k, sum(speech), span)
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")
    vad = {r["clip_id"]: r["vad"] for r in with_vad_stats(df).select("clip_id", "vad").collect()}
    assert any(span is None for _, _, span in ref.values())
    assert any(span is not None for _, _, span in ref.values())
    for cid, (k, n_speech, span) in ref.items():
        v = vad[cid]
        assert v["ok"] and v["n_frames"] == k, cid
        assert v["n_speech_frames"] == n_speech, cid
        if span is None:
            assert (v["lead_trim_ms"], v["tail_keep_ms"]) == (0.0, 0.0), cid
        else:
            a, b = span
            assert v["lead_trim_ms"] == a * 1000 / sr, cid
            assert abs(v["tail_keep_ms"] - b * 1000 / sr) <= 1e-9, cid
