"""Real audio DSP behind the multimodal boundary — the WAV body tier.

extensions/multimodal.py parses WAV *headers* (RIFF chunk walk →
sample_rate/channels). This module goes into the BODY: int16 PCM
samples decoded with numpy and reduced to the standard signal
features a speech/audio data pipeline gates on — RMS level (loudness)
and zero-crossing rate (the classic cheap voiced/unvoiced + noisiness
proxy) — both full-signal and framed. Everything is vectorized numpy
over Arrow batches (the media row-map): decode is one ``np.frombuffer``
view (zero-copy over the Arrow buffer), RMS one reduction, crossings
one shifted comparison; no per-sample Python.

Oracle design (the part that makes a binary codec value-checkable):
``media_table_tone`` synthesizes square-wave WAVs whose amplitude,
period, length, and sample rate are pure functions of doc_id. A
square wave has closed-form features — RMS is exactly the amplitude,
and the crossing count between alternating half-periods of length P
over n samples is exactly (n-1)//P — so DuckDB recomputes every
feature from doc_id alone and the value hash covers container
framing, PCM decode, and the DSP math at once (audio_tone_features).
Real-signal behavior (silence, DC offset, stereo interleave, odd
frame tails) pins in tests/test_modules.py-style unit tests instead.

The reference has no audio path at all; this is the north-star
multimodal tier the build brief adds (image=PNG codec, audio=this,
video=frame sampling plumbing).
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..registry import query
from .multimodal import _decode_wav, _row_map, _synth_media, encode_wav

FRAME = 256  # samples per analysis frame (mono)

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("n_zero_crossings", T.IntegerType()),
    ]
)


def wav_pcm(payload: bytes) -> tuple[dict, np.ndarray]:
    """RIFF walk to the data chunk → (fmt dict, int16 sample array).
    Interleaved stereo stays interleaved here; callers reshape by
    n_channels. Truncated/missing data chunks raise ValueError (loud
    refusal, same posture as the other codecs)."""
    fmt = _decode_wav(payload)  # validates RIFF/WAVE + fmt chunk
    off = 12
    while off + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, off)
        if cid == b"data":
            body = payload[off + 8 : off + 8 + size]
            if len(body) != size:
                raise ValueError("WAV payload has a truncated data chunk")
            if len(body) % 2:
                raise ValueError(
                    "WAV data chunk has odd byte length (corrupt for int16 PCM)"
                )
            return fmt, np.frombuffer(body, dtype="<i2")
        off += 8 + size + (size & 1)
    raise ValueError("WAV payload has no data chunk")


def pcm_features(samples: np.ndarray, n_channels: int) -> dict:
    """Vectorized signal features over int16 PCM. Stereo is folded to
    per-frame-of-channel-0 semantics by taking channel 0 (the analysis
    convention for gating; per-channel variants are one reshape away).
    Zero crossings count strict sign CHANGES (zero samples carry the
    previous sign — a silent stretch is not a crossing burst)."""
    mono = samples[::n_channels] if n_channels > 1 else samples
    n = int(mono.shape[0])
    if n == 0:
        return {
            "n_samples": 0, "n_frames": 0, "rms": 0.0, "peak": 0,
            "n_zero_crossings": 0,
        }
    x = mono.astype(np.float64)
    rms = float(np.sqrt(np.mean(x * x)))
    # sign with zero-holds-previous: propagate the last nonzero sign
    s = np.sign(x).astype(np.int8)
    nz = s != 0
    idx = np.where(nz, np.arange(n), 0)
    np.maximum.accumulate(idx, out=idx)
    held = s[idx]
    # a crossing is a pair where the PREVIOUS held sign exists (not the
    # leading all-zero prefix, where held is still 0) and the next held
    # sign differs — zeros never flip, so held[i+1] != held[i] with
    # held[i] != 0 is exactly a sign change
    crossings = int(np.count_nonzero((held[:-1] != 0) & (held[1:] != held[:-1])))
    return {
        "n_samples": n,
        "n_frames": (n + FRAME - 1) // FRAME,
        "rms": rms,
        "peak": int(np.max(np.abs(x))),
        "n_zero_crossings": crossings,
    }


AUDIO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("n_zero_crossings", T.IntegerType()),
    ]
)


def frame_features(samples: np.ndarray, n_channels: int) -> list[dict]:
    """Per-frame (FRAME mono samples; the tail frame may be short)
    RMS / peak / zero-crossing rows — the table a speech-gating
    pipeline actually filters on (e.g. keep docs whose voiced-frame
    fraction clears a threshold). Vectorized: one ``reduceat`` per
    feature over the frame boundaries; crossings use the same
    zero-holds-previous-sign convention as :func:`pcm_features`,
    counted only between sample pairs INSIDE a frame (a boundary pair
    belongs to neither frame, so frame counts sum to ≤ the full-signal
    count — pinned in tests)."""
    mono = samples[::n_channels] if n_channels > 1 else samples
    n = int(mono.shape[0])
    if n == 0:
        return []
    x = mono.astype(np.float64)
    starts = np.arange(0, n, FRAME)
    lens = np.minimum(starts + FRAME, n) - starts
    sq_sums = np.add.reduceat(x * x, starts)
    peaks = np.maximum.reduceat(np.abs(x), starts)
    # held sign over the whole signal (zero holds previous), then a
    # crossing at pair i counts toward frame i//FRAME unless the pair
    # straddles a boundary ((i+1) % FRAME == 0 means i+1 starts the
    # next frame)
    s = np.sign(x).astype(np.int8)
    nz = s != 0
    idx = np.where(nz, np.arange(n), 0)
    np.maximum.accumulate(idx, out=idx)
    held = s[idx]
    counts = np.zeros(starts.shape[0], dtype=np.int64)
    if n > 1:
        i = np.arange(n - 1)
        cross = (held[:-1] != 0) & (held[1:] != held[:-1]) & ((i + 1) % FRAME != 0)
        counts = np.bincount(
            i[cross] // FRAME, minlength=starts.shape[0]
        ).astype(np.int64)
    return [
        {
            "frame_idx": int(f),
            "n_samples": int(lens[f]),
            "rms": float(np.sqrt(sq_sums[f] / lens[f])),
            "peak": int(peaks[f]),
            "n_zero_crossings": int(counts[f]),
        }
        for f in range(starts.shape[0])
    ]


def extract_audio_frames(media: DataFrame) -> DataFrame:
    """WAV payloads → one row per analysis frame. Row count amplifies
    by n_frames per doc but stays partition-local (no shuffle); at
    100 TB the frame table is written partitioned and aggregated
    map-side before any wide op."""
    names = AUDIO_FRAME_SCHEMA.names[1:]

    def frames(doc_id, p):
        fmt, samples = wav_pcm(p)
        return [
            (doc_id, *map(f.get, names))
            for f in frame_features(samples, fmt["n_channels"])
        ]

    return _row_map(media, ("doc_id", "payload"), frames, AUDIO_FRAME_SCHEMA)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """WAV payloads → typed feature rows. One Python call per Arrow
    batch; partitioning preserved (no shuffle)."""
    names = AUDIO_FEATURE_SCHEMA.names[1:]

    def features(doc_id, p):
        fmt, samples = wav_pcm(p)
        f = {**fmt, **pcm_features(samples, fmt["n_channels"])}
        return [(doc_id, *map(f.get, names))]

    return _row_map(media, ("doc_id", "payload"), features, AUDIO_FEATURE_SCHEMA)


def media_table_tone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Square-wave WAV synthesis with doc_id-derived parameters:
    amplitude A = 500 + (doc_id%17)·100, half-period P = 2 + doc_id%7
    samples, length n = 512 + (doc_id%5)·128 samples, sample rate
    8000 + (doc_id%5)·4000, mono. Every feature below is closed-form
    in these — the property the SQL oracle needs."""

    def synth(i):
        amp, period = 500 + (i % 17) * 100, 2 + i % 7
        t = np.arange(512 + (i % 5) * 128)
        wave = np.where((t // period) % 2 == 0, amp, -amp).astype("<i2")
        return "wav", encode_wav(8000 + (i % 5) * 4000, 1, wave.tobytes())

    return _synth_media(spark, sf_dir, synth)


@query(
    "audio_tone_features",
    oracle=f"""
    SELECT doc_id,
           CAST(8000 + (doc_id % 5) * 4000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS n_channels,
           CAST(512 + (doc_id % 5) * 128 AS INT) AS n_samples,
           CAST((512 + (doc_id % 5) * 128 + {FRAME} - 1) // {FRAME} AS INT)
             AS n_frames,
           CAST(500 + (doc_id % 17) * 100 AS DOUBLE) AS rms,
           CAST(500 + (doc_id % 17) * 100 AS INT) AS peak,
           CAST((512 + (doc_id % 5) * 128 - 1) // (2 + doc_id % 7) AS INT)
             AS n_zero_crossings
    FROM documents
    """,
)
def audio_tone_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio DSP value-checked end to end: WAV container write → RIFF
    walk → int16 PCM decode → vectorized RMS / peak / zero-crossing /
    framing math, against a DuckDB oracle that recomputes every
    feature in closed form from doc_id (square wave: RMS == amplitude
    exactly — sqrt of a perfect square is exact in IEEE for these
    magnitudes — and crossings over n samples at half-period P are
    exactly (n-1)//P). A mis-framed data chunk, an endianness slip,
    or an off-by-one in the frame count flips the hash."""
    return extract_audio_features(media_table_tone(spark, sf_dir))


@query(
    "audio_frame_features",
    oracle=f"""
    WITH params AS (
      SELECT doc_id,
             500 + (doc_id % 17) * 100 AS a,
             2 + doc_id % 7 AS p,
             512 + (doc_id % 5) * 128 AS n
      FROM documents
    )
    SELECT doc_id,
           CAST(t.f AS INT) AS frame_idx,
           CAST(LEAST({FRAME}, n - {FRAME} * t.f) AS INT) AS n_samples,
           CAST(a AS DOUBLE) AS rms,
           CAST(a AS INT) AS peak,
           CAST((LEAST(n, {FRAME} * t.f + {FRAME}) - 1) // p
                - ({FRAME} * t.f) // p AS INT) AS n_zero_crossings
    FROM params
    CROSS JOIN generate_series(0, 3) AS t(f)  -- max n = 1024 -> <= 4 frames
    WHERE t.f < (n + {FRAME} - 1) // {FRAME}
    """,
)
def audio_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FRAMED feature table (one row per {FRAME}-sample analysis
    frame) a speech-gating pipeline filters on, value-checked per
    frame: the square wave's frame RMS/peak are exactly the amplitude
    regardless of where the frame cuts, and the in-frame crossing
    count is exactly (e-1)//P - s//P for frame [s, e) (a sign flip at
    sample t+1 happens iff P divides t+1; pairs straddling a frame
    boundary belong to neither frame). n = 512 + (doc_id%5)·128 makes
    2 of 5 docs end in a SHORT tail frame (n % {FRAME} = 128), so the
    odd-tail path is exercised by the oracle itself, not just unit
    tests."""
    return extract_audio_frames(media_table_tone(spark, sf_dir))
