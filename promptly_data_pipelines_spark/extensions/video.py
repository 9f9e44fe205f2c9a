"""Real video tier behind the multimodal boundary: MJPEG-in-AVI.

With a real baseline JPEG codec in the tree (extensions/jpeg.py, r11)
the simplest genuinely-decodable video format is Motion JPEG in an
AVI container — every frame an independent baseline JPEG inside a
RIFF chunk stream. That turns the former frame-sampling STUB (payload
sliced at fixed offsets) into a real pipeline: container walk →
every-Nth-frame selection → full lossy image decode → per-frame
features. H.264/VP9 remain loud refusals (inter-frame motion
compensation genuinely needs the absent codec libraries); MJPEG is
the honest fully-implementable middle tier, and is still what
motion-capture rigs and some webcams emit.

Container scope (asserted, not assumed): single video stream ('vids'
/ 'MJPG'), '00dc'/'00db' frame chunks inside the 'movi' LIST, word
alignment per RIFF. The writer emits avih + strl (strh/strf) + movi
+ idx1 — enough structure that a strict reader accepts the file.
Truncated chunks, non-AVI RIFF, and missing headers raise ValueError
(the same loud-refusal posture as the other codecs).

Oracle design: media_table_video synthesizes per-doc AVIs whose
frames are DC-only flat-block JPEGs (see media_table_jpeg for why
those round-trip EXACTLY through the lossy codec): frame f of doc d
is (1+d%3)×8 tall, (1+d%4)×8 wide, block k holding
128 + 2·((d·7 + f·13 + k·5) % 61 − 30). Every decoded pixel sum is
closed-form in (doc_id, frame_idx), so DuckDB value-checks the whole
chain: RIFF walk → frame select → Huffman/DCT decode → feature math
(multimodal_video_frames).

Cost model at 100 TB: one Python call per Arrow batch (the media row-map);
per row, the container walk is O(bytes) pointer stepping and each
sampled frame pays one vectorized JPEG decode. Row explosion (docs →
frames) stays partition-local — no shuffle until the caller
aggregates. The reference has no video path at all (SURVEY.md §2j);
this is the north-star multimodal tier the build brief adds.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..registry import query
from .jpeg import encode_jpeg
from .multimodal import _flat_block_image, _jpeg_stats, _row_map, _synth_media


def _chunk(tag: bytes, data: bytes) -> bytes:
    pad = b"\x00" if len(data) % 2 else b""
    return tag + struct.pack("<I", len(data)) + data + pad


def _list(kind: bytes, data: bytes) -> bytes:
    return _chunk(b"LIST", kind + data)


def encode_avi_mjpeg(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """Build a minimal spec-valid MJPEG AVI around already-encoded
    JPEG frames: RIFF('AVI ') → hdrl(avih, strl(strh, strf)) →
    movi('00dc'×n) → idx1. Deterministic (no timestamps)."""
    if not frames:
        raise ValueError("AVI needs at least one frame")
    if fps < 1:
        raise ValueError(f"invalid AVI fps {fps}")
    n = len(frames)
    max_bytes = max(len(f) for f in frames)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        max_bytes * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # AVIF_HASINDEX
        n, 0, 1, max_bytes,  # totalframes, initialframes, streams, bufsize
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<10I", 0, 0, 0, 1, fps, 0, n, max_bytes, 0xFFFFFFFF, 0)
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", width * height * 3, 0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl", _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf))
    )
    movi_chunks = b"".join(_chunk(b"00dc", f) for f in frames)
    movi = _list(b"movi", movi_chunks)
    # idx1 offsets are relative to the start of the movi LIST's data
    # (i.e. just after the 'movi' fourcc), per the de-facto convention
    idx_entries = []
    off = 4
    for f in frames:
        idx_entries.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(f)))
        off += 8 + len(f) + (len(f) % 2)
    idx1 = _chunk(b"idx1", b"".join(idx_entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _riff_chunks(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_len) walking a RIFF chunk
    span with word alignment; truncation raises."""
    pos = start
    while pos + 8 <= end:
        tag = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        if pos + 8 + size > end:
            raise ValueError(f"truncated AVI chunk {tag!r}")
        yield tag, pos + 8, size
        pos += 8 + size + (size % 2)


def decode_avi_header(payload: bytes) -> dict:
    """Header-only decode — avih fields without touching frame data."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload (bad RIFF/AVI signature)")
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    end = min(8 + riff_size, len(payload))
    for tag, p, size in _riff_chunks(payload, 12, end):
        if tag == b"LIST" and payload[p : p + 4] == b"hdrl":
            for t2, p2, s2 in _riff_chunks(payload, p + 4, p + size):
                if t2 == b"avih":
                    if s2 < 40:
                        raise ValueError("truncated AVI avih header")
                    vals = struct.unpack_from("<10I", payload, p2)
                    if vals[6] != 1:
                        raise ValueError(
                            f"unsupported AVI stream count {vals[6]} (only 1)"
                        )
                    return {
                        "width": int(vals[8]),
                        "height": int(vals[9]),
                        "n_frames": int(vals[4]),
                        "us_per_frame": int(vals[0]),
                    }
            raise ValueError("AVI hdrl LIST has no avih chunk")
    raise ValueError("AVI has no hdrl LIST")


def _check_stream_codec(payload: bytes, end: int) -> None:
    """Walk hdrl/strl/strh and refuse non-MJPG video streams BY NAME —
    an H.264 AVI must fail as 'unsupported AVI codec', not trickle
    down to a per-frame 'not a JPEG payload' that reads as corruption
    (r11 review finding; same loud-refusal posture as the image
    codecs)."""
    for tag, p, size in _riff_chunks(payload, 12, end):
        if tag == b"LIST" and payload[p : p + 4] == b"hdrl":
            for t2, p2, s2 in _riff_chunks(payload, p + 4, p + size):
                if t2 == b"LIST" and payload[p2 : p2 + 4] == b"strl":
                    for t3, p3, s3 in _riff_chunks(payload, p2 + 4, p2 + s2):
                        if t3 == b"strh" and s3 >= 8:
                            fcc_type = payload[p3 : p3 + 4]
                            handler = payload[p3 + 4 : p3 + 8]
                            if fcc_type == b"vids" and handler != b"MJPG":
                                raise ValueError(
                                    "unsupported AVI codec "
                                    f"{handler.decode('ascii', 'replace').strip()!r}"
                                    " (only MJPG; H.264/VP9 need absent codec libraries)"
                                )


def iter_avi_frames(payload: bytes):
    """Yield each video frame's bytes ('00dc'/'00db' chunks inside the
    movi LIST) in stream order; non-MJPG streams are refused by name
    before any frame bytes are touched."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload (bad RIFF/AVI signature)")
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    end = min(8 + riff_size, len(payload))
    _check_stream_codec(payload, end)
    saw_movi = False
    for tag, p, size in _riff_chunks(payload, 12, end):
        if tag == b"LIST" and payload[p : p + 4] == b"movi":
            saw_movi = True
            for t2, p2, s2 in _riff_chunks(payload, p + 4, p + size):
                if t2 in (b"00dc", b"00db"):
                    yield payload[p2 : p2 + s2]
    if not saw_movi:
        raise ValueError("AVI has no movi LIST")


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
    ]
)


def extract_video_frames(media: DataFrame, every_n: int = 1) -> DataFrame:
    """AVI container walk → every-Nth-frame select → full JPEG decode →
    per-frame features. One row in, n_frames/every_n rows out;
    partition-local."""
    if every_n < 1:
        raise ValueError(f"invalid frame sampling stride {every_n}")

    def frames(doc_id, p):
        for fi, frame in enumerate(iter_avi_frames(p)):
            if fi % every_n == 0:
                yield doc_id, fi, *_jpeg_stats(frame)

    return _row_map(media, ("doc_id", "payload"), frames, VIDEO_FRAME_SCHEMA)


def media_table_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MJPEG AVIs with closed-form frame content: doc d gets
    2 + d%4 frames; frame f is flat 8×8 blocks, block k (raster)
    holding 128 + 2·((d·7 + f·13 + k·5) % 61 − 30) — DC-only, so the
    lossy round trip is exact (media_table_jpeg's construction with a
    per-frame term)."""

    def synth(i):
        imgs = [_flat_block_image(i, f) for f in range(2 + i % 4)]
        h, w = imgs[0].shape
        return "avi", encode_avi_mjpeg([encode_jpeg(m, quality=50) for m in imgs], w, h)

    return _synth_media(spark, sf_dir, synth)


@query(
    "multimodal_video_frames",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             1 + doc_id % 4 AS bw,
             1 + doc_id % 3 AS bh,
             2 + doc_id % 4 AS n_frames
      FROM documents
    )
    SELECT doc_id,
           CAST(t.f AS INT) AS frame_idx,
           CAST(8 * bw AS INT) AS width,
           CAST(8 * bh AS INT) AS height,
           CAST(64 * (SELECT SUM(128 + 2 * ((doc_id * 7 + t.f * 13 + k * 5) % 61 - 30))
                      FROM generate_series(0, 11) AS g(k)
                      WHERE k < bw * bh) AS BIGINT) AS px_sum
    FROM params
    CROSS JOIN generate_series(0, 5) AS t(f)  -- max 2 + 3 = 5 frames
    WHERE t.f < n_frames
    """,
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode value-checked end to end: MJPEG AVI synthesis
    (RIFF writer around per-frame baseline JPEGs) → container walk →
    per-frame lossy decode → per-frame pixel sums, against a DuckDB
    oracle that recomputes every frame's sum in closed form from
    (doc_id, frame_idx). A container mis-walk (alignment, index
    off-by-one), a dropped frame, or any JPEG decode defect flips the
    hash."""
    return extract_video_frames(media_table_video(spark, sf_dir), every_n=1)


@query(
    "multimodal_video_sample",
    oracle="""
    WITH params AS (
      SELECT doc_id, 2 + doc_id % 4 AS n_frames FROM documents
    )
    SELECT doc_id,
           CAST(t.f AS INT) AS frame_idx
    FROM params
    CROSS JOIN generate_series(0, 5) AS t(f)
    WHERE t.f < n_frames AND t.f % 2 = 0
    """,
)
def multimodal_video_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-Nth-frame sampling (the every_n=2 path): the selected
    frame indices must be exactly the even ones per doc — pinning the
    stride logic independently of the pixel math."""
    return extract_video_frames(media_table_video(spark, sf_dir), every_n=2).select(
        "doc_id", "frame_idx"
    )
