"""One Arrow row-map for the media tier (``extensions/multimodal.py``,
``audio.py``, ``video.py``): every kernel is a per-row function run by
``multimodal._row_map``, which alone calls ``mapInPandas``/
``mapInArrow`` and types the output columns. The no-Spark checks flag
a second batch loop or a hand-written column cast; the Spark tests pin
the NULL-key contract that the single typed build gives every public
transform and every synthesized media table."""

from __future__ import annotations

import ast
import os

import numpy as np
import pytest

from promptly_data_pipelines_spark.extensions import audio, multimodal, video
from promptly_data_pipelines_spark.extensions.jpeg import encode_jpeg

_EXT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "promptly_data_pipelines_spark",
    "extensions",
)
_MEDIA = ("multimodal.py", "audio.py", "video.py")
_HELPER = ("multimodal.py", "_row_map")


def _calls(rel: str):
    """(attribute called, receiver, innermost enclosing function, line)
    for every ``x.attr(...)`` call in one media module."""
    with open(os.path.join(_EXT, rel), encoding="utf-8") as f:
        tree = ast.parse(f.read(), rel)
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                out.append((child.func.attr, child.func.value, fn, child.lineno))
            inner = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if inner else fn)

    visit(tree, None)
    return out


def test_media_kernels_share_one_row_map():
    offenders = [
        f"{rel}:{line} {attr} in {fn}"
        for rel in _MEDIA
        for attr, _recv, fn, line in _calls(rel)
        if attr in ("mapInPandas", "mapInArrow") and (rel, fn) != _HELPER
    ]
    assert not offenders, f"write a per-row function for multimodal._row_map: {offenders}"


def test_media_kernels_cast_no_columns():
    """Output columns get their types in ``_row_map`` only: no
    ``frame[col].astype(...)`` and no ``pd.array(..., dtype=...)``."""
    offenders = [
        f"{rel}:{line} {attr}"
        for rel in _MEDIA
        for attr, recv, _fn, line in _calls(rel)
        if (attr == "astype" and isinstance(recv, ast.Subscript))
        or (attr == "array" and isinstance(recv, ast.Name) and recv.id == "pd")
    ]
    assert not offenders, f"let _row_map type the output columns: {offenders}"


def _wav() -> bytes:
    wave = np.where((np.arange(600) // 3) % 2, 700, -700).astype("<i2")
    return multimodal.encode_wav(8000, 1, wave.tobytes())


def _avi() -> bytes:
    frames = [encode_jpeg(np.full((8, 16), 100 + 20 * f, np.uint8)) for f in range(3)]
    return video.encode_avi_mjpeg(frames, 16, 8)


# name → (transform, media_type, payload)
_TRANSFORMS = {
    "extract_features": (multimodal.extract_features, "bytestats", b"media bytes " * 9),
    "resize_media": (lambda m: multimodal.resize_media(m, 8, 8), "bytestats", b"resize" * 9),
    "sample_frames": (
        lambda m: multimodal.sample_frames(m, every_n=2, frame_size=8),
        "bytestats",
        bytes(range(70)),
    ),
    "extract_audio_features": (audio.extract_audio_features, "wav", _wav()),
    "extract_audio_frames": (audio.extract_audio_frames, "wav", _wav()),
    "extract_video_frames": (video.extract_video_frames, "avi", _avi()),
}


@pytest.mark.parametrize("name", sorted(_TRANSFORMS))
def test_null_doc_id_passes_through(spark, name):
    """Rows {doc_id NULL, doc_id 2} with the same payload, in one Arrow
    batch: the NULL row's outputs are keyed NULL and otherwise equal
    doc 2's, and doc 2's equal what doc 2 alone gives."""
    transform, media_type, p = _TRANSFORMS[name]
    both = spark.createDataFrame(
        [(None, media_type, p), (2, media_type, p)], multimodal.MEDIA_SCHEMA
    ).coalesce(1)
    alone = spark.createDataFrame([(2, media_type, p)], multimodal.MEDIA_SCHEMA)
    rows = transform(both).collect()
    null_rows = sorted(tuple(r)[1:] for r in rows if r.doc_id is None)
    doc2_rows = sorted(tuple(r) for r in rows if r.doc_id is not None)
    assert doc2_rows == sorted(tuple(r) for r in transform(alone).collect())
    assert doc2_rows and all(r[0] == 2 for r in doc2_rows)
    assert null_rows == [r[1:] for r in doc2_rows]


@pytest.mark.parametrize(
    "synth",
    [
        multimodal.media_table_mixed,
        multimodal.media_table_png,
        multimodal.media_table_png_palette,
        multimodal.media_table_jpeg,
        audio.media_table_tone,
        video.media_table_video,
    ],
    ids=lambda f: f.__name__,
)
def test_synth_tables_keep_a_null_doc_id(spark, tmp_path, synth):
    """A synthesized media table derives each payload from doc_id; a
    NULL doc_id has no closed form, so its row comes out NULL
    throughout while doc 2 gets its payload. documents is one row
    group at fixture scale, so a table read straight off the scan is
    one task and its codec chain runs on one core; each table starts
    from documents spread over ``defaultParallelism`` partitions."""
    from promptly_data_pipelines_spark.catalog import DECLARED_SCHEMAS

    spark.createDataFrame(
        [(None, "null key", "en", "s", 8), (2, "doc two", "en", "s", 7)],
        DECLARED_SCHEMAS["documents"],
    ).write.parquet(str(tmp_path / "documents.parquet"))
    media = synth(spark, str(tmp_path))
    assert media.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    rows = {r.doc_id: r for r in media.collect()}
    assert set(rows) == {None, 2}
    assert tuple(rows[None]) == (None, None, None)
    assert rows[2].media_type and rows[2].payload
