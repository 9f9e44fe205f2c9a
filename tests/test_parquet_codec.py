"""Every parquet file the package writes is ZSTD: the codec is one of
``session.RUNTIME_DEFAULTS``, so the builder and ``tune_session`` both
set it and no write call site names a codec. Checked on the parquet
footers of snapshot-store commits (full and delta), an ELT model and a
session whose codec was changed before ``tune_session`` ran, and no
module but ``session.py`` names the codec conf."""

from __future__ import annotations

import glob
import os
from datetime import datetime
from pathlib import Path

import pyarrow.parquet as pq

from promptly_data_pipelines_spark.operators import snapshot_store as SS
from promptly_data_pipelines_spark.operators.fs import FileSystemOps
from promptly_data_pipelines_spark.session import tune_session

from conftest import SF_DIR

CODEC = "spark.sql.parquet.compression.codec"
_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "promptly_data_pipelines_spark",
)


def _codecs(path: str) -> set[str]:
    """The codec of every column chunk of every parquet file under ``path``."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    assert files, path
    out = set()
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            out |= {rg.column(c).compression for c in range(rg.num_columns)}
    return out


def test_snapshot_commits_write_zstd(spark, tmp_path):
    root = str(tmp_path / "store")
    schema = "k bigint, ts timestamp, v string"
    t0, t1 = datetime(2024, 1, 1), datetime(2024, 1, 2)
    base = spark.createDataFrame([(k, t0, f"b{k}") for k in range(480)], schema)
    batch = spark.createDataFrame([(k, t1, "u") for k in range(10)], schema)
    SS.commit(spark, root, 10, 0, SS.Upsert(base, "k"), run_id="r")
    SS.commit(spark, root, 10, 1, SS.Upsert(batch, "k"), run_id="r")
    fs = FileSystemOps(spark)
    assert SS._marker(fs, root, 0)[2]["chain"] == []  # full snapshot
    assert SS._marker(fs, root, 1)[2]["chain"] == [1]  # delta
    assert _codecs(f"{root}/snap-0") == {"ZSTD"}
    assert _codecs(f"{root}/snap-1") == {"ZSTD"}


def test_elt_model_writes_zstd(spark, tmp_path):
    from promptly_data_pipelines_spark.pipelines.elt_job import run_elt

    wh = str(tmp_path / "wh")
    run_elt(spark, SF_DIR, wh)
    assert _codecs(os.path.join(wh, "raw", "events")) == {"ZSTD"}


def test_tune_session_resets_the_codec(spark, tmp_path):
    child = spark.newSession()  # keeps the shared session's conf untouched
    child.conf.set(CODEC, "snappy")
    tune_session(child)
    assert child.conf.get(CODEC) == "zstd"
    out = str(tmp_path / "t")
    child.range(100).write.parquet(out)
    assert _codecs(out) == {"ZSTD"}


def test_only_session_module_names_the_codec():
    offenders = [
        os.path.relpath(path, _PKG)
        for path in glob.glob(os.path.join(_PKG, "**", "*.py"), recursive=True)
        if path != os.path.join(_PKG, "session.py")
        and "compression.codec" in Path(path).read_text(encoding="utf-8")
    ]
    assert not offenders, f"a second parquet codec setting: {offenders}"
