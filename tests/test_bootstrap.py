"""K6 storage-layout bootstrap (reference code/utils.py:14-46 parity,
Hadoop-FS re-expression — see sinks/bootstrap.py)."""

from __future__ import annotations

import os
import pytest

from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks import (
    bootstrap,
    writers,
)


def test_initialize_layout_creates_reference_prefixes(spark, tmp_path):
    base = str(tmp_path / "pipeline")
    out = bootstrap.initialize_layout(spark, base)
    assert set(out) == {"", *bootstrap.DEFAULT_FOLDERS}
    for folder in bootstrap.DEFAULT_FOLDERS:
        assert os.path.isdir(os.path.join(base, folder)), folder
        assert out[folder].endswith(f"/{folder}")


def test_initialize_layout_is_idempotent_and_merges(spark, tmp_path):
    base = str(tmp_path / "pipeline")
    # pre-existing folder with content must survive (reference
    # tolerates BucketAlreadyOwnedByYou / existing prefixes)
    os.makedirs(os.path.join(base, "audit"))
    keep = os.path.join(base, "audit", "keep.txt")
    open(keep, "w").write("x")
    first = bootstrap.initialize_layout(spark, base)
    second = bootstrap.initialize_layout(spark, base)
    assert first == second
    assert open(keep).read() == "x"


def test_initialize_layout_custom_folders(spark, tmp_path):
    base = str(tmp_path / "p2")
    out = bootstrap.initialize_layout(spark, base, folders=("raw", "curated"))
    assert os.path.isdir(os.path.join(base, "raw"))
    assert os.path.isdir(os.path.join(base, "curated"))
    assert set(out) == {"", "raw", "curated"}


def test_initialize_layout_rejects_file_base(spark, tmp_path, monkeypatch):
    # retry envelope (R1) still raises after exhausting attempts;
    # neuter its sleeps so the failure path stays fast
    monkeypatch.setattr(writers.time, "sleep", lambda _s: None)
    base = str(tmp_path / "not_a_dir")
    open(base, "w").write("file in the way")
    with pytest.raises(Exception):
        bootstrap.initialize_layout(spark, base)


def test_initialize_layout_rejects_file_folder(spark, tmp_path, monkeypatch):
    # ADVICE r9: mkdirs on a path that exists as a FILE returns false
    # on some FileSystems instead of raising — every per-folder call
    # must apply the mkdirs-or-isDirectory guard, not just the base.
    monkeypatch.setattr(writers.time, "sleep", lambda _s: None)
    base = str(tmp_path / "pipeline")
    os.makedirs(base)
    open(os.path.join(base, "audit"), "w").write("file where folder goes")
    with pytest.raises(Exception):
        bootstrap.initialize_layout(spark, base)


def test_bootstrap_ingest_dirs_rejects_file_collision(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(writers.time, "sleep", lambda _s: None)
    src = str(tmp_path / "src_is_file")
    open(src, "w").write("x")

    class Cfg:
        source_dir = src

    with pytest.raises(Exception):
        bootstrap.bootstrap_ingest_dirs(spark, Cfg())
