"""Atomic fingerprint-keyed staging (sources/staging.py) and the table
fingerprint it is keyed on (sources/tables.py)."""

from __future__ import annotations

import os

from restaurant_etl_spark.sources.staging import stage_once
from restaurant_etl_spark.sources.tables import table_fingerprint


def test_stage_once_builds_once(tmp_path, monkeypatch):
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    tempfile.tempdir = None  # force re-read of TMPDIR
    calls = []

    def build(d):
        calls.append(d)
        open(os.path.join(d, "payload.txt"), "w").write("x")

    p1 = stage_once("t_once", "fp1", build)
    p2 = stage_once("t_once", "fp1", build)
    assert p1 == p2 and len(calls) == 1
    assert os.path.exists(os.path.join(p1, "payload.txt"))
    assert os.path.exists(os.path.join(p1, "_STAGED_OK"))
    tempfile.tempdir = None


def test_fingerprint_change_restages(tmp_path, monkeypatch):
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    tempfile.tempdir = None
    calls = []
    build = lambda d: (calls.append(d), open(os.path.join(d, "f"), "w").close())
    a = stage_once("t_fp", "aaa", build)
    b = stage_once("t_fp", "bbb", build)
    assert a != b and len(calls) == 2
    tempfile.tempdir = None


def test_partial_stale_dir_is_replaced(tmp_path, monkeypatch):
    """A legacy/crashed stage (dir exists, no marker) must be replaced, not
    trusted."""
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    tempfile.tempdir = None
    stale = tmp_path / "t_stale_fpX"
    stale.mkdir()
    (stale / "halfwritten").touch()

    out = stage_once(
        "t_stale", "fpX", lambda d: open(os.path.join(d, "good"), "w").close()
    )
    assert os.path.exists(os.path.join(out, "good"))
    assert os.path.exists(os.path.join(out, "_STAGED_OK"))
    assert not os.path.exists(os.path.join(out, "halfwritten"))
    tempfile.tempdir = None


def test_table_fingerprint_tracks_mtime_and_size(tmp_path):
    f = tmp_path / "src.parquet"
    f.write_bytes(b"abc")
    fp1 = table_fingerprint(str(tmp_path), "src")
    assert fp1 == table_fingerprint(str(tmp_path), "src")  # stable
    f.write_bytes(b"abcd")
    assert table_fingerprint(str(tmp_path), "src") != fp1


def test_table_fingerprint_sees_part_file_rewritten_in_place(tmp_path):
    """A Spark-written directory table: rewriting one part file in place
    leaves the directory's own size and mtime as they were, so a key built
    from the directory inode would serve the stage stale."""
    d = tmp_path / "src.parquet"
    d.mkdir()
    (d / "part-00000.parquet").write_bytes(b"first part")
    (d / "part-00001.parquet").write_bytes(b"second part")
    (d / "_SUCCESS").touch()
    dir_st = os.stat(d)
    fp1 = table_fingerprint(str(tmp_path), "src")

    (d / "part-00001.parquet").write_bytes(b"second part, rewritten")
    assert (os.stat(d).st_size, os.stat(d).st_mtime_ns) == (
        dir_st.st_size,
        dir_st.st_mtime_ns,
    )
    assert table_fingerprint(str(tmp_path), "src") != fp1
