"""Checkpoint/resume + lineage verification."""

import os

import pyspark.sql.functions as F
import pytest

from osm_search_spark.functions import cells as C
from osm_search_spark.plans import lineage
from osm_search_spark.streaming import commit as commit_mod


def test_stage_resume_skips_rebuild(spark, tmp_path):
    base = str(tmp_path / "pipe")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        )

    a = lineage.run_stage(spark, base, "stage1", build)
    assert calls["n"] == 1 and a.count() == 100
    b = lineage.run_stage(spark, base, "stage1", build)
    assert calls["n"] == 1  # resumed, not rebuilt
    assert b.count() == 100
    assert lineage.verify_stage(spark, base, "stage1")
    c = lineage.run_stage(spark, base, "stage1", build, force=True)
    assert calls["n"] == 2 and c.count() == 100


def test_lineage_records_cell_range(spark, tmp_path):
    base = str(tmp_path / "pipe2")

    def build():
        pts = spark.createDataFrame(
            [(1, -7.5, 110.5), (2, -7.6, 110.6)], "id long, lat double, lon double"
        )
        return pts.withColumn("cell_id", C.latlng_to_cell("lat", "lon", 12))

    lineage.run_stage(spark, base, "cells", build, cell_col="cell_id")
    rec = commit_mod.read_pointer(f"{base}/cells")
    assert rec["stage"] == "cells"
    lin = rec["lineage"]
    ranges = [(r["cell_min"], r["cell_max"]) for r in lin if r["row_count"] > 0]
    assert ranges and all(mn <= mx for mn, mx in ranges)


def test_verify_detects_tamper(spark, tmp_path):
    base = str(tmp_path / "pipe3")
    lineage.run_stage(spark, base, "s", lambda: spark.range(10))
    # tamper: rewrite the committed version without updating its pointer
    spark.range(11).write.mode("overwrite").parquet(f"{base}/s/v0")
    assert not lineage.verify_stage(spark, base, "s")


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def _crash_on_pointer(monkeypatch):
    """Kill the next commit between its version-dir rename and its pointer
    write (the narrowest crash window)."""
    real_replace = os.replace

    def crashing_replace(a, b):
        if os.path.basename(b) == commit_mod._POINTER:
            raise OSError("injected kill before pointer write")
        return real_replace(a, b)

    monkeypatch.setattr(commit_mod.os, "replace", crashing_replace)


def test_stale_resume_after_crashed_rebuild(spark, tmp_path, monkeypatch):
    """Commit snapshot S1, crash an S2 rebuild after its data write, then
    resume S1: the resume must serve S1's rows, not the crashed S2 write."""
    base = str(tmp_path / "pipe4")
    lineage.run_stage(spark, base, "st", lambda: spark.range(10), "S1")

    def crash(*a, **k):
        raise OSError("injected kill after data write")

    with monkeypatch.context() as m:
        m.setattr(commit_mod, "lineage_of", crash)
        with pytest.raises(OSError, match="injected kill"):
            lineage.run_stage(spark, base, "st", lambda: spark.range(100, 105), "S2")
    out = lineage.run_stage(
        spark, base, "st", lambda: pytest.fail("S1 must resume"), "S1"
    )
    assert _ids(out) == list(range(10))
    assert lineage.verify_stage(spark, base, "st")


def test_stage_crash_before_pointer_recovers(spark, tmp_path, monkeypatch):
    """A crash between a commit's rename and its pointer write. Before the
    v0 pointer it leaves v0, no pointer and the in-flight marker: the
    rerun clears the orphan and commits. Before a v1+ pointer it leaves an
    orphaned v1 newer than the pointer: the committed S1 still resumes,
    and the S2 retry clears the orphan and commits."""
    base = str(tmp_path / "pipe5")
    marker = f"{base}/st/{commit_mod._FIRST_COMMIT_MARKER}"
    with monkeypatch.context() as m:
        _crash_on_pointer(m)
        with pytest.raises(OSError, match="injected kill"):
            lineage.run_stage(spark, base, "st", lambda: spark.range(10), "S1")
    assert os.path.isdir(f"{base}/st/v0") and os.path.exists(marker)
    out = lineage.run_stage(spark, base, "st", lambda: spark.range(10), "S1")
    assert _ids(out) == list(range(10)) and not os.path.exists(marker)
    assert lineage.verify_stage(spark, base, "st")

    with monkeypatch.context() as m:
        _crash_on_pointer(m)
        with pytest.raises(OSError, match="injected kill"):
            lineage.run_stage(spark, base, "st", lambda: spark.range(100, 105), "S2")
    assert os.path.isdir(f"{base}/st/v1")
    out = lineage.run_stage(
        spark, base, "st", lambda: pytest.fail("S1 must resume"), "S1"
    )
    assert _ids(out) == list(range(10))
    out = lineage.run_stage(spark, base, "st", lambda: spark.range(100, 105), "S2")
    assert _ids(out) == list(range(100, 105))
    assert commit_mod.read_pointer(f"{base}/st")["version"] == "v1"
    assert lineage.verify_stage(spark, base, "st")
