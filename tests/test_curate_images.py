"""End-to-end image+caption curation job: stage outputs, filtering
semantics, lineage resume."""

import os
import sys

from pyspark.sql import functions as F

from osm_search_spark.streaming.commit import read_table

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "jobs"))


def test_curation_job_end_to_end_and_resume(spark, tmp_path):
    import curate_images as job

    base = str(tmp_path / "curated")
    quality, dedup, captions, curated, resized = job.run(
        spark, base, synth_n=120, tile_res=14
    )
    n_img = 120
    assert quality.count() == n_img
    assert dedup.count() == n_img
    assert captions.count() == n_img

    rows = curated.collect()
    ids = {r["image_id"] for r in rows}
    # quality drops every 32px-sided image; dedup keeps canonical only
    kept_q = {r["image_id"] for r in quality.filter("keep").collect()}
    canon = {r["image_id"] for r in dedup.filter("is_canonical").collect()}
    assert ids == kept_q & canon
    assert 0 < len(ids) < n_img
    # tile columns present and consistent
    for r in rows[:5]:
        assert r["tile_id"] > 0 and r["parent_cell"] > 0
        assert r["caption_margin"] is not None

    # resized stage: survivors only, bucket dims, tile columns ride through
    rrows = {r["image_id"]: r for r in resized.collect()}
    assert set(rrows) == ids
    cur_by_id = {r["image_id"]: r for r in rows}
    for rid, r in rrows.items():
        a, b = (int(x) for x in r["aspect_bucket"].split(":"))
        assert (r["tw"], r["th"]) == (a * 64, b * 64)
        assert r["tile_id"] == cur_by_id[rid]["tile_id"]
        assert r["caption"] == cur_by_id[rid]["caption"]

    # resume: a second run with the same snapshot reuses every committed
    # stage (job count stays tiny; outputs identical)
    q2, d2, c2, cur2, rs2 = job.run(spark, base, synth_n=120, tile_res=14)
    assert {r["image_id"] for r in cur2.collect()} == ids
    assert {r["image_id"] for r in rs2.collect()} == ids

    # parameter change re-gates: curated rebuilds (the snapshot encodes
    # the margin), an always-true caption margin reproduces the same set
    _, _, _, cur3, _ = job.run(
        spark, base, synth_n=120, tile_res=14, caption_margin=-1e9
    )
    assert {r["image_id"] for r in cur3.collect()} == ids


def test_curated_output_partition_pruning(spark, tmp_path):
    import curate_images as job

    base = str(tmp_path / "curated2")
    job.run(spark, base, synth_n=60, tile_res=14)
    out = read_table(spark, f"{base}/curated")
    one_parent = out.select("parent_cell").first()["parent_cell"]
    plan = (
        out.filter(F.col("parent_cell") == one_parent)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(parent_cell" in plan
