"""End-to-end mobility analytics job: stage semantics, cross-stage
consistency, lineage resume + parameter re-gating."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "jobs"))


def test_mobility_job_end_to_end_and_resume(spark, tmp_path):
    import analyze_mobility as job

    base = str(tmp_path / "mob")
    n_ent, pings_each = 60, 40
    trips, od, density, hotspots, clusters, footprints = job.run(
        spark, base, synth_entities=n_ent
    )

    t = trips.collect()
    # the synth gap rule starts a new trip every 4 pings
    assert len(t) == n_ent * pings_each // 4
    assert all(r["n_pings"] == 4 for r in t)
    assert all(r["duration_s"] <= 1800 for r in t)

    # OD mass conservation: flows sum to trips, pings sum to all pings
    od_tot = od.agg(
        F.sum("flows").alias("f"), F.sum("pings").alias("p")
    ).collect()[0]
    assert od_tot["f"] == len(t)
    assert od_tot["p"] == n_ent * pings_each

    # density mass == pings; hotspots cover exactly the density cells
    assert (
        density.agg(F.sum("value")).collect()[0][0] == n_ent * pings_each
    )
    assert hotspots.count() == density.count()
    quads = {r["quadrant"] for r in hotspots.collect()}
    assert quads <= {"HH", "LL", "HL", "LH", "zero", "na"}
    assert "HH" in quads

    # clusters: one row per trip origin; footprints cover every cluster
    assert clusters.count() == len(t)
    cl_ids = {
        r["cluster_id"]
        for r in clusters.collect()
        if r["cluster_id"] is not None
    }
    assert cl_ids
    fp = {r["cluster_id"]: r for r in footprints.collect()}
    assert set(fp) == cl_ids

    # resume: same params reuse every committed stage bit-for-bit
    outs2 = job.run(spark, base, synth_entities=n_ent)
    assert sorted(
        (r["o_cell"], r["d_cell"], r["flows"]) for r in outs2[1].collect()
    ) == sorted((r["o_cell"], r["d_cell"], r["flows"]) for r in od.collect())

    # parameter re-gate: a different eps must REBUILD the cluster
    # stages (snapshot mismatch), not silently reuse them. Count from
    # run #1 BEFORE the rerun — the rebuild overwrites the parquet dir
    # the stale handle reads (the CLAUDE.md overwrite rule).
    noise1 = clusters.filter("role = 'noise'").count()
    outs3 = job.run(spark, base, synth_entities=n_ent, eps=0.0005, min_pts=3)
    noise3 = outs3[4].filter("role = 'noise'").count()
    assert noise3 > noise1  # far tighter eps -> much more noise
    # upstream stages were NOT rebuilt (same snapshot): od identical
    assert outs3[1].count() == od.count()
