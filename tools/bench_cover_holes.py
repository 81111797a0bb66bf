"""Large-hole cover-exclusion evidence (round 6).

A polygon whose hole covers most of its bbox used to emit every
hole-interior cell as a PARTIAL cover row — candidates joined, rode the
broadcast, and died in the winding-number refine. The round-6 exclusion
drops cells provably outside (no boundary-edge bbox touch + corners not
inside), so cover size — and therefore candidate volume, the
cluster-relevant number — scales with boundary PERIMETER, not hole area.

Reports, on a big-donut dim over the sf points table:
  bbox_cells     cover size before the change (reconstructed: the bbox
                 cover is exactly what classified_cover used to emit)
  kept / full / partial   the new cover's composition
  candidates_old/new      join-input candidate rows either side
  join wall time (best of 2) + result checksum

Usage: python tools/bench_cover_holes.py [sf_dir] [res]
"""

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import the engine by module path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
)

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from osm_search_spark.functions import cells as C

    res = int(sys.argv[2]) if len(sys.argv) > 2 else C.JOIN_RES
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from osm_search_spark.functions.cells import bbox_cover
    from osm_search_spark.operators.spatial_join import (
        classified_cover,
        spatial_join,
    )
    from osm_search_spark.sources import synth

    # big donut: hole spans ~78% of the bbox area
    donut = [
        (
            0,
            [-7.95, -7.95, -7.40, -7.40, -7.95],
            [110.20, 111.00, 111.00, 110.20, 110.20],
            [[-7.90, -7.90, -7.45, -7.45, -7.90]],
            [[110.25, 110.95, 110.95, 110.25, 110.25]],
        )
    ]
    dim = spark.createDataFrame(
        donut,
        "polygon_id long, ring_lat array<double>, ring_lon array<double>, "
        "holes_lat array<array<double>>, holes_lon array<array<double>>",
    )
    points = synth.derive_points(spark, sf_dir)

    _, rl, rn, _, _ = donut[0]
    bbox_cells = len(
        bbox_cover(min(rl), min(rn), max(rl), max(rn), res)
    )
    cover = classified_cover(dim, res).collect()
    kept = len(cover)
    full = sum(1 for r in cover if r["full"])
    print(
        f"res={res} bbox_cells={bbox_cells} kept={kept} "
        f"full={full} partial={kept - full} "
        f"dropped={bbox_cells - kept} "
        f"cover_reduction={bbox_cells / max(kept, 1):.2f}x"
    )

    pts_cells = points.withColumn(
        "cell_id", C.latlng_to_cell("lat", "lon", res)
    )
    kept_ids = [r["cell_id"] for r in cover]
    cand_new = pts_cells.filter(F.col("cell_id").isin(kept_ids)).count()
    # old candidate volume = points landing in ANY bbox cell
    minlat, minlon, maxlat, maxlon = min(rl), min(rn), max(rl), max(rn)
    size = C.cell_size_deg(res)
    cand_old = pts_cells.filter(
        (F.col("lat") >= np.floor((minlat + 90.0) / size) * size - 90.0)
        & (F.col("lat") < (np.floor((maxlat + 90.0) / size) + 1) * size - 90.0)
        & (F.col("lon") >= np.floor((minlon + 180.0) / size) * size - 180.0)
        & (F.col("lon") < (np.floor((maxlon + 180.0) / size) + 1) * size - 180.0)
    ).count()
    print(
        f"candidates_old={cand_old} candidates_new={cand_new} "
        f"candidate_reduction={cand_old / max(cand_new, 1):.2f}x"
    )

    best = None
    for _ in range(2):
        t0 = time.monotonic()
        n = spatial_join(points, dim, res=res).count()
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    print(f"join_rows={n} join_sec_best_of_2={best:.3f}")


if __name__ == "__main__":
    main()
