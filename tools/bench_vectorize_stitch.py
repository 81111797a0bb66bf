"""vectorize_masks single-task chaining vs hierarchical two-stage stitching
on a deliberately HUGE boundary (round-7 VERDICT item 4).

Synthetic raster: one polygon shaped as a comb of `teeth` vertical strips,
each 1 tile wide and `tooth_h` tiles tall, joined by a 1-tile-tall spine —
high perimeter, bounded area, one connected ring, so the default path
chains the WHOLE boundary in a single task while the hierarchical path
splits it over 2^shift-lattice blocks. Asserts both paths produce the
same ring count and total area2 (bit-identity is pytest's job —
tests/test_raster.py::test_hierarchical_stitching_bit_identical).

Usage: python tools/bench_vectorize_stitch.py [teeth] [tooth_h] [shift] [cpus ...]
  e.g. python tools/bench_vectorize_stitch.py 800 40 10 32
"""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RES, PX = 12, 8


def comb_raster(spark, teeth: int, tooth_h: int):
    """FULL-mask tiles of the comb (all-ones masks: the boundary follows
    tile borders, which is exactly where the stitching work is)."""
    import numpy as np

    from osm_search_spark.functions import cells as C

    full = bytearray(np.packbits(np.ones((PX, PX), dtype=bool)).tobytes())
    ix0, iy0 = 3000, 1500
    rows = []
    for t in range(teeth):
        x = ix0 + 2 * t
        for y in range(iy0 + 1, iy0 + 1 + tooth_h):
            rows.append((1, RES * C.RES_BITS_SHIFT + x * C.IX_SHIFT + y))
    for x in range(ix0, ix0 + 2 * teeth):  # spine
        rows.append((1, RES * C.RES_BITS_SHIFT + x * C.IX_SHIFT + iy0))
    return spark.createDataFrame(
        [(pid, cell, PX * PX, full) for pid, cell in rows],
        "polygon_id long, cell_id long, n_set int, mask binary",
    )


def run_once(cpus: int, teeth: int, tooth_h: int, shift: int) -> None:
    from pyspark.sql import functions as F

    from osm_search_spark.operators import raster as R
    from osm_search_spark.session import get_spark

    spark = get_spark("bench-vectorize-stitch", cpus=cpus)
    rast = (
        comb_raster(spark, teeth, tooth_h)
        .repartition(4 * cpus)
        .localCheckpoint(eager=True)
    )
    n_tiles = rast.count()
    edges = R.cancel_edges(R.boundary_edges(rast, PX)).localCheckpoint(
        eager=True
    )
    n_edges = edges.count()

    results = {}
    for label, frame in (
        ("single", R.chain_rings(edges, RES, PX)),
        ("hier", R.chain_rings_hierarchical(edges, RES, PX, shift)),
    ):
        best, stats = None, None
        for _ in range(2):
            t0 = time.time()
            stats = frame.agg(
                F.count("*").alias("rings"),
                F.sum("area2").alias("a2"),
                F.sum(F.size("xs")).alias("verts"),
            ).collect()[0]
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        results[label] = (best, stats)
    (bs, ss), (bh, sh) = results["single"], results["hier"]
    assert (ss["rings"], ss["a2"]) == (sh["rings"], sh["a2"]), (ss, sh)
    print(
        f"cpus={cpus} teeth={teeth} tooth_h={tooth_h} shift={shift} "
        f"tiles={n_tiles} boundary_edges={n_edges} rings={ss['rings']} "
        f"ring_vertices={ss['verts']} single={bs:.2f}s hier={bh:.2f}s "
        f"speedup={bs / bh:.2f}x"
    )


def main():
    teeth = int(sys.argv[1]) if len(sys.argv) > 1 else 800
    tooth_h = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    shift = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    cpu_levels = [int(a) for a in sys.argv[4:]] or [
        int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    ]
    if os.environ.get("_BENCH_VSTITCH_CHILD"):
        run_once(int(os.environ["_BENCH_VSTITCH_CHILD"]), teeth, tooth_h, shift)
        return
    for cpus in cpu_levels:
        env = dict(os.environ, _BENCH_VSTITCH_CHILD=str(cpus))
        subprocess.run(
            [
                sys.executable, os.path.abspath(__file__),
                str(teeth), str(tooth_h), str(shift),
            ],
            env=env,
            check=True,
        )


if __name__ == "__main__":
    main()
