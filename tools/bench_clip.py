"""clip_to_tiles at scale: FULL/PARTIAL split + wall + N->4N levels.

Synthetic dim: `n` jagged polygons (36-68 vertices, radius 0.12-0.24 deg)
scattered deterministically over a ~60x60 deg region, clipped at --res
(default 12: cell 0.044 deg -> each polygon covers tens of cells, most
FULL). Reports the FULL vs PARTIAL row split — the area-vs-perimeter
story — and wall time best-of-2 per fresh JVM.

Usage: python tools/bench_clip.py [n_polys] [res] [cpus ...]
  e.g. python tools/bench_clip.py 5000 12 8 32
"""

import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synth_polys(spark, n: int):
    rows = []
    for pid in range(n):
        m = 36 + 8 * (pid % 5)
        c_lat = -25.0 + 0.37 * (pid % 137)
        c_lon = 90.0 + 0.41 * (pid % 149)
        lat, lon = [], []
        for k in range(m):
            ang = 2 * math.pi * k / m
            r = 0.12 + 0.03 * ((k * 7 + pid) % 5)
            lat.append(c_lat + r * math.sin(ang))
            lon.append(c_lon + r * math.cos(ang))
        lat.append(lat[0])
        lon.append(lon[0])
        rows.append((pid, lat, lon))
    return spark.createDataFrame(
        rows, "polygon_id long, ring_lat array<double>, ring_lon array<double>"
    )


def run_once(cpus: int, n: int, res: int) -> None:
    from pyspark.sql import functions as F

    from osm_search_spark.operators.clip import clip_to_tiles
    from osm_search_spark.session import get_spark

    spark = get_spark("bench-clip", cpus=cpus)
    polys = synth_polys(spark, n).repartition(4 * cpus).localCheckpoint(
        eager=True
    )
    best, stats = None, None
    for _ in range(2):
        t0 = time.time()
        out = clip_to_tiles(polys, res=res)
        stats = out.agg(
            F.count("*").alias("rows"),
            F.sum(F.col("full").cast("long")).alias("n_full"),
            F.sum(F.size("ring_lat").cast("long")).alias("verts"),
        ).collect()[0]
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    n_full = stats["n_full"]
    print(
        f"cpus={cpus} polys={n} res={res} best={best:.2f}s "
        f"cells={stats['rows']} full={n_full} "
        f"partial={stats['rows'] - n_full} out_vertices={stats['verts']} "
        f"cells_per_s={stats['rows'] / best:.0f}"
    )


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    res = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    cpu_levels = [int(a) for a in sys.argv[3:]] or [
        int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    ]
    if os.environ.get("_BENCH_CLIP_CHILD"):
        run_once(int(os.environ["_BENCH_CLIP_CHILD"]), n, res)
        return
    for cpus in cpu_levels:
        env = dict(os.environ, _BENCH_CLIP_CHILD=str(cpus))
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), str(n), str(res)],
            env=env,
            check=True,
        )


if __name__ == "__main__":
    main()
