"""snap_to_segments at scale + N->4N levels.

Synthetic fact: `n` derived points over a 10x10-degree box; dim: a
street grid (g horizontal + g vertical polylines, ~20 segments each).
Reports rows snapped, wall (best-of-2 per fresh JVM), throughput, and an
order-insensitive checksum so levels prove identical output.

Usage: python tools/bench_snap.py [n_points] [grid] [cpus ...]
  e.g. python tools/bench_snap.py 2000000 100 8 32
"""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BOX = (-5.0, 105.0, 5.0, 115.0)  # minlat, minlon, maxlat, maxlon


def street_grid(spark, g: int):
    minlat, minlon, maxlat, maxlon = BOX
    rows = []
    wid = 1
    for i in range(g):
        lat = minlat + (i + 0.5) * (maxlat - minlat) / g
        lats = [lat] * 21
        lons = [minlon + k * (maxlon - minlon) / 20 for k in range(21)]
        rows.append((wid, lats, lons))
        wid += 1
    for i in range(g):
        lon = minlon + (i + 0.5) * (maxlon - minlon) / g
        lats = [minlat + k * (maxlat - minlat) / 20 for k in range(21)]
        rows.append((wid, lats, [lon] * 21))
        wid += 1
    return spark.createDataFrame(
        rows, "id long, lats array<double>, lons array<double>"
    )


def run_once(cpus: int, n: int, g: int) -> None:
    from pyspark.sql import functions as F

    from osm_search_spark.operators.snap import snap_to_segments
    from osm_search_spark.session import get_spark

    spark = get_spark("bench-snap", cpus=cpus)
    minlat, minlon, maxlat, maxlon = BOX
    pts = (
        spark.range(0, n, 1, 4 * cpus)
        .select(
            F.col("id").alias("point_id"),
            (minlat + (F.col("id") * 40503 % 1000003) / 1000003.0
             * (maxlat - minlat)).alias("lat"),
            (minlon + (F.col("id") * 69621 % 999983) / 999983.0
             * (maxlon - minlon)).alias("lon"),
        )
        .localCheckpoint(eager=True)
    )
    ways = street_grid(spark, g).localCheckpoint(eager=True)
    best, agg = None, None
    for _ in range(2):
        t0 = time.time()
        out = snap_to_segments(pts, ways, radius_km=8.0)
        agg = out.agg(
            F.count("*").alias("rows"),
            # bit_xor, not sum: ANSI sum of hashes overflows (CLAUDE.md)
            F.expr("bit_xor(xxhash64(point_id, way_id, seg_idx))").alias("chk"),
        ).collect()[0]
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(
        f"cpus={cpus} points={n} grid={g}x2 rows={agg['rows']} "
        f"checksum={agg['chk']} best={best:.2f}s "
        f"pts_per_s={n / best:.0f}"
    )


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    g = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    cpu_levels = [int(a) for a in sys.argv[3:]] or [
        int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    ]
    if os.environ.get("_BENCH_SNAP_CHILD"):
        run_once(int(os.environ["_BENCH_SNAP_CHILD"]), n, g)
        return
    for cpus in cpu_levels:
        env = dict(os.environ, _BENCH_SNAP_CHILD=str(cpus))
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), str(n), str(g)],
            env=env,
            check=True,
        )


if __name__ == "__main__":
    main()
