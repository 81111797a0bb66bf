"""Exact DBSCAN at scale + N->4N levels.

Synthetic fact: `n` hashed-uniform points over a 10x10-degree box; eps
is derived from the target mean eps-ball occupancy `mean_nbrs` (default
2.0 — sub-critical, so clusters stay bounded and the role mix is
non-trivial) via eps^2 = mean_nbrs * lon_scale / (pi * density).
Reports the role mix, wall (best-of-2 per fresh JVM), point throughput,
and an order-insensitive checksum over (point_id, role, cluster_id) so
levels prove identical output.

Usage: python tools/bench_dbscan.py [n_points] [mean_nbrs] [cpus ...]
  e.g. python tools/bench_dbscan.py 5000000 2.0 8 32
"""

import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BOX = (-5.0, 105.0, 5.0, 115.0)  # minlat, minlon, maxlat, maxlon
MIN_PTS = 4
LON_SCALE = 1.0  # equatorial box


def run_once(cpus: int, n: int, mean_nbrs: float) -> None:
    from pyspark.sql import functions as F

    from osm_search_spark.operators.dbscan import dbscan, pick_res
    from osm_search_spark.session import get_spark

    spark = get_spark("bench-dbscan", cpus=cpus)
    minlat, minlon, maxlat, maxlon = BOX
    density = n / ((maxlat - minlat) * (maxlon - minlon))
    eps = math.sqrt(mean_nbrs * LON_SCALE / (math.pi * density))
    # xxhash64-based uniforms (NOT the rank-1 lattice other benches use:
    # a lattice point set has near-constant nearest-neighbor spacing, so
    # DBSCAN would see zero cores at any sub-critical eps)
    u = "(cast(xxhash64(id, {s}) as double) / 9.223372036854776e18 + 1.0) / 2.0"
    pts = (
        spark.range(0, n, 1, 4 * cpus)
        .select(
            F.col("id").alias("point_id"),
            F.expr(f"{minlat} + {u.format(s=1)} * {maxlat - minlat}").alias("lat"),
            F.expr(f"{minlon} + {u.format(s=2)} * {maxlon - minlon}").alias("lon"),
        )
        .localCheckpoint(eager=True)
    )
    best, agg = None, None
    for _ in range(2):
        t0 = time.time()
        out = dbscan(pts, eps, MIN_PTS, lon_scale=LON_SCALE)
        agg = out.agg(
            F.count("*").alias("rows"),
            F.sum((F.col("role") == "core").cast("long")).alias("cores"),
            F.sum((F.col("role") == "border").cast("long")).alias("borders"),
            F.count_distinct("cluster_id").alias("clusters"),
            # bit_xor, not sum: ANSI sum of hashes overflows (CLAUDE.md)
            F.expr(
                "bit_xor(xxhash64(point_id, role, coalesce(cluster_id, -1)))"
            ).alias("chk"),
        ).collect()[0]
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(
        f"cpus={cpus} points={n} eps={eps:.6f} res={pick_res(eps, LON_SCALE)} "
        f"cores={agg['cores']} borders={agg['borders']} "
        f"clusters={agg['clusters']} checksum={agg['chk']} "
        f"best={best:.2f}s pts_per_s={n / best:.0f}"
    )


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    mean_nbrs = float(sys.argv[2]) if len(sys.argv) > 2 else 2.0
    cpu_levels = [int(a) for a in sys.argv[3:]] or [
        int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    ]
    if os.environ.get("_BENCH_DBSCAN_CHILD"):
        run_once(int(os.environ["_BENCH_DBSCAN_CHILD"]), n, mean_nbrs)
        return
    for cpus in cpu_levels:
        env = dict(os.environ, _BENCH_DBSCAN_CHILD=str(cpus))
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), str(n), str(mean_nbrs)],
            env=env,
            check=True,
        )


if __name__ == "__main__":
    main()
