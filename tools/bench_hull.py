"""Per-group convex hull at scale + N->4N levels.

Synthetic fact: `n` points in `n // group_size` groups — each group a
hashed-uniform cloud (xxhash64 offsets) around a hashed center, so
every group's hull is ~log-sized. Exercises the two-level reduction:
the local stage sees clouds split across `4 * cpus` input partitions.
Reports wall (best-of-2, fresh JVM per level), point throughput, and an
order-insensitive checksum over every emitted hull vertex so levels
prove identical output.

Usage: python tools/bench_hull.py [n_points] [group_size] [cpus ...]
"""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_once(cpus: int, n: int, group_size: int) -> None:
    from pyspark.sql import functions as F

    from osm_search_spark.operators.hull import convex_hull
    from osm_search_spark.session import get_spark

    spark = get_spark("bench-hull", cpus=cpus)
    u = "(cast(xxhash64({c}, {s}) as double) / 9.223372036854776e18 + 1.0) / 2.0"
    g = f"(id % {n // group_size})"
    pts = (
        spark.range(0, n, 1, 4 * cpus)
        .select(
            F.expr(g).alias("g"),
            F.expr(
                f"-5.0 + {u.format(c=g, s=1)} * 10.0"
                f" + ({u.format(c='id', s=3)} - 0.5) * 0.01"
            ).alias("lat"),
            F.expr(
                f"105.0 + {u.format(c=g, s=2)} * 10.0"
                f" + ({u.format(c='id', s=4)} - 0.5) * 0.01"
            ).alias("lon"),
        )
        .localCheckpoint(eager=True)
    )
    best, agg = None, None
    for _ in range(2):
        t0 = time.time()
        out = convex_hull(pts, group="g")
        agg = (
            out.select(
                "g", "n_vertices",
                F.explode(F.arrays_zip("hull_lats", "hull_lons")).alias("p"),
            )
            .agg(
                F.count("*").alias("verts"),
                F.count_distinct("g").alias("groups"),
                F.expr(
                    "bit_xor(xxhash64(g, n_vertices, p.hull_lats, p.hull_lons))"
                ).alias("chk"),
            )
            .collect()[0]
        )
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(
        f"cpus={cpus} points={n} groups={agg['groups']} "
        f"hull_verts={agg['verts']} checksum={agg['chk']} "
        f"best={best:.2f}s pts_per_s={n / best:.0f}"
    )


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    group_size = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    cpu_levels = [int(a) for a in sys.argv[3:]] or [
        int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    ]
    if os.environ.get("_BENCH_HULL_CHILD"):
        run_once(int(os.environ["_BENCH_HULL_CHILD"]), n, group_size)
        return
    for cpus in cpu_levels:
        env = dict(os.environ, _BENCH_HULL_CHILD=str(cpus))
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), str(n),
             str(group_size)],
            env=env,
            check=True,
        )


if __name__ == "__main__":
    main()
