"""Hausdorff trajectory-similarity join at scale + N->4N levels.

Synthetic fact: `n_trips` localized pseudo-random walks (`pts` vertices,
+-`step`-deg moves, xxhash64-driven) with starts hashed uniformly over a
10x10-deg box. Each trip's footprint is ~pts*step across, so candidate
density is controlled by n_trips (box fixed). Planted signal: every
16th trip is a near-copy of its predecessor (same walk, 2e-4-deg
offset), so the threshold join always returns a known-order-of-
magnitude pair set. Reports wall (best-of-2 per fresh JVM), trip
throughput, the matched-pair count, and an order-insensitive checksum
over (trip_a, trip_b) so levels prove identical output.

Usage: python tools/bench_traj.py [n_trips] [pts] [cpus ...]
  e.g. python tools/bench_traj.py 200000 32 8 32
"""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

D_MAX = 0.002
STEP = 0.0015
LON_SCALE = 1.0


def run_once(cpus: int, n_trips: int, pts: int) -> None:
    from pyspark.sql import functions as F

    from osm_search_spark.operators.traj_sim import hausdorff_join
    from osm_search_spark.session import get_spark

    spark = get_spark("bench-traj", cpus=cpus)
    u = "(cast(xxhash64({c}, {s}) as double) / 9.223372036854776e18 + 1.0) / 2.0"
    # base walk per PAIR-GROUP (id // 16 * 16 + min(id % 16, 14)): trips
    # 15 mod 16 reuse trip 14's walk shifted by 2e-4 -> planted pairs.
    base = "(cast(id as bigint) - (case when id % 16 = 15 then 1 else 0 end))"
    off = "(case when id % 16 = 15 then 2.0e-4 else 0.0e0 end)"
    trips = (
        spark.range(0, n_trips, 1, 4 * cpus)
        .select(
            F.col("id").alias("trip_id"),
            F.expr(f"-5.0 + {u.format(c=base, s=1)} * 10.0 + {off}").alias("lat0"),
            F.expr(f"105.0 + {u.format(c=base, s=2)} * 10.0 + {off}").alias("lon0"),
            F.expr(base).alias("b"),
        )
        .select(
            "trip_id",
            F.expr(
                "transform(sequence(1, %d), (x, i) -> lat0 + aggregate("
                "sequence(1, i + 1), cast(0.0 as double), (acc, j) -> acc + "
                "(case when xxhash64(b, j, 1) %% 2 = 0 then %s else -%s end)))"
                % (pts, STEP, STEP)
            ).alias("lats"),
            F.expr(
                "transform(sequence(1, %d), (x, i) -> lon0 + aggregate("
                "sequence(1, i + 1), cast(0.0 as double), (acc, j) -> acc + "
                "(case when xxhash64(b, j, 2) %% 2 = 0 then %s else -%s end)))"
                % (pts, STEP, STEP)
            ).alias("lons"),
        )
        .localCheckpoint(eager=True)
    )
    best, agg = None, None
    for _ in range(2):
        t0 = time.time()
        out = hausdorff_join(trips, D_MAX, lon_scale=LON_SCALE)
        agg = out.agg(
            F.count("*").alias("pairs"),
            F.expr("bit_xor(xxhash64(trip_a, trip_b))").alias("chk"),
        ).collect()[0]
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(
        f"cpus={cpus} trips={n_trips} pts={pts} d={D_MAX} "
        f"pairs={agg['pairs']} checksum={agg['chk']} "
        f"best={best:.2f}s trips_per_s={n_trips / best:.0f}"
    )


def main():
    n_trips = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    pts = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    cpu_levels = [int(a) for a in sys.argv[3:]] or [
        int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    ]
    if os.environ.get("_BENCH_TRAJ_CHILD"):
        run_once(int(os.environ["_BENCH_TRAJ_CHILD"]), n_trips, pts)
        return
    for cpus in cpu_levels:
        env = dict(os.environ, _BENCH_TRAJ_CHILD=str(cpus))
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), str(n_trips), str(pts)],
            env=env,
            check=True,
        )


if __name__ == "__main__":
    main()
