"""hmm_match at scale + N->4N levels.

Synthetic fact: `t` trips of L=10 pings each riding the horizontal roads
of a street grid (closed-form LCG-ish noise, no RNG state); dim: the
same grid as bench_snap (g horizontal + g vertical polylines). Reports
matched rows, wall (best-of-2 per fresh JVM), ping throughput, and an
order-insensitive checksum so levels prove identical output.

Usage: python tools/bench_map_match.py [n_trips] [grid] [cpus ...]
  e.g. python tools/bench_map_match.py 100000 100 8 32
"""

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BOX = (-5.0, 105.0, 5.0, 115.0)  # minlat, minlon, maxlat, maxlon
L = 10


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


def run_once(cpus: int, t: int, g: int) -> None:
    from pyspark.sql import functions as F

    from osm_search_spark.operators.map_match import hmm_match
    from osm_search_spark.session import get_spark

    spark = get_spark("bench-map-match", cpus=cpus)
    minlat, minlon, maxlat, maxlon = BOX
    road_lat = (
        minlat
        + ((F.col("trip_id") % g) + 0.5) * (maxlat - minlat) / g
    )
    start_lon = minlon + (F.col("trip_id") * 40503 % 999983) / 999983.0 * (
        (maxlon - minlon) * 0.5
    )
    noise = lambda salt: (
        ((F.col("trip_id") * salt + F.col("seq") * 7919) % 2001 - 1000)
        / 1000.0
        * 0.002
    )
    pings = (
        spark.range(0, t, 1, 4 * cpus)
        .select(
            F.col("id").alias("trip_id"),
            F.explode(F.sequence(F.lit(0), F.lit(L - 1))).alias("seq"),
        )
        .select(
            "trip_id",
            F.col("seq").cast("int").alias("seq"),
            (road_lat + noise(69621)).alias("lat"),
            (start_lon + F.col("seq") * 0.01 + noise(40503)).alias("lon"),
        )
        .localCheckpoint(eager=True)
    )
    ways = street_grid(spark, g).localCheckpoint(eager=True)
    best, agg = None, None
    for _ in range(2):
        t0 = time.time()
        out = hmm_match(pings, ways, radius_km=8.0)
        agg = out.agg(
            F.count("*").alias("rows"),
            # bit_xor, not sum: ANSI sum of hashes overflows (CLAUDE.md)
            F.expr(
                "bit_xor(xxhash64(trip_id, seq, way_id, seg_idx))"
            ).alias("chk"),
        ).collect()[0]
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(
        f"cpus={cpus} trips={t} pings={t * L} grid={g}x2 "
        f"rows={agg['rows']} checksum={agg['chk']} best={best:.2f}s "
        f"pings_per_s={t * L / best:.0f}"
    )


def main():
    t = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    g = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    cpus = [int(c) for c in sys.argv[3:]] or [8, 32]
    for c in cpus:
        subprocess.run(
            [
                sys.executable, "-c",
                f"import sys; sys.path.insert(0, {ROOT!r}); "
                "from tools.bench_map_match import run_once; "
                f"run_once({c}, {t}, {g})",
            ],
            env={**os.environ, "SPARK_GRAFT_CPUS": str(c)},
            check=True,
        )


if __name__ == "__main__":
    main()
