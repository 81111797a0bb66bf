"""spatial_join above its broadcast size: 25k polygons, with and without hints.

spatial_join runs one plan at every dim size (classified cover, cell_id
equi-join, codegen winding-number refine). Above
spatial_join.BROADCAST_MAX_POLYGONS (20k) polygons it drops the broadcast
hints on the cover and the ring edges and lets Catalyst/AQE pick the
joins. This tool measures that unhinted plan at 25k polygons against the
same plan with the hints forced on (the constant raised past the dim), and
proves output parity on overlapping polygons.

Synthesizes a 25k-quad overlapping grid + n_points deterministic points,
runs both plans in ABBA order, checksums the (point_id, polygon_id) output
(bit_xor of xxhash64 — order-insensitive), and times each.

Usage: python tools/bench_grouped_refine.py [n_polys] [n_points]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from osm_search_spark.operators import spatial_join as SJ  # noqa: E402
from osm_search_spark.session import get_spark  # noqa: E402


def main():
    n_polys = int(sys.argv[1]) if len(sys.argv) > 1 else 25000
    n_points = int(sys.argv[2]) if len(sys.argv) > 2 else 200000
    spark = get_spark("bench-grouped")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    base_lat, base_lon, step, ext = -7.9, 110.2, 0.02, 0.03  # ext > step: overlap
    cols = 160
    polys = (
        spark.range(n_polys)
        .select(
            F.col("id").alias("polygon_id"),
            (F.lit(base_lat) + (F.col("id") % cols) * step).alias("la"),
            (F.lit(base_lon) + (F.col("id") / cols).cast("long") * step).alias("lo"),
        )
        .select(
            "polygon_id",
            F.array("la", "la", F.col("la") + ext, F.col("la") + ext, "la")
            .alias("ring_lat"),
            F.array("lo", F.col("lo") + ext, F.col("lo") + ext, "lo", "lo")
            .alias("ring_lon"),
        )
        .repartition(cpus)
        .persist()
    )
    polys.count()

    lat_span = cols * step + ext
    lon_span = (n_polys // cols) * step + ext
    pts = (
        spark.range(n_points)
        .select(
            F.col("id").alias("point_id"),
            (F.lit(base_lat) + F.pmod(
                F.xxhash64("id") / F.lit(2.0 ** 63) + 1.0, F.lit(1.0)
            ) * lat_span).alias("lat"),
            (F.lit(base_lon) + F.pmod(
                F.xxhash64(F.col("id") + 1) / F.lit(2.0 ** 63) + 1.0, F.lit(1.0)
            ) * lon_span).alias("lon"),
        )
        .repartition(cpus)
        .persist()
    )
    pts.count()

    default_max = SJ.BROADCAST_MAX_POLYGONS

    def run(hinted):
        SJ.BROADCAST_MAX_POLYGONS = n_polys if hinted else default_max
        try:
            out = SJ.spatial_join(pts, polys).select("point_id", "polygon_id")
        finally:
            SJ.BROADCAST_MAX_POLYGONS = default_max
        t0 = time.perf_counter()
        row = out.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("point_id", "polygon_id")).alias("chk"),
        ).collect()[0]
        return round(time.perf_counter() - t0, 3), (row["n"], row["chk"])

    run(True)  # warm
    secs = {True: [], False: []}
    outs = set()
    for hinted in (True, False, False, True):
        sec, out = run(hinted)
        secs[hinted].append(sec)
        outs.add(out)
    assert len(outs) == 1, ("parity failure", outs)
    (n, _), = outs
    print(json.dumps(dict(
        n_polys=n_polys, n_points=n_points, cpus=cpus, joined_rows=n,
        parity="checksum-identical",
        hinted_sec=secs[True], unhinted_sec=secs[False],
        unhinted_rows_per_sec=round(n / min(secs[False]), 1),
    )))


if __name__ == "__main__":
    main()
