"""100k-fence geofence bench: times the fence-side cell-ring kNN path
(points never cross-join the fence set) vs what the broadcast cross join
would have to do.

Usage: python tools/bench_geofence.py [n_fences] [n_points]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from osm_search_spark.operators.geofence import geofence_status
from osm_search_spark.session import get_spark


def main() -> int:
    n_fences = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_points = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    spark = get_spark("bench-geofence")
    spark.sparkContext.setLogLevel("ERROR")

    # deterministic fence grid + track points over a ~500x500 km region
    fences = spark.range(n_fences).select(
        F.concat(F.lit("f"), F.col("id")).alias("fence_name"),
        (F.lit(-8.0) + (F.col("id") % 450) * 0.01).alias("lat"),
        (F.lit(106.0) + (F.col("id") / 450).cast("long") * 0.02).alias("lon"),
        F.lit(0.8).alias("radius_km"),
    )
    tracks = spark.range(n_points).select(
        F.concat(F.lit("e"), (F.col("id") % 20000)).alias("query_point_id"),
        (F.col("id") / 20000).cast("int").alias("seq"),
        (F.lit(-8.0) + ((F.col("id") * 7919) % 4490) * 0.001).alias("lat"),
        (F.lit(106.0) + ((F.col("id") * 104729) % 4450) * 0.001).alias("lon"),
    )

    t0 = time.time()
    out = geofence_status(tracks, fences, nearest_n=3)
    n_rows = out.count()
    elapsed = time.time() - t0
    print(json.dumps({
        "metric": "geofence_knn_path_sec",
        "value": round(elapsed, 3),
        "unit": "sec",
        "n_fences": n_fences,
        "n_points": n_points,
        "result_rows": n_rows,
        "pairs_avoided": n_fences * n_points,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
