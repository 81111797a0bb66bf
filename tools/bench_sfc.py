"""SFC layout locality: row groups touched + wall time for bbox scans,
Hilbert-clustered vs Morton-clustered vs row-major (cell_id) layouts.

Three identical point tables (world-uniform, hash-derived, N rows) are
written range-partitioned + sorted on each key. For K fixed bboxes we
report, per layout:

- ``ranges``: merged key ranges from the planner (seek count),
- ``row_groups``: parquet row groups whose key min/max stats intersect
  any range — EXACTLY the IO a stats-pruning reader does, computed from
  the real footers (deterministic, no timing noise),
- ``wall``: best-of-2 of the actual filtered count() on Spark.

Usage: python tools/bench_sfc.py [n_rows] [cpus]
"""

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

RES = 14
PLAN_RES = 10
BBOXES = [
    (-7.9, 110.3, -7.2, 111.1),
    (40.5, -74.4, 41.2, -73.3),
    (51.2, -0.8, 51.8, 0.5),
    (-34.0, 150.5, -33.4, 151.6),
    (35.4, 139.2, 36.0, 140.2),
]


def row_groups_touched(path: str, key: str, ranges) -> tuple[int, int]:
    touched = total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            idx = md.schema.names.index(key)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                total += 1
                if st is None:
                    touched += 1
                    continue
                lo, hi = st.min, st.max
                if any(not (r1 < lo or r0 > hi) for r0, r1 in ranges):
                    touched += 1
    return touched, total


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else int(
        os.environ.get("SPARK_GRAFT_CPUS", 32)
    )
    from pyspark.sql import functions as F

    from osm_search_spark.functions import cells as C
    from osm_search_spark.functions import sfc
    from osm_search_spark.session import get_spark

    spark = get_spark("bench-sfc", cpus=cpus)
    pts = (
        spark.range(n)
        .select(
            F.col("id").alias("point_id"),
            (F.pmod(F.col("id") * 40503, 1000003) / 1000003.0 * 178 - 89).alias("lat"),
            (F.pmod(F.col("id") * 69621, 999983) / 999983.0 * 359 - 179.5).alias("lon"),
        )
        .withColumn("cell_id", C.latlng_to_cell("lat", "lon", RES))
    )
    keyed = sfc.with_hilbert_key(pts, "cell_id", res=RES, out="hkey").withColumn(
        "zkey", sfc.morton_key("cell_id", RES)
    )
    with tempfile.TemporaryDirectory() as tmp:
        layouts = {"hilbert": "hkey", "morton": "zkey", "rowmajor": "cell_id"}
        for name, key in layouts.items():
            (
                keyed.repartitionByRange(4 * cpus, key)
                .sortWithinPartitions(key)
                .write.parquet(os.path.join(tmp, name))
            )
        for name, key in layouts.items():
            path = os.path.join(tmp, name)
            df = spark.read.parquet(path)
            tot_rg = tot_touched = tot_ranges = 0
            tot_wall, rows = 0.0, 0
            for bbox in BBOXES:
                kw = {} if name == "rowmajor" else {"plan_res": PLAN_RES}
                ranges = sfc.bbox_key_ranges(RES, *bbox, curve=name, **kw)
                tot_ranges += len(ranges)
                t, tot = row_groups_touched(path, key, ranges)
                tot_touched += t
                tot_rg = tot
                exact = (
                    (F.col("lat") >= bbox[0]) & (F.col("lon") >= bbox[1])
                    & (F.col("lat") <= bbox[2]) & (F.col("lon") <= bbox[3])
                )
                best = None
                for _ in range(2):
                    t0 = time.time()
                    rows = (
                        df.filter(sfc.key_range_filter(key, ranges))
                        .filter(exact)
                        .count()
                    )
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                tot_wall += best
            print(
                f"layout={name:8s} ranges={tot_ranges:5d} "
                f"row_groups={tot_touched}/{tot_rg * len(BBOXES)} "
                f"wall={tot_wall:.2f}s rows_last={rows}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
