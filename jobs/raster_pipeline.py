"""spark-submit entrypoint: polygon layer -> tiled raster masks -> vector rings.

  spark-submit --py-files dist/osm_search_spark.zip jobs/raster_pipeline.py \
      --polygons polys.parquet --out /data/raster --res 14 --px 16

Two checkpoint-committed stages (plans/lineage.py — snapshot-pointer
commits whose pointer carries the per-partition lineage; a rerun resumes
after the last committed stage):

  masks  rasterize_polygons -> explicit repartitionByRange on cell id ->
         parquet partitioned by the coarse parent cell (bounded directory
         fan-out; range clustering keeps parquet min/max stats on cell_id
         tight for fine-grained pruning)
  rings  vectorize_masks over the COMMITTED masks table (not the live plan,
         so a rings-stage failure never recomputes rasterization)
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def run(
    spark: SparkSession,
    polygons_path: str,
    out: str,
    res: int = 14,
    px: int = 16,
    coarse_partition_res: int = 8,
    force: bool = False,
):
    from osm_search_spark.functions import cells as C
    from osm_search_spark.operators import raster as R
    from osm_search_spark.plans import lineage

    polys = spark.read.parquet(polygons_path)

    def build_masks():
        rast = R.rasterize_polygons(polys, res=res, px=px)
        return rast.withColumn(
            "tile_coarse", C.cell_to_parent("cell_id", coarse_partition_res)
        ).repartitionByRange("cell_id")

    # parameters ride in input_snapshot: a rerun with a different polygon
    # layer / res / px REBUILDS instead of resuming stale geometry
    params = f"|res={res}|px={px}"
    masks = lineage.run_stage(
        spark, out, "masks", build_masks,
        input_snapshot=polygons_path + params, cell_col="cell_id",
        partition_by="tile_coarse", force=force,
    )
    rings = lineage.run_stage(
        spark, out, "rings",
        lambda: R.vectorize_masks(masks, res, px),
        input_snapshot=f"{out}/masks" + params, force=force,
    )
    return masks, rings


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--polygons", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--res", type=int, default=14)
    ap.add_argument("--px", type=int, default=16)
    ap.add_argument("--coarse-res", type=int, default=8)
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("osm-search-raster-pipeline").getOrCreate()
    masks, rings = run(
        spark, args.polygons, args.out, args.res, args.px,
        args.coarse_res, args.force,
    )
    print(f"masks: {masks.count()} tiles; rings: {rings.count()} rings -> {args.out}")


if __name__ == "__main__":
    main()
