"""Tile materialization: repartitionByRange on cell id + salted dense cells.

The write path of the engine: every record gets its tile (grid cell at
TILE_RES), output is range-partitioned by cell id so tiles are clustered in
few files (partition-prunable on read), and *dense urban tiles* — the skew
the reference never had to face single-process — are split by a salt column
so no task receives a mega-cell.

Lineage: each written partition logs (stage, cell range, row count, checksum)
through plans/lineage.py so a failed run resumes from committed work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C


def assign_tiles(
    df: DataFrame, res: int = C.TILE_RES, lat: str = "lat", lon: str = "lon"
) -> DataFrame:
    return df.withColumn("tile_id", C.latlng_to_cell(lat, lon, res))


def salt_dense_tiles(
    df: DataFrame,
    tile: str = "tile_id",
    max_rows_per_task: int = 500_000,
) -> DataFrame:
    """Add a `salt` column splitting tiles whose row count exceeds the
    per-task cap. One aggregation pass computes per-tile counts (map-side
    combined); the salt join broadcasts only the dense-tile dim (small by
    construction — it's the skew tail)."""
    counts = (
        df.groupBy(tile)
        .count()
        .filter(F.col("count") > max_rows_per_task)
        .withColumn(
            "n_salts", F.ceil(F.col("count") / max_rows_per_task).cast("int")
        )
        .drop("count")
    )
    out = df.join(F.broadcast(counts), tile, "left")
    return out.withColumn(
        "salt",
        F.when(
            F.col("n_salts").isNotNull(),
            F.pmod(F.xxhash64(*df.columns), F.col("n_salts")).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("n_salts")


def write_tiles(
    df: DataFrame,
    path: str,
    res: int = C.TILE_RES,
    lat: str = "lat",
    lon: str = "lon",
    mode: str = "overwrite",
    max_rows_per_task: int = 500_000,
    coarse_partition_res: int = 8,
) -> None:
    """Range-partition by tile id (+ salt), write parquet partitioned by a
    coarse parent cell (bounded directory fan-out; tile_id column remains
    for fine pruning via parquet min/max stats, which range-clustering makes
    tight)."""
    tiled = assign_tiles(df, res, lat, lon)
    salted = salt_dense_tiles(tiled, "tile_id", max_rows_per_task)
    part = salted.withColumn(
        "tile_coarse", C.cell_to_parent("tile_id", coarse_partition_res)
    ).repartitionByRange("tile_id", "salt")
    (
        part.drop("salt")
        .sortWithinPartitions("tile_id")
        .write.mode(mode)
        .partitionBy("tile_coarse")
        .parquet(path)
    )


def write_vector_tiles(
    clipped: DataFrame,
    path: str,
    mode: str = "overwrite",
    coarse_partition_res: int = 8,
) -> None:
    """Sink for clip.clip_to_tiles output (vector tiles): range-partition
    on cell_id (tiles cluster into few files, parquet min/max stats stay
    tight for pruning), directory-partition by a coarse parent cell —
    same layout contract as write_tiles, geometry columns instead of
    point rows. Clipped geometries are bounded per (polygon, cell)
    (≤ ring vertices + 4 per Sutherland-Hodgman pass), so no salting is
    needed: a cell's row count is its polygon count, already bounded by
    the cover."""
    part = clipped.withColumn(
        "tile_coarse", C.cell_to_parent("cell_id", coarse_partition_res)
    ).repartitionByRange("cell_id")
    (
        part.sortWithinPartitions("cell_id")
        .write.mode(mode)
        .partitionBy("tile_coarse")
        .parquet(path)
    )
