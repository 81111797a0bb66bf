"""Raster <-> vector operators: mask exactness, ring invariants, zonal stats."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_search_spark.functions import cells as C
from osm_search_spark.functions import geometry as G
from osm_search_spark.operators import raster as R
from osm_search_spark.operators import spatial_join as SJ
from osm_search_spark.sources import synth

RES, PX = 12, 8
SIZE_P = C.cell_size_deg(RES + 3)


def direct_mask(rl, rn, cell):
    """Reference lattice mask for one tile (independent of the operator's
    FULL/PARTIAL split)."""
    ix = int((cell % C.RES_BITS_SHIFT) // C.IX_SHIFT)
    iy = int(cell % C.IX_SHIFT)
    ii = np.arange(PX, dtype=np.int64)
    lon_c = ((ix * PX + ii) + 0.5) * SIZE_P - 180.0
    lat_c = ((iy * PX + ii) + 0.5) * SIZE_P - 90.0
    gy, gx = np.meshgrid(lat_c, lon_c, indexing="ij")
    return (G.winding_number(gy.ravel(), gx.ravel(), rl, rn) != 0).reshape(PX, PX)


@pytest.fixture(scope="module")
def concave_raster(spark):
    polys = synth.concave_polygons_df(spark)
    rast = R.rasterize_polygons(polys, res=RES, px=PX).cache()
    rast.count()
    return polys, rast


def test_rasterize_matches_direct_lattice(spark, concave_raster):
    polys, rast = concave_raster
    rings = {
        r["polygon_id"]: G.close_ring(
            np.array(r["ring_lat"]), np.array(r["ring_lon"])
        )
        for r in polys.collect()
    }
    rows = rast.collect()
    assert rows
    saw_full = False
    for r in rows:
        rl, rn = rings[r["polygon_id"]]
        expect = direct_mask(rl, rn, r["cell_id"])
        assert bytes(r["mask"]) == np.packbits(expect).tobytes()
        assert r["n_set"] == int(expect.sum())
        saw_full = saw_full or r["n_set"] == PX * PX
    assert saw_full  # the FULL fast path was exercised


def test_raster_pixels_bit_unpack(spark, concave_raster):
    _, rast = concave_raster
    got = (
        R.raster_pixels(rast, PX)
        .groupBy("polygon_id", "cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = {(r["polygon_id"], r["cell_id"]): r["n_set"] for r in rast.collect()}
    assert {(r["polygon_id"], r["cell_id"]): r["n"] for r in got} == want


def test_vectorize_area_equals_pixel_count(spark, concave_raster):
    _, rast = concave_raster
    rings = R.vectorize_masks(rast, RES, PX).cache()
    area = {
        r["polygon_id"]: r["a"]
        for r in rings.groupBy("polygon_id")
        .agg(F.sum("area2").alias("a"))
        .collect()
    }
    nset = {
        r["polygon_id"]: r["n"]
        for r in rast.groupBy("polygon_id").agg(F.sum("n_set").alias("n")).collect()
    }
    assert area == {pid: 2 * n for pid, n in nset.items()}
    for r in rings.collect():  # closed, simplified rings
        assert r["xs"][0] == r["xs"][-1] and r["ys"][0] == r["ys"][-1]
        assert len(r["xs"]) >= 5


def test_roundtrip_rerasterize_masks(spark, concave_raster):
    """Re-rasterizing the vectorized rings reproduces every mask exactly."""
    _, rast = concave_raster
    rings = R.vectorize_masks(rast, RES, PX).collect()
    by_pid = {}
    for r in rings:
        by_pid.setdefault(r["polygon_id"], []).append(
            (np.array(r["ys"], dtype=np.float64), np.array(r["xs"], dtype=np.float64))
        )
    ii = np.arange(PX, dtype=np.float64) + 0.5
    for row in rast.collect():
        ix = int((row["cell_id"] % C.RES_BITS_SHIFT) // C.IX_SHIFT)
        iy = int(row["cell_id"] % C.IX_SHIFT)
        ys, xs = np.meshgrid(iy * PX + ii, ix * PX + ii, indexing="ij")
        wn = np.zeros(PX * PX, dtype=np.int64)
        for ry, rx in by_pid[row["polygon_id"]]:
            wn += G.winding_number(ys.ravel(), xs.ravel(), ry, rx, boundary="exact")
        inside = (wn != 0).reshape(PX, PX)
        expect = np.unpackbits(
            np.frombuffer(bytes(row["mask"]), np.uint8), count=PX * PX
        ).reshape(PX, PX).astype(bool)
        assert np.array_equal(inside, expect)


def _raster_df(spark, mask, cell_ix=3000, cell_iy=1500, pid=1):
    cell = RES * C.RES_BITS_SHIFT + cell_ix * C.IX_SHIFT + cell_iy
    return spark.createDataFrame(
        [(pid, cell, int(mask.sum()), bytearray(np.packbits(mask).tobytes()))],
        "polygon_id long, cell_id long, n_set int, mask binary",
    )


def test_vectorize_donut_hole(spark):
    m = np.zeros((PX, PX), dtype=bool)
    m[2:5, 2:5] = True
    m[3, 3] = False  # 3x3 block minus center -> outer ring + hole
    rings = R.vectorize_masks(_raster_df(spark, m), RES, PX).collect()
    areas = sorted(r["area2"] for r in rings)
    assert areas == [-2, 18]  # hole CW (negative), outer CCW; sum = 2*8


def test_vectorize_checkerboard_pinch(spark):
    m = np.zeros((PX, PX), dtype=bool)
    m[0, 0] = m[1, 1] = True  # diagonal touch at one corner
    rings = R.vectorize_masks(_raster_df(spark, m), RES, PX).collect()
    assert sorted(r["area2"] for r in rings) == [2, 2]  # two separate rings


def test_cross_tile_rectangle_stitches(spark):
    """A pixel-aligned rectangle spanning several tiles vectorizes back to
    ONE 4-corner ring — FULL tiles, tile-border cancellation, and collinear
    merging all in play."""
    x0, y0 = 3000 * PX + 3, 1500 * PX + 5  # offset so edges cross tiles
    w, h = 3 * PX, 2 * PX
    lon = [v * SIZE_P - 180.0 for v in (x0, x0 + w, x0 + w, x0, x0)]
    lat = [v * SIZE_P - 90.0 for v in (y0, y0, y0 + h, y0 + h, y0)]
    polys = spark.createDataFrame(
        [(7, lat, lon)], "polygon_id long, ring_lat array<double>, ring_lon array<double>"
    )
    rast = R.rasterize_polygons(polys, res=RES, px=PX)
    assert rast.count() >= 8  # spans multiple tiles
    rings = R.vectorize_masks(rast, RES, PX).collect()
    assert len(rings) == 1
    r = rings[0]
    assert r["area2"] == 2 * w * h
    assert len(r["xs"]) == 5  # rectangle: 4 corners + closure
    assert sorted(zip(r["xs"], r["ys"]))[0] == (x0, y0)


def _ring_rows(rings):
    return sorted(
        (
            r["polygon_id"], r["ring_id"], r["area2"],
            tuple(r["xs"]), tuple(r["ys"]),
            tuple(r["ring_lat"]), tuple(r["ring_lon"]),
        )
        for r in rings
    )


def test_hierarchical_stitching_bit_identical(spark, concave_raster):
    """chain_rings_hierarchical must reproduce chain_rings EXACTLY —
    same ring ids, start vertices, vertex lists, areas — at a block size
    small enough that every fixture ring spans many blocks (shift=5 ->
    32-pixel blocks vs 8-pixel tiles), and at one so large the whole world
    is a single block (pure fragment-free path)."""
    _, rast = concave_raster
    want = _ring_rows(R.vectorize_masks(rast, RES, PX).collect())
    for shift in (5, 30):
        got = _ring_rows(
            R.vectorize_masks(rast, RES, PX, stitch_shift=shift).collect()
        )
        assert got == want, f"shift={shift}"


def test_hierarchical_stitching_corner_cases(spark):
    """Donut hole, checkerboard pinch, and the cross-tile rectangle — the
    known chaining edge cases — through the two-stage path."""
    m1 = np.zeros((PX, PX), dtype=bool)
    m1[2:5, 2:5] = True
    m1[3, 3] = False
    m2 = np.zeros((PX, PX), dtype=bool)
    m2[0, 0] = m2[1, 1] = True
    for name, mask in [("donut", m1), ("pinch", m2)]:
        rast = _raster_df(spark, mask)
        want = _ring_rows(R.vectorize_masks(rast, RES, PX).collect())
        got = _ring_rows(
            R.vectorize_masks(rast, RES, PX, stitch_shift=2).collect()
        )
        assert got == want, name
    # cross-tile rectangle at a block size that cuts every side
    x0, y0 = 3000 * PX + 3, 1500 * PX + 5
    w, h = 3 * PX, 2 * PX
    lon = [v * SIZE_P - 180.0 for v in (x0, x0 + w, x0 + w, x0, x0)]
    lat = [v * SIZE_P - 90.0 for v in (y0, y0, y0 + h, y0 + h, y0)]
    polys = spark.createDataFrame(
        [(7, lat, lon)],
        "polygon_id long, ring_lat array<double>, ring_lon array<double>",
    )
    rast = R.rasterize_polygons(polys, res=RES, px=PX)
    want = _ring_rows(R.vectorize_masks(rast, RES, PX).collect())
    got = _ring_rows(R.vectorize_masks(rast, RES, PX, stitch_shift=3).collect())
    assert got == want


def test_rasterize_grouped_parity(spark, concave_raster, monkeypatch):
    """The grouped plan used above BROADCAST_MAX_POLYGONS (rings never
    collected) produces the identical raster as the broadcast path."""
    polys, rast = concave_raster
    monkeypatch.setattr(SJ, "BROADCAST_MAX_POLYGONS", 1)
    grouped = R.rasterize_polygons(polys, res=RES, px=PX)
    want = {
        (r["polygon_id"], r["cell_id"]): (r["n_set"], bytes(r["mask"]))
        for r in rast.collect()
    }
    got = {
        (r["polygon_id"], r["cell_id"]): (r["n_set"], bytes(r["mask"]))
        for r in grouped.collect()
    }
    assert got == want


def test_raster_pipeline_param_change_rebuilds(spark, tmp_path):
    """Resume guard: rerunning with different px must NOT reuse the
    committed masks (stale geometry) — it rebuilds."""
    from jobs.raster_pipeline import run

    polys_path = str(tmp_path / "polys")
    synth.concave_polygons_df(spark).write.parquet(polys_path)
    out = str(tmp_path / "raster")
    masks8, _ = run(spark, polys_path, out, res=RES, px=8)
    n8 = masks8.agg(F.sum("n_set")).collect()[0][0]
    masks16, rings16 = run(spark, polys_path, out, res=RES, px=16)
    n16 = masks16.agg(F.sum("n_set")).collect()[0][0]
    assert n16 != n8  # rebuilt at the new pixel density, not resumed
    area2 = rings16.agg(F.sum("area2")).collect()[0][0]
    assert area2 == 2 * n16  # rings stage also rebuilt consistently


def test_raster_pipeline_job_lineage_resume(spark, tmp_path):
    """jobs/raster_pipeline.py: tile-partitioned mask write + lineage commit
    per stage, rings derived from the COMMITTED masks, clean resume."""
    from jobs.raster_pipeline import run
    from osm_search_spark.plans import lineage
    from osm_search_spark.streaming.commit import read_pointer, read_table

    polys_path = str(tmp_path / "polys")
    synth.concave_polygons_df(spark).write.parquet(polys_path)
    out = str(tmp_path / "raster")

    masks, rings = run(spark, polys_path, out, res=RES, px=PX)
    assert read_pointer(f"{out}/masks") is not None
    assert read_pointer(f"{out}/rings") is not None
    assert lineage.verify_stage(spark, out, "masks")
    assert lineage.verify_stage(spark, out, "rings")
    # the committed version is hive-partitioned on the coarse parent cell
    committed = tmp_path / "raster" / "masks" / read_pointer(f"{out}/masks")["version"]
    assert any(p.name.startswith("tile_coarse=") for p in committed.iterdir())
    n_set = masks.agg(F.sum("n_set")).collect()[0][0]
    area2 = rings.agg(F.sum("area2")).collect()[0][0]
    assert area2 == 2 * n_set
    # a coarse-cell predicate must prune hive partitions at the scan
    one_coarse = masks.select("tile_coarse").first()[0]
    pruned = read_table(spark, f"{out}/masks").filter(
        F.col("tile_coarse") == one_coarse
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(tile_coarse" in plan
    # resume: committed stages read back, same contents
    masks2, rings2 = run(spark, polys_path, out, res=RES, px=PX)
    assert masks2.count() == masks.count() and rings2.count() == rings.count()


def test_zonal_stats_matches_driver_compute(spark):
    from osm_search_spark.functions import images as I
    from osm_search_spark.sources import images as img_src

    n = 60
    box = (img_src.LAT0, img_src.LON0, img_src.LAT1, img_src.LON1)
    imgs = img_src.images_table(spark, n)
    polys = synth.admin_polygons(spark, box)
    got = {
        r["polygon_id"]: (r["n_images"], r["n_px"], r["avg_rgb"])
        for r in R.image_zonal_stats(imgs, polys).collect()
    }
    # driver-side reference: same decode, bbox assignment (rect polygons)
    want = {}
    for p in synth.admin_polygons_py(box):
        acc = [0, 0, 0]  # n_images, n_px, rgb_sum
        for i in range(n):
            row = img_src.make_row(i)
            if (
                p["minlat"] <= row["lat"] <= p["maxlat"]
                and p["minlon"] <= row["lon"] <= p["maxlon"]
            ):
                px = I.decode(row["bytes"], row["fmt"]).astype(np.int64)
                acc[0] += 1
                acc[1] += px.shape[0] * px.shape[1]
                acc[2] += int(px.sum())
        if acc[0]:
            want[p["polygon_id"]] = (
                acc[0], acc[1], round(acc[2] / (3.0 * acc[1]), 6)
            )
    assert got == want
