"""Multipolygon holes across the vector stack: PIP join (both dim-size
plans), cover classification, rasterize + round-trip, overlap join."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_search_spark.functions import cells as C
from osm_search_spark.functions import geometry as G
from osm_search_spark.operators import raster as R
from osm_search_spark.operators import spatial_join as SJ
from osm_search_spark.operators.overlap_join import (
    polygon_overlap_join,
    rings_intersect,
)
from osm_search_spark.operators.spatial_join import (
    classified_cover,
    spatial_join,
)
from osm_search_spark.sources import synth

DONUT_SCHEMA = (
    "polygon_id long, ring_lat array<double>, ring_lon array<double>, "
    "holes_lat array<array<double>>, holes_lon array<array<double>>"
)


@pytest.fixture()
def donut(spark):
    # outer square [0,10]^2, hole [3,7]^2 (hole given CCW — orientation
    # must not matter)
    return spark.createDataFrame(
        [(0, [0.0, 0.0, 10.0, 10.0, 0.0], [0.0, 10.0, 10.0, 0.0, 0.0],
          [[3.0, 3.0, 7.0, 7.0, 3.0]], [[3.0, 7.0, 7.0, 3.0, 3.0]])],
        DONUT_SCHEMA,
    )


@pytest.fixture(params=["small_dim", "large_dim"])
def dim_plan(request, monkeypatch):
    """spatial_join's two size plans: a small dim gets the driver cover and
    broadcast hints; with both size constants at 0 any dim takes the plan
    used above BROADCAST_MAX_POLYGONS (distributed cover, no hints)."""
    if request.param == "large_dim":
        monkeypatch.setattr(SJ, "DRIVER_CLASSIFY_MAX_POLYGONS", 0)
        monkeypatch.setattr(SJ, "BROADCAST_MAX_POLYGONS", 0)
    return request.param


def test_spatial_join_respects_holes(spark, donut, dim_plan):
    pts = spark.createDataFrame(
        [(1, 1.0, 1.0),   # in ring, outside hole -> match
         (2, 5.0, 5.0),   # strictly in hole -> no match
         (3, 3.0, 5.0),   # on hole boundary -> match (boundary => inside)
         (4, 11.0, 5.0),  # outside -> no match
         (5, 0.0, 5.0)],  # on outer boundary -> match
        "point_id long, lat double, lon double",
    )
    got = sorted(r["point_id"] for r in spatial_join(pts, donut).collect())
    assert got == [1, 3, 5]
    # a hole-free dim keeps the old behavior
    got = sorted(
        r["point_id"]
        for r in spatial_join(
            pts, donut.drop("holes_lat", "holes_lon")
        ).collect()
    )
    assert got == [1, 2, 3, 5]


def test_mixed_dim_empty_holes(spark, donut, dim_plan):
    """A dim mixing a donut row with a hole-free row encoded holes=[] —
    the most common real encoding — must not abort: sequence(1, 0) is
    DESCENDING in Spark and previously fed element_at indices 1 and 0 of
    the empty array in refine_pip_expr (ADVICE r05 high)."""
    plain = spark.createDataFrame(
        [(1, [20.0, 20.0, 30.0, 30.0, 20.0], [0.0, 10.0, 10.0, 0.0, 0.0],
          [], [])],
        DONUT_SCHEMA,
    )
    dim = donut.unionByName(plain)
    pts = spark.createDataFrame(
        [(1, 1.0, 1.0),    # donut interior -> polygon 0
         (2, 5.0, 5.0),    # donut hole -> no match
         (3, 25.0, 5.0),   # plain interior -> polygon 1
         (4, 50.0, 5.0)],  # outside both
        "point_id long, lat double, lon double",
    )
    got = sorted(
        (r["point_id"], r["polygon_id"])
        for r in spatial_join(pts, dim).collect()
    )
    assert got == [(1, 0), (3, 1)]


def test_classified_cover_full_cells_avoid_holes(spark):
    # a big donut in the testdata band; FULL cells must all be entirely
    # inside (outer minus hole) — verified against the exact kernel
    donut = spark.createDataFrame([synth.DONUT_POLYGONS[0]], DONUT_SCHEMA)
    res = C.JOIN_RES
    cover = classified_cover(donut, res).collect()
    full_cells = [r["cell_id"] for r in cover if r["full"]]
    assert full_cells  # the FULL fast path is exercised
    _, rl, rn, hl, hn = synth.DONUT_POLYGONS[0]
    rl, rn = G.close_ring(np.array(rl), np.array(rn))
    holes = [G.close_ring(np.array(a), np.array(b)) for a, b in zip(hl, hn)]
    from osm_search_spark.functions.cells import np_cell_bounds

    minlat, minlon, maxlat, maxlon = np_cell_bounds(np.array(full_cells))
    for cl, cn in (
        (minlat, minlon), (minlat, maxlon), (maxlat, minlon), (maxlat, maxlon),
        ((minlat + maxlat) / 2, (minlon + maxlon) / 2),
    ):
        assert G.points_in_polygon_with_holes(cl, cn, rl, rn, holes).all()
    # round-6 cover exclusion: no cover cell lies entirely inside the
    # hole (provably outside the polygon — its candidates would only die
    # in refine). Check: every cover cell's center is inside the polygon
    # OR the cell touches a boundary edge bbox.
    all_cells = np.array([r["cell_id"] for r in cover])
    cminlat, cminlon, cmaxlat, cmaxlon = np_cell_bounds(all_cells)
    center_in = G.points_in_polygon_with_holes(
        (cminlat + cmaxlat) / 2, (cminlon + cmaxlon) / 2, rl, rn, holes
    )
    touch = np.zeros(len(all_cells), dtype=bool)
    for brl, brn in [(rl, rn)] + holes:
        for i in range(len(brl) - 1):
            touch |= (
                (min(brl[i], brl[i + 1]) <= cmaxlat)
                & (max(brl[i], brl[i + 1]) >= cminlat)
                & (min(brn[i], brn[i + 1]) <= cmaxlon)
                & (max(brn[i], brn[i + 1]) >= cminlon)
            )
    assert (center_in | touch).all()  # zero hole-interior / outside cells


def test_rasterize_holes_and_roundtrip(spark):
    """Rasterized donut masks exclude hole pixels exactly; vectorizing the
    masks yields signed rings whose winding sum re-rasterizes to the same
    masks bit-for-bit (the vectorize side already emits CW holes)."""
    res, px = 12, 8
    size_p = C.cell_size_deg(res + 3)
    donut = spark.createDataFrame([synth.DONUT_POLYGONS[0]], DONUT_SCHEMA)
    rast = R.rasterize_polygons(donut, res=res, px=px)
    rows = rast.collect()
    assert rows
    _, rl, rn, hl, hn = synth.DONUT_POLYGONS[0]
    rl, rn = G.close_ring(np.array(rl), np.array(rn))
    holes = [G.close_ring(np.array(a), np.array(b)) for a, b in zip(hl, hn)]
    ii = np.arange(px, dtype=np.int64)
    saw_hole_tile = False
    for r in rows:
        ix = int((r["cell_id"] % C.RES_BITS_SHIFT) // C.IX_SHIFT)
        iy = int(r["cell_id"] % C.IX_SHIFT)
        lon_c = ((ix * px + ii) + 0.5) * size_p - 180.0
        lat_c = ((iy * px + ii) + 0.5) * size_p - 90.0
        gy, gx = np.meshgrid(lat_c, lon_c, indexing="ij")
        expect = G.points_in_polygon_with_holes(
            gy.ravel(), gx.ravel(), rl, rn, holes
        ).reshape(px, px)
        assert bytes(r["mask"]) == np.packbits(expect).tobytes()
        assert r["n_set"] == int(expect.sum())
        # some boundary tile of the hole has a mix of set/unset pixels
        hole_wn = np.zeros(px * px, dtype=np.int64)
        for a, b in holes:
            hole_wn += G.winding_number(gy.ravel(), gx.ravel(), a, b)
        if (hole_wn != 0).any() and 0 < r["n_set"] < px * px:
            saw_hole_tile = True
    assert saw_hole_tile
    # grouped (large-dim) plan parity
    grouped = R._rasterize_grouped(donut, res, px, drop_empty=True)
    assert sorted(map(tuple, grouped.collect())) == sorted(map(tuple, rows))
    # round-trip: signed rings from vectorize reproduce every mask
    rings = R.vectorize_masks(rast, res, px).collect()
    assert any(r["area2"] < 0 for r in rings)  # a CW hole ring came out
    ring_list = [
        (np.array(r["ys"], np.float64), np.array(r["xs"], np.float64))
        for r in rings
    ]
    fi = np.arange(px, dtype=np.float64) + 0.5
    for row in rast.collect():
        ix = int((row["cell_id"] % C.RES_BITS_SHIFT) // C.IX_SHIFT)
        iy = int(row["cell_id"] % C.IX_SHIFT)
        ys, xs = np.meshgrid(iy * px + fi, ix * px + fi, indexing="ij")
        wn = np.zeros(px * px, dtype=np.int64)
        for ry, rx in ring_list:
            wn += G.winding_number(
                ys.ravel(), xs.ravel(), ry, rx, boundary="exact"
            )
        inside = (wn != 0).reshape(px, px)
        expect = np.unpackbits(
            np.frombuffer(bytes(row["mask"]), np.uint8), count=px * px
        ).reshape(px, px).astype(bool)
        assert np.array_equal(inside, expect)


def _sq(pid, lat0, lon0, lat1, lon1, holes=None):
    row = (
        pid,
        [lat0, lat0, lat1, lat1, lat0],
        [lon0, lon1, lon1, lon0, lon0],
    )
    if holes is None:
        return row
    return row + (
        [[a0, a0, a1, a1, a0] for a0, b0, a1, b1 in holes],
        [[b0, b1, b1, b0, b0] for a0, b0, a1, b1 in holes],
    )


def test_rings_intersect_hole_cases():
    outer = ([0.0, 0.0, 10.0, 10.0, 0.0], [0.0, 10.0, 10.0, 0.0, 0.0])
    hole = ([3.0, 3.0, 7.0, 7.0, 3.0], [3.0, 7.0, 7.0, 3.0, 3.0])
    inside_hole = ([4.0, 4.0, 6.0, 6.0, 4.0], [4.0, 6.0, 6.0, 4.0, 4.0])
    crossing = ([2.0, 2.0, 5.0, 5.0, 2.0], [2.0, 5.0, 5.0, 2.0, 2.0])
    # B entirely inside A's hole -> NOT intersecting
    assert not rings_intersect(*outer, *inside_hole, holes_a=[hole])
    assert not rings_intersect(*inside_hole, *outer, holes_b=[hole])
    # B crossing the hole boundary into A's interior -> intersecting
    assert rings_intersect(*outer, *crossing, holes_a=[hole])
    # B exactly the hole ring: boundary contact (hole boundary is A's)
    assert rings_intersect(*outer, *hole, holes_a=[hole])
    # without the hole the contained square intersects
    assert rings_intersect(*outer, *inside_hole)


def test_overlap_join_respects_holes(spark):
    a = spark.createDataFrame(
        [_sq(0, 0.0, 0.0, 10.0, 10.0, holes=[(3.0, 3.0, 7.0, 7.0)])],
        DONUT_SCHEMA,
    )
    b = spark.createDataFrame(
        [
            _sq(10, 4.0, 4.0, 6.0, 6.0),    # inside the hole -> no pair
            _sq(11, 2.0, 2.0, 5.0, 5.0),    # crosses hole boundary -> pair
            _sq(12, 20.0, 20.0, 30.0, 30.0),  # far away -> no pair
        ],
        "polygon_id long, ring_lat array<double>, ring_lon array<double>",
    )
    for kw in (dict(), dict(heavy="a"), dict(heavy="b")):
        got = sorted(
            (r["polygon_id_a"], r["polygon_id_b"])
            for r in polygon_overlap_join(a, b, **kw).collect()
        )
        assert got == [(0, 11)], kw
    # hole-free A matches the contained square too
    a_nohole = a.drop("holes_lat", "holes_lon")
    got = sorted(
        (r["polygon_id_a"], r["polygon_id_b"])
        for r in polygon_overlap_join(a_nohole, b).collect()
    )
    assert got == [(0, 10), (0, 11)]
