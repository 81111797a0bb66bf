"""Spatial PIP join: cell-cover join + exact refine vs brute-force oracle,
including concave polygons and boundary semantics, plus first/last-match
policy (GetFullAdress, pkg/index/indexer.go:1017-1170)."""

import numpy as np
from pyspark.sql import functions as F

from osm_search_spark.functions import geometry as G
from osm_search_spark.operators import spatial_join as SJ
from osm_search_spark.operators.spatial_join import (
    cell_join,
    first_match_per_level,
    spatial_join,
)
from osm_search_spark.sources import synth

CONCAVE = {
    "polygon_id": 100,
    "name": "concave",
    "admin_level": 6,
    "ring_lat": [p[0] for p in [
        (-7.8236786093625454, 110.32093322132368),
        (-7.829740180582352, 110.35293804508764),
        (-7.826476268571158, 110.4094171458476),
        (-7.7821777971150485, 110.4098878050206),
        (-7.7821777971150485, 110.43012614945958),
        (-7.763058061783706, 110.43012614945958),
        (-7.742538353844481, 110.34211288410864),
    ]],
    "ring_lon": [p[1] for p in [
        (-7.8236786093625454, 110.32093322132368),
        (-7.829740180582352, 110.35293804508764),
        (-7.826476268571158, 110.4094171458476),
        (-7.7821777971150485, 110.4098878050206),
        (-7.7821777971150485, 110.43012614945958),
        (-7.763058061783706, 110.43012614945958),
        (-7.742538353844481, 110.34211288410864),
    ]],
}


def _poly_df(spark):
    return spark.createDataFrame(
        [CONCAVE],
        "polygon_id long, name string, admin_level int, "
        "ring_lat array<double>, ring_lon array<double>",
    )


def _points_df(spark, n=4000, seed=5):
    rng = np.random.default_rng(seed)
    lat = rng.uniform(-7.86, -7.70, n)
    lon = rng.uniform(110.30, 110.46, n)
    return spark.createDataFrame(
        [(i, float(lat[i]), float(lon[i])) for i in range(n)],
        "point_id long, lat double, lon double",
    )


def test_cell_join_is_superset(spark):
    pts = _points_df(spark)
    poly = _poly_df(spark)
    coarse = cell_join(pts, poly, res=12)
    exact = spatial_join(pts, poly, res=12)
    coarse_ids = {r["point_id"] for r in coarse.collect()}
    exact_ids = {r["point_id"] for r in exact.collect()}
    assert exact_ids <= coarse_ids


def test_refine_matches_numpy_oracle(spark):
    pts = _points_df(spark)
    poly = _poly_df(spark)
    got = {r["point_id"] for r in spatial_join(pts, poly, res=12).collect()}
    pdf = pts.toPandas()
    mask = G.points_in_polygon(
        pdf["lat"].to_numpy(), pdf["lon"].to_numpy(),
        CONCAVE["ring_lat"], CONCAVE["ring_lon"],
    )
    exp = set(pdf["point_id"].to_numpy()[mask].tolist())
    assert got == exp


def test_refine_grouped_matches_broadcast(spark, monkeypatch):
    """The plan used above BROADCAST_MAX_POLYGONS (distributed cover, no
    broadcast hints) matches the small-dim plan (driver cover, hints)."""
    pts = _points_df(spark, n=1500, seed=9)
    poly = _poly_df(spark)
    a = {r["point_id"] for r in spatial_join(pts, poly, res=12).collect()}
    monkeypatch.setattr(SJ, "DRIVER_CLASSIFY_MAX_POLYGONS", 0)
    monkeypatch.setattr(SJ, "BROADCAST_MAX_POLYGONS", 0)
    b = {r["point_id"] for r in spatial_join(pts, poly, res=12).collect()}
    assert a and a == b


def test_boundary_point_inside(spark):
    # vertex + on-edge point => inside (geometry.go:102-106)
    poly = _poly_df(spark)
    pts = spark.createDataFrame(
        [
            (1, CONCAVE["ring_lat"][0], CONCAVE["ring_lon"][0]),
            (2, (CONCAVE["ring_lat"][3] + CONCAVE["ring_lat"][4]) / 2, CONCAVE["ring_lon"][3]),
        ],
        "point_id long, lat double, lon double",
    )
    got = {r["point_id"] for r in spatial_join(pts, poly, res=12).collect()}
    assert got == {1, 2}


def test_first_match_and_province_last_match(spark):
    # two overlapping polygons at the same level: first-match keeps the lower
    # id except level 4 (province) which keeps the higher (indexer.go:1135-1139)
    rows = []
    for pid, level in [(1, 6), (2, 6), (3, 4), (4, 4)]:
        rows.append(
            dict(
                polygon_id=pid, name=f"p{pid}", admin_level=level,
                ring_lat=[-8.0, -8.0, -7.0, -7.0, -8.0],
                ring_lon=[110.0, 111.0, 111.0, 110.0, 110.0],
            )
        )
    polys = spark.createDataFrame(
        rows,
        "polygon_id long, name string, admin_level int, "
        "ring_lat array<double>, ring_lon array<double>",
    )
    pts = spark.createDataFrame([(1, -7.5, 110.5)], "point_id long, lat double, lon double")
    matched = spatial_join(pts, polys, res=10)
    res = first_match_per_level(matched, polys).select(
        "admin_level", "polygon_id"
    ).collect()
    by_level = {r["admin_level"]: r["polygon_id"] for r in res}
    assert by_level[6] == 1  # first match
    assert by_level[4] == 4  # province: last match


def test_entry_flagship_runs(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    n = df.count()
    assert n > 0
    assert set(df.columns) == {"point_id", "polygon_id", "name", "admin_level", "tile_id"}


def test_admin_fixture_counts(spark):
    # every point inside the country box matches exactly 1 polygon per level
    pts = synth.derive_points(spark, "/root/testdata/sf0.001")
    polys = synth.admin_polygons(spark)
    res = spatial_join(pts, polys, res=12)
    dim = polys.select("polygon_id", "admin_level")
    per_level = (
        res.join(dim, "polygon_id")
        .groupBy("point_id", "admin_level")
        .count()
    )
    assert per_level.filter(F.col("count") > 1).count() == 0


def test_classified_cover_distributed_5k(spark):
    # 5k polygons classify off-driver (mapInPandas) — FULL/PARTIAL flags
    # must agree with the per-polygon numpy kernel
    import numpy as np

    from osm_search_spark.operators.spatial_join import (
        classified_cover, classified_cover_rows,
    )

    base_lat, base_lon = -7.9, 110.2
    rows = []
    for i in range(5000):
        la = base_lat + (i % 70) * 0.01
        lo = base_lon + (i // 70) * 0.01
        rows.append(
            (i, [la, la, la + 0.03, la + 0.03, la],
             [lo, lo + 0.03, lo + 0.03, lo, lo])
        )
    polys = spark.createDataFrame(
        rows, "polygon_id long, ring_lat array<double>, ring_lon array<double>"
    )
    got = classified_cover(polys, res=12)
    assert got.count() > 5000
    # spot-check one polygon against the driver kernel
    want = classified_cover_rows(
        [dict(polygon_id=0, ring_lat=rows[0][1], ring_lon=rows[0][2])], 12
    )
    got0 = {
        (r["cell_id"], r["full"])
        for r in got.filter("polygon_id = 0").collect()
    }
    assert got0 == {(c, f) for _, c, f in want}
