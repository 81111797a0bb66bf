"""Douglas–Peucker polygon simplification — independent recursive
reference, DP distance guarantee, subsequence/closure/monotonicity
properties, holes, and distributed == driver-kernel parity."""

import math

import numpy as np
import pytest

from osm_search_spark.operators.simplify import (
    _dp_keep_mask,
    simplify_polygons,
    simplify_rings_py,
)


def _ref_dp(lat, lon, tol):
    """Independent recursive Douglas–Peucker (open polyline)."""
    n = len(lat)
    keep = [False] * n
    keep[0] = keep[-1] = True

    def seg_d(i, a, b):
        ax, ay, bx, by = lon[a], lat[a], lon[b], lat[b]
        px, py = lon[i], lat[i]
        dx, dy = bx - ax, by - ay
        s2 = dx * dx + dy * dy
        if s2 == 0:
            return math.hypot(px - ax, py - ay)
        t = max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / s2))
        return math.hypot(px - (ax + t * dx), py - (ay + t * dy))

    def rec(a, b):
        if b - a < 2:
            return
        dmax, imax = -1.0, -1
        for i in range(a + 1, b):
            d = seg_d(i, a, b)
            if d > dmax:
                dmax, imax = d, i
        if dmax > tol:
            keep[imax] = True
            rec(a, imax)
            rec(imax, b)

    rec(0, n - 1)
    return keep


def _jagged_ring(n=48, phase=0):
    lat, lon = [], []
    for k in range(n):
        ang = 2 * math.pi * k / n
        r = 0.15 + 0.03 * ((k * 7 + phase) % 4)
        lat.append(-7.7 + r * math.sin(ang))
        lon.append(110.5 + r * math.cos(ang))
    lat.append(lat[0])
    lon.append(lon[0])
    return lat, lon


def _min_dist_to_ring(p_lat, p_lon, r_lat, r_lon):
    best = float("inf")
    for a in range(len(r_lat) - 1):
        ax, ay = r_lon[a], r_lat[a]
        bx, by = r_lon[a + 1], r_lat[a + 1]
        dx, dy = bx - ax, by - ay
        s2 = dx * dx + dy * dy
        if s2 == 0:
            d = math.hypot(p_lon - ax, p_lat - ay)
        else:
            t = max(0.0, min(1.0, ((p_lon - ax) * dx + (p_lat - ay) * dy) / s2))
            d = math.hypot(p_lon - (ax + t * dx), p_lat - (ay + t * dy))
        best = min(best, d)
    return best


def test_open_chain_matches_recursive_reference():
    for seed in range(6):
        n = 40 + seed * 13
        lat = [math.sin(0.37 * i + seed) * (1 + 0.1 * ((i * 11) % 7)) for i in range(n)]
        lon = [0.25 * i + 0.3 * math.cos(0.9 * i + seed) for i in range(n)]
        for tol in (0.05, 0.3, 1.0):
            got = _dp_keep_mask(
                np.array(lat), np.array(lon), tol
            ).tolist()
            assert got == _ref_dp(lat, lon, tol)


def test_dp_guarantee_and_subsequence():
    lat, lon = _jagged_ring()
    for tol in (0.005, 0.02, 0.05):
        slat, slon = simplify_rings_py(lat, lon, tol)
        assert slat[0] == slat[-1] and slon[0] == slon[-1]
        # subsequence of the input vertex multiset
        pts = list(zip(lat, lon))
        it = iter(pts)
        assert all(p in pts for p in zip(slat, slon))
        # every input vertex within tol of the simplified polyline
        for p_lat, p_lon in zip(lat[:-1], lon[:-1]):
            assert _min_dist_to_ring(p_lat, p_lon, slat, slon) <= tol + 1e-12


def test_collinear_midpoints_removed():
    # rectangle with midpoints inserted on every edge -> exactly corners
    cor = [(0.0, 0.0), (0.0, 2.0), (1.0, 2.0), (1.0, 0.0)]
    ring = []
    for i in range(4):
        a, b = cor[i], cor[(i + 1) % 4]
        ring.append(a)
        ring.append(((a[0] + b[0]) / 2, (a[1] + b[1]) / 2))
    ring.append(ring[0])
    lat = [p[0] for p in ring]
    lon = [p[1] for p in ring]
    slat, slon = simplify_rings_py(lat, lon, 1e-9)
    assert len(slat) == 5
    assert set(zip(slat, slon)) == set(cor)


def test_tolerance_monotone():
    lat, lon = _jagged_ring()
    sizes = [
        len(simplify_rings_py(lat, lon, t)[0])
        for t in (0.0, 0.01, 0.03, 0.1, 1.0)
    ]
    assert sizes == sorted(sizes, reverse=True)
    assert sizes[0] == len(lat)  # tol=0 keeps everything
    assert sizes[-1] >= 4  # collapse guard: a closed triangle survives


def test_distributed_matches_driver_kernel(spark):
    rows = []
    for pid in range(6):
        lat, lon = _jagged_ring(n=40 + pid * 8, phase=pid)
        rows.append((pid, lat, lon))
    df = spark.createDataFrame(
        rows, "polygon_id long, ring_lat array<double>, ring_lon array<double>"
    )
    out = {
        r["polygon_id"]: (r["ring_lat"], r["ring_lon"], r["n_points_before"], r["n_points_after"])
        for r in simplify_polygons(df, 0.02).collect()
    }
    for pid, lat, lon in rows:
        slat, slon = simplify_rings_py(lat, lon, 0.02)
        assert out[pid][0] == slat and out[pid][1] == slon
        assert out[pid][2] == len(lat) and out[pid][3] == len(slat)


def test_holes_simplified_and_micro_holes_dropped(spark):
    lat, lon = _jagged_ring()
    hole_lat, hole_lon = _jagged_ring(n=24, phase=1)
    hole_lat = [(-7.7 + (v + 7.7) * 0.3) for v in hole_lat]
    hole_lon = [(110.5 + (v - 110.5) * 0.3) for v in hole_lon]
    micro_lat = [-7.70, -7.7000004, -7.70000055, -7.70]
    micro_lon = [110.50, 110.5000005, 110.4999999, 110.50]
    df = spark.createDataFrame(
        [(1, lat, lon, [hole_lat, micro_lat], [hole_lon, micro_lon]),
         (2, lat, lon, None, None),
         (3, lat, lon, [], [])],
        "polygon_id long, ring_lat array<double>, ring_lon array<double>, "
        "holes_lat array<array<double>>, holes_lon array<array<double>>",
    )
    got = {r["polygon_id"]: r for r in simplify_polygons(df, 0.02).collect()}
    assert len(got[1]["holes_lat"]) == 1  # micro hole dropped
    want_h = simplify_rings_py(hole_lat, hole_lon, 0.02)
    assert got[1]["holes_lat"][0] == want_h[0]
    assert got[2]["holes_lat"] is None  # NULL passthrough
    assert got[3]["holes_lat"] == []  # empty stays empty


def test_negative_tolerance_rejected(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 1.0, 0.0], [0.0, 1.0, 0.0])],
        "polygon_id long, ring_lat array<double>, ring_lon array<double>",
    )
    with pytest.raises(ValueError):
        simplify_polygons(df, -0.1)
