"""Polygon ring simplification — Douglas–Peucker over the polygon dim.

The standard pre-step for tile materialization (operators/tiling.py) and
raster rendering: a zoomed-out tile doesn't need every OSM vertex, and
published tile pipelines simplify per zoom level before clipping. The
reference has no counterpart (it renders nothing); this is a north-rule
capability for the tile-partitioned output path.

Shape at scale: polygons are a DIM (bounded — admin boundaries, not the
corpus), and Douglas–Peucker is inherently sequential per ring, so the
kernel runs as an Arrow-batched mapInPandas over the dim's partitions —
one pass, no shuffle, numpy inside (the same posture as the arrow PIP
refine engine in spatial_join.py). Points per ring are bounded by OSM
relation sizes; the stack-based kernel is O(n log n) typical / O(n^2)
worst per ring.

Semantics (documented contract, pinned by tests):

- tolerance is in DEGREES in plain (lat, lon) space; for metric
  tolerances scale lon by cos(lat) upstream (functions/geodesy.py) —
  kept out of the kernel so the geometry contract stays engine-exact.
- output rings are SUBSEQUENCES of input rings (no new points), stay
  closed (first == last), and every dropped point lies within tolerance
  of the kept polyline — the Douglas–Peucker guarantee.
- closed rings split at the point farthest from vertex 0 (the standard
  ring anchoring), so degenerate baselines never occur; a ring that
  simplifies below 3 distinct vertices keeps its 3 anchor points
  (outer rings) — HOLES that collapse below 3 distinct vertices are
  dropped entirely (they cover ~zero area at the target tolerance).
- NULL / absent holes pass through as NULL; empty hole lists stay empty
  (the round-6 empty-vs-NULL hole distinction).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, StructField, StructType


def _dp_keep_mask(lat: np.ndarray, lon: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker keep-mask for an OPEN polyline (endpoints kept).
    Iterative stack; perpendicular point-to-segment distance, vectorized
    per split."""
    n = lat.size
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    if n <= 2:
        return keep
    stack = [(0, n - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        ax, ay = lon[a], lat[a]
        bx, by = lon[b], lat[b]
        px = lon[a + 1 : b]
        py = lat[a + 1 : b]
        dx, dy = bx - ax, by - ay
        seg2 = dx * dx + dy * dy
        if seg2 == 0.0:
            d2 = (px - ax) ** 2 + (py - ay) ** 2
        else:
            t = ((px - ax) * dx + (py - ay) * dy) / seg2
            t = np.clip(t, 0.0, 1.0)
            d2 = (px - (ax + t * dx)) ** 2 + (py - (ay + t * dy)) ** 2
        i = int(np.argmax(d2))
        if d2[i] > tol * tol:
            m = a + 1 + i
            keep[m] = True
            stack.append((a, m))
            stack.append((m, b))
    return keep


def _simplify_ring(
    lat: np.ndarray, lon: np.ndarray, tol: float, keep_min_triangle: bool = True
):
    """Simplify one CLOSED ring (first == last accepted and restored);
    returns (lat, lon) closed arrays with >= 3 distinct vertices, or
    None when the ring has < 3 distinct input vertices — or when it
    simplifies below 3 vertices and keep_min_triangle is False (the
    hole-dropping path)."""
    if lat.size and lat[0] == lat[-1] and lon[0] == lon[-1]:
        lat, lon = lat[:-1], lon[:-1]
    n = lat.size
    if n < 3:
        return None
    # anchor at vertex 0 and the farthest vertex, split into two chains
    d2 = (lat - lat[0]) ** 2 + (lon - lon[0]) ** 2
    far = int(np.argmax(d2))
    if far == 0:  # all points coincide
        return None
    keep = np.zeros(n, dtype=bool)
    k1 = _dp_keep_mask(lat[: far + 1], lon[: far + 1], tol)
    keep[: far + 1] |= k1
    wrap_lat = np.concatenate([lat[far:], lat[:1]])
    wrap_lon = np.concatenate([lon[far:], lon[:1]])
    k2 = _dp_keep_mask(wrap_lat, wrap_lon, tol)
    keep[far:] |= k2[:-1]
    keep[0] = True
    if keep.sum() < 3:
        if not keep_min_triangle:
            return None
        # collapse guard: keep the two anchors plus the farthest point
        # from the anchor segment so a valid (thin) triangle survives
        keep[:] = False
        keep[0] = keep[far] = True
        ax, ay = lon[0], lat[0]
        dx, dy = lon[far] - ax, lat[far] - ay
        seg2 = dx * dx + dy * dy
        t = np.clip(((lon - ax) * dx + (lat - ay) * dy) / seg2, 0.0, 1.0)
        dd = (lon - (ax + t * dx)) ** 2 + (lat - (ay + t * dy)) ** 2
        dd[0] = dd[far] = -1.0
        keep[int(np.argmax(dd))] = True
    slat, slon = lat[keep], lon[keep]
    return (
        np.concatenate([slat, slat[:1]]),
        np.concatenate([slon, slon[:1]]),
    )


def simplify_polygons(
    polys: DataFrame,
    tolerance: float,
    lat_col: str = "ring_lat",
    lon_col: str = "ring_lon",
    holes_lat: str = "holes_lat",
    holes_lon: str = "holes_lon",
) -> DataFrame:
    """Replace `lat_col`/`lon_col` (and hole rings when present) with
    their Douglas–Peucker simplification at `tolerance` degrees; all
    other columns pass through. Adds n_points_before / n_points_after
    (outer-ring vertex counts including the closing duplicate)."""
    if tolerance < 0:
        raise ValueError("tolerance must be >= 0")
    has_holes = holes_lat in polys.columns and holes_lon in polys.columns
    fields = []
    for f in polys.schema.fields:
        fields.append(StructField(f.name, f.dataType, True))
    fields.append(StructField("n_points_before", IntegerType(), True))
    fields.append(StructField("n_points_after", IntegerType(), True))
    schema = StructType(fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_before, n_after = [], []
            out_lat, out_lon = [], []
            out_hlat, out_hlon = [], []
            for i in range(len(pdf)):
                lat = np.asarray(pdf[lat_col].iloc[i], dtype=np.float64)
                lon = np.asarray(pdf[lon_col].iloc[i], dtype=np.float64)
                n_before.append(int(lat.size))
                s = _simplify_ring(lat, lon, tolerance)
                if s is None:
                    out_lat.append(lat.tolist())
                    out_lon.append(lon.tolist())
                    n_after.append(int(lat.size))
                else:
                    out_lat.append(s[0].tolist())
                    out_lon.append(s[1].tolist())
                    n_after.append(int(s[0].size))
                if has_holes:
                    hl = pdf[holes_lat].iloc[i]
                    ho = pdf[holes_lon].iloc[i]
                    if hl is None or (isinstance(hl, float) and pd.isna(hl)):
                        out_hlat.append(None)
                        out_hlon.append(None)
                    else:
                        nl, no = [], []
                        for r_lat, r_lon in zip(hl, ho):
                            hs = _simplify_ring(
                                np.asarray(r_lat, dtype=np.float64),
                                np.asarray(r_lon, dtype=np.float64),
                                tolerance,
                                keep_min_triangle=False,
                            )
                            if hs is not None:
                                nl.append(hs[0].tolist())
                                no.append(hs[1].tolist())
                        out_hlat.append(nl)
                        out_hlon.append(no)
            res = pdf.copy()
            res[lat_col] = out_lat
            res[lon_col] = out_lon
            if has_holes:
                res[holes_lat] = out_hlat
                res[holes_lon] = out_hlon
            res["n_points_before"] = pd.array(n_before, dtype="int32")
            res["n_points_after"] = pd.array(n_after, dtype="int32")
            yield res

    return polys.mapInPandas(run, schema=schema)


def simplify_rings_py(
    ring_lat: list[float], ring_lon: list[float], tolerance: float
) -> tuple[list[float], list[float]]:
    """Driver-side twin of the kernel for ONE ring — used by oracle
    builders to embed expected outputs as VALUES (the images-oracle
    recipe) and by tests."""
    s = _simplify_ring(
        np.asarray(ring_lat, dtype=np.float64),
        np.asarray(ring_lon, dtype=np.float64),
        float(tolerance),
    )
    if s is None:
        return list(ring_lat), list(ring_lon)
    return s[0].tolist(), s[1].tolist()
