"""Clip polygons to tile cells (Sutherland–Hodgman against cell bboxes).

The vector-tile materialization step between simplification
(operators/simplify.py) and the tile sink (operators/tiling.py):
published tile pipelines cut every feature to its tile's rectangle so a
tile is self-contained. The reference has no rendering path; this is a
north-rule capability for the tile-partitioned output.

Plan shape (the raster.py discipline):

- `spatial_join.classified_cover` gives (polygon_id, cell_id, full) with
  provably-outside cells already excluded (round-6 cover exclusion).
- FULL cells (entirely interior — hole-aware, so never inside a hole)
  need NO geometry work: the clip IS the cell rectangle, constructed in
  pure Column arithmetic from the cell id. This is the area-scaling bulk
  of a big polygon's tiles.
- PARTIAL cells join their polygon's rings (AQE picks broadcast for dim-
  sized sides) and run the Sutherland–Hodgman kernel in one Arrow-batched
  mapInPandas pass — work ∝ boundary tiles ∝ perimeter.

Semantics (pinned by tests):

- output rings are CLOSED (first == last); FULL-cell rectangles wind CCW.
- PARTIAL clips keep input orientation and vertex order; a polygon fully
  inside one cell round-trips identically.
- Sutherland–Hodgman is exact for convex clip windows: summed shoelace
  area over a polygon's tiles equals the polygon's area (float rounding
  aside) — the conservation test.
- hole rings clip independently against the same rectangle (a hole's
  clip is always contained in the outer clip); empty hole clips drop.
- PARTIAL cells whose clipped outer ring has zero area (edge-touch only)
  are dropped; boundary points are kept inside (closed-set semantics,
  matching the PIP join's boundary=inside).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C


def _clip_open(xs: list[float], ys: list[float], axis: int, bound: float, keep_ge: bool):
    """One Sutherland–Hodgman half-plane pass over an OPEN ring (no
    closing duplicate). axis 0 = x (lon), 1 = y (lat)."""
    out_x: list[float] = []
    out_y: list[float] = []
    n = len(xs)
    for i in range(n):
        j = (i + 1) % n
        cx, cy, nx_, ny_ = xs[i], ys[i], xs[j], ys[j]
        cv = cx if axis == 0 else cy
        nv = nx_ if axis == 0 else ny_
        c_in = cv >= bound if keep_ge else cv <= bound
        n_in = nv >= bound if keep_ge else nv <= bound
        if c_in:
            out_x.append(cx)
            out_y.append(cy)
        if c_in != n_in:
            t = (bound - cv) / (nv - cv)
            if axis == 0:
                out_x.append(bound)
                out_y.append(cy + t * (ny_ - cy))
            else:
                out_x.append(cx + t * (nx_ - cx))
                out_y.append(bound)
    return out_x, out_y


def _clip_ring_rect(lat, lon, minlat, minlon, maxlat, maxlon):
    """Clip one closed ring to a rectangle; returns closed (lat, lon)
    lists or None when the clip is empty / zero-area."""
    ys = list(lat)
    xs = list(lon)
    if ys and ys[0] == ys[-1] and xs[0] == xs[-1]:
        ys, xs = ys[:-1], xs[:-1]
    for axis, bound, keep_ge in (
        (0, minlon, True),
        (0, maxlon, False),
        (1, minlat, True),
        (1, maxlat, False),
    ):
        if not xs:
            return None
        xs, ys = _clip_open(xs, ys, axis, bound, keep_ge)
    if len(xs) < 3:
        return None
    area2 = 0.0
    for i in range(len(xs)):
        j = (i + 1) % len(xs)
        area2 += xs[i] * ys[j] - xs[j] * ys[i]
    if area2 == 0.0:
        return None
    return ys + ys[:1], xs + xs[:1]


def _cell_bounds(cell_id: int, res: int):
    size = C.cell_size_deg(res)
    ix = (cell_id % C.RES_BITS_SHIFT) // C.IX_SHIFT
    iy = cell_id % C.IX_SHIFT
    minlon = ix * size - 180.0
    minlat = iy * size - 90.0
    return minlat, minlon, minlat + size, minlon + size


def clip_polygon_cell_py(
    ring_lat, ring_lon, cell_id: int, res: int, holes_lat=None, holes_lon=None
):
    """Driver-side twin of the PARTIAL kernel for one (polygon, cell) —
    used by oracle builders (VALUES recipe) and tests. Returns
    (ring_lat, ring_lon, holes_lat, holes_lon) or None."""
    minlat, minlon, maxlat, maxlon = _cell_bounds(int(cell_id), res)
    outer = _clip_ring_rect(ring_lat, ring_lon, minlat, minlon, maxlat, maxlon)
    if outer is None:
        return None
    h_lat, h_lon = [], []
    if holes_lat is None:
        holes_lat, holes_lon = [], []
    for rl, ro in zip(holes_lat, holes_lon):
        h = _clip_ring_rect(rl, ro, minlat, minlon, maxlat, maxlon)
        if h is not None:
            h_lat.append(h[0])
            h_lon.append(h[1])
    return outer[0], outer[1], h_lat, h_lon


def _open_ring(ys, xs):
    ys = np.asarray(ys, dtype=np.float64)
    xs = np.asarray(xs, dtype=np.float64)
    if len(ys) and ys[0] == ys[-1] and xs[0] == xs[-1]:
        ys, xs = ys[:-1], xs[:-1]
    return ys, xs


def _clip_flat(X, Y, counts, bounds):
    """Core batched Sutherland–Hodgman: flat vertex arrays + per-row
    counts + per-row rects. Returns list of (closed_lat, closed_lon)
    numpy arrays or None per row."""
    R = len(counts)
    row_id = np.repeat(np.arange(R, dtype=np.int64), counts)

    for axis, bcol, keep_ge in (
        (0, 1, True),   # x >= minlon
        (0, 3, False),  # x <= maxlon
        (1, 0, True),   # y >= minlat
        (1, 2, False),  # y <= maxlat
    ):
        n = len(X)
        if n == 0:
            break
        b = bounds[row_id, bcol]
        V = X if axis == 0 else Y
        idx = np.arange(n, dtype=np.int64)
        ends = np.cumsum(counts) - 1
        ends = ends[counts > 0]
        starts = ends - counts[counts > 0] + 1
        nxt = idx + 1
        nxt[ends] = starts
        NV = V[nxt]
        c_in = (V >= b) if keep_ge else (V <= b)
        n_in = (NV >= b) if keep_ge else (NV <= b)
        crossing = c_in != n_in
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (b - V) / (NV - V)
            if axis == 0:
                iX, iY = b, Y + t * (Y[nxt] - Y)
            else:
                iX, iY = X + t * (X[nxt] - X), b
        sel = np.empty(2 * n, dtype=bool)
        sel[0::2], sel[1::2] = c_in, crossing
        nX = np.empty(2 * n)
        nY = np.empty(2 * n)
        nR = np.empty(2 * n, dtype=np.int64)
        nX[0::2], nX[1::2] = X, iX
        nY[0::2], nY[1::2] = Y, iY
        nR[0::2], nR[1::2] = row_id, row_id
        X, Y, row_id = nX[sel], nY[sel], nR[sel]
        counts = np.bincount(row_id, minlength=R)

    # shoelace per row, vectorized; the == 0.0 DROP decision must match the
    # scalar kernel's sequential Python sum bit-for-bit, so reduceat's
    # pairwise sum is only trusted away from zero and borderline rows
    # (|area2| < 1e-6, i.e. slivers) are re-summed sequentially
    out: list = [None] * R
    offs = np.concatenate([[0], np.cumsum(counts)])
    n = len(X)
    area = np.zeros(R)
    cross = np.empty(0)
    if n:
        idx = np.arange(n, dtype=np.int64)
        ends = np.cumsum(counts) - 1
        ends = ends[counts > 0]
        starts = ends - counts[counts > 0] + 1
        nxt = idx + 1
        nxt[ends] = starts
        cross = X * Y[nxt] - X[nxt] * Y
        area[counts > 0] = np.add.reduceat(cross, starts)
    alive = []
    for r in np.flatnonzero(counts >= 3):
        a2 = area[r]
        if abs(a2) < 1e-6:
            a2 = sum(cross[offs[r]:offs[r + 1]].tolist())
        if a2 != 0.0:
            alive.append(r)
    if not alive:
        return out
    # close all surviving rings in one gather (ring + repeated first vertex)
    alive = np.asarray(alive, dtype=np.int64)
    k = counts[alive]
    k2 = k + 1
    offs2 = np.concatenate([[0], np.cumsum(k2)])
    local = np.arange(offs2[-1], dtype=np.int64) - np.repeat(offs2[:-1], k2)
    src = np.repeat(offs[alive], k2) + np.where(
        local < np.repeat(k, k2), local, 0
    )
    Xc, Yc = X[src], Y[src]
    for j, r in enumerate(alive):
        sl = slice(offs2[j], offs2[j + 1])
        out[r] = (Yc[sl], Xc[sl])
    return out


def clip_to_tiles(
    polys: DataFrame, res: int = C.TILE_RES
) -> DataFrame:
    """(polygon_id, cell_id, full, ring_lat, ring_lon, holes_lat,
    holes_lon): each polygon cut to every tile cell it covers. FULL cells
    are pure Column rectangles; PARTIAL cells run the Arrow kernel."""
    has_holes = "holes_lat" in polys.columns and "holes_lon" in polys.columns
    ring_cols = ["polygon_id", "ring_lat", "ring_lon"] + (
        ["holes_lat", "holes_lon"] if has_holes else []
    )
    size = C.cell_size_deg(res)

    # ONE fused mapInPandas over the polygon dim: cover classification and
    # the tiled PARTIAL clip run in the same Arrow pass, so each ring
    # crosses the wire ONCE, the whole polygon's boundary cells clip in
    # one numpy batch, and the plan is map-only — zero shuffles. FULL
    # cells leave the kernel ringless (rectangles are rebuilt in pure
    # Column arithmetic below — no Python, no Arrow volume for the
    # area-scaling bulk). A polygon's full boundary clips in one task —
    # the grouped-refine trade already documented for the PIP join.
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .spatial_join import classified_cover_rows

        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                cover = classified_cover_rows([rec], res)
                pid = rec["polygon_id"]
                for _, cell, f in cover:
                    if f:
                        rows.append((pid, cell, True, None, None, [], []))
                cells = np.array(
                    [c for _, c, f in cover if not f], dtype=np.int64
                )
                m = len(cells)
                if m == 0:
                    continue
                ix = (cells % C.RES_BITS_SHIFT) // C.IX_SHIFT
                iy = cells % C.IX_SHIFT
                minlon = ix * size - 180.0
                minlat = iy * size - 90.0
                cell_bounds = np.stack(
                    [minlat, minlon, minlat + size, minlon + size], axis=1
                )
                rings = [(rec["ring_lat"], rec["ring_lon"])]
                if has_holes and rec["holes_lat"] is not None:
                    rings += list(zip(rec["holes_lat"], rec["holes_lon"]))
                # tile each ring across all m cells -> one flat batch
                parts_y, parts_x, parts_c = [], [], []
                for ys, xs in rings:
                    ys, xs = _open_ring(ys, xs)
                    parts_y.append(np.tile(ys, m))
                    parts_x.append(np.tile(xs, m))
                    parts_c.append(np.full(m, len(ys), dtype=np.int64))
                clipped = _clip_flat(
                    np.concatenate(parts_x),
                    np.concatenate(parts_y),
                    np.concatenate(parts_c),
                    np.tile(cell_bounds, (len(rings), 1)),
                )
                for p in range(m):
                    got = clipped[p]  # outer ring of cell p
                    if got is None:
                        continue
                    h = [
                        clipped[hi * m + p]
                        for hi in range(1, len(rings))
                        if clipped[hi * m + p] is not None
                    ]
                    rows.append(
                        (
                            pid, cells[p], False,
                            got[0], got[1],
                            [x[0] for x in h], [x[1] for x in h],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "polygon_id", "cell_id", "full",
                    "ring_lat", "ring_lon", "holes_lat", "holes_lon",
                ],
            )

    schema = (
        "polygon_id long, cell_id long, full boolean, "
        "ring_lat array<double>, ring_lon array<double>, "
        "holes_lat array<array<double>>, holes_lon array<array<double>>"
    )
    out = polys.select(*ring_cols).mapInPandas(run, schema=schema)
    ix = C.cell_ix("cell_id")
    iy = C.cell_iy("cell_id")
    minlon = ix.cast("double") * F.lit(size) - 180.0
    minlat = iy.cast("double") * F.lit(size) - 90.0
    maxlon = minlon + F.lit(size)
    maxlat = minlat + F.lit(size)
    return out.withColumns(
        {
            "ring_lat": F.when(
                F.col("full"),
                F.array(minlat, minlat, maxlat, maxlat, minlat),
            ).otherwise(F.col("ring_lat")),
            "ring_lon": F.when(
                F.col("full"),
                F.array(minlon, maxlon, maxlon, minlon, minlon),
            ).otherwise(F.col("ring_lon")),
        }
    )
