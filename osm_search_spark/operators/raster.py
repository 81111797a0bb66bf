"""Raster <-> vector conversion + zonal statistics on the engine's cell grid.

The north rule names "raster<->vector" alongside PIP and kNN as part of the
spatial engine. The reference has no raster mode (its R-tree serves vector
queries only — pkg/datastructure/rtree.go), so this module defines the
capability Spark-first on the same hierarchical grid the joins use
(functions/cells.py):

- **vector -> raster** (`rasterize_polygons`): each polygon becomes per-tile
  bit masks on a globally-aligned pixel lattice. A tile at resolution ``res``
  with ``px = 2**e`` pixels per side is exactly the set of grid cells at
  resolution ``res + e`` — pixel (i, j) of tile (ix, iy) is global lattice
  cell (ix*px + i, iy*px + j), so rasters from different jobs/resolutions
  stay mutually aligned (the property H3/S2 give real pipelines).
  Scale shape: the classified cover's FULL tiles (entirely interior) take a
  constant all-ones mask with NO point-in-polygon work; only boundary
  (PARTIAL) tiles run the vectorized winding-number lattice test, so
  compute scales with polygon PERIMETER while output scales with area —
  same cost law as the PIP join itself (operators/spatial_join.py).

- **raster -> vector** (`vectorize_masks`): exact boundary polygonization of
  the set-pixel union, distributed in three steps:
    1. per-tile numpy pass emits only LOCALLY-UNMATCHED directed boundary
       edges (interior edges cancel inside the tile, so shuffled rows scale
       with perimeter + tile borders, never area);
    2. one groupBy cancels the remaining opposite-direction edge pairs that
       straddle tile borders (the halo exchange, done as aggregation —
       globally-aligned lattice coordinates mean matching edges collide on
       the same key with no stencil join);
    3. per-polygon applyInPandas chains surviving edges into closed rings
       (left-turn preference at pinch corners), CCW outer rings / CW holes,
       collinear runs merged. Ring work is bounded by polygon perimeter.
  Exactness invariant (tested + DuckDB-oracled): the shoelace area of the
  extracted rings equals the set-pixel count exactly (in 2x pixel units),
  and re-rasterizing the rings reproduces the input masks bit-for-bit.

- **zonal statistics** (`image_zonal_stats`): the raster(image) x
  vector(polygon) aggregate — decoded pixel-channel sums per image
  (exact int64, Arrow-batched) joined to zones via the PIP spatial join,
  then one groupBy per zone. Sums stay integers until a single final
  division so the DuckDB oracle twin matches bit-for-bit after round(6).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions import geometry as G
from . import spatial_join as SJ
from .spatial_join import classified_cover, spatial_join, with_bbox

# vertex pack: v = x * VPACK + y; lattice coords < 2**30 at res+e <= 28
VPACK = 2**32


def _check_px(px: int) -> int:
    e = px.bit_length() - 1
    if px < 8 or (1 << e) != px:
        raise ValueError("px must be a power of two >= 8")
    return e


def _tile_mask(rl, rn, cell: int, px: int, size_p: float, holes=()):
    """Lattice mask of one tile vs one closed ring (minus any holes):
    (n_set, packed bytes). Pixel centers use the GLOBAL lattice formula
    mirrored in the DuckDB oracle twin (sql_rasterize_pixels)."""
    ix, iy = C.np_cell_ixy(int(cell))
    ii = np.arange(px, dtype=np.int64)
    lon_c = ((ix * px + ii) + 0.5) * size_p - 180.0
    lat_c = ((iy * px + ii) + 0.5) * size_p - 90.0
    gy, gx = np.meshgrid(lat_c, lon_c, indexing="ij")
    inside = G.points_in_polygon_with_holes(
        gy.ravel(), gx.ravel(), rl, rn, list(holes)
    ).reshape(px, px)
    return int(inside.sum()), np.packbits(inside).tobytes()


def rasterize_polygons(
    polygons: DataFrame,
    res: int = C.TILE_RES,
    px: int = 16,
    drop_empty: bool = True,
) -> DataFrame:
    """Vector -> raster: (polygon_id, cell_id, n_set, mask).

    ``mask`` is px*px bits packed row-major (bit k = j*px + i set iff the
    center of pixel column i, row j is inside the polygon; big-endian bit
    order within bytes, numpy packbits layout). Row j runs south->north
    (ascending latitude), column i west->east.

    Inside-ness is the engine's winding-number semantics including the
    reference's segment-bbox boundary quirk (geometry.go:102-106 — see
    functions/geometry.winding_number), so a raster agrees exactly with the
    PIP join on the same polygon.

    FULL cover tiles (entirely interior, classified by
    spatial_join.classified_cover) emit a constant all-ones mask with no
    lattice test; only PARTIAL tiles evaluate pixel centers, Arrow-batched
    and numpy-vectorized per tile. Rings ship as one broadcast dict; above
    spatial_join.BROADCAST_MAX_POLYGONS polygons the operator falls back
    to a grouped applyInPandas plan that never collects rings to the
    driver (the probe is a bounded limit+count, never a full count).
    """
    e = _check_px(px)
    size_p = C.cell_size_deg(res + e)
    n_bytes = px * px // 8
    spark = polygons.sparkSession

    n_max = SJ.BROADCAST_MAX_POLYGONS
    if polygons.select("polygon_id").limit(n_max + 1).count() > n_max:
        return _rasterize_grouped(polygons, res, px, drop_empty)

    # localCheckpoint (NOT persist): the FULL and PARTIAL branches below
    # both read the cover, and it is small (one row per polygon x bbox
    # cell). Checkpoint blocks are freed by the ContextCleaner when the
    # frame goes out of scope — a persist() here would leak cached blocks
    # for the session's lifetime since this function never sees the
    # caller finish with the result
    cover = classified_cover(polygons, res).localCheckpoint(eager=True)
    full_mask = bytes([0xFF]) * n_bytes

    full_part = cover.filter(F.col("full")).select(
        "polygon_id",
        "cell_id",
        F.lit(px * px).alias("n_set"),
        F.lit(full_mask).alias("mask"),
    )

    dim_cols = ["polygon_id", "ring_lat", "ring_lon"] + [
        c for c in ("holes_lat", "holes_lon") if c in polygons.columns
    ]
    ring_rows = polygons.select(*dim_cols).collect()
    rings = {
        r["polygon_id"]: (
            *G.close_ring(np.array(r["ring_lat"]), np.array(r["ring_lon"])),
            SJ.row_holes(r),
        )
        for r in ring_rows
    }
    bc = spark.sparkContext.broadcast(rings)

    def raster_partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ring_map = bc.value
        for pdf in batches:
            out = []
            for pid, cell in zip(pdf["polygon_id"], pdf["cell_id"]):
                rl, rn, holes = ring_map[pid]
                n_set, mask = _tile_mask(rl, rn, cell, px, size_p, holes)
                out.append((int(pid), int(cell), n_set, mask))
            yield pd.DataFrame(
                out, columns=["polygon_id", "cell_id", "n_set", "mask"]
            )

    partial_part = (
        cover.filter(~F.col("full"))
        .select("polygon_id", "cell_id")
        .mapInPandas(
            raster_partial,
            schema="polygon_id long, cell_id long, n_set int, mask binary",
        )
    )
    out = full_part.unionByName(partial_part)
    if drop_empty:
        out = out.filter(F.col("n_set") > 0)
    return out


def _rasterize_grouped(
    polygons: DataFrame, res: int, px: int, drop_empty: bool
) -> DataFrame:
    """Large-dim rasterization: rings never leave the executors. The
    classified cover co-groups with the ring arrays by polygon_id via
    applyInPandas (one shuffle; ring arrays ride once per polygon group),
    FULL tiles still skip the lattice test inside the kernel."""
    size_p = C.cell_size_deg(res + _check_px(px))
    n_bytes = px * px // 8
    full_mask = bytes([0xFF]) * n_bytes
    cover = classified_cover(polygons, res)
    dim_cols = ["polygon_id", "ring_lat", "ring_lon"] + [
        c for c in ("holes_lat", "holes_lon") if c in polygons.columns
    ]
    has_holes = len(dim_cols) == 5
    joined = cover.join(polygons.select(*dim_cols), "polygon_id")

    def raster_group(pdf: pd.DataFrame) -> pd.DataFrame:
        rl, rn = G.close_ring(
            np.array(pdf["ring_lat"].iloc[0]), np.array(pdf["ring_lon"].iloc[0])
        )
        holes = (
            SJ.row_holes(
                {
                    "holes_lat": pdf["holes_lat"].iloc[0],
                    "holes_lon": pdf["holes_lon"].iloc[0],
                }
            )
            if has_holes
            else []
        )
        pid = int(pdf["polygon_id"].iloc[0])
        out = []
        for cell, full in zip(pdf["cell_id"], pdf["full"]):
            if full:
                out.append((pid, int(cell), px * px, full_mask))
            else:
                n_set, mask = _tile_mask(rl, rn, cell, px, size_p, holes)
                if n_set or not drop_empty:
                    out.append((pid, int(cell), n_set, mask))
        return pd.DataFrame(
            out, columns=["polygon_id", "cell_id", "n_set", "mask"]
        )

    return joined.groupBy("polygon_id").applyInPandas(
        raster_group,
        schema="polygon_id long, cell_id long, n_set int, mask binary",
    )


def raster_pixels(raster: DataFrame, px: int) -> DataFrame:
    """Explode masks into set-pixel rows (polygon_id, cell_id, pixel_idx) —
    pure Column arithmetic over the hex of the mask (no Python per row)."""
    _check_px(px)
    return (
        raster.withColumn("_hex", F.hex("mask"))
        .select(
            "polygon_id",
            "cell_id",
            "_hex",
            F.explode(F.sequence(F.lit(0), F.lit(px * px - 1))).alias("k"),
        )
        .filter(
            F.expr(
                "(shiftright(cast(conv(substr(_hex, (k div 8) * 2 + 1, 2), 16, 10)"
                " as int), 7 - (k % 8)) & 1) = 1"
            )
        )
        .select(
            "polygon_id", "cell_id", F.col("k").cast("int").alias("pixel_idx")
        )
    )


# ---------------------------------------------------------------------------
# raster -> vector
# ---------------------------------------------------------------------------

def boundary_edges(raster: DataFrame, px: int) -> DataFrame:
    """Directed boundary edges of the set-pixel union, per polygon, on the
    global lattice: (polygon_id, ax, ay, bx, by), unit-length, axis-aligned,
    interior on the LEFT of travel (CCW outer loops / CW holes).

    Edges interior to a tile cancel locally in numpy; a tile-border edge is
    emitted whenever the neighboring pixel lies outside the tile — if the
    adjacent tile's pixel is set, that tile emits the reverse edge and the
    pair annihilates in `cancel_edges`' groupBy. Shuffled rows therefore
    scale with region perimeter plus tile borders, never area.
    """
    _check_px(px)

    def edges_of_tile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_pid, out = [], []
            for pid, cell, mask in zip(
                pdf["polygon_id"], pdf["cell_id"], pdf["mask"]
            ):
                m = np.unpackbits(
                    np.frombuffer(mask, dtype=np.uint8), count=px * px
                ).reshape(px, px).astype(bool)  # [j, i] row-major
                if not m.any():
                    continue
                ix, iy = C.np_cell_ixy(int(cell))
                x0, y0 = ix * px, iy * px
                pad = np.zeros((px + 2, px + 2), dtype=bool)
                pad[1:-1, 1:-1] = m
                # neighbor-unset tests (within tile; outside-tile = unset)
                below = m & ~pad[:-2, 1:-1]
                above = m & ~pad[2:, 1:-1]
                left = m & ~pad[1:-1, :-2]
                right = m & ~pad[1:-1, 2:]
                for cond, (dax, day, dbx, dby) in (
                    (below, (0, 0, 1, 0)),   # bottom: (x,y)   -> (x+1,y)
                    (right, (1, 0, 1, 1)),   # right:  (x+1,y) -> (x+1,y+1)
                    (above, (1, 1, 0, 1)),   # top:  (x+1,y+1) -> (x,y+1)
                    (left, (0, 1, 0, 0)),    # left:   (x,y+1) -> (x,y)
                ):
                    jj, ii2 = np.nonzero(cond)
                    if len(jj) == 0:
                        continue
                    gx, gy = x0 + ii2, y0 + jj
                    out.append(
                        np.stack(
                            [gx + dax, gy + day, gx + dbx, gy + dby], axis=1
                        )
                    )
                    out_pid.append(np.full(len(jj), pid, dtype=np.int64))
            if not out:
                yield pd.DataFrame(
                    columns=["polygon_id", "ax", "ay", "bx", "by"]
                ).astype(np.int64)
                continue
            arr = np.concatenate(out)
            yield pd.DataFrame(
                {
                    "polygon_id": np.concatenate(out_pid),
                    "ax": arr[:, 0],
                    "ay": arr[:, 1],
                    "bx": arr[:, 2],
                    "by": arr[:, 3],
                }
            )

    return raster.select("polygon_id", "cell_id", "mask").mapInPandas(
        edges_of_tile,
        schema="polygon_id long, ax long, ay long, bx long, by long",
    )


def cancel_edges(edges: DataFrame) -> DataFrame:
    """Annihilate opposite-direction duplicate edges across tile borders:
    one groupBy on the undirected edge key; an interior edge appears exactly
    twice (once per adjacent set pixel) and is dropped, a true boundary edge
    appears once and survives with its direction."""
    va = F.col("ax") * F.lit(VPACK) + F.col("ay")
    vb = F.col("bx") * F.lit(VPACK) + F.col("by")
    keyed = edges.withColumns(
        {"_k1": F.least(va, vb), "_k2": F.greatest(va, vb)}
    )
    g = keyed.groupBy("polygon_id", "_k1", "_k2").agg(
        F.count(F.lit(1)).alias("_c"),
        F.min(F.struct("ax", "ay", "bx", "by")).alias("_e"),
    )
    return g.filter(F.col("_c") == 1).select(
        "polygon_id",
        F.col("_e.ax").alias("ax"),
        F.col("_e.ay").alias("ay"),
        F.col("_e.bx").alias("bx"),
        F.col("_e.by").alias("by"),
    )


_RING_SCHEMA = (
    "polygon_id long, ring_id int, area2 long, "
    "xs array<long>, ys array<long>, "
    "ring_lat array<double>, ring_lon array<double>"
)


def chain_rings(edges: DataFrame, res: int, px: int) -> DataFrame:
    """Chain surviving directed edges into closed rings per polygon.

    Deterministic: walks start from the smallest unused edge; at a pinch
    vertex (two diagonal pixels touching at a corner — 2 outgoing edges)
    the LEFT turn relative to the incoming direction is preferred, which
    splits corner-touching components into separate non-crossing rings.
    Collinear runs are merged; rings are emitted closed (first == last).
    area2 is the exact integer shoelace (2x signed area in pixel units):
    positive = CCW outer ring, negative = hole. Lattice corner (x, y) maps
    to lon = x*s - 180, lat = y*s - 90 with s the pixel size in degrees.
    """
    size_p = C.cell_size_deg(res + _check_px(px))

    def chain(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["polygon_id"].iloc[0])
        es = sorted(
            zip(
                pdf["ax"].astype(int),
                pdf["ay"].astype(int),
                pdf["bx"].astype(int),
                pdf["by"].astype(int),
            )
        )
        out_map: dict[tuple, list] = {}
        for ax, ay, bx, by in es:
            out_map.setdefault((ax, ay), []).append((bx, by))
        for v in out_map.values():
            v.sort()
        used: set[tuple] = set()
        rows = []
        for ax, ay, bx, by in es:
            if (ax, ay, bx, by) in used:
                continue
            start = (ax, ay)
            verts = [start]
            cur = (ax, ay, bx, by)
            area2 = 0
            while True:
                used.add(cur)
                a = (cur[0], cur[1])
                v = (cur[2], cur[3])
                area2 += a[0] * v[1] - v[0] * a[1]
                if v == start:
                    break
                verts.append(v)
                cands = [
                    w for w in out_map.get(v, ())
                    if (v[0], v[1], w[0], w[1]) not in used
                ]
                if len(cands) == 1:
                    nxt = cands[0]
                else:
                    d = (v[0] - a[0], v[1] - a[1])
                    for pref in (
                        (-d[1], d[0]),   # left turn
                        d,               # straight
                        (d[1], -d[0]),   # right turn
                        (-d[0], -d[1]),  # reverse (degenerate pinch)
                    ):
                        nxt = (v[0] + pref[0], v[1] + pref[1])
                        if nxt in cands:
                            break
                    else:  # pragma: no cover - cancelled edges always chain
                        raise ValueError(f"open boundary at {v} (polygon {pid})")
                cur = (v[0], v[1], nxt[0], nxt[1])
            # merge collinear runs (circular)
            n = len(verts)
            keep = []
            for i in range(n):
                p0, p1, p2 = verts[i - 1], verts[i], verts[(i + 1) % n]
                d0 = (p1[0] - p0[0], p1[1] - p0[1])
                d1 = (p2[0] - p1[0], p2[1] - p1[1])
                if d0[0] * d1[1] - d0[1] * d1[0] != 0:
                    keep.append(p1)
            keep.append(keep[0])  # close
            xs = [int(p[0]) for p in keep]
            ys = [int(p[1]) for p in keep]
            rows.append(
                (
                    pid,
                    len(rows),
                    area2,
                    xs,
                    ys,
                    [y * size_p - 90.0 for y in ys],
                    [x * size_p - 180.0 for x in xs],
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "polygon_id", "ring_id", "area2",
                "xs", "ys", "ring_lat", "ring_lon",
            ],
        )

    return edges.groupBy("polygon_id").applyInPandas(chain, schema=_RING_SCHEMA)


def _successor(a, v, out_map, used):
    """The chain_rings successor rule as a pure function: leftmost turn
    first, reverse last. At every lattice vertex the left-turn rule is a
    perfect matching of in-edges to out-edges (each incoming direction
    prefers the out-edge hugging its own pixel corner), so the choice is
    independent of walk order — the property that makes the hierarchical
    split below bit-identical to the single-task walk."""
    cands = [
        w for w in out_map.get(v, ()) if (v[0], v[1], w[0], w[1]) not in used
    ]
    if not cands:
        return None
    if len(cands) == 1:
        return cands[0]
    d = (v[0] - a[0], v[1] - a[1])
    for pref in (
        (-d[1], d[0]),   # left turn
        d,               # straight
        (d[1], -d[0]),   # right turn
        (-d[0], -d[1]),  # reverse (degenerate pinch)
    ):
        nxt = (v[0] + pref[0], v[1] + pref[1])
        if nxt in cands:
            return nxt
    return None  # pragma: no cover


_FRAG_SCHEMA = (
    "polygon_id long, closed boolean, "
    "k_in_a long, k_in_b long, k_out_a long, k_out_b long, "
    "n_edges long, area2 long, me_a long, me_b long, me_pos long, "
    "xs array<long>, ys array<long>, pos array<long>"
)


def _pack_edge(ax, ay, bx, by):
    return ax * VPACK + ay, bx * VPACK + by


def chain_rings_hierarchical(
    edges: DataFrame, res: int, px: int, stitch_shift: int = 12
) -> DataFrame:
    """`chain_rings`, split into two BOUNDED stages so one continent-sized
    polygon no longer chains its whole boundary in a single task
    (PLANS.md's vectorize_masks caveat, round-7 VERDICT item 4).

    Stage 1 (per (polygon, 2^shift-lattice block), distributed): chain the
    block's edges into (a) closed rings wholly inside the block — finished
    locally exactly like chain_rings — and (b) open FRAGMENTS that enter
    and leave the block. An edge belongs to the block of its a-vertex, so
    every out-edge of a vertex is local and the successor rule evaluates
    exactly; block-crossing edges additionally ship one GHOST copy to the
    b-vertex's block so fragment entry points and their incoming
    directions are known locally. Fragment interiors are collinear-
    compressed (direction-change vertices only), so stage-2 payload scales
    with corner count + block crossings, never raw perimeter.

    Stage 2 (per polygon): stitch fragments by (exit edge == next
    fragment's ghost edge) key — macro-edges walked exactly like edges —
    then one simultaneous collinear sweep over the seams and a rotation to
    each ring's minimal original edge. Output is BIT-IDENTICAL to
    chain_rings (tested): same ring_id order (rings sorted by their
    minimal directed edge), same start vertex (first direction-change
    vertex at/after the minimal edge in walk order), same area2.
    """
    size_p = C.cell_size_deg(res + _check_px(px))
    s = stitch_shift

    def stage1(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["polygon_id"].iloc[0])
        bkx = int(pdf["_bkx"].iloc[0])
        bky = int(pdf["_bky"].iloc[0])
        rows_in = list(
            zip(
                pdf["ax"].astype(int), pdf["ay"].astype(int),
                pdf["bx"].astype(int), pdf["by"].astype(int),
                pdf["_g"],
            )
        )
        es = sorted((ax, ay, bx, by) for ax, ay, bx, by, g in rows_in if not g)
        ghosts = sorted((ax, ay, bx, by) for ax, ay, bx, by, g in rows_in if g)
        out_map: dict[tuple, list] = {}
        for ax, ay, bx, by in es:
            out_map.setdefault((ax, ay), []).append((bx, by))
        for v in out_map.values():
            v.sort()
        used: set[tuple] = set()

        def in_block(v):
            return (v[0] >> s) == bkx and (v[1] >> s) == bky

        out_rows = []

        # (b) open fragments, one per ghost in-edge
        for g in ghosts:
            a, v = (g[0], g[1]), (g[2], g[3])
            frag: list[tuple] = []
            while True:
                w = _successor(a, v, out_map, used)
                if w is None:
                    raise ValueError(
                        f"open boundary at {v} (polygon {pid})"
                    )  # pragma: no cover
                e = (v[0], v[1], w[0], w[1])
                used.add(e)
                frag.append(e)
                a, v = v, w
                if not in_block(v):
                    break
            # collinear-compress interior a-vertices; index 0 force-kept
            verts = [(e[0], e[1]) for e in frag]
            nxt_pts = verts[1:] + [(frag[-1][2], frag[-1][3])]
            kx, ky, kp = [], [], []
            for i, p in enumerate(verts):
                if i > 0:
                    p0, p2 = verts[i - 1], nxt_pts[i]
                    d0 = (p[0] - p0[0], p[1] - p0[1])
                    d1 = (p2[0] - p[0], p2[1] - p[1])
                    if d0[0] * d1[1] - d0[1] * d1[0] == 0:
                        continue
                kx.append(p[0])
                ky.append(p[1])
                kp.append(i)
            me_pos, me = min(enumerate(frag), key=lambda t: t[1])
            area2 = sum(e[0] * e[3] - e[2] * e[1] for e in frag)
            ka, kb = _pack_edge(*g)
            oa, ob = _pack_edge(*frag[-1])
            ma, mb = _pack_edge(*me)
            out_rows.append(
                (pid, False, ka, kb, oa, ob, len(frag), area2,
                 ma, mb, me_pos, kx, ky, kp)
            )

        # (a) local closed rings from the leftover edges — the chain_rings
        # walk verbatim (walk start == the cycle's minimal edge)
        for e0 in es:
            if e0 in used:
                continue
            start = (e0[0], e0[1])
            verts = [start]
            cur = e0
            area2 = 0
            while True:
                used.add(cur)
                a = (cur[0], cur[1])
                v = (cur[2], cur[3])
                area2 += a[0] * v[1] - v[0] * a[1]
                if v == start:
                    break
                verts.append(v)
                w = _successor(a, v, out_map, used)
                if w is None:
                    raise ValueError(
                        f"open boundary at {v} (polygon {pid})"
                    )  # pragma: no cover
                cur = (v[0], v[1], w[0], w[1])
            n = len(verts)
            keep = []
            for i in range(n):
                p0, p1, p2 = verts[i - 1], verts[i], verts[(i + 1) % n]
                d0 = (p1[0] - p0[0], p1[1] - p0[1])
                d1 = (p2[0] - p1[0], p2[1] - p1[1])
                if d0[0] * d1[1] - d0[1] * d1[0] != 0:
                    keep.append(p1)
            keep.append(keep[0])
            ma, mb = _pack_edge(*e0)
            out_rows.append(
                (pid, True, 0, 0, 0, 0, n, area2, ma, mb, 0,
                 [p[0] for p in keep], [p[1] for p in keep], [])
            )
        return pd.DataFrame(
            out_rows,
            columns=[
                "polygon_id", "closed", "k_in_a", "k_in_b", "k_out_a",
                "k_out_b", "n_edges", "area2", "me_a", "me_b", "me_pos",
                "xs", "ys", "pos",
            ],
        )

    def stage2(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["polygon_id"].iloc[0])
        rings = []  # (me_a, me_b, area2, closed_xs, closed_ys)
        frags = []
        for r in pdf.itertuples(index=False):
            if r.closed:
                rings.append(
                    (int(r.me_a), int(r.me_b), int(r.area2),
                     [int(x) for x in r.xs], [int(y) for y in r.ys])
                )
            else:
                frags.append(r)
        by_key = {}
        for fr in frags:
            by_key[(int(fr.k_in_a), int(fr.k_in_b))] = fr
        used_f: set[tuple] = set()
        for fr in sorted(frags, key=lambda t: (int(t.me_a), int(t.me_b))):
            fkey = (int(fr.k_in_a), int(fr.k_in_b))
            if fkey in used_f:
                continue
            chain = [fr]
            used_f.add(fkey)
            cur = fr
            while True:
                nkey = (int(cur.k_out_a), int(cur.k_out_b))
                if nkey == fkey:
                    break
                nxt = by_key.get(nkey)
                if nxt is None:
                    raise ValueError(
                        f"unstitchable fragment at {nkey} (polygon {pid})"
                    )  # pragma: no cover
                used_f.add(nkey)
                chain.append(nxt)
                cur = nxt
            # concatenate kept vertices with global walk positions
            xs, ys, pos = [], [], []
            off = 0
            area2 = 0
            me = (int(chain[0].me_a), int(chain[0].me_b))
            me_pos = int(chain[0].me_pos)  # min edge lives in chain[0]
            for fx in chain:
                xs.extend(int(x) for x in fx.xs)
                ys.extend(int(y) for y in fx.ys)
                pos.extend(off + int(p) for p in fx.pos)
                area2 += int(fx.area2)
                off += int(fx.n_edges)
            # simultaneous collinear sweep (only seams can still be
            # collinear; straight-run deltas are parallel to the original
            # unit directions, so cross==0 here iff in the full walk)
            n = len(xs)
            keep_idx = []
            for i in range(n):
                p0 = (xs[i - 1], ys[i - 1])
                p1 = (xs[i], ys[i])
                p2 = (xs[(i + 1) % n], ys[(i + 1) % n])
                d0 = (p1[0] - p0[0], p1[1] - p0[1])
                d1 = (p2[0] - p1[0], p2[1] - p1[1])
                if d0[0] * d1[1] - d0[1] * d1[0] != 0:
                    keep_idx.append(i)
            # rotate: first kept vertex at/after the minimal edge's
            # a-vertex in walk order (positions wrap around the cycle)
            k0 = next(
                (j for j, i in enumerate(keep_idx) if pos[i] >= me_pos), 0
            )
            order = keep_idx[k0:] + keep_idx[:k0]
            kx = [xs[i] for i in order] + [xs[order[0]]]
            ky = [ys[i] for i in order] + [ys[order[0]]]
            rings.append((me[0], me[1], area2, kx, ky))
        rings.sort(key=lambda t: (t[0], t[1]))
        out = [
            (
                pid, rid, area2, kx, ky,
                [y * size_p - 90.0 for y in ky],
                [x * size_p - 180.0 for x in kx],
            )
            for rid, (_, __, area2, kx, ky) in enumerate(rings)
        ]
        return pd.DataFrame(
            out,
            columns=[
                "polygon_id", "ring_id", "area2",
                "xs", "ys", "ring_lat", "ring_lon",
            ],
        )

    blk_a = {"_bkx": F.shiftright("ax", s), "_bky": F.shiftright("ay", s)}
    real = edges.withColumns({**blk_a, "_g": F.lit(False)})
    ghost = (
        edges.filter(
            (F.shiftright("ax", s) != F.shiftright("bx", s))
            | (F.shiftright("ay", s) != F.shiftright("by", s))
        )
        .withColumns(
            {
                "_bkx": F.shiftright("bx", s),
                "_bky": F.shiftright("by", s),
                "_g": F.lit(True),
            }
        )
    )
    frags = (
        real.unionByName(ghost)
        .groupBy("polygon_id", "_bkx", "_bky")
        .applyInPandas(stage1, schema=_FRAG_SCHEMA)
    )
    return frags.groupBy("polygon_id").applyInPandas(
        stage2, schema=_RING_SCHEMA
    )


def vectorize_masks(
    raster: DataFrame, res: int, px: int, stitch_shift: int | None = None
) -> DataFrame:
    """Raster -> vector: boundary rings of the set-pixel union per polygon.

    Output: (polygon_id, ring_id, area2, xs, ys, ring_lat, ring_lon).
    Invariant: sum(area2) over a polygon's rings == 2 * total set pixels
    (outer rings positive, holes negative) — exact integers.

    stitch_shift=None (default): single chaining task per polygon.
    stitch_shift=k: hierarchical two-stage chaining over 2^k-lattice
    blocks (`chain_rings_hierarchical`) — bit-identical output, bounded
    per-task work for polygons whose boundary spans many blocks.
    """
    edges = cancel_edges(boundary_edges(raster, px))
    if stitch_shift is None:
        return chain_rings(edges, res, px)
    return chain_rings_hierarchical(edges, res, px, stitch_shift)


# ---------------------------------------------------------------------------
# zonal statistics: raster(image) x vector(polygon)
# ---------------------------------------------------------------------------

IMAGE_SUMS_SCHEMA = (
    "image_id string, lat double, lon double, "
    "n_px long, sum_r long, sum_g long, sum_b long"
)


def image_pixel_sums(images: DataFrame) -> DataFrame:
    """Exact per-image channel sums from DECODED pixels (int64 — no float
    accumulation, so zones aggregate bit-exactly in any order). Input needs
    (image_id, bytes, fmt, lat, lon); Arrow-batched decode via the pure-numpy
    codecs in functions/images.py."""
    from ..functions import images as I

    def sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                p = I.decode(r.bytes, r.fmt).astype(np.int64)
                s = p.sum(axis=(0, 1))
                rows.append(
                    (
                        r.image_id, r.lat, r.lon,
                        int(p.shape[0] * p.shape[1]),
                        int(s[0]), int(s[1]), int(s[2]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "lat", "lon",
                    "n_px", "sum_r", "sum_g", "sum_b",
                ],
            )

    return images.select("image_id", "bytes", "fmt", "lat", "lon").mapInPandas(
        sums, schema=IMAGE_SUMS_SCHEMA
    )


def image_zonal_stats(
    images: DataFrame, polygons: DataFrame, res: int = C.JOIN_RES
) -> DataFrame:
    """Per-zone statistics of decoded image pixels: PIP-join image locations
    to polygons (cell-cover join + exact refine — operators/spatial_join),
    then ONE groupBy per zone over integer sums. The single float division
    happens last (round 6dp; identical expression in the DuckDB twin)."""
    feats = image_pixel_sums(images)
    joined = spatial_join(feats, with_bbox(polygons), res=res)
    return (
        joined.groupBy("polygon_id")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("n_px").alias("n_px"),
            F.sum("sum_r").alias("_sr"),
            F.sum("sum_g").alias("_sg"),
            F.sum("sum_b").alias("_sb"),
        )
        .select(
            "polygon_id",
            "n_images",
            "n_px",
            F.round(
                (F.col("_sr") + F.col("_sg") + F.col("_sb"))
                / (F.lit(3.0) * F.col("n_px")),
                6,
            ).alias("avg_rgb"),
        )
    )


def coverage_zonal_stats(
    images: DataFrame,
    polygons: DataFrame,
    res: int = C.JOIN_RES,
    px: int = 8,
) -> DataFrame:
    """Coverage-WEIGHTED zonal statistics — the raster x raster x vector
    composition: images aggregate per TILE, polygons contribute per-tile
    coverage from their rasterization, and each zone's statistic weights a
    tile's pixels by the zone's coverage of that tile.

    Weights are the exact rationals n_set/px^2, so the weighted sums stay
    INTEGERS (sum of n_set * pixel_sums) until one final division —
    order-independent and bit-identical in the DuckDB twin. Differs from
    `image_zonal_stats` (point-assigned) when a tile straddles a zone
    boundary: here the tile's images contribute fractionally.

    Plan: per-tile image rollup (one partial agg) ⋈ mask table on cell_id
    (both sides already tile-keyed — co-partitioned join, broadcastable
    mask side for bounded zone layers) -> one groupBy per zone.
    """
    feats = image_pixel_sums(images).withColumn(
        "cell_id", C.latlng_to_cell("lat", "lon", res)
    )
    per_tile = feats.groupBy("cell_id").agg(
        F.sum("n_px").alias("t_px"),
        (F.sum("sum_r") + F.sum("sum_g") + F.sum("sum_b")).alias("t_rgb"),
    )
    rast = rasterize_polygons(polygons, res=res, px=px).select(
        "polygon_id", "cell_id", "n_set"
    )
    j = rast.join(per_tile, "cell_id")
    return (
        j.groupBy("polygon_id")
        .agg(
            F.sum(F.col("n_set") * F.col("t_px")).alias("w_px"),
            F.sum(F.col("n_set") * F.col("t_rgb")).alias("_w_rgb"),
        )
        .select(
            "polygon_id",
            "w_px",
            F.round(F.col("_w_rgb") / (F.lit(3.0) * F.col("w_px")), 6).alias(
                "wavg_rgb"
            ),
        )
    )
