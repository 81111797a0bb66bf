"""Terrain analysis on the cell grid — slope, aspect, hillshade, D8 flow.

The raster map-algebra trio behind every DEM workflow (ArcGIS Surface
toolset, GDAL DEM utilities) plus the D8 flow-direction operator of
hydrology stacks, over the repo's integer cell grid: a DEM is any
(cell_id, elev) raster; each interior cell's 3x3 POSITIONAL window
feeds Horn's finite differences

    gx = ((ne + 2e + se) - (nw + 2w + sw)) / 8
    gy = ((nw + 2n + ne) - (sw + 2s + se)) / 8      (north = +y)

    slope_rad = atan(sqrt(gx^2 + gy^2))            (per-cell-unit rise)
    aspect    = compass degrees of steepest DESCENT (0 = N, 90 = E),
                -1 for flat cells (gx = gy = 0)
    hillshade = 255 * max(0, cos(zen)*cos(slope)
                + sin(zen)*sin(slope)*cos(az - aspect_rad))  (GDAL's
                formula; azimuth/zenith in degrees, default 315/45)
    d8        = ESRI code (E=1, SE=2, S=4, SW=8, W=16, NW=32, N=64,
                NE=128) of the steepest POSITIVE drop/distance among
                the 8 neighbors (diagonals /sqrt(2)); 0 = sink/flat.
                Ties break to the SMALLEST code (documented; ESRI's
                own tie rule is unspecified).

Semantics: cells WITHOUT a full 9-cell window are dropped (interior
mask) — the edge-substitution variants differ per tool; the full-window
contract is the one every implementation agrees on. Longitude wrap
counts as interior; the latitude clamp makes polar cells non-interior
automatically (their window collapses below 9 distinct cells).

Plan shape (100 TB posture): ONE scatter-explode of the bounded 3x3
offsets (the focal/IDW shape) + ONE groupBy(target) whose positional
pivot is 9 conditional sums (map-side combinable) — no joins, no
window functions; cost ∝ cells x 9. All Horn/D8 inputs are the exact
integer (or bit-exact double) neighbor values, combined through ONE
expression text shared with the DuckDB twin; trig goes through the
repo's 6dp libm bridge in the GATE only (the operator returns full
doubles).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C
from ..sources.synth import dlit

# compass position names by (sdx, sdy) = source offset FROM the target
_POS = {
    (-1, 1): "nw", (0, 1): "n", (1, 1): "ne",
    (-1, 0): "w", (0, 0): "c", (1, 0): "e",
    (-1, -1): "sw", (0, -1): "s", (1, -1): "se",
}

GX_EXPR = "(((z_ne + 2 * z_e + z_se) - (z_nw + 2 * z_w + z_sw)) / 8.0)"
GY_EXPR = "(((z_nw + 2 * z_n + z_ne) - (z_sw + 2 * z_s + z_se)) / 8.0)"
SLOPE_EXPR = f"atan(sqrt({GX_EXPR} * {GX_EXPR} + {GY_EXPR} * {GY_EXPR}))"
def _aspect_expr() -> str:
    # compass bearing of steepest DESCENT: ascent is (gx, gy), descent
    # (-gx, -gy); bearing = atan2(east, north) in (-180, 180] mapped to
    # [0, 360) via +360-then-floor-mod (identical text both engines)
    b = f"degrees(atan2(-({GX_EXPR}), -({GY_EXPR})))"
    return (
        f"(case when {GX_EXPR} = 0.0 and {GY_EXPR} = 0.0 then -1.0 "
        f"else ({b} + 360.0) - floor(({b} + 360.0) / 360.0) * 360.0 end)"
    )


def _hillshade_expr(azimuth_deg: float, zenith_deg: float) -> str:
    az = dlit(azimuth_deg)
    zen = dlit(zenith_deg)
    asp = _aspect_expr()
    # flat cells (aspect -1): the aspect term vanishes with slope = 0
    return (
        f"(255.0 * greatest(0.0, "
        f"cos(radians({zen})) * cos({SLOPE_EXPR}) "
        f"+ sin(radians({zen})) * sin({SLOPE_EXPR}) "
        f"* cos(radians({az}) - radians(case when {asp} < 0.0 then 0.0 "
        f"else {asp} end))))"
    )


def _d8_expr() -> str:
    """ESRI D8 code via a greatest-of-8 cascade over drop/distance —
    ONE text both engines; ties to the smallest code."""
    s2 = dlit(math.sqrt(2.0))
    drops = [
        ("1", "(z_c - z_e)"),
        ("2", f"((z_c - z_se) / {s2})"),
        ("4", "(z_c - z_s)"),
        ("8", f"((z_c - z_sw) / {s2})"),
        ("16", "(z_c - z_w)"),
        ("32", f"((z_c - z_nw) / {s2})"),
        ("64", "(z_c - z_n)"),
        ("128", f"((z_c - z_ne) / {s2})"),
    ]
    best = "greatest(" + ", ".join(d for _, d in drops) + ")"
    cascade = " ".join(
        f"when {best} = {d} then {code}" for code, d in drops
    )
    return f"(case when {best} <= 0.0 then 0 {cascade} end)"


def _pivoted(dem: DataFrame, res: int, cell: str, elev: str) -> DataFrame:
    src = dem.select(
        F.col(cell).alias("cell_id"), F.col(elev).cast("double").alias("z")
    )
    nx, ny = F.lit(2 << res).cast("long"), F.lit(1 << res).cast("long")
    ix, iy = C.cell_ix("cell_id"), C.cell_iy("cell_id")
    base = F.lit(res * C.RES_BITS_SHIFT)
    offs = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            tix = F.pmod(ix + F.lit(dx), nx)
            tiy = iy + F.lit(dy)
            tgt = base + tix * F.lit(C.IX_SHIFT) + tiy
            # source position relative to target = (-dx, -dy)
            offs.append(
                F.when(
                    (tiy >= 0) & (tiy < ny),
                    F.struct(
                        tgt.alias("tgt"),
                        F.lit(_POS[(-dx, -dy)]).alias("pos"),
                    ),
                )
            )
    scattered = src.select(
        "z", F.explode(F.array_compact(F.array(*offs))).alias("o")
    ).select("z", F.col("o.tgt").alias("cell_id"), F.col("o.pos").alias("pos"))
    aggs = [
        F.sum(F.when(F.col("pos") == p, F.col("z"))).alias(f"z_{p}")
        for p in _POS.values()
    ]
    return (
        scattered.groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("_n"), *aggs)
        .filter(F.col("_n") == 9)
        .drop("_n")
    )


def terrain(
    dem: DataFrame,
    res: int,
    azimuth_deg: float = 315.0,
    zenith_deg: float = 45.0,
    cell: str = "cell_id",
    elev: str = "elev",
) -> DataFrame:
    """(cell_id, elev, slope_rad, aspect_deg, hillshade, d8) per
    interior cell (full 3x3 window present)."""
    piv = _pivoted(dem, res, cell, elev)
    return piv.select(
        "cell_id",
        F.col("z_c").alias("elev"),
        F.expr(SLOPE_EXPR).alias("slope_rad"),
        F.expr(_aspect_expr()).alias("aspect_deg"),
        F.expr(_hillshade_expr(azimuth_deg, zenith_deg)).alias("hillshade"),
        F.expr(_d8_expr()).cast("int").alias("d8"),
    )


def terrain_sql(
    dem_rel: str,
    res: int,
    azimuth_deg: float = 315.0,
    zenith_deg: float = 45.0,
) -> str:
    """DuckDB twin over a relation with (cell_id, elev): identical
    scatter/pivot (wrap + in-range latitude, interior-9 filter) and the
    IDENTICAL expression texts. Positional sums are doubles (exact for
    integer-valued DEMs), so no HUGEINT cast is needed."""
    nx, ny = 2 << res, 1 << res
    offs = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    pos_case = " ".join(
        f"when sdx = {p[0]} and sdy = {p[1]} then '{n}'"
        for p, n in _POS.items()
    )
    piv = ", ".join(
        f"sum(case when pos = '{n}' then z end) as z_{n}"
        for n in _POS.values()
    )
    return f"""
with src as materialized (
  select cell_id, cast(elev as double) as z,
         ((cell_id % {C.RES_BITS_SHIFT}) // {C.IX_SHIFT}) as ix,
         (cell_id % {C.IX_SHIFT}) as iy
  from {dem_rel}
),
scattered as (
  select s.z,
         ({res} * {C.RES_BITS_SHIFT}
          + (((ix + o.dx + {nx}) % {nx}) * {C.IX_SHIFT}) + (iy + o.dy))
           as cell_id,
         case {pos_case} end as pos
  from src s,
       (select dx, dy, -dx as sdx, -dy as sdy
        from (values {offs}) t(dx, dy)) o
  where iy + o.dy >= 0 and iy + o.dy < {ny}
),
piv as (
  select cell_id, {piv}
  from scattered group by cell_id having count(*) = 9
)
select cell_id, z_c as elev,
       {SLOPE_EXPR} as slope_rad,
       {_aspect_expr()} as aspect_deg,
       {_hillshade_expr(azimuth_deg, zenith_deg)} as hillshade,
       cast({_d8_expr()} as int) as d8
from piv
"""
