"""Geodesic scalar functions as pure Spark Column expressions.

Semantics mirror the reference implementation exactly:
- Haversine: R=6371 km, hav(x)=(1-cos x)/2, c=2*asin(sqrt(a))
  (reference: pkg/datastructure/distance.go:19-28)
- Equirectangular approximation (reference: distance.go:31-35)
- Great-circle midpoint (reference: pkg/geo/geometry.go:63-76)
- Destination point (reference: pkg/geo/geometry.go:125-138)

Everything here compiles to JVM-side expressions inside whole-stage codegen —
no Python on the executor path. Each function has an ``*_sql`` twin that
emits the identical formula as ANSI SQL text, used to build DuckDB oracle
queries that must hash-match the Spark output.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def haversine_km(
    lat1: Column | str, lon1: Column | str, lat2: Column | str, lon2: Column | str
) -> Column:
    """Great-circle distance in km (reference distance.go:19-28)."""
    lat1, lon1, lat2, lon2 = (F.radians(_col(c)) for c in (lat1, lon1, lat2, lon2))
    hav_lat = (1.0 - F.cos(lat1 - lat2)) / 2.0
    hav_lon = (1.0 - F.cos(lon1 - lon2)) / 2.0
    a = hav_lat + F.cos(lat1) * F.cos(lat2) * hav_lon
    return F.lit(EARTH_RADIUS_KM) * 2.0 * F.asin(F.sqrt(a))


def haversine_km_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Identical formula as SQL text (for the DuckDB oracle)."""
    r = "radians"
    return (
        f"6371.0 * 2.0 * asin(sqrt("
        f"(1.0 - cos({r}({lat1}) - {r}({lat2}))) / 2.0"
        f" + cos({r}({lat1})) * cos({r}({lat2}))"
        f" * (1.0 - cos({r}({lon1}) - {r}({lon2}))) / 2.0))"
    )


def midpoint(
    lat1: Column | str, lon1: Column | str, lat2: Column | str, lon2: Column | str
) -> Column:
    """Great-circle midpoint as struct(lat, lon) (geometry.go:63-76)."""
    p1 = F.radians(_col(lat1))
    p2 = F.radians(_col(lat2))
    dlon = F.radians(_col(lon2) - _col(lon1))
    bx = F.cos(p2) * F.cos(dlon)
    by = F.cos(p2) * F.sin(dlon)
    mlat = F.atan2(
        F.sin(p1) + F.sin(p2),
        F.sqrt((F.cos(p1) + bx) * (F.cos(p1) + bx) + by * by),
    )
    mlon = F.radians(_col(lon1)) + F.atan2(by, F.cos(p1) + bx)
    return F.struct(
        F.degrees(mlat).alias("lat"), F.degrees(mlon).alias("lon")
    )


def destination_point(
    lat: Column | str, lon: Column | str, bearing_deg: Column | str, dist_km: Column | str
) -> Column:
    """Point at (bearing, distance) from origin as struct(lat, lon).

    Standard movable-type formula (the reference's geometry.go:125-138 has a
    typo — `+ cos(lat1) +` instead of `* cos(lat1) *`; we implement the
    correct published formula, which is what the reference cites).
    """
    la = F.radians(_col(lat))
    lo = F.radians(_col(lon))
    br = F.radians(_col(bearing_deg))
    ang = _col(dist_km) / F.lit(EARTH_RADIUS_KM)
    dlat = F.asin(F.sin(la) * F.cos(ang) + F.cos(la) * F.sin(ang) * F.cos(br))
    dlon = lo + F.atan2(
        F.sin(br) * F.sin(ang) * F.cos(la), F.cos(ang) - F.sin(la) * F.sin(dlat)
    )
    import math

    dlon = ((dlon + 3 * math.pi) % (2 * math.pi)) - math.pi
    return F.struct(F.degrees(dlat).alias("lat"), F.degrees(dlon).alias("lon"))


def buffer_ring(
    lat: Column | str,
    lon: Column | str,
    radius_km: Column | float,
    n_vertices: int = 32,
) -> Column:
    """Geodesic point buffer (ST_Buffer for points): a closed CCW
    `n_vertices`-gon approximating the radius circle, as
    array<struct<lat, lon>> built from `destination_point` at evenly
    spaced bearings — pure Column, per-row radius allowed. Closure is
    exact (vertex n recomputes vertex 0's bearing). Bridges circles
    (geofences) into the polygon stack (PIP / overlap / clip / raster).
    Vertex error vs the true circle is radius * (1 - cos(pi/n)): at n=32,
    ~0.5% of the radius."""
    r = radius_km if isinstance(radius_km, Column) else F.lit(float(radius_km))
    n = n_vertices
    step = 360.0 / n

    def vertex(k):
        b = ((F.lit(n) - (k % n)) % n).cast("double") * F.lit(step)
        return destination_point(_col(lat), _col(lon), b, r)

    return F.transform(F.sequence(F.lit(0), F.lit(n)), vertex)


def buffer_ring_vertex_sql(
    lat: str, lon: str, radius_km: str, k: str, n_vertices: int
) -> tuple[str, str]:
    """DuckDB twin: (lat, lon) SQL texts for buffer vertex `k` (0..n) —
    same formula, same bearing convention. Combine with a two-unnest
    generate_series zip for the per-vertex rows."""
    from ..sources.synth import dlit

    step = 360.0 / n_vertices
    b = f"((({n_vertices} - ({k} % {n_vertices})) % {n_vertices}) * {dlit(step)})"
    la = f"radians({lat})"
    ang = f"({radius_km} / {dlit(EARTH_RADIUS_KM)})"
    br = f"radians({b})"
    dlat = (
        f"asin(sin({la}) * cos({ang}) + cos({la}) * sin({ang}) * cos({br}))"
    )
    dlon = (
        f"(radians({lon}) + atan2(sin({br}) * sin({ang}) * cos({la}), "
        f"cos({ang}) - sin({la}) * sin({dlat})))"
    )
    import math

    wrapped = f"((({dlon}) + {dlit(3 * math.pi)}) % {dlit(2 * math.pi)} - {dlit(math.pi)})"
    return f"degrees({dlat})", f"degrees({wrapped})"


def ring_area_km2(ring_lat: Column | str, ring_lon: Column | str) -> Column:
    """Spherical ring area (km^2) by the Chamberlain–Duquette shoelace
    (the published turf.js/PostGIS-geography formula):
    |R^2/2 * sum (lam2 - lam1) * (2 + sin phi1 + sin phi2)| over the
    closed ring — exact for lat/lon-aligned rectangles (reduces to
    R^2 * dlam * (sin latN - sin latS)). Pure Column fold (F.aggregate
    over edge indices); short rings (< 2 points) return 0."""
    la, lo = _col(ring_lat), _col(ring_lon)
    n = F.size(la)

    def term(acc, i):
        lam1 = F.radians(F.element_at(lo, i))
        lam2 = F.radians(F.element_at(lo, i + 1))
        p1 = F.radians(F.element_at(la, i))
        p2 = F.radians(F.element_at(la, i + 1))
        return acc + (lam2 - lam1) * (F.lit(2.0) + F.sin(p1) + F.sin(p2))

    total = F.aggregate(F.sequence(F.lit(1), n - 1), F.lit(0.0), term)
    area = F.abs(total) * F.lit(EARTH_RADIUS_KM * EARTH_RADIUS_KM / 2.0)
    return F.when(n >= 2, area).otherwise(F.lit(0.0))


def ring_area_km2_sql(ring_lat: str, ring_lon: str) -> str:
    """DuckDB twin (list comprehension + list_sum; libm -> round on use)."""
    from ..sources.synth import dlit

    t = (
        f"(radians({ring_lon}[i+1]) - radians({ring_lon}[i]))"
        f" * (2.0 + sin(radians({ring_lat}[i])) + sin(radians({ring_lat}[i+1])))"
    )
    return (
        f"(case when len({ring_lat}) >= 2 then abs(coalesce(list_sum("
        f"[{t} for i in generate_series(1, len({ring_lat}) - 1)]), 0.0))"
        f" * {dlit(EARTH_RADIUS_KM ** 2 / 2.0)} else 0.0 end)"
    )


def ring_perimeter_km(ring_lat: Column | str, ring_lon: Column | str) -> Column:
    """Closed-ring perimeter: sum of haversine edge lengths (same R and
    formula as haversine_km). Pure Column fold; < 2 points -> 0."""
    la, lo = _col(ring_lat), _col(ring_lon)
    n = F.size(la)

    def edge(acc, i):
        return acc + haversine_km(
            F.element_at(la, i),
            F.element_at(lo, i),
            F.element_at(la, i + 1),
            F.element_at(lo, i + 1),
        )

    total = F.aggregate(F.sequence(F.lit(1), n - 1), F.lit(0.0), edge)
    return F.when(n >= 2, total).otherwise(F.lit(0.0))


def ring_perimeter_km_sql(ring_lat: str, ring_lon: str) -> str:
    """DuckDB twin of ring_perimeter_km."""
    h = haversine_km_sql(
        f"{ring_lat}[i]", f"{ring_lon}[i]",
        f"{ring_lat}[i+1]", f"{ring_lon}[i+1]",
    )
    return (
        f"(case when len({ring_lat}) >= 2 then coalesce(list_sum("
        f"[{h} for i in generate_series(1, len({ring_lat}) - 1)]), 0.0)"
        f" else 0.0 end)"
    )
