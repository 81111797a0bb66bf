"""Exact point-level DBSCAN on the cell grid (Ester et al. 1996).

`hotspot.py` is the grid-density approximation (cell-level clusters);
this operator is textbook DBSCAN — per-POINT eps-ball neighbor counts,
core/border/noise roles — made scale-safe by the repo's standard trick:
quantize points to grid cells whose edge >= the eps ellipse, so every
eps-neighbor of a point lives in its 3x3 cell ring and the candidate
join is a hash join on cell id (cost ∝ points × local density), never
an all-pairs product. Clustering is min-label connected components over
CORE-CORE edges (dedup.connected_components, O(log d) pointer-jumping
rounds), which replaces the reference's in-process region-growing scan
(the same move that replaced its R-tree: pkg/datastructure/rtree.go).

Pinned semantics (deterministic where the textbook is scan-order
dependent):

- the eps ball is equirectangular in degree space about a fixed band
  latitude: dist2 = dlat^2 + (dlon * LON_SCALE)^2 <= eps^2, evaluated as
  ONE shared SQL text (`dist2_expr`) so the DuckDB twin runs the
  identical arithmetic bit-for-bit;
- |N_eps(p)| counts p itself, so core <=> (neighbors excluding self)
  >= min_pts - 1;
- cluster_id = MIN core point id in the core component (textbook DBSCAN
  labels by discovery order — not reproducible on a cluster);
- a border point (non-core with >= 1 core neighbor) joins the MIN
  cluster_id among its core neighbors (textbook: first discoverer wins);
- noise points get cluster_id NULL, role 'noise'.

Plan shape (100 TB posture): plane-sweep candidate join — each point
explodes its own cell plus the 4 FORWARD neighbor cells (E/NE/N/NW in
(ix, iy) order), so every unordered cross-cell pair is probed exactly
once and the matched (small) pair set is symmetrized afterward with a
cheap swap-union: 5/9 the join volume of the naive full 3x3 ring probe
(measured 1.5x on the candidate stage at 8M points). The directed pair
frame is localCheckpoint'd ONCE because three consumers need it
(neighbor counts, core-core edges, border attach) and Catalyst shares
nothing across plan branches (CLAUDE.md round-4). Pair volume is
data-sized (N × mean ring occupancy), the same working set any exact
DBSCAN must touch; density skew (a mega-hot cell) surfaces as one heavy
join key — pick `res` one level finer if a single cell dominates.

Cluster labeling uses the standard distributed-DBSCAN contraction
(`block_shift`): core-core edges whose endpoints share a coarse BLOCK
(parent cell, 2^block_shift cells on a side) are resolved by a per-block
union-find kernel (one shuffle, bounded groups), and only the CROSS-
block edges — a boundary-fraction ~2*eps/block_edge of the total — enter
the iterative pointer-jumping CC, contracted to block-local roots and
deduplicated. The global iterative stage therefore touches a few % of
the edges and converges in ~1-2 rounds (cluster diameter in block units
is tiny for sub-critical densities); measured 1.5x end-to-end at 1M
points / local[32] (44.5s -> 29.2s, identical output checksum) vs
feeding the CC every core-core edge — the residue is fixed per-round job
latency, which is also why small inputs don't speed up further (see
the dbscan entry of tools/bench_registry.py). `block_shift=None` disables the contraction
(direct CC over all core-core edges, same output).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C
from ..sources.synth import dlit
from .dedup import connected_components

# Fixed longitude scale for the eps ball (cos of the fixture band's
# mid-latitude, pinned as a literal so no libm is involved on either
# engine). Callers outside the band pass their own.
LON_SCALE = 0.991


def dist2_expr(lon_scale: float = LON_SCALE) -> str:
    """Squared equirectangular distance in degree^2 between (alat, alon)
    and (blat, blon) — ONE text for F.expr and the DuckDB twin."""
    s2 = dlit(lon_scale * lon_scale)
    return (
        "((alat - blat) * (alat - blat)"
        f" + ((alon - blon) * (alon - blon)) * {s2})"
    )


def pick_res(eps: float, lon_scale: float = LON_SCALE) -> int:
    """Finest grid resolution whose cell edge covers the eps ellipse's
    longer (longitude) semi-axis, so the 3x3 ring is a complete
    candidate cover."""
    reach = eps / lon_scale
    res = int(math.floor(math.log2(180.0 / reach)))
    # floor 1, not 0 (ADVICE r08): at res 0 the grid has only nx=2
    # longitude columns, so the dx=+1 forward probe from ix=0 and from
    # ix=1 wrap onto EACH OTHER and every cross-column pair would be
    # emitted twice by the symmetrizing explode (inflated neighbor
    # counts -> bogus cores). res >= 1 keeps forward-probe targets
    # distinct from their sources; a 90-degree cell still covers any
    # meaningful eps.
    return max(1, min(res, 28))


def _local_uf(pdf):
    """Per-block union-find over core-core edges: (node, lroot) with
    lroot = the MIN node id in the block-local component."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pdf["pa"], pdf["pb"]):
        a, b = int(a), int(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    return pd.DataFrame(
        {"node": nodes, "lroot": [find(x) for x in nodes]}
    )


def dbscan(
    points: DataFrame,
    eps: float,
    min_pts: int,
    res: int | None = None,
    lon_scale: float = LON_SCALE,
    block_shift: int | None = 5,
    id_col: str = "point_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """(point_id, role, cluster_id) for every input point; role in
    {'core','border','noise'}; cluster_id NULL exactly for noise."""
    if min_pts < 2:
        # min_pts = 1 would need isolated points (absent from the pair
        # frame) to count themselves as cores — not worth the extra scan
        raise ValueError("min_pts must be >= 2")
    if eps <= 0:
        raise ValueError("eps must be > 0")
    if res is None:
        res = pick_res(eps, lon_scale)
    if C.cell_size_deg(res) < eps / lon_scale:
        raise ValueError(
            f"cell edge {C.cell_size_deg(res)} at res {res} is smaller than "
            f"the eps reach {eps / lon_scale} — the 3x3 ring would miss "
            "neighbors; use pick_res()"
        )

    pts = points.select(
        F.col(id_col).alias("pid"),
        F.col(lat).alias("plat"),
        F.col(lon).alias("plon"),
        C.latlng_to_cell(lat, lon, res).alias("cell"),
    )
    # forward neighbor cells: same cell handled by a separate leg (both
    # directions fall out of the join), E/NE/N/NW probed once and the
    # matches symmetrized below. array_distinct + the != filter absorb
    # pole-clamp collapses exactly like k_ring does.
    nx_l, ny_l = F.lit(2 << res).cast("long"), F.lit(1 << res).cast("long")
    ix, iy = C.cell_ix("cell"), C.cell_iy("cell")
    base = F.lit(res * C.RES_BITS_SHIFT)

    def _nb(dx, dy):
        wix = F.pmod(ix + F.lit(dx), nx_l)
        wiy = F.least(
            F.greatest(iy + F.lit(dy), F.lit(0).cast("long")), ny_l - 1
        )
        return base + wix * F.lit(C.IX_SHIFT) + wiy

    fwd_cells = F.filter(
        F.array_distinct(
            F.array(_nb(1, -1), _nb(1, 0), _nb(1, 1), _nb(0, 1))
        ),
        lambda c: c != F.col("cell"),
    )
    a_side = [
        F.col("pid").alias("pa"),
        F.col("plat").alias("alat"),
        F.col("plon").alias("alon"),
        F.col("cell").alias("acell"),
    ]
    ring_fwd = pts.select(*a_side, F.explode(fwd_cells).alias("nb"))
    ring_same = pts.select(*a_side, F.col("cell").alias("nb"))
    other = pts.select(
        F.col("pid").alias("pb"),
        F.col("plat").alias("blat"),
        F.col("plon").alias("blon"),
        F.col("cell").alias("nb"),
    )
    pres = max(0, res - block_shift) if block_shift is not None else None

    def _blk(col):
        return (
            [C.cell_to_parent(col, pres).alias(f"{col[0]}blk")]
            if block_shift is not None
            else []
        )

    eps_pred = F.expr(dist2_expr(lon_scale)) <= F.lit(eps * eps)
    same = (
        ring_same.join(other, "nb")
        .filter(F.col("pa") != F.col("pb"))
        .filter(eps_pred)
        .select("pa", "pb", *_blk("acell"), *_blk("nb"))
    )
    blk = (
        lambda a, b: [F.col(a).alias("ablk"), F.col(b).alias("bblk")]
    ) if block_shift is not None else (lambda a, b: [])
    # symmetrize the forward matches INLINE (one explode) — a swap-union
    # of two subtrees would re-execute the join per branch (CLAUDE.md
    # round-4: Catalyst shares nothing across plan branches)
    fwd = (
        ring_fwd.join(other, "nb")
        .filter(eps_pred)
        .select("pa", "pb", *_blk("acell"), *_blk("nb"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("pa"), F.col("pb"), *blk("ablk", "nblk")),
                    F.struct(
                        F.col("pb").alias("pa"),
                        F.col("pa").alias("pb"),
                        *blk("nblk", "ablk"),
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
    )
    out_names = ["pa", "pb"] + (
        ["ablk", "bblk"] if block_shift is not None else []
    )
    # directed candidate pairs -> exact eps filter (shared SQL text).
    # Checkpointed once: consumed by counts, core-core edges, and the
    # border attach (three subtrees; see module docstring).
    pairs = (
        same.toDF(*out_names)
        .unionByName(fwd.toDF(*out_names))
        .localCheckpoint(eager=True)
    )

    counts = pairs.groupBy("pa").agg(F.count("*").alias("n_nbrs"))
    cores = counts.filter(F.col("n_nbrs") >= min_pts - 1).select(
        F.col("pa").alias("core_id")
    ).localCheckpoint(eager=True)

    core_edges = (
        pairs.filter(F.col("pa") < F.col("pb"))
        .join(cores.withColumnRenamed("core_id", "pa"), "pa")
        .join(cores.withColumnRenamed("core_id", "pb"), "pb")
    )
    lmap = None
    if block_shift is None:
        cc = connected_components(
            core_edges.select("pa", "pb"), a="pa", b="pb"
        )
        core_clusters = (
            cores.join(cc, cores["core_id"] == cc["node"], "left")
            .select(
                "core_id",
                F.coalesce("component_id", F.col("core_id")).alias(
                    "cluster_id"
                ),
            )
            .localCheckpoint(eager=True)
        )
    else:
        within = core_edges.filter(F.col("ablk") == F.col("bblk"))
        lmap = (
            within.groupBy("ablk")
            .applyInPandas(_local_uf, "node long, lroot long")
            .localCheckpoint(eager=True)
        )
        cross = core_edges.filter(F.col("ablk") != F.col("bblk")).select(
            "pa", "pb"
        )
        cross2 = (
            cross.join(
                lmap.select(F.col("node").alias("pa"), F.col("lroot").alias("ra")),
                "pa",
                "left",
            )
            .join(
                lmap.select(F.col("node").alias("pb"), F.col("lroot").alias("rb")),
                "pb",
                "left",
            )
            .select(
                F.coalesce("ra", "pa").alias("ra"),
                F.coalesce("rb", "pb").alias("rb"),
            )
            .filter(F.col("ra") != F.col("rb"))
            .distinct()
        )
        gcc = connected_components(cross2, a="ra", b="rb")
        rootmap = gcc.select(
            F.col("node").alias("lroot"), F.col("component_id").alias("groot")
        )
        core_clusters = (
            cores.join(
                lmap.select(F.col("node").alias("core_id"), "lroot"),
                "core_id",
                "left",
            )
            .withColumn("lroot", F.coalesce("lroot", F.col("core_id")))
            .join(rootmap, "lroot", "left")
            .select(
                "core_id",
                F.coalesce("groot", "lroot").alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )

    border = (
        pairs.join(
            core_clusters.withColumnRenamed("core_id", "pb"), "pb"
        )
        .join(cores.withColumnRenamed("core_id", "pa"), "pa", "left_anti")
        .groupBy("pa")
        .agg(F.min("cluster_id").alias("b_cluster"))
    )

    out = (
        pts.select(F.col("pid").alias("point_id"))
        .join(
            core_clusters.select(
                F.col("core_id").alias("point_id"),
                F.col("cluster_id").alias("c_cluster"),
            ),
            "point_id",
            "left",
        )
        .join(
            border.select(
                F.col("pa").alias("point_id"), "b_cluster"
            ),
            "point_id",
            "left",
        )
        .select(
            "point_id",
            F.when(F.col("c_cluster").isNotNull(), F.lit("core"))
            .when(F.col("b_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("c_cluster", "b_cluster").alias("cluster_id"),
        )
    )
    result = out.localCheckpoint(eager=True)
    for frame in (pairs, cores, core_clusters) + (
        (lmap,) if lmap is not None else ()
    ):
        frame.unpersist()
    return result


def dbscan_sql(
    points_rel: str,
    eps: float,
    min_pts: int,
    res: int | None = None,
    lon_scale: float = LON_SCALE,
) -> str:
    """DuckDB twin over a relation with (point_id, lat, lon): identical
    cell assignment (latlng_to_cell_sql), the same 3x3 ring with lon wrap
    + lat clamp as functions/cells.k_ring, the IDENTICAL dist2 text, and
    min-label components via a recursive transitive-closure CTE (fixture
    clusters are small by construction; see the query's eps choice).
    Multi-referenced CTEs are `as materialized` (CLAUDE.md round-8:
    DuckDB re-inlines every CTE reference)."""
    if res is None:
        res = pick_res(eps, lon_scale)
    nx, ny = 2 << res, 1 << res
    size = C.cell_size_deg(res)
    ix = f"least(greatest(cast(floor((lon + 180.0) / {size!r}) as bigint), 0), {nx - 1})"
    iy = f"least(greatest(cast(floor((lat + 90.0) / {size!r}) as bigint), 0), {ny - 1})"
    eps2 = dlit(eps * eps)
    return f"""
with recursive pts as materialized (
  select point_id, lat, lon,
         ({res} * {C.RES_BITS_SHIFT} + {ix} * {C.IX_SHIFT} + {iy}) as cell,
         {ix} as ix, {iy} as iy
  from (select point_id, lat, lon from {points_rel}) p
),
ring as (
  select distinct point_id as pa, lat as alat, lon as alon,
         ({res} * {C.RES_BITS_SHIFT}
          + (((ix + dx.d + {nx}) % {nx}) * {C.IX_SHIFT})
          + least(greatest(iy + dy.d, 0), {ny - 1})) as nb
  from pts,
       (values (-1), (0), (1)) dx(d),
       (values (-1), (0), (1)) dy(d)
),
pairs as materialized (
  select r.pa, p.point_id as pb
  from ring r join pts p on p.cell = r.nb
  where r.pa <> p.point_id
    and ((r.alat - p.lat) * (r.alat - p.lat)
         + ((r.alon - p.lon) * (r.alon - p.lon)) * {dlit(lon_scale * lon_scale)}) <= {eps2}
),
cores as materialized (
  select pa as core_id from pairs group by pa
  having count(*) >= {min_pts - 1}
),
core_edges as materialized (
  select p.pa as a, p.pb as b
  from pairs p
  join cores ca on ca.core_id = p.pa
  join cores cb on cb.core_id = p.pb
  where p.pa < p.pb
),
sym as materialized (
  select a, b from core_edges union all select b as a, a as b from core_edges
),
reach as (
  select core_id as src, core_id as dst from cores
  union
  select r.src, s.b as dst from reach r join sym s on s.a = r.dst
),
core_clusters as materialized (
  select src as core_id, min(dst) as cluster_id from reach group by src
),
border as (
  select p.pa as bpid, min(cc.cluster_id) as b_cluster
  from pairs p
  join core_clusters cc on cc.core_id = p.pb
  where p.pa not in (select core_id from cores)
  group by p.pa
)
select pts.point_id,
       case when c.cluster_id is not null then 'core'
            when b.b_cluster is not null then 'border'
            else 'noise' end as role,
       coalesce(c.cluster_id, b.b_cluster) as cluster_id
from pts
left join core_clusters c on c.core_id = pts.point_id
left join border b on b.bpid = pts.point_id
"""
