"""k-nearest-neighbor join via incremental annulus expansion.

Replaces the reference's best-first R-tree traversal
(incrementalNearestNeighbor, pkg/datastructure/rtree.go:675-713; radius +
feature filter variant rtree.go:648-672) with the grid analog:

- objects are indexed once as (ix, iy) at base resolution ``res``;
- each round explores only the ANNULUS between the previous covered
  Chebyshev radius and a 4x larger one — never the full disk — and does so
  at a coarser parent resolution as the radius grows, so the per-round
  fan-out stays ~constant (< ~150 cells/probe) no matter how sparse the
  neighborhood (round N covers radius 4^N with O(1) coarse cells, so even a probe
  hundreds of km from any object terminates in < 10 rounds);
- per-probe top-k candidates accumulate across rounds (bounded carry:
  k+offset rows per pending probe);
- a probe is **finalized** when its k-th nearest candidate is closer than
  the *guaranteed minimum distance* to any unexplored cell — the same
  "approximate rank, exact check" contract as the reference's PQ (minDist
  ordering rtree.go:541-566 with exact re-insertion :686-697);
- final ranking is exact Haversine with `row_number` per probe.

Distance bound after covering Chebyshev radius R (base cells, size deg):
an unexplored object either differs by > R rows (pure-latitude escape,
distance >= R*size*KM) or by > R columns (longitude escape; if it also sits
within +-R rows its latitude is within |plat| + (R+1)*size, so distance
>= R*size*KM*cos(that band)). Hence

    bound_km(R) = R * size * KM * max(cos(min(90deg, |plat|+(R+1)*size)), 0)
                  * SAFETY

computed PER PROBE (the cos shrink is probe-latitude-dependent — a scalar
check would finalize too early away from the equator). A band reaching the
pole gives bound 0: longitude escape can be arbitrarily short there, so
only the domain cap finalizes such probes.

Ring cap: probes stop expanding once the covered square contains the whole
object domain (one min/max aggregate over object cell coords) — a probe far
from all objects terminates in O(log(domain)) rounds instead of exploding
a (2r+1)^2 disk per round.

Scale posture: objects shuffle once onto the persisted index; each round
joins only *unfinished* probes against ~10^2 coarse cells each, so dense
areas finish in round 1 and only sparse-area probes escalate, at constant
per-round cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions.geodesy import haversine_km

KM_PER_DEG = 111.19492664455873  # 2*pi*6371/360, R=6371 per distance.go:6
SAFETY = 0.995


def _coarse_scale(r_outer: int) -> int:
    """log2 scale factor keeping the coarse square side ~<= 10 cells."""
    e = 0
    while (2 * r_outer) >> e > 8:
        e += 1
    return e


def knn_join(
    probes: DataFrame,
    objects: DataFrame,
    k: int,
    res: int = C.TILE_RES,
    radius_km: float | None = None,
    feature: str | None = None,
    probe_id: str = "probe_id",
    plat: str = "plat",
    plon: str = "plon",
    obj_id: str = "obj_id",
    olat: str = "olat",
    olon: str = "olon",
    max_rounds: int = 26,
    initial_ring: int = 1,
    offset: int = 0,
) -> DataFrame:
    """Exact k-NN of each probe against objects.

    Returns (probe_id, rank, obj_id, olat, olon, dist_km), rank in
    [offset+1, offset+k], ties broken by obj_id (deterministic — the
    reference's PQ order for exact ties was heap-order-dependent).

    feature: optional column-expression string evaluated on the object side
    (e.g. "tags[1] = 1") — the tag filter of rtree.go:652-659 fused into the
    join.
    """
    size = C.cell_size_deg(res)
    want = k + offset

    obj = objects
    if feature is not None:
        obj = obj.filter(F.expr(feature))
    obj = obj.select(
        C.cell_ix(C.latlng_to_cell(olat, olon, res)).alias("oix"),
        C.cell_iy(C.latlng_to_cell(olat, olon, res)).alias("oiy"),
        obj_id, olat, olon,
    )
    # Round-9: persist is DEFERRED until a second round is actually coming
    # (guide §5: caching pays only when reused). The common dense-probe
    # case finishes in round 1 having scanned the object table exactly
    # once, with no cache-materialization write; multi-round cases persist
    # before round 2 and trade one extra scan (the extent agg) for cached
    # reads in every later round.
    obj_persisted = False

    # object domain extent -> per-probe ring cap (ADVICE r01: without this a
    # probe far from every object doubles the ring forever)
    ext = obj.agg(
        F.min("oix").alias("x0"), F.max("oix").alias("x1"),
        F.min("oiy").alias("y0"), F.max("oiy").alias("y1"),
    )
    # coalesce(-1): zero objects -> every probe is domain-exhausted at the
    # first r_needed comparison -> empty result, no hang.
    r_needed = F.coalesce(
        F.greatest(
            F.col("pix") - F.col("x0"),
            F.col("x1") - F.col("pix"),
            F.col("piy") - F.col("y0"),
            F.col("y1") - F.col("piy"),
            F.lit(0).cast("long"),
        ),
        F.lit(-1).cast("long"),
    )
    # Round-9: the extent agg is DEFERRED to the first pend update — the
    # initial pend checkpoint touches only the probe side, so the first
    # full pass over the object table is the round-1 candidate join itself
    # (which also materializes the persisted index; one scan of the big
    # table saved). Round 1 therefore starts with r_needed = NULL: the
    # exhaustion term is coalesce(NULL<=r, false) = false, which can only
    # DELAY a domain-exhausted probe by one (empty, O(1)-cell) round —
    # its candidate set and final rows are unchanged. From the second
    # round on, r_needed is exact over the cached index.
    pend = probes.select(
        probe_id, plat, plon,
        C.cell_ix(C.latlng_to_cell(plat, plon, res)).alias("pix"),
        C.cell_iy(C.latlng_to_cell(plat, plon, res)).alias("piy"),
        F.lit(None).cast("long").alias("r_needed"),
    )

    # guaranteed min distance to any unexplored cell after covering radius R
    def bound_km(R: int) -> F.Column:
        band = F.least(
            F.abs(F.col(plat)) + F.lit(float(R + 1) * size), F.lit(90.0)
        )
        return (
            F.lit(float(R) * size * KM_PER_DEG * SAFETY)
            * F.greatest(F.cos(F.radians(band)), F.lit(0.0))
        )

    # Radius mode terminates per probe, not via a global ring cap: a probe
    # finishes when bound_km(r) >= radius_km (its unexplored cells are all
    # beyond the radius) or when it has covered the whole object domain
    # (r_needed <= r). At extreme latitude cos(lat)~0 keeps the first
    # condition from ever firing, but domain exhaustion still does in
    # O(log(domain)) quadrupling rounds — so radius results are EXACT at
    # every latitude (a prior global cap emitted best-effort rows there).

    # Driver-controlled iteration: every per-round frame is localCheckpointed
    # (eager) — each round's plan must NOT reference the previous round's
    # operators, or the lineage grows exponentially with rounds (ranked_N
    # references carried_{N-1} AND pend_N references finished_{N-1} which
    # references ranked_{N-1}...) and the driver OOMs stringifying the plan.
    #
    # Round-9 shape (guide §2.4 — fewer shuffles, fewer driver-synchronized
    # jobs): the per-probe finish stats (n_found, kth_dist) ride a SECOND
    # window over the SAME probe partitioning as the rank window (no new
    # Exchange), and the fin flag is computed per candidate row — the former
    # per-round stats groupBy + pend LEFT-join job collapses into the ranked
    # checkpoint. pend then updates with a probe-level filter plus an
    # anti-join against the quality-finished ids (zero-candidate probes can
    # only finish by exhaustion, which is pend-side arithmetic). The final
    # result is a union of filters over checkpointed frames — no closing
    # persist+count job is needed before releasing the object index.
    cand_cols = [probe_id, plat, "r_needed", obj_id, olat, olon, "dist_km"]
    done_parts: list[DataFrame] = []
    carried: DataFrame | None = None  # top-want so far for pending probes
    have_extent = False
    r_prev = -1
    r = max(1, initial_ring)
    # pend is counted once per checkpoint: the count feeds both the empty
    # exit and the next round's fast-path comparison
    pend = pend.localCheckpoint(eager=True)
    n_pend = pend.count()
    for _ in range(max_rounds):
        e = _coarse_scale(r)
        ring = C.annulus_cells(F.col("pix"), F.col("piy"), r, r_prev, e, res)
        okey = (
            F.lit((res - e) * C.RES_BITS_SHIFT)
            + F.shiftright(F.col("oix"), e) * F.lit(C.IX_SHIFT)
            + F.shiftright(F.col("oiy"), e)
        )
        new_cand = (
            pend.withColumn("qcell", F.explode(ring))
            .join(obj.withColumn("ocell", okey), F.col("qcell") == F.col("ocell"))
            .withColumn("dist_km", haversine_km(plat, plon, olat, olon))
        )
        if radius_km is not None:
            new_cand = new_cand.filter(F.col("dist_km") <= radius_km)
        new_cand = new_cand.select(*cand_cols)
        if carried is not None:
            new_cand = new_cand.unionByName(carried.select(*cand_cols))

        # coarse cells straddling the old boundary re-emit objects: dedup —
        # but only when e > 0 can a coarse cell overlap already-covered
        # ground (at e == 0 the annulus excludes the old square exactly), so
        # the big dense round 0 skips the extra shuffle entirely.
        # (olat/olon/dist are functions of (probe, obj); plat/r_needed of
        # probe — so the kept row is value-identical whichever duplicate
        # survives.) The want==1 argmin path below is duplicate-immune
        # (min over duplicates) and skips the dedup shuffle at any e.
        if e > 0 and want > 1:
            new_cand = new_cand.dropDuplicates([probe_id, obj_id])

        #   finished by quality: k-th candidate closer than the guaranteed
        #   min distance to any unexplored cell (per-probe cos-adjusted);
        #   finished by exhaustion: covered the whole object domain, or
        #   (radius mode) the bound already exceeds the radius. r_needed is
        #   a per-probe constant on every candidate row (NULL -> not yet
        #   exhausted in the pre-extent first round), so `fin` is uniform
        #   across a probe's rows.
        exhausted_cond = F.coalesce(F.col("r_needed") <= r, F.lit(False))
        if radius_km is not None:
            exhausted_cond = exhausted_cond | (bound_km(r) >= radius_km)
        if want == 1:
            # 1-NN argmin (round 9; the round-3 "argmin is not a ranking"
            # rule): groupBy + min(struct) gets map-side PARTIAL hash
            # aggregation — no per-partition sort of the full candidate
            # set (the rank-window form does sort map-side, even though
            # WindowGroupLimit caps what the exchange carries). Struct
            # order (dist_km, obj_id, ...) == the window's orderBy, so
            # the surviving row is identical; n_found >= 1 holds for any
            # probe present in the aggregate.
            g = new_cand.groupBy(probe_id).agg(
                F.min(
                    F.struct(
                        F.col("dist_km"), F.col(obj_id), F.col(olat),
                        F.col(olon), F.col(plat), F.col("r_needed"),
                    )
                ).alias("b")
            )
            ranked = (
                g.select(
                    probe_id,
                    F.col(f"b.{plat}").alias(plat),
                    F.col("b.r_needed").alias("r_needed"),
                    F.col(f"b.{obj_id}").alias(obj_id),
                    F.col(f"b.{olat}").alias(olat),
                    F.col(f"b.{olon}").alias(olon),
                    F.col("b.dist_km").alias("dist_km"),
                )
                .withColumn("rank", F.lit(1))
                .withColumn(
                    "fin",
                    (F.col("dist_km") <= bound_km(r)) | exhausted_cond,
                )
                .localCheckpoint(eager=True)
            )
        else:
            w = Window.partitionBy(probe_id).orderBy("dist_km", obj_id)
            wp = Window.partitionBy(probe_id)
            quality_cond = (F.count("*").over(wp) >= want) & (
                F.max("dist_km").over(wp) <= bound_km(r)
            )
            ranked = (
                new_cand
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= want)
                .withColumn("fin", quality_cond | exhausted_cond)
                .localCheckpoint(eager=True)
            )

        done_parts.append(
            ranked.filter("fin").select(
                probe_id, "rank", obj_id, olat, olon, "dist_km"
            )
        )
        # Fast-path exit (round 9, guide §2.4): when every pending probe
        # appears in ranked as finished (fin is probe-uniform and fin
        # probe ids are a subset of pend ids; rank 1 occurs exactly once
        # per probe in both ranked shapes), the next pend is provably
        # empty — two O(tiny) counts over already-checkpointed frames
        # replace the anti-join pend checkpoint + isEmpty jobs the common
        # finish-in-one-round case was paying. Duplicate probe ids or
        # candidate-less exhaustion finishes simply fail the equality and
        # fall through to the exact pend update below.
        if ranked.filter(F.col("fin") & (F.col("rank") == 1)).count() == n_pend:
            carried = None
            break
        fin_ids = ranked.filter("fin").select(probe_id)
        pend = pend.filter(~exhausted_cond).join(
            fin_ids, probe_id, "leftanti"
        ).localCheckpoint(eager=True)
        n_pend = pend.count()
        if n_pend == 0:
            carried = None
            break
        if not obj_persisted:
            # another round IS coming: pin the object index now so every
            # later round (and the extent agg below) reads the cache
            # instead of re-scanning the source.
            obj = obj.persist()
            obj_persisted = True
        if not have_extent:
            # another round IS coming: attach the domain extent exactly
            # once, reading the persisted obj index. Deliberately AFTER
            # the empty check — the common finish-in-one-round case never
            # pays the extent aggregate. The cross join is with a 1-row
            # aggregate, so n_pend still counts this pend.
            pend = (
                pend.drop("r_needed")
                .crossJoin(F.broadcast(ext))
                .withColumn("r_needed", r_needed)
                .drop("x0", "x1", "y0", "y1")
                .localCheckpoint(eager=True)
            )
            have_extent = True
        # lazy is fine: depth stays bounded (the parents are checkpointed);
        # carried rows take the refreshed per-probe r_needed from pend so
        # next round's row-level fin stays probe-uniform
        carried = (
            ranked.filter(~F.col("fin"))
            .drop("r_needed")
            .join(pend.select(probe_id, "r_needed"), probe_id)
        )
        r_prev, r = r, r * 4
    else:
        # max_rounds hit: emit best-effort carried results for leftovers
        if carried is not None:
            done_parts.append(
                carried.select(probe_id, "rank", obj_id, olat, olon, "dist_km")
            )

    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    if offset:
        out = out.filter(F.col("rank") > offset)
    # every done part filters a checkpointed frame — the plan no longer
    # references the cached object index, so it can be released with no
    # extra materialization job
    if obj_persisted:
        obj.unpersist()
    return out


def reverse_geocode(
    probes: DataFrame, objects: DataFrame, res: int = C.TILE_RES, **kw
) -> DataFrame:
    """1-NN over all objects (ReverseGeocoding, searcher.go:679-686)."""
    return knn_join(probes, objects, k=1, res=res, **kw)
