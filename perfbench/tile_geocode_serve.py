"""Workload `tile_geocode_serve`: the north-star batch job, then the
index build and the interactive endpoints.

Geotagged image+caption records (the images-table shape) go through the
point-in-polygon join against a layer of irregular octagons and are written
as range-partitioned tiles; then a bulk nearby search (k=5) runs as a kNN
join of seeded probes against a bare point layer; then the search index
is built from seeded OSM tables and serves a search and a reverse geocode
(k=1, single probe; see index_serve.py).

One cycle = tile pass + k=5 batch + index build + requests. Every output
is checked against a brute-force re-derivation in numpy.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa

from . import common
from .index_serve import IndexServe

# Input sizes (all seeded; see BENCHMARK.json for the rationale).
N_RECORDS = 3000
DENSE_SHARE = 0.30  # share of records in the dense clusters
N_CLUSTERS = 4
CLUSTER_SIGMA_DEG = 0.002
N_POLYGONS = 2000  # above the 256-polygon driver-cover cutoff
POLY_RADIUS_DEG = 0.0045
PAYLOAD_POOL = 64  # distinct make_row images the payloads come from
N_OBJECTS = 100_000
N_PROBES = 500
KNN_K = 5
# Every probe lies inside the object extent, so the batch finishes in ring
# round 1. Probes 1-3 cells outside it would add ring rounds (18 more jobs,
# ~6.5 s a cold run on a 4-core box), which did not fit the time budget.
# Tiles holding more rows than this get salted (the skew path); the dense
# clusters put a few hundred records into single tiles.
MAX_ROWS_PER_TASK = 64
LAT0, LAT1, LON0, LON1 = -6.4, -6.0, 106.6, 107.0

CHECK_RECORDS = 150  # records whose polygon matches are re-derived per pass
CHECK_PROBES = 40  # probes re-ranked by brute force per batch


def _winding_inside(plat, plon, ring_lat, ring_lon):
    """Brute-force winding-number test of points (plat, plon) against ONE
    ring (closed implicitly), with the reference's boundary rule that the
    engine reproduces: a point inside any edge's bounding box counts as on
    the boundary, hence inside. Returns a bool array."""
    on_edge = np.zeros(len(plat), dtype=bool)
    wn = np.zeros(len(plat), dtype=np.int64)
    n = len(ring_lat)
    for i in range(n):
        alat, alon = ring_lat[i], ring_lon[i]
        blat, blon = ring_lat[(i + 1) % n], ring_lon[(i + 1) % n]
        on_edge |= (
            (plon >= min(alon, blon)) & (plon <= max(alon, blon))
            & (plat >= min(alat, blat)) & (plat <= max(alat, blat))
        )
        cross = (blon - alon) * (plat - alat) - (plon - alon) * (blat - alat)
        wn += ((alat <= plat) & (blat > plat) & (cross > 0)).astype(np.int64)
        wn -= ((alat > plat) & (blat <= plat) & (cross < 0)).astype(np.int64)
    return on_edge | (wn != 0)


def _tile_id(lat, lon, res=14):
    size = 180.0 / (1 << res)
    ix = np.clip(np.floor((lon + 180.0) / size), 0, (2 << res) - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / size), 0, (1 << res) - 1).astype(np.int64)
    return res * (1 << 58) + ix * (1 << 29) + iy


class TileGeocodeServe:
    name = "tile_geocode_serve"

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.n_pass = 0
        self.index = IndexServe(spark, work, tracer)

    # ---- set-up -------------------------------------------------------
    def generate(self, out: str) -> None:
        """Generate every input from the seed and stage it as parquet."""
        from osm_search_spark.sources.images import make_row

        rng = np.random.default_rng(self.seed)
        pool = [make_row(i) for i in range(PAYLOAD_POOL)]

        n_dense = int(N_RECORDS * DENSE_SHARE)
        centers = np.column_stack(
            [rng.uniform(LAT0 + 0.05, LAT1 - 0.05, N_CLUSTERS),
             rng.uniform(LON0 + 0.05, LON1 - 0.05, N_CLUSTERS)]
        )
        which = rng.integers(0, N_CLUSTERS, n_dense)
        lat = np.concatenate(
            [centers[which, 0] + rng.normal(0, CLUSTER_SIGMA_DEG, n_dense),
             rng.uniform(LAT0, LAT1, N_RECORDS - n_dense)]
        )
        lon = np.concatenate(
            [centers[which, 1] + rng.normal(0, CLUSTER_SIGMA_DEG, n_dense),
             rng.uniform(LON0, LON1, N_RECORDS - n_dense)]
        )
        order = rng.permutation(N_RECORDS)
        lat, lon = lat[order], lon[order]
        src = [pool[j] for j in rng.integers(0, PAYLOAD_POOL, N_RECORDS)]
        records = pa.table(
            {
                "image_id": [f"img_{self.seed}_{i:07d}" for i in range(N_RECORDS)],
                "bytes": pa.array([r["bytes"] for r in src], pa.binary()),
                "w": pa.array([r["w"] for r in src], pa.int32()),
                "h": pa.array([r["h"] for r in src], pa.int32()),
                "fmt": [r["fmt"] for r in src],
                "caption": [r["caption"] for r in src],
                "phash": pa.array([r["phash"] for r in src], pa.int64()),
                "lat": lat,
                "lon": lon,
            }
        )
        os.makedirs(out, exist_ok=True)
        # no dictionary encoding: the staged size is the real payload size
        common.write_parquet(records, f"{out}/records")

        ang = np.sort(rng.uniform(0, 2 * np.pi, (N_POLYGONS, 8)), axis=1)
        rad = rng.uniform(0.5, 1.5, (N_POLYGONS, 8)) * POLY_RADIUS_DEG
        clat = rng.uniform(LAT0, LAT1, (N_POLYGONS, 1))
        clon = rng.uniform(LON0, LON1, (N_POLYGONS, 1))
        ring_lat = clat + rad * np.sin(ang)
        ring_lon = clon + rad * np.cos(ang)
        common.write_parquet(
            pa.table(
                {
                    "polygon_id": pa.array(np.arange(N_POLYGONS), pa.int64()),
                    "ring_lat": pa.array(list(ring_lat), pa.list_(pa.float64())),
                    "ring_lon": pa.array(list(ring_lon), pa.list_(pa.float64())),
                }
            ),
            f"{out}/polygons",
        )

        olat = rng.uniform(LAT0, LAT1, N_OBJECTS)
        olon = rng.uniform(LON0, LON1, N_OBJECTS)
        common.write_parquet(
            pa.table({"obj_id": pa.array(np.arange(N_OBJECTS), pa.int64()),
                      "olat": olat, "olon": olon}),
            f"{out}/objects",
        )
        plat = rng.uniform(LAT0, LAT1, N_PROBES)
        plon = rng.uniform(LON0, LON1, N_PROBES)
        probes = pa.table({"probe_id": pa.array(np.arange(N_PROBES), pa.int64()),
                           "plat": plat, "plon": plon})
        common.write_parquet(probes, f"{out}/probes")
        self.index.generate(rng, out)

        self.inputs = out
        self.rec_lat, self.rec_lon = lat, lon
        self.ring_lat, self.ring_lon = ring_lat, ring_lon
        self.olat, self.olon = olat, olon
        self.plat, self.plon = plat, plon
        self.sizes = {
            "records": N_RECORDS,
            "records_bytes": common.dir_bytes(f"{out}/records"),
            "dense_share": DENSE_SHARE,
            "polygons": N_POLYGONS,
            "objects": N_OBJECTS,
            "probes": N_PROBES,
            "knn_k": KNN_K,
            "out_of_extent_probe_share": 0.0,
            "payload_mean_bytes": round(
                float(np.mean([len(r["bytes"]) for r in src])), 1
            ),
            **self.index.sizes,
        }
        self.staged_bytes = common.dir_bytes(f"{out}/records") + common.dir_bytes(
            f"{out}/polygons"
        )

    def prepare(self) -> None:
        """Open the staged inputs with their known schemas (no warm-up: a
        batch job runs once per JVM, so its users pay JIT and codegen on
        every run)."""

        def rd(name, schema):
            return self.spark.read.schema(schema).parquet(f"{self.inputs}/{name}")

        self.records = rd(
            "records",
            "image_id string, bytes binary, w int, h int, fmt string, "
            "caption string, phash bigint, lat double, lon double",
        )
        self.polygons = rd(
            "polygons", "polygon_id bigint, ring_lat array<double>, ring_lon array<double>"
        )
        self.objects = rd("objects", "obj_id bigint, olat double, olon double")
        self.probes = rd("probes", "probe_id bigint, plat double, plon double")
        self.index.prepare()
        self.out_ratios = []

    # ---- operations ----------------------------------------------------
    def _tile_pass(self) -> str:
        from osm_search_spark.operators import tiling
        from osm_search_spark.operators.spatial_join import spatial_join

        out = f"{self.work}/tiles/pass{self.n_pass}"
        self.n_pass += 1
        tiling.write_tiles(
            spatial_join(self.records, self.polygons), out,
            max_rows_per_task=MAX_ROWS_PER_TASK,
        )
        return out


    def diagnostics(self, ratios: dict) -> None:
        """Traced runs only, after the measured cycle: each layer of the
        tile pass on its own, with its own sink, so the trace splits the
        pass by layer."""
        from osm_search_spark.functions import cells
        from osm_search_spark.operators.spatial_join import cell_join, spatial_join

        tr = self.tracer
        with tr.span("sources.scan"):
            self.records.write.format("noop").mode("overwrite").save()
        with tr.span("cells.assign"):
            self.records.select(
                "image_id", cells.latlng_to_cell("lat", "lon", cells.TILE_RES)
            ).write.format("noop").mode("overwrite").save()
        with tr.span("spatial_join.candidates"):
            n_cand = cell_join(self.records, self.polygons).count()
        with tr.span("spatial_join.join"):
            n_exact = spatial_join(self.records, self.polygons).count()
        ratios.setdefault("spatial_join.keep_ratio", []).append(
            n_exact / max(n_cand, 1)
        )

    def cycle(self, rng) -> dict:
        """One cycle; returns {"ops": {op: {"wall", "cpu"}}, "attempted",
        "failed"}."""
        tr = self.tracer
        ops = {"tile": {}, "knn": {}}
        failed = 0
        with tr.span("tiling.write", ops["tile"]):
            out = self._tile_pass()
        self.out_ratios.append(common.dir_bytes(out) / self.staged_bytes)
        failed += 0 if self._check_tiles(out, rng) else 1
        shutil.rmtree(out, ignore_errors=True)

        from osm_search_spark.operators.knn import knn_join

        with tr.span("knn.k5", ops["knn"]):
            rows = knn_join(self.probes, self.objects, k=KNN_K).collect()
        failed += 0 if self._check_knn(rows, rng) else 1
        failed += self.index.cycle(ops)
        return {"ops": ops, "attempted": len(ops), "failed": failed}

    # ---- reporting -----------------------------------------------------
    def named_metrics(self, cycles: list[dict]) -> dict:
        med = common.median
        tile = [c["tile"]["wall"] for c in cycles]
        knn = [c["knn"]["wall"] for c in cycles]
        build = [c["places"]["wall"] + c["index_tables"]["wall"] for c in cycles]
        requests = [
            c[op]["wall"] for c in cycles
            for op in ("search", "reverse_geocode")
        ]
        return {
            "tile_rows_per_s": N_RECORDS / med(tile) if tile else 0.0,
            "tile_out_bytes_ratio": med(self.out_ratios),
            "nearby_probes_per_s": N_PROBES / med(knn) if knn else 0.0,
            "tile_pass_s": tile,
            "knn_k5_s": knn,
            "index_build_s": build,
            "request_p50_s": med(requests),
            "request_s": {
                op: [c[op]["wall"] for c in cycles]
                for op in ("load", "search", "reverse_geocode")
            },
        }

    def ratios(self, per_span: dict, ratios: dict) -> dict:
        write = per_span.get("tiling.write", {})
        return {
            "spatial_join.keep_ratio": common.median(
                ratios.get("spatial_join.keep_ratio", [])
            ),
            "tiling.read_amplification": write.get("files_read_mb", 0.0)
            * common.MB / self.staged_bytes,
        }

    # ---- output checks -------------------------------------------------
    def expected_matches(self) -> dict[int, set]:
        """record index -> ids of the polygons containing it (brute force
        over every polygon, bbox-prefiltered)."""
        if not hasattr(self, "_expected"):
            want: dict[int, set] = {}
            for p in range(N_POLYGONS):
                rl, rn = self.ring_lat[p], self.ring_lon[p]
                idx = np.nonzero(
                    (self.rec_lat >= rl.min()) & (self.rec_lat <= rl.max())
                    & (self.rec_lon >= rn.min()) & (self.rec_lon <= rn.max())
                )[0]
                if len(idx):
                    hit = _winding_inside(self.rec_lat[idx], self.rec_lon[idx], rl, rn)
                    for i in idx[hit]:
                        want.setdefault(int(i), set()).add(p)
            self._expected = want
        return self._expected

    def _check_tiles(self, out: str, rng) -> bool:
        """Total row count equals the brute-force match count; for a seeded
        sample of records, the polygon set and tile id are exact. The tiles
        are read back with pyarrow, outside Spark."""
        import pyarrow.dataset as ds

        want = self.expected_matches()
        sample = rng.choice(N_RECORDS, CHECK_RECORDS, replace=False)
        ids = {f"img_{self.seed}_{i:07d}": int(i) for i in sample}
        got = ds.dataset(out, format="parquet", partitioning="hive").to_table(
            columns=["image_id", "polygon_id", "tile_id"]
        )
        if got.num_rows != sum(len(v) for v in want.values()):
            return False
        have: dict[int, set] = {}
        for image_id, polygon_id, tile_id in zip(*got.to_pydict().values()):
            i = ids.get(image_id)
            if i is None:
                continue
            have.setdefault(i, set()).add(polygon_id)
            if tile_id != int(_tile_id(self.rec_lat[i : i + 1], self.rec_lon[i : i + 1])[0]):
                return False
        return all(have.get(i, set()) == want.get(i, set()) for i in ids.values())

    def _check_knn(self, rows, rng) -> bool:
        """Every probe answered with KNN_K rows; for a seeded sample of the
        probes, ids and distances equal a brute-force haversine ranking
        (ties broken by object id)."""
        k = KNN_K
        if len(rows) != N_PROBES * k:
            return False
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(r["probe_id"], []).append((r["rank"], r["obj_id"], r["dist_km"]))
        for p in rng.choice(N_PROBES, CHECK_PROBES, replace=False):
            d = common.haversine_km(self.plat[p], self.plon[p], self.olat, self.olon)
            near = np.argpartition(d, k + 1)[: k + 1]
            near = near[np.lexsort((near, d[near]))][:k]
            mine = sorted(got.get(int(p), []))
            if [m[1] for m in mine] != near.tolist():
                return False
            if not np.allclose([m[2] for m in mine], d[near], rtol=1e-9, atol=1e-9):
                return False
        return True
