"""The index build + serve part of workload `tile_geocode_serve`.

Seeded OSM-shaped tables (the `sources.osm` admin hierarchy of 15 nested
relations and its named streets, plus seeded named POI nodes) are built
into the search index: `build_pipeline.build_places` with the admin
polygons (a 15-polygon layer, so `spatial_join` takes the driver-cover
path), then `build_index_tables` + `write_tables` of the 3 artifacts the
API reads. A `SparkSearcher` loads the written index and serves two seeded
requests: a search with a one-letter typo (spell correction, BM25F) and
a reverse geocode (single-probe kNN, k=1). Autocomplete and nearby
places are left out: at 4-7 s a request they did not fit the run's time
budget.

Every output is checked: the places table against a brute-force address
derivation, the search against its planted top hit, and the reverse
geocode against a brute-force haversine nearest place.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from . import common

N_STREETS = 10
N_POIS = 200
N_WORDS = 24  # POI names are 3 distinct words of this seeded vocabulary
# Vocabulary words are this far apart (Levenshtein) from each other and
# from every other indexed token, so a one-letter typo has exactly one
# correction.
MIN_WORD_DIST = 4
# The artifacts SparkSearcher reads. The others (cells, postings, doc stats)
# are built by build_index_tables but not written: writing them took 10
# more jobs, and the API rebuilds postings and doc stats from places at load.
SERVED_TABLES = ("places", "term_dict", "ngram_counts")
PROBE_OFFSET_DEG = 0.002  # the kNN request probes this far from a seeded POI
_CONSONANTS = "bdfgklmnprstvz"
_VOWELS = "aeiou"


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _vocabulary(rng: np.random.Generator, others: set[str]) -> list[str]:
    """N_WORDS seeded CVCVCV words, pairwise and against `others` at least
    MIN_WORD_DIST apart."""
    words: list[str] = []
    while len(words) < N_WORDS:
        w = "".join(
            _CONSONANTS[rng.integers(len(_CONSONANTS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(3)
        )
        if all(_levenshtein(w, o) >= MIN_WORD_DIST for o in (*words, *others)):
            words.append(w)
    return words


def _typo(rng: np.random.Generator, word: str) -> str:
    i = int(rng.integers(len(word)))
    pool = _VOWELS if word[i] in _VOWELS else _CONSONANTS
    sub = pool.replace(word[i], "")
    return word[:i] + sub[rng.integers(len(sub))] + word[i + 1 :]


class IndexServe:
    def __init__(self, spark, work: str, tracer):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.n_pass = 0

    # ---- set-up -------------------------------------------------------
    def generate(self, rng: np.random.Generator, out: str) -> None:
        from osm_search_spark.sources.osm import POI_NAMES, STREET_NAMES, synth_osm_py
        from osm_search_spark.sources.synth import admin_polygons_py

        nodes, ways, rels = synth_osm_py(N_STREETS, 0)
        polys = admin_polygons_py()
        others = {t.lower() for s in STREET_NAMES for t in s.split()}
        others |= {p["name"] for p in polys}
        vocab = _vocabulary(rng, others)

        country = polys[0]
        names, seen = [], set()
        while len(names) < N_POIS:
            pick = rng.choice(N_WORDS, 3, replace=False)
            if frozenset(pick) not in seen:
                seen.add(frozenset(pick))
                names.append([vocab[i] for i in pick])
        lat = rng.uniform(country["minlat"], country["maxlat"], N_POIS)
        lon = rng.uniform(country["minlon"], country["maxlon"], N_POIS)
        kinds = rng.integers(len(POI_NAMES), size=N_POIS)
        nid = max(n["id"] for n in nodes) + 1
        for i in range(N_POIS):
            _, key, val = POI_NAMES[kinds[i]]
            nodes.append(
                dict(id=nid + i, lat=float(lat[i]), lon=float(lon[i]),
                     tags={"name": " ".join(w.capitalize() for w in names[i]), key: val})
            )

        tags = pa.map_(pa.string(), pa.string())
        common.write_parquet(
            pa.table({
                "id": pa.array([n["id"] for n in nodes], pa.int64()),
                "lat": [n["lat"] for n in nodes],
                "lon": [n["lon"] for n in nodes],
                "tags": pa.array([list(n["tags"].items()) for n in nodes], tags),
            }),
            f"{out}/osm_nodes", files=1,
        )
        common.write_parquet(
            pa.table({
                "id": pa.array([w["id"] for w in ways], pa.int64()),
                "node_ids": pa.array([w["node_ids"] for w in ways], pa.list_(pa.int64())),
                "tags": pa.array([list(w["tags"].items()) for w in ways], tags),
            }),
            f"{out}/osm_ways", files=1,
        )
        common.write_parquet(
            pa.table({
                "id": pa.array([r["id"] for r in rels], pa.int64()),
                "name": [r["name"] for r in rels],
                "admin_level": [r["admin_level"] for r in rels],
                "postal_code": [r["postal_code"] for r in rels],
                "member_way_ids": pa.array(
                    [r["member_way_ids"] for r in rels], pa.list_(pa.int64())
                ),
            }),
            f"{out}/osm_relations", files=1,
        )

        # the planted places: every POI with its brute-force address (admin
        # names fine -> coarse, then the finest relation's postal code)
        self.want_address = {}
        for i in range(N_POIS):
            inside = sorted(
                (p for p in polys
                 if p["minlat"] <= lat[i] <= p["maxlat"]
                 and p["minlon"] <= lon[i] <= p["maxlon"]),
                key=lambda p: -p["admin_level"],
            )
            self.want_address[" ".join(w.capitalize() for w in names[i])] = ", ".join(
                [p["name"] for p in inside] + [f"5{inside[0]['polygon_id']:04d}"]
            )

        # the two seeded requests, each about a different POI
        t = rng.choice(N_POIS, 2, replace=False)
        words = names[t[0]]
        j = int(rng.integers(3))
        self.search_q = " ".join(_typo(rng, w) if k == j else w for k, w in enumerate(words))
        self.search_want = " ".join(w.capitalize() for w in words)
        ang = rng.uniform(0, 2 * np.pi)
        self.reverse_probe = (
            float(lat[t[1]] + PROBE_OFFSET_DEG * np.sin(ang)),
            float(lon[t[1]] + PROBE_OFFSET_DEG * np.cos(ang)),
        )
        self.inputs = out
        self.sizes = {
            "osm_nodes": len(nodes),
            "osm_ways": len(ways),
            "admin_relations": len(rels),
            "pois": N_POIS,
            "streets": N_STREETS,
            "expected_places": N_STREETS + N_POIS,
            "requests": {
                "search": self.search_q,
                "reverse_geocode": self.reverse_probe,
            },
        }

    def prepare(self) -> None:
        def rd(name, schema):
            return self.spark.read.schema(schema).parquet(f"{self.inputs}/{name}")

        self.nodes = rd("osm_nodes", "id bigint, lat double, lon double, tags map<string,string>")
        self.ways = rd("osm_ways", "id bigint, node_ids array<bigint>, tags map<string,string>")
        self.relations = rd(
            "osm_relations",
            "id bigint, name string, admin_level string, postal_code string, "
            "member_way_ids array<bigint>",
        )

    # ---- operations ----------------------------------------------------
    def cycle(self, ops: dict) -> int:
        """Build, load and serve; fills ops[<op>] with wall/cpu and returns
        the number of failed operations (of len(ops) it adds)."""
        from osm_search_spark.api import SparkSearcher
        from osm_search_spark.plans import build_pipeline as bp
        from osm_search_spark.sources.osm import assemble_relation_polygons

        tr = self.tracer
        base = f"{self.work}/index/pass{self.n_pass}"
        self.n_pass += 1
        failed = 0
        with tr.span("build_pipeline.places", ops.setdefault("places", {})):
            polys = assemble_relation_polygons(self.relations, self.ways, self.nodes)
            places = bp.build_places(self.ways, self.nodes, admin_polygons=polys)
            places = places.localCheckpoint(eager=True)
        with tr.span("build_pipeline.index_tables", ops.setdefault("index_tables", {})):
            tables = bp.build_index_tables(places)
            bp.write_tables({k: tables[k] for k in SERVED_TABLES}, base)
        with tr.span("api.load", ops.setdefault("load", {})):
            searcher = SparkSearcher(self.spark, base)
        written = {
            r["id"]: r for r in searcher.places.select(
                "id", "name", "lat", "lon", "address"
            ).collect()
        }
        failed += 0 if self._check_places(written) else 1
        failed += 0 if self._check_index(searcher) else 1

        with tr.span("api.search", ops.setdefault("search", {})):
            rows = searcher.search(self.search_q).collect()
        failed += 0 if rows and rows[0]["name"] == self.search_want else 1
        with tr.span("api.reverse_geocode", ops.setdefault("reverse_geocode", {})):
            rows = searcher.reverse_geocode(*self.reverse_probe).collect()
        failed += 0 if self._check_knn(rows, written, self.reverse_probe) else 1
        return failed

    # ---- output checks -------------------------------------------------
    def _check_places(self, written: dict) -> bool:
        """One place per street and POI; every POI's address is the
        brute-force admin chain of the rectangles containing it."""
        by_name = {r["name"]: r["address"] for r in written.values()}
        return len(written) == N_STREETS + N_POIS and all(
            by_name.get(name) == addr for name, addr in self.want_address.items()
        )

    def _check_index(self, searcher) -> bool:
        """Every POI-name word is in the term dictionary."""
        want = {w.lower() for n in self.want_address for w in n.split()}
        have = {r["term"] for r in searcher.term_dict.select("term").collect()}
        return want <= have

    @staticmethod
    def _check_knn(rows, written: dict, probe) -> bool:
        """The answer is the nearest written place by brute-force haversine
        (ties by id), with its distance."""
        ids = np.array(sorted(written))
        d = common.haversine_km(
            probe[0], probe[1],
            np.array([written[i]["lat"] for i in ids]),
            np.array([written[i]["lon"] for i in ids]),
        )
        best = np.lexsort((ids, d))[0]
        return (
            len(rows) == 1 and rows[0]["id"] == ids[best]
            and abs(rows[0]["dist_km"] - d[best]) <= 1e-6
        )
