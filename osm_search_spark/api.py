"""SparkSearcher — endpoint-for-endpoint facade over the built index.

Mirrors the reference's HTTP API surface (pkg/http/http-router/controllers/
searcher.go) with the same parameters and defaults, so a user of the
reference can switch call-for-call:

  /api/search        -> search(query, k=10, offset=0)      (k=0 -> 10,
                        searcher.go:154-156; empty query -> error :151-153)
  /api/autocomplete  -> autocomplete(query, k=10)
  /api/reverse       -> reverse_geocode(lat, lon)
  /api/places        -> nearby_places(lat, lon, feature=None,
                        radius_km=5.0, k=10, offset=0)     (default radius
                        5 km, controllers/searcher.go:358)
  geofence service   -> geofence_status(track_points)

Every method returns a DataFrame (collect() for the "HTTP response").
Queries are validated like the reference (regex at
controllers/searcher.go:26-28).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import spell
from .operators.spell import BM25FIndex
from .operators.geofence import geofence_status as _geofence_status
from .operators.knn import knn_join
from .streaming.commit import read_table

VALID_QUERY = re.compile(r"^[A-Za-z0-9_ +,.()]+$")


class SparkSearcher:
    def __init__(self, spark: SparkSession, index_base: str):
        self.spark = spark
        self.places = read_table(spark, f"{index_base}/places").cache()
        self.term_dict = read_table(spark, f"{index_base}/term_dict").cache()
        self.ngram_counts = read_table(spark, f"{index_base}/ngram_counts").cache()
        # load-once index (Searcher.LoadMainIndex, searcher.go:84-133)
        self.index = BM25FIndex(self.places)

    def _validate(self, query: str) -> None:
        if not query:
            raise ValueError("query is empty")
        if not VALID_QUERY.match(query):
            raise ValueError("invalid characters in query")

    def search(self, query: str, k: int = 10, offset: int = 0) -> DataFrame:
        if k == 0:
            k = 10  # searcher.go:154-156
        self._validate(query)
        return spell.freeform_search(
            self.spark, self.places, self.term_dict, self.ngram_counts,
            query, k=k, offset=offset, index=self.index,
        )

    def autocomplete(self, query: str, k: int = 10) -> DataFrame:
        self._validate(query)
        return spell.autocomplete(
            self.spark, self.places, self.term_dict, self.ngram_counts,
            query, k=k, index=self.index,
        )

    def _knn(self, lat, lon, k, radius_km=None, feature=None, offset=0) -> DataFrame:
        probes = self.spark.createDataFrame(
            [(0, float(lat), float(lon))], "probe_id long, plat double, plon double"
        )
        objects = self.places.select("id", "lat", "lon", "name", "address", "type")
        res = knn_join(
            probes, objects, k=k, radius_km=radius_km, feature=feature,
            obj_id="id", olat="lat", olon="lon", offset=offset,
        )
        return (
            res.join(
                self.places.select("id", "name", "address", "type"), "id"
            )
            .select("rank", "id", "name", "address", "type",
                    F.round("dist_km", 6).alias("dist_km"))
            .orderBy("rank")
        )

    def reverse_geocode(self, lat: float, lon: float) -> DataFrame:
        """1-NN (ReverseGeocoding, searcher.go:679-686)."""
        return self._knn(lat, lon, k=1)

    def nearby_places(
        self,
        lat: float,
        lon: float,
        feature: str | None = None,
        radius_km: float = 5.0,
        k: int = 10,
        offset: int = 0,
    ) -> DataFrame:
        """kNN with radius + optional type filter
        (NearestNeighboursRadiusWithFeatureFilter, searcher.go:688-700).
        `feature` matches the place type column, e.g. "type = 'zoo'"."""
        return self._knn(lat, lon, k=k, radius_km=radius_km, feature=feature,
                         offset=offset)

    def geofence_status(self, tracks: DataFrame, fences: DataFrame) -> DataFrame:
        return _geofence_status(tracks, fences)
