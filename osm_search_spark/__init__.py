"""osm_search_spark — a PySpark-native spatial-join + tiling engine.

A brand-new engine (NOT a port) with the query capabilities of
lintang-b-s/osm-search (Go, single-process R-tree + SPIMI inverted index +
BM25F): full-text search with spell correction, autocomplete, reverse
geocoding, nearby-places kNN, and geofencing — re-expressed as idiomatic
Spark DataFrame pipelines over tables of geotagged image + caption records.

Layout
------
functions/   pure Column-expression scalar functions (geodesy, cell grid,
             text analysis, hashing) — JVM-side, whole-stage-codegen friendly
operators/   composite DataFrame operators (spatial join, kNN, search,
             dedup, similarity, geofence, tiling)
sources/     deterministic synthesis of input tables + readers
plans/       build pipeline + lineage/checkpoint plumbing
streaming/   snapshot-pointer commits (batch stages, index tables,
             exactly-once micro-batch folds) + streaming decontamination
"""

__version__ = "0.1.0"
