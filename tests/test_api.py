"""SparkSearcher facade: endpoint parity with the reference's HTTP API."""

import os

import pytest

from osm_search_spark.api import SparkSearcher
from osm_search_spark.plans import build_pipeline as bp
from osm_search_spark.sources import osm as osm_src
from osm_search_spark.streaming.commit import read_pointer


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("index"))
    nodes, ways, rels = osm_src.synth_osm(spark)
    return base, bp.build_all(spark, base, ways, nodes, rels)


@pytest.fixture(scope="module")
def searcher(spark, index):
    return SparkSearcher(spark, index[0])


def test_index_is_the_served_tables(index):
    # the build writes what SparkSearcher reads and nothing else
    base, tables = index
    served = {"places", "term_dict", "ngram_counts"}
    assert set(bp.build_index_tables(tables["places"])) == served
    committed = {d for d in os.listdir(base) if read_pointer(f"{base}/{d}")}
    assert committed == set(tables) == served | {"admin_polygons", "streets"}


def test_search_endpoint(searcher):
    rows = searcher.search("dunia fsntasi", k=3).collect()
    assert rows and rows[0]["name"].startswith("Dunia Fantasi")


def test_search_k0_defaults_to_10(searcher):
    rows = searcher.search("jalan", k=0).collect()
    assert 0 < len(rows) <= 10


def test_invalid_query_rejected(searcher):
    with pytest.raises(ValueError):
        searcher.search("drop; --")
    with pytest.raises(ValueError):
        searcher.search("")


def test_autocomplete_endpoint(searcher):
    rows = searcher.autocomplete("monumen nasi", k=3).collect()
    assert rows and rows[0]["name"].startswith("Monumen Nasional")


def test_reverse_geocode_endpoint(searcher):
    # probe at a known POI location -> that POI is the 1-NN
    poi = searcher.places.filter("type = 'monument'").first()
    rows = searcher.reverse_geocode(poi["lat"], poi["lon"]).collect()
    assert len(rows) == 1 and rows[0]["id"] == poi["id"]


def test_nearby_places_endpoint(searcher):
    poi = searcher.places.first()
    rows = searcher.nearby_places(
        poi["lat"], poi["lon"], radius_km=50.0, k=5
    ).collect()
    assert 0 < len(rows) <= 5
    assert all(r["dist_km"] <= 50.0 for r in rows)


def test_nearby_places_feature_filter(searcher):
    poi = searcher.places.first()
    rows = searcher.nearby_places(
        poi["lat"], poi["lon"], feature="type = 'zoo'", radius_km=100.0, k=10
    ).collect()
    assert rows and all(r["type"] == "zoo" for r in rows)
