"""Mini oracle gate inside pytest: a representative slice of the driver's
Spark-vs-DuckDB comparison at sf0.001 (the full 30-query gate runs via
tools/check_oracle.py; this keeps `pytest -x -q` self-contained)."""

import duckdb
import pytest

SF = "/root/testdata/sf0.001"
QUERIES = ["spatial_tile_join", "knn_k5", "bm25_search", "minhash_signatures",
           "geofence_status", "way_median_centroid"]


@pytest.fixture(scope="module")
def harness(spark):
    import __spark_entry__ as e
    from tools.check_oracle import TABLES, compare

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create or replace view {t} as select * from '{SF}/{t}.parquet'")
    return e, con, compare


@pytest.mark.parametrize("name", QUERIES)
def test_oracle_query(harness, spark, name):
    e, con, compare = harness
    spark_pdf = e.queries()[name](spark, SF).toPandas()
    duck_pdf = con.execute(e.oracle_sql()[name]).fetchdf()
    errs = compare(name, spark_pdf, duck_pdf)
    assert not errs, errs
