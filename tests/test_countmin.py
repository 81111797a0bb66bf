"""Count-min sketch: never underestimates, exact for distinct-position
keys, weighted counts."""

from pyspark.sql import functions as F

from osm_search_spark.functions import countmin as cm


def _items(spark):
    # heavy key appears 500x, others once
    heavy = spark.range(500).select(F.lit("heavy-key").alias("v"))
    rest = spark.range(2000).select(
        F.concat(F.lit("k-"), F.col("id")).alias("v")
    )
    return heavy.unionAll(rest)


def test_cms_never_underestimates_and_heavy_exactish(spark):
    items = _items(spark)
    sk = cm.cms_build(items, "v")
    truth = items.groupBy("v").count()
    est = cm.cms_lookup(sk, truth, "v")
    rows = est.collect()
    assert all(r["est"] >= r["count"] for r in rows)
    heavy = [r for r in rows if r["v"] == "heavy-key"][0]
    # w=4096, n=2500 items: expected overestimate ~ n/w < 1 per row
    assert heavy["count"] == 500 and heavy["est"] <= 510


def test_cms_weighted(spark):
    df = spark.createDataFrame(
        [("a", 10), ("a", 5), ("b", 7)], "v string, w long"
    )
    sk = cm.cms_build(df, "v", weight="w")
    keys = spark.createDataFrame([("a",), ("b",), ("zz",)], "v string")
    got = {r["v"]: r["est"] for r in cm.cms_lookup(sk, keys, "v").collect()}
    assert got["a"] >= 15 and got["b"] >= 7
    assert got["a"] <= 22 and got["zz"] <= 22  # tiny sketch collisions only
