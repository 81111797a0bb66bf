"""Range-join plan shape and boundary rules."""

from pyspark.sql import functions as F

from osm_search_spark.operators.range_join import range_join


def test_range_join_no_nested_loop(spark):
    """The bucketed range join must compile to an EQUI join (broadcast hash),
    never BroadcastNestedLoopJoin/Cartesian — the whole point vs the theta
    join Spark would otherwise emit."""
    pts = spark.range(1000).select(
        F.col("id").alias("pid"), (F.col("id") % 97 * 2.13).alias("v")
    )
    ivs = spark.createDataFrame(
        [(i, i * 3.5, i * 3.5 + 6.0) for i in range(60)],
        "band_id long, lo double, hi double",
    )
    j = range_join(pts, ivs, point_col="v", bucket_width=4.0)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    # containment parity vs the direct (small-scale) theta join
    want = pts.join(
        ivs, (F.col("lo") <= F.col("v")) & (F.col("v") < F.col("hi"))
    )
    assert sorted((r["pid"], r["band_id"]) for r in j.collect()) == sorted(
        (r["pid"], r["band_id"]) for r in want.collect()
    )


def test_range_join_boundaries(spark):
    """Half-open semantics: p == lo matches, p == hi does not — including
    points/edges exactly on bucket boundaries."""
    pts = spark.createDataFrame(
        [(1, 0.0), (2, 4.0), (3, 8.0), (4, 7.999999)], "pid long, v double"
    )
    ivs = spark.createDataFrame([(7, 0.0, 8.0)], "band_id long, lo double, hi double")
    got = sorted(
        r["pid"]
        for r in range_join(pts, ivs, point_col="v", bucket_width=4.0).collect()
    )
    assert got == [1, 2, 4]
