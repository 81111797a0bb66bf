"""Exactly-once merge-stream protocol (streaming/commit.py) over a
space-time cube fold: a replayed micro-batch merges exactly once."""

from pyspark.sql import functions as F

from osm_search_spark.functions import cells as C
from osm_search_spark.streaming.commit import commit_batch, read_table

RES, BIN_W = 11, 3600


def _rows(lo, hi):
    # three hours of pings; the east half's rate RISES per hour (the
    # emerging fixture shape), west stays flat
    out = []
    for i in range(lo, hi):
        h = (i * 7919) % 3  # hour bin
        east = (i * 104729) % 2 == 0
        if east and ((i * 31) % 10) >= 4 + 2 * h:
            continue  # thin early east hours -> rising trend
        out.append(
            dict(
                point_id=i,
                ts=3600 * h + (i % 3600),
                lat=-7.9 + 0.45 * ((i * 40503) % 997) / 997.0,
                lon=(110.25 + 0.30 * ((i * 69621) % 991) / 991.0)
                + (0.35 if east else 0.0),
            )
        )
    return out


def _cube_dict(df):
    return {(r["bin"], r["cell_id"]): r["value"] for r in df.collect()}


def _merge_batch(committed, batch_df):
    """Add the batch's (bin, cell) ping counts into the committed cube."""
    delta = batch_df.groupBy(
        F.floor(F.col("ts") / BIN_W).alias("bin"),
        C.latlng_to_cell("lat", "lon", RES).alias("cell_id"),
    ).agg(F.count(F.lit(1)).alias("value"))
    if committed is None:
        return delta
    return (
        committed.unionByName(delta)
        .groupBy("bin", "cell_id")
        .agg(F.sum("value").alias("value"))
    )


def test_streaming_cube_replay_exactly_once(spark, tmp_path):
    table = str(tmp_path / "cube2")
    schema = "point_id long, ts long, lat double, lon double"
    b0 = spark.createDataFrame(
        [(r["point_id"], r["ts"], r["lat"], r["lon"]) for r in _rows(0, 150)],
        schema,
    )
    commit_batch(spark, table, 0, _merge_batch, b0, stream_id="s1")
    once = _cube_dict(read_table(spark, table))
    commit_batch(spark, table, 0, _merge_batch, b0, stream_id="s1")  # replay
    assert _cube_dict(read_table(spark, table)) == once
