"""Exactly-once merge-stream protocol (streaming/commit.py) over a tile
pyramid fold: a replayed micro-batch merges exactly once."""

from pyspark.sql import functions as F

from osm_search_spark.operators.compaction import tile_pyramid
from osm_search_spark.streaming.commit import commit_batch, read_table

MAX_RES, MIN_RES = 14, 10


def _rows(lo, hi):
    return [
        dict(
            point_id=i,
            lat=-7.9 + 0.45 * ((i * 40503) % 997) / 997.0,
            lon=110.25 + 0.65 * ((i * 69621) % 991) / 991.0,
        )
        for i in range(lo, hi)
    ]


def _pyramid_dict(df):
    return {(r["cell_id"], r["res"]): r["n"] for r in df.collect()}


def _merge_batch(committed, batch_df):
    """Add the batch's per-level cell counts into the committed pyramid."""
    delta = tile_pyramid(batch_df, MAX_RES, MIN_RES)
    if committed is None:
        return delta
    return (
        committed.unionByName(delta)
        .groupBy("cell_id", "res")
        .agg(F.sum("n").alias("n"))
    )


def test_streaming_pyramid_replay_exactly_once(spark, tmp_path):
    table = str(tmp_path / "pyr2")
    schema = "point_id long, lat double, lon double"
    b0 = spark.createDataFrame(
        [(r["point_id"], r["lat"], r["lon"]) for r in _rows(0, 100)], schema
    )
    commit_batch(spark, table, 0, _merge_batch, b0, stream_id="s1")
    once = _pyramid_dict(read_table(spark, table))
    commit_batch(spark, table, 0, _merge_batch, b0, stream_id="s1")  # replay
    assert _pyramid_dict(read_table(spark, table)) == once
