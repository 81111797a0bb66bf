"""The exactly-once merge-stream protocol (streaming/commit.py), driven by
an hourly rollup fold: cross-micro-batch merge equals the batch rollup of
all rows; replayed batches merge exactly once; a corrupted table root
fails loud instead of silently re-initialising."""

import json
import time

import pytest
from pyspark.sql import functions as F

from osm_search_spark.operators.rollup import time_rollup
from osm_search_spark.streaming.commit import (
    commit_batch,
    read_table,
    start_merge_stream,
)


def _merge_batch(committed, batch_df):
    """Fold a micro-batch into the committed rollup: counts and integer
    cent sums are associative, so merge(rollup(A), B) == rollup(A + B)."""
    delta = time_rollup(batch_df)
    if committed is None:
        return delta
    return (
        committed.unionByName(delta)
        .groupBy("bucket_ts", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )


def _rows(lo, hi):
    return [
        dict(
            event_id=i,
            ts=f"2024-01-01 0{i % 4}:0{i % 6}:00",
            event_type=["view", "click"][i % 2],
            value=round(1.01 * i, 2),
        )
        for i in range(lo, hi)
    ]


def test_streaming_rollup_matches_batch(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in _rows(0, 40)))
    schema = "event_id long, ts timestamp, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    table = str(tmp_path / "rollup")
    q = start_merge_stream(stream, table, str(tmp_path / "ckpt"), _merge_batch)
    try:
        q.processAllAvailable()
        (src / "b2.json").write_text(
            "\n".join(json.dumps(r) for r in _rows(40, 90))
        )
        deadline = time.time() + 60
        q.processAllAvailable()
        got = {
            (r["bucket_ts"], r["event_type"]): (r["n_events"], r["sum_cents"])
            for r in read_table(spark, table).collect()
        }
        assert time.time() < deadline
    finally:
        q.stop()
    all_rows = spark.createDataFrame(
        [tuple(r.values()) for r in _rows(0, 90)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    want = {
        (r["bucket_ts"], r["event_type"]): (r["n_events"], r["sum_cents"])
        for r in time_rollup(all_rows).collect()
    }
    assert got == want and len(want) >= 4


def test_streaming_rollup_replay_is_exactly_once(spark, tmp_path):
    """The (stream_id, batch_id) idempotence key (the Delta (appId,
    batchId) model): a replayed micro-batch from the SAME stream must NOT
    double-merge, while a DIFFERENT stream whose batch ids restart at 0
    (fresh checkpoint) carries new data and MUST merge — it is not a
    replay, and is no longer silently discarded."""
    table = str(tmp_path / "rollup")
    schema = "event_id long, ts string, event_type string, value double"

    def batch(lo, hi):
        return spark.createDataFrame(
            [tuple(r.values()) for r in _rows(lo, hi)], schema
        ).withColumn("ts", F.to_timestamp("ts"))

    commit_batch(spark, table, 0, _merge_batch, batch(0, 40), stream_id="s1")
    before = sorted(map(tuple, read_table(spark, table).collect()))
    # same stream, same batch_id => replay, skipped
    commit_batch(spark, table, 0, _merge_batch, batch(0, 40), stream_id="s1")
    assert sorted(map(tuple, read_table(spark, table).collect())) == before
    # different stream restarting at batch 0 => NEW data, merges
    commit_batch(spark, table, 0, _merge_batch, batch(40, 90), stream_id="s2")
    merged = sorted(map(tuple, read_table(spark, table).collect()))
    assert merged != before
    want = sorted(map(tuple, time_rollup(batch(0, 90)).collect()))
    assert merged == want
    # and the new stream's own replay of batch 0 is then skipped
    commit_batch(spark, table, 0, _merge_batch, batch(40, 90), stream_id="s2")
    assert sorted(map(tuple, read_table(spark, table).collect())) == merged


def test_streaming_rollup_restart_same_checkpoint_no_double_merge(
    spark, tmp_path
):
    """End-to-end: restarting a StreamingQuery from the SAME checkpoint
    (same stream identity) over an unchanged source leaves the committed
    table identical — no double merge."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in _rows(0, 40)))
    schema = "event_id long, ts timestamp, event_type string, value double"

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    table = str(tmp_path / "rollup")
    q = start_merge_stream(stream(), table, str(tmp_path / "ckpt1"), _merge_batch)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    before = sorted(map(tuple, read_table(spark, table).collect()))
    q2 = start_merge_stream(stream(), table, str(tmp_path / "ckpt1"), _merge_batch)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    after = sorted(map(tuple, read_table(spark, table).collect()))
    assert after == before


def test_streaming_rollup_first_commit_crash_recovers(spark, tmp_path):
    """A crash between the FIRST commit's data-dir rename and its pointer
    write leaves v0 with no pointer. The replaying writer recovers
    (clears the orphan, redoes the merge); a LATER missing pointer (v1+
    exists) is real corruption and still fails loud for writers too."""
    table = tmp_path / "rollup"
    schema = "event_id long, ts string, event_type string, value double"

    def batch(lo, hi):
        return spark.createDataFrame(
            [tuple(r.values()) for r in _rows(lo, hi)], schema
        ).withColumn("ts", F.to_timestamp("ts"))

    # simulate the batch-0 crash: data dir renamed into place, no pointer,
    # in-flight marker still present (the crash left it behind)
    commit_batch(spark, str(table), 0, _merge_batch, batch(0, 40), "s1")
    (table / "CURRENT").unlink()
    (table / "_first_commit_inflight").write_text("0")
    # readers still fail loud on the orphan
    with pytest.raises(RuntimeError, match="no CURRENT pointer"):
        read_table(spark, str(table))
    # the replaying writer recovers and commits batch 0
    commit_batch(spark, str(table), 0, _merge_batch, batch(0, 40), "s1")
    assert not (table / "_first_commit_inflight").exists()
    got = sorted(map(tuple, read_table(spark, str(table)).collect()))
    want = sorted(map(tuple, time_rollup(batch(0, 40)).collect()))
    assert got == want
    # a one-batch table whose pointer is lost EXTERNALLY (no in-flight
    # marker = no crash evidence): writers must NOT destroy v0 (ADVICE r05)
    ext = tmp_path / "rollup_ext"
    commit_batch(spark, str(ext), 0, _merge_batch, batch(0, 40), "s1")
    (ext / "CURRENT").unlink()
    with pytest.raises(RuntimeError, match="no CURRENT pointer"):
        commit_batch(spark, str(ext), 0, _merge_batch, batch(0, 40), "s1")
    assert (ext / "v0").is_dir()  # committed snapshot survives
    # advance to v1, then delete the pointer: NOT recoverable
    commit_batch(spark, str(table), 1, _merge_batch, batch(40, 90), "s1")
    (table / "CURRENT").unlink()
    with pytest.raises(RuntimeError, match="no CURRENT pointer"):
        commit_batch(spark, str(table), 1, _merge_batch, batch(40, 90), "s1")


def test_streaming_rollup_missing_pointer_fails_loud(spark, tmp_path):
    """Version dirs without a CURRENT pointer = corruption: reads and new
    commits must raise, never silently re-initialise over history."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in _rows(0, 10)))
    schema = "event_id long, ts timestamp, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    table = tmp_path / "rollup"
    q = start_merge_stream(stream, str(table), str(tmp_path / "ckpt"), _merge_batch)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    (table / "CURRENT").unlink()
    with pytest.raises(RuntimeError, match="no CURRENT pointer"):
        read_table(spark, str(table))


def test_time_travel_read_of_retained_snapshot(spark, tmp_path):
    """read_table(version=k): the previous snapshot stays readable until
    expiry (_KEEP_VERSIONS window), expired/never-committed/orphaned-
    newer versions raise with the retained list."""
    table = str(tmp_path / "rollup")
    schema = "event_id long, ts string, event_type string, value double"

    def batch(lo, hi):
        return spark.createDataFrame(
            [tuple(r.values()) for r in _rows(lo, hi)], schema
        ).withColumn("ts", F.to_timestamp("ts"))

    commit_batch(spark, table, 0, _merge_batch, batch(0, 40), stream_id="s1")
    v0 = sorted(map(tuple, read_table(spark, table).collect()))
    commit_batch(spark, table, 1, _merge_batch, batch(40, 90), stream_id="s1")
    # current is v1; v0 still retained and time-travel readable
    assert sorted(map(tuple, read_table(spark, table, version=0).collect())) == v0
    assert sorted(map(tuple, read_table(spark, table, version=1).collect())) == sorted(
        map(tuple, read_table(spark, table).collect())
    )
    # a third commit expires v0 (_KEEP_VERSIONS = 2)
    commit_batch(spark, table, 2, _merge_batch, batch(90, 120), stream_id="s1")
    with pytest.raises(FileNotFoundError, match="expired"):
        read_table(spark, table, version=0)
    # never-committed version
    with pytest.raises(FileNotFoundError, match="retained"):
        read_table(spark, table, version=9)
