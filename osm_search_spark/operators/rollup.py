"""Hypertable-style time-bucketed rollups with incremental maintenance.

`time_rollup` is the continuous-aggregate base: ONE partial-aggregated
groupBy on (time bucket, keys). Sums are kept in integer cents so the
aggregate is exact and order-independent — a float sum would drift by
summation order across partitionings and break both the merge-equality
invariant and the DuckDB oracle.

`merge_rollup` is the maintenance path: fold a new micro-batch into a
committed rollup WITHOUT recomputing history — union + re-aggregate on
the bucket keys (counts and integer sums are associative, so
merge(rollup(A), B) == rollup(A ∪ B) exactly; tested). Composes with
foreachBatch / streaming/commit.commit the same way the incremental
index maintenance does (operators/index_maintenance.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def time_rollup(
    events: DataFrame,
    bucket: str = "hour",
    keys: tuple[str, ...] = ("event_type",),
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """(bucket_ts, *keys, n_events, sum_cents) — value aggregated as exact
    integer cents (round(value*100))."""
    return (
        events.groupBy(
            F.date_trunc(bucket, F.col(ts)).alias("bucket_ts"), *keys
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col(value) * 100, 0).cast("long")).alias(
                "sum_cents"
            ),
        )
    )


def merge_rollup(
    committed: DataFrame,
    delta_events: DataFrame,
    bucket: str = "hour",
    keys: tuple[str, ...] = ("event_type",),
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Committed rollup + new events -> updated rollup; only the delta is
    aggregated from raw rows, history merges by its bucket keys."""
    delta = time_rollup(delta_events, bucket, keys, ts, value)
    return (
        committed.unionByName(delta)
        .groupBy("bucket_ts", *keys)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )
