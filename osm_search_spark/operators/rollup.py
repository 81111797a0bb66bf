"""Hypertable-style time-bucketed rollups.

`time_rollup` is the continuous-aggregate base: ONE partial-aggregated
groupBy on (time bucket, keys). Sums are kept in integer cents so the
aggregate is exact and order-independent — a float sum would drift by
summation order across partitionings and break the DuckDB oracle; it
also makes rollups of disjoint batches add up exactly.
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
