"""Per-partition lineage + checkpoint/resume for the batch pipelines.

North-rule requirement: every stage records, per output partition,
(stage, input snapshot id, cell range, row count, checksum) so a failed run
resumes from the last committed stage instead of recomputing from scratch —
the reference reruns its whole indexer on failure (no checkpointing exists
there; this is our addition, SURVEY §4 last row).

Each stage is a snapshot-pointer table ``<base>/<stage>/v<seq>/`` +
``CURRENT`` (streaming/commit.commit): one atomic pointer replace
publishes the data with its input snapshot and per-partition lineage.
"""

from __future__ import annotations

from functools import reduce
from operator import xor

from pyspark.sql import DataFrame, SparkSession

from ..streaming.commit import (
    commit, lineage_of, read_pointer, read_table, writer_pointer,
)


def run_stage(
    spark: SparkSession,
    base: str,
    stage: str,
    build,  # () -> DataFrame
    input_snapshot: str = "",
    cell_col: str | None = None,
    force: bool = False,
    partition_by: str | None = None,
) -> DataFrame:
    """Execute a stage with resume semantics: if its pointer records the
    same input snapshot, read the committed version back instead of
    recomputing. Callers encode parameters into input_snapshot (e.g.
    "path|res=14|px=16"), so a rerun with changed inputs rebuilds.
    ``partition_by`` writes the output hive-partitioned on that column."""
    table = f"{base}/{stage}"
    rec = writer_pointer(table)
    if rec is not None and rec.get("input_snapshot") == input_snapshot and not force:
        return read_table(spark, table)
    return commit(
        spark, table, build(), cell_col, partition_by,
        stage=stage, input_snapshot=input_snapshot,
    )


def verify_stage(spark: SparkSession, base: str, stage: str) -> bool:
    """Re-derive counts/checksums from the committed version and compare
    with the lineage its pointer recorded (whole-stage equality; per-
    partition ids can shift on re-read, so the invariant checked is total
    rows + total checksum)."""
    table = f"{base}/{stage}"
    recorded = read_pointer(table)["lineage"]
    got = lineage_of(read_table(spark, table))

    def totals(lin):
        rows = sum(p["row_count"] for p in lin)
        return rows, reduce(xor, (p["checksum"] for p in lin), 0)

    return totals(got) == totals(recorded)
