"""Snapshot-pointer commits — the one way a table is committed: batch
stages (plans/lineage.run_stage), index tables (build_pipeline.
write_tables) and exactly-once streaming merges (`start_merge_stream`).

- **Snapshot-pointer commits** (the Iceberg model; on a cluster
  `writeTo(...)` + snapshot ids replace the directory protocol 1:1):
  `commit` stages a NEW version directory under ``_staging_v<seq>``,
  renames it to ``<table_dir>/v<seq>`` (atomic on POSIX), and then
  atomically replaces the ``CURRENT`` pointer file (write tmp +
  ``os.replace``). A crash at any point leaves the previous pointer — and
  the previous committed snapshot — fully intact. A table may be
  recommitted from a lazy frame that reads its previous version.
- **Lineage rides in the pointer**: the staged files' per-partition
  lineage (partition id, row count, checksum, cell range) and the
  caller's metadata (input snapshot, stream/batch ids) land in
  ``CURRENT`` in the same atomic replace as the data, the way an Iceberg
  manifest carries per-file stats.
- **Replay skip keyed on (stream_id, batch_id)** — the Delta
  (appId, batchId) idempotence key. A replayed micro-batch from the SAME
  stream (same id, same or older batch id) is skipped, so the merge
  applies exactly once per batch. A DIFFERENT stream (fresh checkpoint →
  batch ids restart at 0) is new data and merges normally; its batches
  are never silently discarded. `start_merge_stream` uses the normalized
  checkpoint path as the stream identity (stable across restarts, unique
  per logical stream).
- **Fail loud on corruption**: a table root with committed version dirs
  but no readable pointer raises for READERS instead of silently
  re-initialising. The one recoverable writer case: a crash between the
  FIRST commit's dir rename and its pointer write leaves exactly `v0`,
  no pointer, and the `_first_commit_inflight` marker written just
  before the rename — the next writer clears the orphan and commits
  again. Without the marker (pointer lost externally on a committed
  one-version table) writers fail loud like readers.

`start_merge_stream` callers supply ONE function `merge_batch(
committed_or_None, batch_df) -> new snapshot` and get the full protocol;
`read_table` resolves the pointer for readers.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_POINTER = "CURRENT"
_VERSION_RE = re.compile(r"^v(\d+)$")
_STAGING_PREFIX = "_staging_"
# Present from just before the FIRST commit's rename until its pointer
# write: evidence that a v0-no-pointer state is a writer crash.
_FIRST_COMMIT_MARKER = "_first_commit_inflight"
# Snapshot-expiry window: current + previous survive; older versions are
# retired at the next commit. A reader pinned to a snapshot older than
# the window can lose its files — the standard Iceberg expire-snapshots
# trade; raise for long-running readers.
_KEEP_VERSIONS = 2


def _version_dirs(table_dir: str) -> list[str]:
    """Committed-shape version dirs (v<seq>), sorted by seq. Staging dirs
    are uncommitted garbage and never count."""
    if not os.path.isdir(table_dir):
        return []
    return sorted(
        (e for e in os.listdir(table_dir) if _VERSION_RE.match(e)),
        key=lambda e: int(e[1:]),
    )


def read_pointer(table_dir: str) -> dict | None:
    """Parse <table_dir>/CURRENT, or None if the table was never committed.

    Raises RuntimeError if the root holds version dirs but no pointer —
    that is a half-deleted/corrupted table, not an empty one. (Staging
    dirs from a crashed data write don't trip this; they were never
    committed.)
    """
    ptr = os.path.join(table_dir, _POINTER)
    if os.path.exists(ptr):
        with open(ptr) as f:
            return json.load(f)
    if _version_dirs(table_dir):
        raise RuntimeError(
            f"table {table_dir!r} has version directories but no "
            f"{_POINTER} pointer; refusing to re-initialise over committed "
            "history — restore the pointer or remove the table root"
        )
    return None


def writer_pointer(table_dir: str) -> dict | None:
    """`read_pointer` for a writer: clears a crashed first commit (exactly
    v0, no pointer, in-flight marker) and fails loud on anything else."""
    try:
        return read_pointer(table_dir)
    except RuntimeError:
        marker = os.path.join(table_dir, _FIRST_COMMIT_MARKER)
        if _version_dirs(table_dir) != ["v0"] or not os.path.exists(marker):
            raise
        shutil.rmtree(os.path.join(table_dir, "v0"), ignore_errors=True)
        os.remove(marker)
        return None


def read_table(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The committed snapshot (resolves the CURRENT pointer), or — with
    ``version`` — a TIME-TRAVEL read of a retained older snapshot (the
    Iceberg `VERSION AS OF` shape). Only the last _KEEP_VERSIONS
    snapshots survive commits (expire-snapshots trade, module doc);
    asking for an expired or never-committed version raises with the
    retained list. A version NEWER than the pointer is refused even if
    its directory exists: an orphaned rename from a crash mid-commit is
    not committed data."""
    rec = read_pointer(table_dir)
    if rec is None:
        raise FileNotFoundError(f"no committed table at {table_dir!r}")
    if version is None:
        return spark.read.parquet(os.path.join(table_dir, rec["version"]))
    retained = [
        v for v in _version_dirs(table_dir) if int(v[1:]) <= rec["seq"]
    ]
    name = f"v{version}"
    if name not in retained:
        raise FileNotFoundError(
            f"version {version} of {table_dir!r} is expired or was never "
            f"committed; retained snapshots: {retained}"
        )
    return spark.read.parquet(os.path.join(table_dir, name))


def lineage_of(df: DataFrame, cell_col: str | None = None) -> list[dict]:
    """One record per physical partition: row count, checksum (order-
    insensitive bit_xor of row hashes), and the cell range when a cell
    column exists (None bounds otherwise)."""
    cell = F.col(cell_col) if cell_col else F.lit(None).cast("long")
    rows = df.select(
        F.spark_partition_id().alias("partition_id"),
        F.xxhash64(*df.columns).alias("row_hash"),
        cell.alias("_cell"),
    ).groupBy("partition_id").agg(
        F.count("*").alias("row_count"),
        F.bit_xor("row_hash").alias("checksum"),
        F.min("_cell").alias("cell_min"),
        F.max("_cell").alias("cell_max"),
    ).collect()
    return sorted((r.asDict() for r in rows), key=lambda r: r["partition_id"])


def commit(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    cell_col: str | None = None,
    partition_by: str | None = None,
    **meta,
) -> DataFrame:
    """Commit ``df`` as the next version of ``table_dir`` and return the
    committed version. ``meta`` (JSON-able: input snapshot, stream/batch
    ids) and the staged files' lineage land in the pointer together.
    ``partition_by`` writes the version hive-partitioned on that column."""
    rec = writer_pointer(table_dir)
    seq = rec["seq"] + 1 if rec is not None else 0
    version = f"v{seq}"
    final = os.path.join(table_dir, version)
    staging = os.path.join(table_dir, f"{_STAGING_PREFIX}{version}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(staging)
    lineage = lineage_of(spark.read.parquet(staging), cell_col)
    # a crashed PREVIOUS attempt of this same seq may have left the final
    # dir (rename done, pointer not) — it was never committed, clear it
    if os.path.exists(final):
        shutil.rmtree(final, ignore_errors=True)
    marker = os.path.join(table_dir, _FIRST_COMMIT_MARKER)
    if seq == 0:
        open(marker, "w").close()  # crash evidence for `writer_pointer`
    os.replace(staging, final)
    # commit = atomic pointer replace; readers never see a partial table
    tmp = os.path.join(table_dir, f"{_POINTER}.tmp")
    with open(tmp, "w") as f:
        json.dump({**meta, "version": version, "seq": seq, "lineage": lineage}, f)
    os.replace(tmp, os.path.join(table_dir, _POINTER))
    if os.path.exists(marker):
        os.remove(marker)
    # retire snapshots older than the recovery window + stale staging dirs
    for old in _version_dirs(table_dir)[:-_KEEP_VERSIONS]:
        shutil.rmtree(os.path.join(table_dir, old), ignore_errors=True)
    for e in os.listdir(table_dir):
        if e.startswith(_STAGING_PREFIX):
            shutil.rmtree(os.path.join(table_dir, e), ignore_errors=True)
    return spark.read.parquet(final)


def commit_batch(
    spark: SparkSession,
    table_dir: str,
    batch_id: int,
    merge_batch,
    batch_df,
    stream_id: str,
) -> None:
    """One exactly-once fold step (usable directly from any foreachBatch).

    stream_id identifies the logical stream (e.g. its checkpoint path);
    the replay skip fires only for (same stream, same-or-older batch) —
    a new stream whose batch ids restart at 0 merges normally."""
    rec = writer_pointer(table_dir)
    if (
        rec is not None
        and rec.get("stream_id") == stream_id
        and batch_id <= rec["batch_id"]
    ):
        return  # replayed micro-batch: merge already committed
    committed = None if rec is None else read_table(spark, table_dir)
    merged = merge_batch(committed, batch_df)
    commit(spark, table_dir, merged, batch_id=batch_id, stream_id=stream_id)


def start_merge_stream(
    stream_df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    merge_batch,
):
    """writeStream.foreachBatch handle maintaining `table_dir` as the
    exactly-once merged table; returns the StreamingQuery.

    merge_batch(committed: DataFrame | None, batch_df) -> the new full
    snapshot (committed is None on the first ever batch). The stream's
    identity for the replay-skip key is its normalized checkpoint path —
    restarting from the same checkpoint dedupes replays; a fresh
    checkpoint is a new stream whose batches all merge."""
    spark = stream_df.sparkSession
    stream_id = os.path.abspath(checkpoint_dir)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        commit_batch(
            spark, table_dir, batch_id, merge_batch, batch_df,
            stream_id=stream_id,
        )

    return (
        stream_df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
