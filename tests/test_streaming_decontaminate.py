"""Streaming decontamination: committed verdicts across micro-batches
equal the batch decontaminate_flags of all ingested rows."""

import json

import pytest

from osm_search_spark.operators.decontaminate import decontaminate_flags
from osm_search_spark.streaming.decontaminate_stream import (
    read_verdicts,
    start_decontaminate_stream,
)

RUN = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike"


def _docs_df(spark, lo, hi):
    return spark.createDataFrame(
        [_doc(i) for i in range(lo, hi)], "doc_id long, text string"
    )


def _doc(i):
    if i % 5 == 0:
        return dict(doc_id=i, text=f"doc {i} copies the span {RUN} verbatim")
    return dict(doc_id=i, text=f"doc {i} is clean filler text with its own words {i}")


def test_streaming_verdicts_match_batch(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(json.dumps(_doc(i)) for i in range(0, 12))
    )
    bench = spark.createDataFrame(
        [(900, f"benchmark item with {RUN} inside"),
         (901, "unrelated benchmark question")],
        "bench_id long, text string",
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    table = str(tmp_path / "verdicts")
    q = start_decontaminate_stream(stream, bench, table, str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        (src / "b2.json").write_text(
            "\n".join(json.dumps(_doc(i)) for i in range(12, 25))
        )
        q.processAllAvailable()
        got = sorted(map(tuple, read_verdicts(spark, table).collect()))
    finally:
        q.stop()
    all_docs = spark.createDataFrame(
        [_doc(i) for i in range(25)], "doc_id long, text string"
    )
    want = sorted(map(tuple, decontaminate_flags(all_docs, bench, n=13).collect()))
    assert got == want
    assert any(r[1] for r in got) and any(not r[1] for r in got)


def test_killed_batch_mid_commit_recovers_under_load(spark, tmp_path):
    """A batch KILLED between the snapshot-dir rename and the pointer
    write (the narrowest crash window, seq > 0) must leave the previous
    commit readable, and the replaying writer must redo the merge so the
    committed table equals the batch verdicts of every ingested row.
    Run at a non-trivial batch size (3k docs/batch, Bloom prune on) so
    the drill exercises the real decontaminate merge, not a toy frame
    (VERDICT r05 item 8)."""
    import os

    from osm_search_spark.streaming import commit as commit_mod
    from osm_search_spark.streaming.commit import commit_batch, read_table

    bench = spark.createDataFrame(
        [(900, f"benchmark item with {RUN} inside"),
         (901, "unrelated benchmark question")],
        "bench_id long, text string",
    )

    def merge(committed, batch_df):
        flags = decontaminate_flags(batch_df, bench, n=13)
        if committed is None:
            return flags
        return committed.unionByName(flags)

    table = tmp_path / "verdicts"
    commit_batch(spark, str(table), 0, merge, _docs_df(spark, 0, 3000), "s1")
    before = read_table(spark, str(table)).count()
    assert before == 3000

    real_replace = os.replace

    def crashing_replace(a, b):
        if os.path.basename(b) == commit_mod._POINTER:
            raise OSError("injected kill before pointer write")
        return real_replace(a, b)

    commit_mod.os.replace = crashing_replace
    try:
        with pytest.raises(OSError, match="injected kill"):
            commit_batch(
                spark, str(table), 1, merge, _docs_df(spark, 3000, 6000), "s1"
            )
    finally:
        commit_mod.os.replace = real_replace
    # the kill left the orphaned v1 dir; the v0 commit is still readable
    assert (table / "v1").is_dir()
    assert read_table(spark, str(table)).count() == before
    # replay of the killed batch redoes the merge over the orphan
    commit_batch(spark, str(table), 1, merge, _docs_df(spark, 3000, 6000), "s1")
    got = read_table(spark, str(table))
    assert got.count() == 6000
    want = decontaminate_flags(_docs_df(spark, 0, 6000), bench, n=13)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # and the replayed batch is then skipped, not double-merged
    commit_batch(spark, str(table), 1, merge, _docs_df(spark, 3000, 6000), "s1")
    assert read_table(spark, str(table)).count() == 6000
