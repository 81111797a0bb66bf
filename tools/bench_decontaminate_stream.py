"""Streaming decontamination under load: micro-batch latency at 100k
docs/batch with the Bloom prune on, plus a kill-recovery drill.

VERDICT r05 item 8: the streaming decontamination path
(streaming/decontaminate_stream.py) was parity-tested but never benched.
This tool:

1. stages N_BATCHES parquet files of BATCH_SIZE synthetic docs each
   (~50-word docs over a 500-word vocabulary, planted 13-gram
   contamination in 0.1%% of docs) and a 5k-doc benchmark dim;
2. runs the file-source stream (maxFilesPerTrigger=1, Bloom-pruned)
   and reports per-micro-batch wall from the query's progress events
   (triggerExecution durationMs — includes the merge + snapshot commit);
3. kill-recovery drill under the same load: replays the LAST batch's
   commit with a crash injected between the snapshot-dir rename and the
   pointer write, then re-runs it and asserts the recovered table equals
   the batch `decontaminate_flags` of every ingested row.

Usage: python tools/bench_decontaminate_stream.py [batch_size] [n_batches]
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from osm_search_spark.operators.decontaminate import (  # noqa: E402
    decontaminate_flags,
    prepare_benchmark,
)
from osm_search_spark.session import get_spark  # noqa: E402
from osm_search_spark.streaming import commit as commit_mod  # noqa: E402
from osm_search_spark.streaming.decontaminate_stream import (  # noqa: E402
    read_verdicts,
    start_decontaminate_stream,
)

VOCAB = [f"w{i:03d}" for i in range(500)]
RUN = " ".join(f"planted{i}" for i in range(13))


def synth_docs(spark, lo, hi, id_col, plant_every):
    vocab = "array(" + ",".join(f"'{w}'" for w in VOCAB) + ")"
    body = (
        f"array_join(transform(sequence(1, 50), "
        f"j -> element_at({vocab}, cast(pmod(xxhash64(id * 64 + j, "
        f"'{id_col}'), 500) as int) + 1)), ' ')"
    )
    text = F.when(
        F.pmod("id", F.lit(plant_every)) == 0,
        F.concat(F.expr(body), F.lit(" " + RUN)),
    ).otherwise(F.expr(body))
    return spark.range(lo, hi).select(F.col("id").alias(id_col), text.alias("text"))


def main():
    batch_size = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("bench-deconstream")
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="deconstream_")
    src = os.path.join(root, "in")
    os.makedirs(src)
    for b in range(n_batches):
        synth_docs(
            spark, b * batch_size, (b + 1) * batch_size, "doc_id", 1000
        ).coalesce(1).write.parquet(os.path.join(src, f"b{b}.parquet"))
    bench = synth_docs(spark, 0, 5_000, "bench_id", 500).localCheckpoint(
        eager=True
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*.parquet")
    )
    table = os.path.join(root, "verdicts")
    ckpt = os.path.join(root, "ck")
    t0 = time.perf_counter()
    q = start_decontaminate_stream(
        stream, bench, table, ckpt, n=13
    )
    try:
        q.processAllAvailable()
        wall = time.perf_counter() - t0
        prog = [json.loads(str(p)) for p in q.recentProgress]
    finally:
        q.stop()

    batch_secs = [
        p["durationMs"]["triggerExecution"] / 1000.0
        for p in prog
        if p.get("numInputRows", 0) > 0
    ]
    committed = read_verdicts(spark, table)
    n_rows = committed.count()
    n_flagged = committed.filter("contaminated").count()

    # --- kill-recovery drill under the same load: replay the last batch
    # with a crash injected between snapshot rename and pointer write.
    last_batch = spark.read.parquet(
        os.path.join(src, f"b{n_batches - 1}.parquet")
    )
    ptr = os.path.join(table, commit_mod._POINTER)
    with open(ptr) as f:
        rec_before = json.load(f)

    prep = prepare_benchmark(bench, n=13)

    def merge(committed_df, batch_df):
        flags = decontaminate_flags(
            batch_df.repartition(spark.sparkContext.defaultParallelism),
            prep, n=13,
        )
        return flags if committed_df is None else committed_df.unionByName(flags)

    real_replace = os.replace

    def crashing_replace(a, b):
        if os.path.basename(b) == commit_mod._POINTER:
            raise OSError("injected crash before pointer write")
        return real_replace(a, b)

    # new stream id => not a replay => the merge re-runs, crashes pre-commit
    t1 = time.perf_counter()
    commit_mod.os.replace = crashing_replace
    try:
        commit_mod.commit_batch(
            spark, table, 0, merge, last_batch, stream_id="drill"
        )
        raise SystemExit("injected crash did not fire")
    except OSError:
        pass
    finally:
        commit_mod.os.replace = real_replace
    with open(ptr) as f:
        assert json.load(f) == rec_before, "crash corrupted the pointer"
    # the replaying writer redoes the merge and commits
    commit_mod.commit_batch(
        spark, table, 0, merge, last_batch, stream_id="drill"
    )
    recovery_sec = time.perf_counter() - t1

    recovered = read_verdicts(spark, table)
    # table now holds every ingested row once + the drill's duplicate batch
    assert recovered.count() == n_rows + batch_size, "recovery lost/duped rows"
    want = decontaminate_flags(
        synth_docs(spark, 0, n_batches * batch_size, "doc_id", 1000),
        bench, n=13,
    ).agg(
        F.count("*"), F.sum(F.col("contaminated").cast("long"))
    ).first()
    assert (n_rows, n_flagged) == tuple(want), "stream != batch verdicts"

    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({
        "metric": "decontaminate_stream_batch_latency",
        "batch_size": batch_size,
        "n_batches": n_batches,
        "batch_secs": [round(s, 3) for s in batch_secs],
        "median_batch_sec": round(sorted(batch_secs)[len(batch_secs) // 2], 3),
        "docs_per_sec": round(
            batch_size / (sorted(batch_secs)[len(batch_secs) // 2]), 1
        ),
        "total_wall_sec": round(wall, 3),
        "n_flagged": n_flagged,
        "kill_recovery_sec": round(recovery_sec, 3),
        "unit": "sec",
    }))


if __name__ == "__main__":
    main()
