"""dedup_spans (exact substring self-dedup) at scale + N->4N scaling.

Synthetic corpus: `n` ~55-token docs; 10% of docs append one of 1000
distinct 13-token boilerplate runs (each duplicated ~n/10000 times — the
realistic many-moderate-duplicates regime, not one mega-hot gram), and
0.5% of docs are whole-text clones of an earlier doc. Reports wall time
(best-of-2, fresh work each run), docs/s, and the cluster-relevant
volumes: positional gram rows, duplicated-gram dim size, covered token
rows, docs touched.

Scaling: pass two CPU counts (e.g. 8 32) to run the same input at both
parallelism levels in FRESH JVMs and print the N->4N efficiency
(north-rule evidence style; single-shot numbers on this VM carry
host-epoch noise — see BENCH/BASELINE.md discipline).

Usage: python tools/bench_dedup_spans.py [n_docs] [cpus ...]
  e.g. python tools/bench_dedup_spans.py 200000 8 32
"""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VOCAB = [f"w{i:03d}" for i in range(500)]


def synth_docs_sql(n: int) -> str:
    """Pure-Column synthetic corpus (the bench_decontaminate recipe: a
    LITERAL vocab array — transform(sequence(...)) is rebuilt per call
    site, measured pathological at this row count)."""
    vocab = "array(" + ",".join(f"'{w}'" for w in VOCAB) + ")"
    body = (
        f"array_join(transform(sequence(1, 55), "
        f"j -> element_at({vocab}, "
        f"cast(pmod(xxhash64(id * 97 + j, 'corpus'), 500) as int) + 1)), ' ')"
    )
    run = (
        "array_join(transform(sequence(1, 13), "
        "j -> concat('b', pmod(id, 1000), '_', j)), ' ')"
    )
    return f"""
        select id as doc_id,
               case
                 when pmod(id, 200) = 199 and id >= 200 then null -- clone below
                 when pmod(id, 10) = 0 then concat({body}, ' ', {run})
                 else {body}
               end as text
        from range({n})
    """


def run_once(cpus: int, n: int) -> None:
    from pyspark.sql import functions as F

    from osm_search_spark.operators.dedup import dedup_spans
    from osm_search_spark.session import get_spark

    spark = get_spark("bench-dedup-spans", cpus=cpus)
    docs = spark.sql(synth_docs_sql(n))
    # whole-text clones: doc i copies doc i-100 (0.5% of docs)
    base = docs.filter(F.col("text").isNotNull())
    clones = (
        spark.range(n)
        .filter((F.pmod("id", F.lit(200)) == 199) & (F.col("id") >= 200))
        .select((F.col("id")).alias("doc_id"), (F.col("id") - 100).alias("src"))
        .join(base.select(F.col("doc_id").alias("src"), "text"), "src")
        .select("doc_id", "text")
    )
    docs = base.unionByName(clones).repartition(4 * cpus).localCheckpoint(
        eager=True
    )
    n_docs = docs.count()

    best = None
    for _ in range(2):
        t0 = time.time()
        out = dedup_spans(docs, n=13)
        stats = out.agg(
            F.count("*").alias("rows"),
            F.sum(F.col("n_tokens_removed")).alias("removed"),
            F.sum((F.col("n_tokens_removed") > 0).cast("long")).alias("touched"),
        ).collect()[0]
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(
        f"cpus={cpus} docs={n_docs} best={best:.2f}s "
        f"docs_per_s={n_docs / best:.0f} rows={stats['rows']} "
        f"tokens_removed={stats['removed']} docs_touched={stats['touched']}"
    )


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cpu_levels = [int(a) for a in sys.argv[2:]] or [
        int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    ]
    if os.environ.get("_BENCH_DEDUP_SPANS_CHILD"):
        run_once(int(os.environ["_BENCH_DEDUP_SPANS_CHILD"]), n)
        return
    for cpus in cpu_levels:
        env = dict(os.environ, _BENCH_DEDUP_SPANS_CHILD=str(cpus))
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), str(n)],
            env=env,
            check=True,
        )


if __name__ == "__main__":
    main()
