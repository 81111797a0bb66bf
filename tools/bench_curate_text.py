"""Composed text-curation pipeline (plans/curate_text.curate_text) at
scale + N->4N levels.

Synthetic corpus: n docs in the planted-curation-corpus style (closed-form
LCG; ~70 words each) with 90% unique good docs, 5% exact-dup pairs, 4%
near-dup pairs, 1% contaminated (embedding a benchmark line). Reports
surviving (doc, copy) rows, wall (best-of-2 per fresh JVM), docs/s, and an
order-insensitive checksum so levels prove identical output.

Usage: python tools/bench_curate_text.py [n_docs] [cpus ...]
  e.g. python tools/bench_curate_text.py 20000 8 32
"""

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def corpus_rows(n: int):
    from osm_search_spark.sources.synth import (
        _cur_good_text,
        curation_bench_py,
    )

    bench = curation_bench_py()
    rows = []
    for i in range(n):
        text = _cur_good_text(100_000 + i)
        r = i % 100
        if r in (90, 92, 94, 96, 98):  # exact dup of the previous doc
            text = _cur_good_text(100_000 + i - 1)
        elif r in (91, 93, 95, 97):  # near dup: last word changed
            lines = _cur_good_text(100_000 + i - 2).split("\n")
            w = lines[0].split(" ")
            w[-1] = "variant."
            lines[0] = " ".join(w)
            text = "\n".join(lines)
        elif r == 99:  # contaminated with a benchmark line
            lines = text.split("\n")
            lines.insert(2, bench[i % len(bench)][1].split("\n")[0])
            text = "\n".join(lines)
        rows.append((i, f"src{i % 4}", "en", text))
    return rows


def run_once(cpus: int, n: int) -> None:
    from pyspark.sql import functions as F

    from osm_search_spark.plans.curate_text import curate_text
    from osm_search_spark.session import get_spark
    from osm_search_spark.sources import synth

    spark = get_spark("bench-curate-text", cpus=cpus)
    docs = spark.createDataFrame(
        corpus_rows(n), "doc_id long, source string, lang string, text string"
    ).repartition(4 * cpus).localCheckpoint(eager=True)
    bench = synth.curation_bench(spark)
    best, agg = None, None
    for _ in range(2):
        t0 = time.time()
        out = curate_text(docs, bench)
        agg = out.agg(
            F.count("*").alias("rows"),
            # bit_xor, not sum: ANSI sum of hashes overflows (CLAUDE.md)
            F.expr(
                "bit_xor(xxhash64(doc_id, copy_idx, split, chunk_first))"
            ).alias("chk"),
        ).collect()[0]
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(
        f"cpus={cpus} docs={n} survivors={agg['rows']} "
        f"checksum={agg['chk']} best={best:.2f}s docs_per_s={n / best:.0f}"
    )


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    cpus = [int(c) for c in sys.argv[2:]] or [8, 32]
    for c in cpus:
        subprocess.run(
            [
                sys.executable, "-c",
                f"import sys; sys.path.insert(0, {ROOT!r}); "
                "from tools.bench_curate_text import run_once; "
                f"run_once({c}, {n})",
            ],
            env={**os.environ, "SPARK_GRAFT_CPUS": str(c)},
            check=True,
        )


if __name__ == "__main__":
    main()
