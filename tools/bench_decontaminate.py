"""Decontamination bench at scale: 500k synthetic corpus docs (~50 words)
vs a 5k-doc benchmark, planted 13-gram contamination in 0.1% of corpus
docs. Compares prune modes (none / semi / bloom) with identical output
checksums, best-of-2 each.

Run in TWO regimes:
- default: the benchmark gram side broadcasts (small-benchmark case) —
  pruning is then mostly redundant with the map-side hash join;
- --no-broadcast (autoBroadcastJoinThreshold=-1): the SHUFFLE-join
  regime a 10^7-gram benchmark forces — here the Bloom prune's
  scan-side drop of the corpus gram stream is the 100 TB story.

Usage: python tools/bench_decontaminate.py [n_corpus] [--no-broadcast]
"""

import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_search_spark.operators.decontaminate import decontaminate  # noqa: E402
from osm_search_spark.session import get_spark  # noqa: E402

VOCAB = [f"w{i:03d}" for i in range(500)]
RUN = " ".join(f"planted{i}" for i in range(13))


def synth_docs(spark, n, id_col, plant_every):
    vocab = "array(" + ",".join(f"'{w}'" for w in VOCAB) + ")"
    body = (
        f"array_join(transform(sequence(1, 50), "
        f"j -> element_at({vocab}, cast(pmod(xxhash64(id * 64 + j, '{id_col}'), 500) as int) + 1)), ' ')"
    )
    text = F.when(
        F.pmod("id", F.lit(plant_every)) == 0,
        F.concat(F.expr(body), F.lit(" " + RUN)),
    ).otherwise(F.expr(body))
    return spark.range(n).select(F.col("id").alias(id_col), text.alias("text"))


def main():
    n_corpus = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    no_broadcast = "--no-broadcast" in sys.argv
    extra = (
        {"spark.sql.autoBroadcastJoinThreshold": "-1"} if no_broadcast else {}
    )
    spark = get_spark(extra_conf=extra)
    corpus = synth_docs(spark, n_corpus, "doc_id", 1000).localCheckpoint(
        eager=True
    )
    bench = synth_docs(spark, 5_000, "bench_id", 500).localCheckpoint(
        eager=True
    )
    print(f"regime={'shuffle' if no_broadcast else 'broadcast'} "
          f"corpus={n_corpus} bench=5000")

    results = {}
    for prune in (None, "semi", "bloom"):
        best, chk = None, None
        for _ in range(2):
            t0 = time.time()
            df = decontaminate(corpus, bench, n=13, prune=prune)
            c = df.agg(
                F.count("*"),
                F.bit_xor(F.xxhash64("doc_id", "bench_id", "n_collisions")),
            ).collect()[0]
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            chk = (c[0], c[1])
        results[prune] = (best, chk)
        print(f"prune={prune}: best={best:.2f}s pairs={chk[0]} checksum={chk[1]}")
    chks = {v[1] for v in results.values()}
    assert len(chks) == 1, chks
    print("all prune modes checksum-identical")


if __name__ == "__main__":
    main()
