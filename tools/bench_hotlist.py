"""Planted hot-inverted-list bench for the IVF-PQ SHUFFLE_HASH path.

Corpus with ~50% of rows in ONE inverted list; LUT side forced past the
broadcast budget so the ADC join shuffles on cluster_id. Measures salted
(hot_list_salt=True) vs unsalted wall time, best-of-2 each, and checks
the outputs are checksum-identical.

Usage: python tools/bench_hotlist.py [n_corpus] [n_probes]
"""

import os
import sys
import time

import numpy as np
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_search_spark.operators import similarity as S  # noqa: E402
from osm_search_spark.session import get_spark  # noqa: E402


def main():
    n_corpus = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_probes = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    n_lists = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    spark = get_spark()
    dim, m, kc = 32, 8, 16

    # synth corpus: 50% in a tight blob (one hot list), rest spread
    hot_center = ", ".join(
        ["10.0d + rand_u * 0.01d"] + ["rand_v * 0.01d"] * (dim - 1)
    )
    spread = ", ".join(
        f"sin(cast(id * {3 + j} as double)) * 3.0d" for j in range(dim)
    )
    corpus = (
        spark.range(n_corpus)
        .withColumn("rand_u", F.sin(F.col("id").cast("double")))
        .withColumn("rand_v", F.cos(F.col("id").cast("double")))
        .select(
            F.col("id").alias("vec_id"),
            F.when(
                F.pmod("id", F.lit(2)) == 0, F.expr(f"array({hot_center})")
            )
            .otherwise(F.expr(f"array({spread})"))
            .alias("embedding"),
        )
    )
    indexed, cent, books = S.ivfpq_build(
        corpus, n_centroids=n_lists, m=m, kc=kc
    )
    indexed = indexed.localCheckpoint(eager=True)
    sizes = sorted(
        (r["count"] for r in indexed.groupBy("cluster_id").count().collect()),
        reverse=True,
    )
    print(f"list sizes: max={sizes[0]} ({sizes[0]/n_corpus:.0%}), "
          f"mean={n_corpus/len(sizes):.0f}, n_lists={len(sizes)}")

    probes = (
        corpus.filter(F.col("vec_id") < n_probes)
        .select(F.col("vec_id").alias("probe_id"),
                F.col("embedding").alias("pvec"))
        .localCheckpoint(eager=True)
    )
    kw = dict(k=10, n_probe=8, max_broadcast_mb=0.0005)

    def run(salt):
        best, chk = None, None
        for _ in range(2):
            t0 = time.time()
            df = S.ivfpq_topk(
                probes, indexed, cent, books, hot_list_salt=salt, **kw
            )
            c = df.agg(
                F.count("*"), F.bit_xor(F.xxhash64("probe_id", "rank", "neighbor_id"))
            ).collect()[0]
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            chk = (c[0], c[1])
        return best, chk

    t_plain, chk_plain = run(False)
    t_salt, chk_salt = run(True)
    assert chk_plain == chk_salt, (chk_plain, chk_salt)
    print(
        f"n_corpus={n_corpus} unsalted={t_plain:.2f}s salted={t_salt:.2f}s "
        f"speedup={t_plain / t_salt:.2f}x checksums identical {chk_plain}"
    )


if __name__ == "__main__":
    main()
