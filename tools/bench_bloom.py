"""Bloom join-prune bench over the sf0.1 lineitem scan at m=2^16 and
m=2^24. bloom_prune picks its kernel from the word count: m=2^16 (2185
words) runs the literal Column filter, m=2^24 (559241 words) the
broadcast word array in mapInPandas (past _ARROW_WORD_THRESHOLD).

Small side = 50k orders keys; big side = lineitem (l_orderkey as string).
Checks: identical kept-row counts against the exact semi-join ground
truth (no false negatives; FP count printed), best-of-2 wall times.

Usage: python tools/bench_bloom.py [sf_dir]
"""

import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_search_spark.functions import bloom  # noqa: E402
from osm_search_spark.session import get_spark  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    small = (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .limit(50_000)
        .select(F.col("o_orderkey").cast("string").alias("k"))
        .localCheckpoint(eager=True)
    )
    big = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(F.col("l_orderkey").cast("string").alias("k"), "l_quantity")
        .localCheckpoint(eager=True)
    )
    n_big = big.count()
    truth = big.join(small.distinct(), "k", "leftsemi").count()
    print(f"big rows={n_big}, true matches={truth}")

    for m in (1 << 16, 1 << 24):
        words = bloom.bloom_words(bloom.bloom_build(small, "k", m_bits=m), m)
        best = None
        kept = None
        for _ in range(2):
            t0 = time.time()
            kept = bloom.bloom_prune(big, words, "k", m_bits=m).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        assert kept >= truth  # no false negatives, ever
        print(
            f"m=2^{m.bit_length() - 1} words={len(words)}: kept={kept} "
            f"(fp={kept - truth}, fp_rate={(kept - truth) / max(1, n_big - truth):.2%}) "
            f"best={best:.2f}s ({n_big / best / 1e6:.2f}M rows/s)"
        )


if __name__ == "__main__":
    main()
