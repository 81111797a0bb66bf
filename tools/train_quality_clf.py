"""Train the quality classifier on the planted corpus and print the
weights tuple to pin into operators/quality_clf.py (PINNED_WEIGHTS).

Usage: python tools/train_quality_clf.py [n_docs] [iters] [lr]
Defaults (2000, 100, 0.5) are the exact parameters PINNED_WEIGHTS was
recorded with (quality_clf.py provenance comment) so a default rerun
reproduces the pin bit-for-bit.
Train split: doc_id % 5 != 0 (held-out fifth evaluated by the pytest).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    lr = float(sys.argv[3]) if len(sys.argv) > 3 else 0.5

    from pyspark.sql import functions as F

    from osm_search_spark.operators import quality_clf as Q
    from osm_search_spark.session import get_spark
    from osm_search_spark.sources import synth

    spark = get_spark("train-quality-clf")
    corpus = synth.quality_corpus(spark, n)
    train = corpus.filter(F.col("doc_id") % 5 != 0)
    w = Q.train_quality_classifier(train, iters=iters, lr=lr)

    held = corpus.filter(F.col("doc_id") % 5 == 0)
    acc = (
        held.select(
            ((Q.score_quality(F.col("text"), tuple(w)) > 0).cast("int")
             == F.col("label")).cast("int").alias("ok")
        )
        .agg(F.avg("ok"))
        .collect()[0][0]
    )
    print(f"# n={n} iters={iters} lr={lr} held_out_acc={acc:.4f}")
    print("PINNED_WEIGHTS: tuple[float, ...] = (")
    for i in range(0, len(w), 4):
        print("    " + " ".join(f"{v!r}," for v in w[i : i + 4]))
    print(")")


if __name__ == "__main__":
    main()
