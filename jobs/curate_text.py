"""spark-submit entrypoint: end-to-end TEXT-corpus curation — the full
pretraining-data DAG (plans/curate_text.py stage functions), each step a
committed lineage stage (resume from the last good stage on rerun; a
changed parameter re-gates every stage downstream of it via the
input_snapshot encoding):

  1. clean     — C4 line-level cleaning, page keep
  2. quality   — Gopher battery + repetition filter + trained-classifier
                 margin > 0
  3. dedup     — exact hash dedup then MinHash/LSH near-dup connected
                 components, canonical survivor per cluster
  4. spans     — exact-substring span dedup (Lee et al. 2022), rebuilt text
  5. decon     — benchmark n-gram decontamination (whole-doc drop)
  6. corpus    — split + weighted mix + sequence packing, written
                 hive-partitioned by training SHARD (prunable reads: a
                 trainer pulling shard k touches one directory)

  spark-submit --py-files dist/osm_search_spark.zip jobs/curate_text.py \
      --base /data/text [--docs docs.parquet --bench bench.parquet |
      --synth] [--span-n 13] [--decon-n 13] [--budget 512]

At 100 TB each stage is one pass with the operator's own scale shape
(hash-grouped dedup, banded LSH, scan-side Bloom prune, range-partitioned
prefix sums); staging through parquet between passes is what makes the
whole build resumable — the cost profile of a real corpus build, where
any stage can die and restart without recomputing upstream.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def run(
    spark: SparkSession,
    base: str,
    docs_path: str | None = None,
    bench_path: str | None = None,
    use_synth: bool = False,
    span_n: int | None = None,
    decon_n: int | None = None,
    budget: int | None = None,
    snapshot: str = "",
):
    from osm_search_spark.plans import curate_text as ct
    from osm_search_spark.plans.lineage import run_stage

    span_n = ct.DEFAULT_SPAN_N if span_n is None else span_n
    decon_n = ct.DEFAULT_DECON_N if decon_n is None else decon_n
    budget = ct.DEFAULT_PACK_BUDGET if budget is None else budget

    if use_synth:
        from osm_search_spark.sources import synth

        docs = synth.curation_corpus(spark)
        bench = synth.curation_bench(spark)
        snap = "synth|curation_corpus"
    else:
        docs = spark.read.parquet(docs_path)
        bench = spark.read.parquet(bench_path)
        snap = f"{docs_path}|{bench_path}|{snapshot}"

    # each stage's snapshot carries every parameter upstream of it, so a
    # changed parameter rebuilds its stage and everything downstream
    dedup_snap = f"{snap}|k={ct.DEFAULT_SHINGLE_K}"
    spans_snap = f"{dedup_snap}|span_n={span_n}"
    decon_snap = f"{spans_snap}|decon_n={decon_n}"
    clean = run_stage(
        spark, base, "clean",
        lambda: ct.clean_stage(docs),
        input_snapshot=snap,
    )
    quality = run_stage(
        spark, base, "quality",
        lambda: ct.quality_stage(clean),
        input_snapshot=snap,
    )
    deduped = run_stage(
        spark, base, "dedup",
        lambda: ct.dedup_stage(quality),
        input_snapshot=dedup_snap,
    )
    spans = run_stage(
        spark, base, "spans",
        lambda: ct.spans_stage(deduped, n=span_n),
        input_snapshot=spans_snap,
    )
    decon = run_stage(
        spark, base, "decon",
        lambda: ct.decontaminate_stage(spans, bench, n=decon_n),
        input_snapshot=decon_snap,
    )
    corpus = run_stage(
        spark, base, "corpus",
        lambda: ct.mix_pack_stage(ct.split_stage(decon), budget=budget),
        input_snapshot=f"{decon_snap}|budget={budget}",
        partition_by="shard",
    )
    return clean, quality, deduped, spans, decon, corpus


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True)
    ap.add_argument("--docs")
    ap.add_argument("--bench")
    ap.add_argument("--synth", action="store_true")
    ap.add_argument("--span-n", type=int, default=None)
    ap.add_argument("--decon-n", type=int, default=None)
    ap.add_argument("--budget", type=int, default=None)
    ap.add_argument("--snapshot", default="")
    args = ap.parse_args()
    if not args.synth and not (args.docs and args.bench):
        ap.error("either --synth or both --docs / --bench are required")

    spark = SparkSession.builder.appName("curate-text").getOrCreate()
    *_, corpus = run(
        spark, args.base,
        docs_path=args.docs, bench_path=args.bench, use_synth=args.synth,
        span_n=args.span_n, decon_n=args.decon_n, budget=args.budget,
        snapshot=args.snapshot,
    )
    n = corpus.count()
    print(f"curated corpus: {n} (doc, copy) rows at {args.base}/corpus")


if __name__ == "__main__":
    main()
