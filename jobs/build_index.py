"""spark-submit entrypoint: run the full indexing pipeline (cmd/indexing
re-expression) with checkpoint/resume.

  spark-submit --py-files dist/osm_search_spark.zip jobs/build_index.py \
      --base /data/index \
      [--pbf extract.osm.pbf | --nodes P --ways P --relations P | --synth]

Each artifact (admin_polygons and streets when relations are given, then
places, term_dict, ngram_counts: what SparkSearcher and jobs/query.py
read) is a committed lineage stage; rerunning after a failure resumes from
the last good stage. The per-field postings and doc stats are not written:
the searcher derives them from places when it loads the index.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="output directory")
    ap.add_argument("--pbf", help="a real .osm.pbf extract (distributed parse)")
    ap.add_argument("--nodes", help="osm_nodes parquet path")
    ap.add_argument("--ways", help="osm_ways parquet path")
    ap.add_argument("--relations", help="osm_relations parquet path")
    ap.add_argument("--synth", action="store_true", help="use synthetic OSM fixture")
    ap.add_argument("--snapshot", default="", help="input snapshot id for lineage")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("osm-search-build-index").getOrCreate()

    from osm_search_spark.plans import build_pipeline as bp
    from osm_search_spark.sources import osm as osm_src

    if args.pbf:
        from osm_search_spark.sources import pbf

        nodes, ways, rels_raw = pbf.osm_pbf(spark, args.pbf)
        relations = pbf.admin_relations(rels_raw)
    elif args.synth:
        nodes, ways, relations = osm_src.synth_osm(spark)
    else:
        nodes = spark.read.parquet(args.nodes)
        ways = spark.read.parquet(args.ways)
        relations = spark.read.parquet(args.relations) if args.relations else None

    tables = bp.build_all(
        spark, args.base, ways, nodes, relations, input_snapshot=args.snapshot
    )
    for name, df in sorted(tables.items()):
        print(f"{name}: {df.count()} rows")


if __name__ == "__main__":
    main()
