"""spark-submit entrypoint: run queries against a built index directory.

  spark-submit --py-files dist/osm_search_spark.zip jobs/query.py \
      --base /data/index search --q "dunia fsntasi" --k 5
  ... autocomplete --q "monumen nasi"
  ... knn --lat -7.55 --lon 110.78 --k 5 [--radius-km 3]
  ... reverse --lat -7.76 --lon 110.37
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="index directory from build_index")
    sub = ap.add_subparsers(dest="op", required=True)
    s = sub.add_parser("search")
    s.add_argument("--q", required=True)
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--offset", type=int, default=0)
    a = sub.add_parser("autocomplete")
    a.add_argument("--q", required=True)
    a.add_argument("--k", type=int, default=10)
    k = sub.add_parser("knn")
    k.add_argument("--lat", type=float, required=True)
    k.add_argument("--lon", type=float, required=True)
    k.add_argument("--k", type=int, default=5)
    k.add_argument("--radius-km", type=float, default=None)
    r = sub.add_parser("reverse")
    r.add_argument("--lat", type=float, required=True)
    r.add_argument("--lon", type=float, required=True)
    args = ap.parse_args()

    spark = SparkSession.builder.appName("osm-search-query").getOrCreate()

    from osm_search_spark.operators import spell
    from osm_search_spark.operators.knn import knn_join
    from osm_search_spark.streaming.commit import read_table

    places = read_table(spark, f"{args.base}/places")
    if args.op in ("search", "autocomplete"):
        term_dict = read_table(spark, f"{args.base}/term_dict")
        counts = read_table(spark, f"{args.base}/ngram_counts")
        if args.op == "search":
            out = spell.freeform_search(
                spark, places, term_dict, counts, args.q, k=args.k, offset=args.offset
            )
        else:
            out = spell.autocomplete(
                spark, places, term_dict, counts, args.q, k=args.k
            )
    else:
        probes = spark.createDataFrame(
            [(0, args.lat, args.lon)], "probe_id long, plat double, plon double"
        )
        objects = places.select(
            "id", "name", "lat", "lon"
        )
        out = knn_join(
            probes, objects,
            k=args.k if args.op == "knn" else 1,
            radius_km=getattr(args, "radius_km", None),
            obj_id="id", olat="lat", olon="lon",
        ).join(places.select("id", "name", "address"), "id")
    out.show(50, truncate=False)


if __name__ == "__main__":
    main()
