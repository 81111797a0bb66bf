"""The batch build pipeline — re-expression of cmd/indexing (SpimiBatchIndex,
pkg/index/indexer.go:115-601) as checkpointable Spark stages.

places build:
1. way docs: tag-allowlist filter (checkIsWayAlowed, parse_osm.go:535-543),
   way assembly join, MEDIAN centroid (indexer.go:168-181 — middle element
   of each independently sorted axis, NOT the mean),
   name/address/type projections (parse_osm.go:464-533);
2. node docs: historic/name filter (checkIsNodeAlowed, parse_osm.go:545-553);
3. dedup (IsWayDuplicateCheck/IsNodeDuplicateCheck, indexer.go:602-635):
   same lowercased name + mutual bbox containment vs an EARLIER doc ->
   dropped. The reference's outcome is goroutine-order-dependent; we make
   it deterministic: ways before nodes, then source id (which is also the
   reference's single-threaded test order, indexer_test.go:408-650);
4. deterministic doc ids 0..N-1 in that order (the reference's mutex-guarded
   counter, indexer.go:196-216, made race-free);
5. address enrichment: explicit addr:street, else nearest street 1-NN
   (indexer.go:1032-1038) — plus admin-polygon names via the PIP join.

index build: the term dict + ngram counts, each one groupBy/write,
replacing SPIMI spill+merge. These and `places` are the whole served
index: the per-field postings and doc stats derive from `places` when the
searcher loads it (spell.BM25FIndex), so the build writes neither.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators import search
from ..sources.osm import TYPE_PRECEDENCE, VALID_NODE_SEARCH_TAGS, VALID_SEARCH_TAGS
from ..sources.osm import assemble_ways
from ..streaming.commit import commit


def _type_expr() -> F.Column:
    """GetOSMObjectType precedence chain (parse_osm.go:481-533)."""
    return F.coalesce(
        *[F.col("tags").getItem(k) for k in TYPE_PRECEDENCE], F.lit("")
    )


def _name_expr() -> F.Column:
    """name (+ ' (short_name)') per GetNameAddressTypeFromOSMWay
    (parse_osm.go:464-470)."""
    return F.when(
        F.col("tags").getItem("short_name").isNotNull(),
        F.format_string(
            "%s (%s)", F.col("tags").getItem("name"), F.col("tags").getItem("short_name")
        ),
    ).otherwise(F.coalesce(F.col("tags").getItem("name"), F.lit("")))


def way_docs(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Way documents with median centroid. Output:
    (kind=0, src_id, name, lat, lon, street, postcode, housenumber, type,
     minlat, minlon, maxlat, maxlon)."""
    allowed = ways.filter(
        F.exists(F.map_keys("tags"), lambda k: k.isin(VALID_SEARCH_TAGS))
        & F.col("tags").getItem("name").isNotNull()
    )
    assembled = assemble_ways(allowed, nodes)
    slat, slon = F.array_sort("lats"), F.array_sort("lons")
    # Go: centerLat = sorted[len/2] (0-indexed) -> Spark element_at is 1-indexed
    mid = (F.size("lats") / 2).cast("int") + 1
    return assembled.select(
        F.lit(0).alias("kind"),
        F.col("id").alias("src_id"),
        _name_expr().alias("name"),
        F.element_at(slat, mid).alias("lat"),
        F.element_at(slon, mid).alias("lon"),
        F.coalesce(F.col("tags").getItem("addr:street"), F.lit("")).alias("street"),
        F.coalesce(F.col("tags").getItem("addr:postcode"), F.lit("")).alias("postcode"),
        F.coalesce(F.col("tags").getItem("addr:housenumber"), F.lit("")).alias("housenumber"),
        _type_expr().alias("type"),
        F.array_min("lats").alias("minlat"),
        F.array_min("lons").alias("minlon"),
        F.array_max("lats").alias("maxlat"),
        F.array_max("lons").alias("maxlon"),
    )


def node_docs(nodes: DataFrame) -> DataFrame:
    """Tagged-node documents (checkIsNodeAlowed: historic or name)."""
    allowed = nodes.filter(
        F.exists(F.map_keys("tags"), lambda k: k.isin(VALID_NODE_SEARCH_TAGS))
        & F.col("tags").getItem("name").isNotNull()
    )
    return allowed.select(
        F.lit(1).alias("kind"),
        F.col("id").alias("src_id"),
        _name_expr().alias("name"),
        "lat",
        "lon",
        F.coalesce(F.col("tags").getItem("addr:street"), F.lit("")).alias("street"),
        F.coalesce(F.col("tags").getItem("addr:postcode"), F.lit("")).alias("postcode"),
        F.coalesce(F.col("tags").getItem("addr:housenumber"), F.lit("")).alias("housenumber"),
        _type_expr().alias("type"),
        F.col("lat").alias("minlat"),
        F.col("lon").alias("minlon"),
        F.col("lat").alias("maxlat"),
        F.col("lon").alias("maxlon"),
    )


def dedup_docs(docs: DataFrame) -> DataFrame:
    """A10 dedup, deterministic: drop a doc when an earlier doc (order =
    (kind, src_id)) with the same lowercased name mutually bbox-contains it
    (contain || inverseContain, indexer.go:612-621). Same-name groups are
    tiny, so the self-join inside each name partition is cheap."""
    key = F.lower(F.col("name")).alias("name_key")
    d = docs.withColumn("name_key", key)
    earlier = d.select(
        "name_key",
        F.col("kind").alias("e_kind"), F.col("src_id").alias("e_src"),
        F.col("minlat").alias("e_minlat"), F.col("minlon").alias("e_minlon"),
        F.col("maxlat").alias("e_maxlat"), F.col("maxlon").alias("e_maxlon"),
    )
    is_earlier = (F.col("e_kind") < F.col("kind")) | (
        (F.col("e_kind") == F.col("kind")) & (F.col("e_src") < F.col("src_id"))
    )
    j = d.join(
        earlier, (d["name_key"] == earlier["name_key"]) & is_earlier, "left"
    ).drop(earlier["name_key"])
    contained = (
        (F.col("minlat") >= F.col("e_minlat")) & (F.col("maxlat") <= F.col("e_maxlat"))
        & (F.col("minlon") >= F.col("e_minlon")) & (F.col("maxlon") <= F.col("e_maxlon"))
    )
    contains = (
        (F.col("e_minlat") >= F.col("minlat")) & (F.col("e_maxlat") <= F.col("maxlat"))
        & (F.col("e_minlon") >= F.col("minlon")) & (F.col("e_maxlon") <= F.col("maxlon"))
    )
    dup = F.when(
        F.col("e_src").isNotNull() & (contained | contains), 1
    ).otherwise(0)
    # group by the FULL doc row ((kind, src_id) is unique, so the other
    # columns are constant within a group) instead of a leftsemi back to
    # `docs` — that rejoin re-evaluated the whole upstream way/node chain
    # a second time (round-4 rule: lazy frame consumed by N subtrees)
    return (
        j.groupBy(*docs.columns)
        .agg(F.max(dup).alias("is_dup"))
        .filter(F.col("is_dup") == 0)
        .select(*docs.columns)
    )


def assign_doc_ids(docs: DataFrame) -> DataFrame:
    """Deterministic doc ids: ways (kind 0) before nodes, then source id —
    reproduces the reference fixture's ids 0..10 (indexer_test.go:487-527)."""
    w = Window.orderBy("kind", "src_id")
    return docs.withColumn("id", (F.row_number().over(w) - 1).cast("long"))


def build_places(
    ways: DataFrame,
    nodes: DataFrame,
    streets: DataFrame | None = None,
    admin_polygons: DataFrame | None = None,
    knn_initial_ring: int = 1,
) -> DataFrame:
    """The `places` table: (id, name, lat, lon, address, type).

    address = addr:street if present, else nearest street name (1-NN,
    indexer.go:1032-1038), plus admin names from the PIP join when polygon
    layers are supplied (GetFullAdress, indexer.go:1017-1170).

    knn_initial_ring: first annulus radius of the nearest-street 1-NN —
    when the caller knows the street layer is spatially compact relative
    to the docs (a city extract), a ring covering the extent finishes the
    exact kNN in ONE round instead of log-many (result identical)."""
    docs = assign_doc_ids(
        dedup_docs(way_docs(ways, nodes).unionByName(node_docs(nodes)))
    )
    # docs feeds >= 3 subtrees below (isEmpty probe, kNN probes, the final
    # joins, the PIP join) — materialize ONCE or the whole synth/join/
    # median-centroid chain recomputes per consumer (round-4 rule)
    docs = docs.localCheckpoint(eager=True)

    if streets is not None:
        from ..operators.knn import knn_join

        missing = docs.filter(F.col("street") == "")
        if not missing.isEmpty():
            nn = knn_join(
                missing.select("id", F.col("lat").alias("plat"), F.col("lon").alias("plon")),
                streets.select(
                    F.col("name").alias("street_name"),
                    F.col("id").alias("obj_id"), F.col("lat").alias("olat"),
                    F.col("lon").alias("olon"),
                ),
                k=1, res=10, probe_id="id",
                initial_ring=knn_initial_ring,
            ).select(F.col("id"), F.col("obj_id").alias("nearest_street_id"))
            street_names = streets.select(
                F.col("id").alias("nearest_street_id"),
                F.col("name").alias("nearest_street"),
            )
            docs = (
                docs.join(nn, "id", "left")
                .join(F.broadcast(street_names), "nearest_street_id", "left")
                .withColumn(
                    "street",
                    F.when(F.col("street") == "", F.coalesce("nearest_street", F.lit("")))
                    .otherwise(F.col("street")),
                )
                .drop("nearest_street_id", "nearest_street")
            )

    if admin_polygons is not None:
        from ..operators.spatial_join import first_match_per_level, spatial_join

        matched = first_match_per_level(
            spatial_join(
                docs.select(F.col("id").alias("point_id"), "lat", "lon"),
                admin_polygons,
            ),
            admin_polygons,
            point_id="point_id",
        )
        # address suffix "kelurahan, kecamatan, city, province, country"
        # (GetFullAdress assembles fine->coarse, indexer.go:1017-1170):
        # admin_level descending = 7, 6, 4, 2
        admin_names = (
            matched.groupBy("point_id")
            .agg(
                F.concat_ws(
                    ", ",
                    F.reverse(
                        F.array_sort(
                            F.collect_list(F.struct("admin_level", "name"))
                        )
                    ).getField("name"),
                ).alias("admin_suffix")
            )
            .withColumnRenamed("point_id", "id")
        )
        docs = docs.join(admin_names, "id", "left")

        # postal-code fallback: a doc without addr:postcode inherits the
        # code of its FINEST enclosing relation that carries one (the
        # kelurahan rule, indexer.go:1053-1055,1146-1148)
        if "postal_code" in admin_polygons.columns:
            pc_dim = admin_polygons.select("polygon_id", "postal_code")
            rel_pc = (
                matched.join(F.broadcast(pc_dim), "polygon_id")
                .filter(
                    F.col("postal_code").isNotNull() & (F.col("postal_code") != "")
                )
                .groupBy("point_id")
                .agg(F.max(F.struct("admin_level", "postal_code")).alias("b"))
                .select(
                    F.col("point_id").alias("id"),
                    F.col("b.postal_code").alias("rel_postcode"),
                )
            )
            docs = (
                docs.join(rel_pc, "id", "left")
                .withColumn(
                    "postcode",
                    F.when(
                        F.col("postcode") == "",
                        F.coalesce("rel_postcode", F.lit("")),
                    ).otherwise(F.col("postcode")),
                )
                .drop("rel_postcode")
            )
    else:
        docs = docs.withColumn("admin_suffix", F.lit(None).cast("string"))

    address_parts = F.filter(
        F.array("street", "housenumber", "admin_suffix", "postcode"),
        lambda p: p.isNotNull() & (p != ""),
    )
    return docs.select(
        "id", "name", "lat", "lon",
        F.concat_ws(", ", address_parts).alias("address"),
        F.col("type").alias("type"),
    )


def build_index_tables(places: DataFrame) -> dict[str, DataFrame]:
    """The index artifacts SparkSearcher serves (the Spark fate of the
    reference's five on-disk artifacts, cmd/indexing/main.go:46-107 — see
    SURVEY §1.4):

      places        the doc store (bbolt kv_db.go:38-64); the per-field
                    postings and doc stats (meta.metadata) derive from it
                    at load (spell.BM25FIndex), the kNN probes read its
                    lat/lon (no rtree.dat)
      term_dict     string<->id dictionary (pkg/util.go:16-49)
      ngram_counts  n=1..4 LM counts (ngram.index, ngram_lm.go:340-418)
    """
    from ..operators.ngram_lm import ngram_counts

    toks = search.doc_tokens(places, doc_id="id", text="name").unionByName(
        search.doc_tokens(places, doc_id="id", text="address")
    )
    return {
        "places": places,
        "term_dict": search.term_dict(toks),
        "ngram_counts": ngram_counts(toks, max_n=4),
    }


def write_tables(tables: dict[str, DataFrame], base: str) -> None:
    """Commit each artifact as the snapshot-pointer table ``<base>/<name>``
    (streaming/commit.commit; on a cluster these are
    `writeTo(...).createOrReplace()` Iceberg calls). Every commit writes a
    new version directory, so ``base`` may be the index the input frames
    lazily read from; readers resolve tables through commit.read_table."""
    for name, df in tables.items():
        w = df.repartitionByRange("id") if name == "places" else df
        commit(df.sparkSession, f"{base}/{name}", w)


def build_all(
    spark,
    base: str,
    ways: DataFrame,
    nodes: DataFrame,
    relations: DataFrame | None = None,
    input_snapshot: str = "",
) -> dict[str, DataFrame]:
    """Full indexing program (the cmd/indexing re-expression) with
    checkpoint/resume: every artifact is a committed lineage stage, so a
    rerun after failure resumes from the last good stage. Commits
    `admin_polygons` and `streets` (when relations are given) and the
    build_index_tables artifacts, and returns them by name."""
    from ..sources.osm import assemble_relation_polygons
    from . import lineage

    def stage(name, build):
        return lineage.run_stage(
            spark, base, name, build, input_snapshot=input_snapshot
        )

    polys = None
    streets = None
    if relations is not None:
        polys = stage(
            "admin_polygons",
            lambda: assemble_relation_polygons(relations, ways, nodes),
        )
        streets = stage(
            "streets",
            lambda: way_docs(ways, nodes)
            .filter(F.col("type") == "residential")
            .select(F.col("src_id").alias("id"), "name", "lat", "lon"),
        )

    places = stage(
        "places",
        lambda: build_places(ways, nodes, streets=streets, admin_polygons=polys),
    )
    out = {
        name: df if name == "places" else stage(name, lambda df=df: df)
        for name, df in build_index_tables(places).items()
    }
    if polys is not None:
        out["admin_polygons"] = polys
        out["streets"] = streets
    return out
