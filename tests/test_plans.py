"""Physical-plan assertions for the round-2 verdict's scale items: the four
paths that used a global (single-partition) sort window must now either have
NO single-partition exchange at all (term_dict) or only one whose input is
already limited to <= offset+k rows by TakeOrderedAndProject (top-k serving
paths — the exchange sits ABOVE the limit in the plan tree, so it can never
see more than a constant number of rows)."""

from pyspark.sql import functions as F

from osm_search_spark.operators import search
from osm_search_spark.operators.spell import (
    BM25FIndex, autocomplete, freeform_search,
)


def plan_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def assert_single_partition_only_above_limit(plan: str):
    """Every Exchange SinglePartition must appear textually BEFORE (i.e.
    as a parent of) the TakeOrderedAndProject that bounds its input —
    explain prints parents above children."""
    top_i = plan.find("TakeOrderedAndProject")
    assert top_i >= 0, plan
    i = plan.find("Exchange SinglePartition")
    while i >= 0:
        assert i < top_i, plan
        i = plan.find("Exchange SinglePartition", i + 1)


def _docs(spark):
    rows = [
        (i, f"warung makan {i % 7} jalan pemuda {i % 3}") for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _places(spark):
    rows = [
        (i, f"warung makan {i % 7}", f"jalan pemuda {i % 3}",
         -6.2 + 0.001 * i, 106.8, "restaurant")
        for i in range(40)
    ]
    return spark.createDataFrame(
        rows, "id long, name string, address string, lat double, "
        "lon double, type string",
    )


def test_term_dict_has_no_single_partition_exchange(spark):
    toks = search.doc_tokens(_docs(spark))
    td = search.term_dict(toks)
    plan = plan_str(td)
    assert "Exchange SinglePartition" not in plan, plan
    # and the ids still equal the global first-seen rank
    first = (
        toks.select("doc_id", F.posexplode("tokens").alias("pos", "term"))
        .groupBy("term")
        .agg(F.min(F.struct("doc_id", "pos")).alias("first"))
        .orderBy("first.doc_id", "first.pos")
        .collect()
    )
    want = {r["term"]: i for i, r in enumerate(first)}
    got = {r["term"]: r["term_id"] for r in td.collect()}
    assert got == want


def test_term_dict_many_partitions_ids_stay_global(spark):
    toks = search.doc_tokens(_docs(spark)).repartition(16)
    a = {r["term"]: r["term_id"]
         for r in search.term_dict(toks, id_partitions=7).collect()}
    b = {r["term"]: r["term_id"]
         for r in search.term_dict(toks, id_partitions=64).collect()}
    assert a == b


def test_bm25_search_topk_is_take_ordered(spark):
    df = search.bm25_search(_docs(spark), "warung makan", k=5, offset=2)
    plan = plan_str(df)
    assert_single_partition_only_above_limit(plan)
    rows = df.collect()
    assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [
        3, 4, 5, 6, 7
    ]


def test_freeform_search_topk_is_take_ordered(spark):
    places = _places(spark)
    idx = BM25FIndex(places)
    from osm_search_spark.operators import ngram_lm

    toks = search.doc_tokens(
        places.select("id", F.concat_ws(" ", "name", "address").alias("text")),
        doc_id="id",
    )
    counts = ngram_lm.ngram_counts(toks)
    td = search.term_dict(toks)
    df = freeform_search(
        spark, places, td, counts, "warung makan", k=5, index=idx
    )
    assert_single_partition_only_above_limit(plan_str(df))
    assert df.count() == 5


def test_autocomplete_topk_is_take_ordered_and_no_corpus_rescan(spark):
    places = _places(spark)
    idx = BM25FIndex(places)
    from osm_search_spark.operators import ngram_lm

    toks = search.doc_tokens(
        places.select("id", F.concat_ws(" ", "name", "address").alias("text")),
        doc_id="id",
    )
    counts = ngram_lm.ngram_counts(toks)
    td = search.term_dict(toks)
    df = autocomplete(spark, places, td, counts, "warung mak", k=5, index=idx)
    plan = plan_str(df)
    assert_single_partition_only_above_limit(plan)
    # the AND check must come from the prebuilt postings, not a fresh
    # corpus tokenize (no mapInPandas/stemming scan, no concat_ws retok)
    assert "concat_ws" not in plan
    assert df.count() > 0


def test_decontaminate_plan_no_nested_loop(spark):
    # the Bloom-pruned collision join must stay an equi hash join
    # end-to-end — never a cartesian/nested-loop
    from osm_search_spark.operators.decontaminate import decontaminate

    docs = _docs(spark)
    bench = docs.limit(5).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    plan = plan_str(decontaminate(docs, bench, n=3))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_langid_profiles_join_is_broadcast(spark):
    # the scoring join against the (n_langs x top_k) profile dim must
    # broadcast — the doc side never shuffles for it
    from osm_search_spark.operators import langid
    from osm_search_spark.sources import synth

    corpus = synth.langcorpus_df(spark)
    prof = langid.train_char_profiles(corpus.filter(F.col("split") == "train"))
    plan = plan_str(
        langid.classify_langid(corpus.filter(F.col("split") == "test"), prof)
    )
    assert "BroadcastHashJoin" in plan, plan


def test_spatial_join_holes_stay_codegen(spark):
    # the hole-aware "expr" refine must not introduce Python evaluation:
    # no PythonUDF / MapInPandas below the refine filter (classified
    # cover's mapInPandas over the tiny polygon dim is the one exception
    # and sits on the dim side)
    from osm_search_spark.operators.spatial_join import refine_pip_expr

    polys = spark.createDataFrame(
        [(0, [0.0, 0.0, 10.0, 10.0, 0.0], [0.0, 10.0, 10.0, 0.0, 0.0],
          [[3.0, 3.0, 7.0, 7.0, 3.0]], [[3.0, 7.0, 7.0, 3.0, 3.0]])],
        "polygon_id long, ring_lat array<double>, ring_lon array<double>, "
        "holes_lat array<array<double>>, holes_lon array<array<double>>",
    )
    cand = spark.createDataFrame(
        [(1, 0, 1.0, 1.0)], "point_id long, polygon_id long, lat double, lon double"
    )
    plan = plan_str(refine_pip_expr(cand, polys))
    assert "MapInPandas" not in plan and "PythonUDF" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_spatial_join_one_plan_per_dim_size(spark, monkeypatch, request):
    """A 300-polygon dim (past the driver-cover size, so its cover
    classifies in a MapInPandas) broadcasts both the cover and the ring
    edges by hint: the points side never shuffles and no join degrades
    to a nested loop. Above BROADCAST_MAX_POLYGONS the hints go. At
    either dim size the cover's MapInPandas is the only Python node —
    the refine is codegen, no grouped or Arrow engine. Size-based
    broadcasting is off, so only the hints can broadcast."""
    from osm_search_spark.operators import spatial_join as SJ

    key = "spark.sql.autoBroadcastJoinThreshold"
    request.addfinalizer(lambda v=spark.conf.get(key): spark.conf.set(key, v))
    spark.conf.set(key, "-1")

    sq = [(i, -7.9 + 0.01 * (i % 20), 110.2 + 0.01 * (i // 20)) for i in range(300)]
    polys = spark.createDataFrame(
        [(i, [a, a, a + 0.02, a + 0.02, a], [o, o + 0.02, o + 0.02, o, o])
         for i, a, o in sq],
        "polygon_id long, ring_lat array<double>, ring_lon array<double>",
    )
    pts = spark.range(5000).select(
        F.col("id").alias("point_id"),
        (F.lit(-7.9) + (F.col("id") % 71) * 0.003).alias("lat"),
        (F.lit(110.2) + (F.col("id") % 53) * 0.003).alias("lon"),
    )

    def python_nodes(plan):
        return [
            ln.strip(" :+-") for ln in plan.splitlines()
            if "Pandas" in ln or "EvalPython" in ln
        ]

    plan = plan_str(SJ.spatial_join(pts, polys))
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert plan.count("BroadcastExchange") == 2, plan
    shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert not shuffles, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    nodes = python_nodes(plan)
    assert len(nodes) == 1 and nodes[0].startswith("MapInPandas classify"), plan

    monkeypatch.setattr(SJ, "BROADCAST_MAX_POLYGONS", 0)
    plan = plan_str(SJ.spatial_join(pts, polys))
    nodes = python_nodes(plan)
    assert len(nodes) == 1 and nodes[0].startswith("MapInPandas classify"), plan
    assert "Broadcast" not in plan, plan


def test_mix_sources_has_no_shuffle(spark):
    """Source mixing is pure Column work (literal CASE + hash + explode):
    the plan must contain NO Exchange and no Python evaluation."""
    from osm_search_spark.operators.curation import mix_sources

    df = spark.createDataFrame(
        [(i, f"src{i % 3}", "t") for i in range(20)],
        "doc_id long, source string, text string",
    )
    plan = plan_str(mix_sources(df, {"src0": 2.5, "src1": 0.4}))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_clip_full_path_is_python_free(spark):
    """FULL cover cells take the pure-Column rectangle branch: the FULL
    subtree must not evaluate Python; only the PARTIAL branch carries the
    Arrow kernel (exactly one Python-eval site in the union)."""
    from osm_search_spark.operators.clip import clip_to_tiles

    lat = [-7.9, -7.9, -7.3, -7.3, -7.9]
    lon = [110.2, 110.9, 110.9, 110.2, 110.2]
    df = spark.createDataFrame(
        [(1, lat, lon)],
        "polygon_id long, ring_lat array<double>, ring_lon array<double>",
    )
    plan = plan_str(clip_to_tiles(df, res=12))
    # the clip itself adds exactly ONE Arrow/Python eval (the PARTIAL
    # kernel); the cover's classify pass is checkpointed away
    assert plan.count("PythonMapInArrow") + plan.count("MapInPandas") == 1, plan


def test_pq_topk_constant_key_is_bhj(spark):
    """The ADC fan-out's constant join key must be NON-FOLDABLE: a
    foldable F.lit(1) key is constant-folded by Catalyst (1 = 1 -> true)
    and the join silently degrades to a BroadcastNestedLoopJoin, which is
    excluded from whole-stage codegen (the round-3 ~5x on the ADC scan)."""
    import numpy as np

    from osm_search_spark.operators import similarity as S

    rng = np.random.default_rng(7)
    corpus = spark.createDataFrame(
        [(i, rng.standard_normal(16).tolist()) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    cb = S.pq_train(corpus.limit(100), m=4, k=16)
    codes = S.pq_encode(corpus, cb)
    probes = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pvec"),
    )
    plan = plan_str(
        S.pq_topk(probes, codes, cb, k=5, probe_vec="pvec",
                  corpus_vec="embedding")
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_traj_attach_joins_are_shuffle_hash(spark):
    """hausdorff_join must NEVER broadcast the trips table (arrays,
    data-sized — a 1M x 32-vertex run OOM'd the driver when AQE picked
    broadcast): the extent and array-attach dims are pinned to
    SHUFFLE_HASH."""
    from osm_search_spark.operators.traj_sim import hausdorff_join

    df = spark.createDataFrame(
        [(i, [float(i), float(i) + 0.001], [110.0, 110.001])
         for i in range(8)],
        "trip_id long, lats array<double>, lons array<double>",
    )
    plan = plan_str(hausdorff_join(df, 0.01))
    assert "ShuffledHashJoin" in plan, plan
    # every side of every join (candidate cells, extents, array attach)
    # is data-sized: NO broadcast may appear anywhere in the plan
    assert "BroadcastExchange" not in plan, plan


def test_moran_moments_join_is_broadcast(spark):
    """The 1-row global-moments dim must ride a broadcast, never a
    shuffle."""
    from osm_search_spark.operators.focal import gi_star, moran_local

    df = spark.createDataFrame(
        [(10 * 2**58 + ix * 2**29 + 100, 1 + ix % 3) for ix in range(100, 130)],
        "cell_id long, value long",
    )
    for op in (gi_star, moran_local):
        plan = plan_str(op(df, 10, 1))
        assert "BroadcastHashJoin" in plan, plan
        # non-foldable constant key (round-3/8 rule): BNLJ would drop
        # the z-score projection out of whole-stage codegen
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_spread_scan_stats_guard(spark, tmp_path):
    # round 9: the spread guard reads optimizer statistics instead of
    # materializing an RDD. Both branches: a tiny single-row-group scan
    # spreads to defaultParallelism; the same scan with a small
    # maxPartitionBytes (est. split count >= cores/2, the production-scale
    # shape) must come back untouched — no repartition Exchange.
    from osm_search_spark.sources.synth import spread_scan

    p = str(tmp_path / "tiny.parquet")
    spark.range(0, 10000).write.mode("overwrite").parquet(p)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        df = spark.read.parquet(p)
        out = spread_scan(df)
        assert out is not df, "tiny scan must spread"
        assert (
            out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
        # shrink splits so the SAME file estimates as a wide scan
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        df2 = spark.read.parquet(p)
        assert spread_scan(df2) is df2, "wide-estimate scan must be a no-op"
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
