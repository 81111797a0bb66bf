"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      -> flagship spatial-join + tiling query at sf0.001
queries()         -> name -> (spark, sf_dir) -> DataFrame
oracle_sql()      -> name -> equivalent DuckDB SQL over the same parquet

Parity discipline: every float-producing expression is either (a) the SAME
SQL text fed to Spark's F.expr and to DuckDB (bit-identical IEEE arithmetic),
or (b) rounded to 6 decimals on both sides when libm trig/log is involved
(ULP differences between JVM Math and C libm are absorbed by rounding).
Every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osm_search_spark.functions import cells as C
from osm_search_spark.functions.geodesy import haversine_km, haversine_km_sql
from osm_search_spark.functions.text import ngrams, tokenize_simple
from osm_search_spark.operators import dedup, search, similarity
from osm_search_spark.operators.geofence import geofence_status
from osm_search_spark.operators.knn import knn_join
from osm_search_spark.operators.spatial_join import first_match_per_level, spatial_join
from osm_search_spark.sources import synth

SF001 = "/root/testdata/sf0.001"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread_scan: the test inputs are single-row-group parquet (one scan
    # task); see synth.spread_scan — no-op on already-parallel scans
    return synth.spread_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    # spread=False for consumers whose corpus-side work is trivial relative
    # to the spread exchange (embedding_topk: ~6k cosines — measured slower
    # WITH the exchange; see OPTIMIZATION_r09.md #6)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return synth.spread_scan(emb) if spread else emb


# ---------------------------------------------------------------------------
# Q1 flagship: spatial PIP join + tile assignment
# ---------------------------------------------------------------------------

def q_spatial_tile_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    points = synth.derive_points(spark, sf_dir)
    polys = synth.admin_polygons(spark)
    joined = spatial_join(points, polys, res=C.JOIN_RES)
    dim = polys.select("polygon_id", "name", "admin_level")
    return (
        joined.join(F.broadcast(dim), "polygon_id")
        .select(
            "point_id",
            "polygon_id",
            "name",
            "admin_level",
            C.latlng_to_cell("lat", "lon", C.TILE_RES).alias("tile_id"),
        )
    )


def sql_spatial_tile_join() -> str:
    return f"""
with points as ({synth.points_sql()}),
polys as ({synth.admin_polygons_sql()})
select p.point_id,
       cast(polys.polygon_id as bigint) as polygon_id,
       polys.name,
       cast(polys.admin_level as integer) as admin_level,
       {C.latlng_to_cell_sql('p.lat', 'p.lon', C.TILE_RES)} as tile_id
from points p join polys
  on p.lat >= polys.minlat and p.lat <= polys.maxlat
 and p.lon >= polys.minlon and p.lon <= polys.maxlon
"""


# Q2: pure tile assignment at two resolutions
def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    # map-only: the spread exchange would cost more than the projection
    pts = synth.derive_points(spark, sf_dir, spread=False)
    return pts.select(
        "point_id",
        C.latlng_to_cell("lat", "lon", C.JOIN_RES).alias("cell_join"),
        C.latlng_to_cell("lat", "lon", C.TILE_RES).alias("tile_id"),
    )


def sql_tile_assign() -> str:
    return f"""
with points as ({synth.points_sql()})
select point_id,
       {C.latlng_to_cell_sql('lat', 'lon', C.JOIN_RES)} as cell_join,
       {C.latlng_to_cell_sql('lat', 'lon', C.TILE_RES)} as tile_id
from points
"""


# Q3: multi-level address assembly (first-match; province=last-match)
def q_admin_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    points = synth.derive_points(spark, sf_dir)
    polys = synth.admin_polygons(spark)
    joined = spatial_join(points, polys, res=C.JOIN_RES)
    # project to the argmin keys before the groupBy: carried columns ride
    # inside the min(struct(...)) compare AND the exchange — this query
    # returns none of them (guide §2.3 — project before the exchange)
    return first_match_per_level(
        joined.select("point_id", "polygon_id"), polys
    ).select("point_id", "admin_level", "polygon_id", "name")


def sql_admin_first_match() -> str:
    return f"""
with points as ({synth.points_sql()}),
polys as ({synth.admin_polygons_sql()}),
matched as (
  select p.point_id, polys.polygon_id, polys.name, polys.admin_level,
         row_number() over (
           partition by p.point_id, polys.admin_level
           order by case when polys.admin_level = 4
                         then -polys.polygon_id else polys.polygon_id end
         ) as rn
  from points p join polys
    on p.lat >= polys.minlat and p.lat <= polys.maxlat
   and p.lon >= polys.minlon and p.lon <= polys.maxlon
)
select point_id, cast(admin_level as integer) as admin_level,
       cast(polygon_id as bigint) as polygon_id, name
from matched where rn = 1
"""


# Q4: kNN k=5 via iterative k-ring expansion (vs brute-force oracle)
def q_knn_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    probes = synth.probes_df(spark)
    objects = synth.derive_points(spark, sf_dir)
    res = knn_join(
        probes, objects, k=5, res=C.TILE_RES,
        obj_id="point_id", olat="lat", olon="lon",
    )
    return res.select(
        "probe_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("point_id").alias("obj_id"),
        F.round("dist_km", 6).alias("dist_km"),
    )


def sql_knn(k: int) -> str:
    hav = haversine_km_sql("pr.plat", "pr.plon", "p.lat", "p.lon")
    return f"""
with points as ({synth.points_sql()}),
probes as ({synth.probes_sql()})
select probe_id, rank, obj_id, dist_km from (
  select pr.probe_id,
         row_number() over (partition by pr.probe_id
                            order by {hav}, p.point_id) as rank,
         p.point_id as obj_id,
         round({hav}, 6) as dist_km
  from probes pr cross join points p
) ranked where rank <= {k}
"""


# Q5: reverse geocode (1-NN)
def q_reverse_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    probes = synth.probes_df(spark)
    objects = synth.derive_points(spark, sf_dir)
    res = knn_join(
        probes, objects, k=1, res=C.TILE_RES,
        obj_id="point_id", olat="lat", olon="lon",
    )
    return res.select(
        "probe_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("point_id").alias("obj_id"),
        F.round("dist_km", 6).alias("dist_km"),
    )


# Q5b: kNN with probes FAR from every object (~400-550 km) — exercises the
# incremental annulus expansion through many doubling rounds with the
# domain-extent ring cap; per-round fan-out stays O(1) coarse cells.
def q_knn_far_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    probes = synth.probes_far_df(spark)
    objects = synth.derive_points(spark, sf_dir)
    res = knn_join(
        probes, objects, k=3, res=C.TILE_RES,
        obj_id="point_id", olat="lat", olon="lon",
    )
    return res.select(
        "probe_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("point_id").alias("obj_id"),
        F.round("dist_km", 6).alias("dist_km"),
    )


def sql_knn_far_probes() -> str:
    hav = haversine_km_sql("pr.plat", "pr.plon", "p.lat", "p.lon")
    return f"""
with points as ({synth.points_sql()}),
probes as ({synth.probes_far_sql()})
select probe_id, rank, obj_id, dist_km from (
  select pr.probe_id,
         row_number() over (partition by pr.probe_id
                            order by {hav}, p.point_id) as rank,
         p.point_id as obj_id,
         round({hav}, 6) as dist_km
  from probes pr cross join points p
) ranked where rank <= 3
"""


# Q6: haversine distance of every point to probe 0
def q_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    la, lo = synth.ORACLE_PROBES[0][1], synth.ORACLE_PROBES[0][2]
    pts = synth.derive_points(spark, sf_dir)
    return pts.select(
        "point_id",
        F.round(haversine_km(F.lit(la), F.lit(lo), F.col("lat"), F.col("lon")), 6).alias("dist_km"),
    )


def sql_haversine() -> str:
    la, lo = synth.ORACLE_PROBES[0][1], synth.ORACLE_PROBES[0][2]
    from osm_search_spark.sources.synth import dlit
    hav = haversine_km_sql(dlit(la), dlit(lo), "lat", "lon")
    return f"""
with points as ({synth.points_sql()})
select point_id, round({hav}, 6) as dist_km from points
"""


# Q7: BM25 full-text scoring over documents
BM25_QUERY_TERMS = ["spark", "join", "window"]


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = search.bm25_scores(_docs(spark, sf_dir), BM25_QUERY_TERMS)
    return scores.select("doc_id", F.round("score", 6).alias("score"))


def sql_bm25() -> str:
    return search.bm25_sql("documents", BM25_QUERY_TERMS)


# Q8: token counts per document
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", F.size(tokenize_simple("text")).cast("long").alias("n_tokens")
    )


def sql_token_count() -> str:
    return f"""
select doc_id,
       cast(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) as bigint) as n_tokens
from documents
"""


# Q8b: BPE-ish piece counting (GPT-2-style pre-tokenizer regex) — the
# token-budget estimator; piece count tracks BPE token count much better
# than whitespace words
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions.text import bpe_pieces

    return _docs(spark, sf_dir).select(
        "doc_id", F.size(bpe_pieces("text")).cast("long").alias("n_pieces")
    )


def sql_bpe_token_count() -> str:
    from osm_search_spark.functions.text import bpe_pieces_sql

    return f"""
select doc_id,
       cast(len({bpe_pieces_sql('text')}) as bigint) as n_pieces
from documents
"""


# Q8c: REAL merge-based BPE token counting (Sennrich-style learned merges
# applied per UNIQUE piece + join back; functions/bpe.py). The gate pins
# the merge list (learned from REFERENCE_WORD_COUNTS, not the corpus, so
# the oracle SQL is a fixed string) and checks the two independent APPLY
# implementations against each other over the documents table: Spark's
# codegen replace-chain over the distinct-piece dim vs DuckDB's inline
# nested-replace fold per piece.
def q_bpe_merge_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions import bpe

    return bpe.bpe_token_counts(
        _docs(spark, sf_dir), bpe.reference_merges()
    ).select("doc_id", "n_tokens")


def sql_bpe_merge_token_count() -> str:
    from osm_search_spark.functions import bpe
    from osm_search_spark.functions.text import bpe_pieces_sql

    counts = bpe.token_count_sql("text", bpe.reference_merges())
    return f"""
select cast(doc_id as bigint) as doc_id,
       cast(list_sum({counts}) as bigint) as n_tokens
from documents
where len({bpe_pieces_sql('text')}) > 0
"""


# Q9: document frequency per term
def q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = search.doc_tokens(_docs(spark, sf_dir))
    return (
        toks.select("doc_id", F.explode(F.array_distinct("tokens")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )


def sql_term_df() -> str:
    return f"""
with toks as (
  select doc_id,
         list_distinct(list_filter(string_split(lower(text), ' '), t -> t <> '')) as tokens
  from documents
)
select term, count(*) as df
from (select doc_id, unnest(tokens) as term from toks)
group by term
"""


# Q10: bigram counts
def q_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = search.doc_tokens(_docs(spark, sf_dir))
    return (
        toks.select(F.explode(ngrams("tokens", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
    )


def sql_bigrams() -> str:
    toks = "list_filter(string_split(lower(text), ' '), t -> t <> '')"
    return f"""
with t as (select {toks} as tokens from documents),
grams as (
  select unnest([tokens[i] || ' ' || tokens[i + 1]
                 for i in generate_series(1, len(tokens) - 1)]) as bigram
  from t
)
select bigram, count(*) as cnt from grams group by bigram
"""


# Q11: exact dedup groups
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(_docs(spark, sf_dir))


def sql_exact_dedup() -> str:
    return f"""
select md5(text) as text_hash, count(*) as n_docs, min(doc_id) as keep_doc
from documents group by md5(text)
"""


# Q12: MinHash signatures
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(_docs(spark, sf_dir))


def sql_minhash() -> str:
    return dedup.minhash_sql("documents")


# Q12b: LSH band candidate pairs from the MinHash signatures — the scale
# path of near-dup detection (band-bucket self-join, never all-pairs)
def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.minhash_signatures(_docs(spark, sf_dir))
    return dedup.lsh_candidate_pairs(sigs)


def _lsh_pairs_cte() -> str:
    # mirrors lsh_candidate_pairs' DEFAULT mega-bucket cap (band buckets
    # larger than DEFAULT_LSH_MAX_BUCKET are excluded from the self-join)
    cap = dedup.DEFAULT_LSH_MAX_BUCKET
    return f"""sigs as ({dedup.minhash_sql('documents')}),
k1 as (select h0, h1 from sigs group by h0, h1 having count(*) <= {cap}),
k2 as (select h2, h3 from sigs group by h2, h3 having count(*) <= {cap}),
b1 as (
  select a.doc_id as doc_a, b.doc_id as doc_b
  from sigs a join sigs b
    on a.h0 = b.h0 and a.h1 = b.h1 and a.doc_id < b.doc_id
  join k1 on a.h0 = k1.h0 and a.h1 = k1.h1
),
b2 as (
  select a.doc_id as doc_a, b.doc_id as doc_b
  from sigs a join sigs b
    on a.h2 = b.h2 and a.h3 = b.h3 and a.doc_id < b.doc_id
  join k2 on a.h2 = k2.h2 and a.h3 = k2.h3
),
lsh_pairs as (select doc_a, doc_b from (select * from b1 union select * from b2))"""


def sql_lsh_pairs() -> str:
    return f"""
with {_lsh_pairs_cte()}
select doc_a, doc_b from lsh_pairs
"""


# Q12c: exact n-gram Jaccard near-dup pairs (token trigram sets; gram
# self-join, never a cross join)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.2)
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def sql_jaccard_pairs(max_gram_freq: int = 1000) -> str:
    # max_gram_freq mirrors dedup.DEFAULT_LSH_MAX_BUCKET (the Spark path's
    # default gram-frequency cap) — a no-op at sf0.01's 500 docs, but the
    # twin carries the same semantics
    toks = "list_filter(string_split(lower(text), ' '), t -> t <> '')"
    tri = (
        "list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] "
        "for i in generate_series(1, len(tokens) - 2)])"
    )
    return f"""
with t as (select doc_id, {toks} as tokens from documents),
g0 as (select doc_id, unnest({tri.replace('tokens', 'tokens')}) as gram from t),
g as (
  select * from g0 where gram in (
    select gram from g0 group by gram having count(*) <= {max_gram_freq}
  )
),
sizes as (select doc_id, count(*) as n_grams from g group by doc_id),
inter as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_inter
  from g a join g b on a.gram = b.gram and a.doc_id < b.doc_id
  group by a.doc_id, b.doc_id
)
select doc_a, doc_b, round(jv, 6) as jaccard from (
  select doc_a, doc_b,
         cast(n_inter as double) / (sa.n_grams + sb.n_grams - n_inter) as jv
  from inter
  join sizes sa on sa.doc_id = doc_a
  join sizes sb on sb.doc_id = doc_b
) where jv >= 0.2
"""


# Q12d: duplicate-cluster assignment — connected components over the LSH
# candidate pairs (min-label propagation + pointer jumping, dedup.py); the
# DuckDB twin derives components INDEPENDENTLY via a recursive
# transitive-closure CTE, so the gate checks the distributed fixpoint
# against a from-first-principles reachability computation.
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.minhash_signatures(_docs(spark, sf_dir))
    pairs = dedup.lsh_candidate_pairs(sigs)
    return dedup.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component_id"
    )


def sql_dedup_components() -> str:
    return f"""
with recursive {_lsh_pairs_cte()},
edges as (
  select doc_a as ea, doc_b as eb from lsh_pairs
  union all
  select doc_b as ea, doc_a as eb from lsh_pairs
),
cnodes as (select distinct ea as node from edges),
reach(src, node) as (
  select node, node from cnodes
  union
  select r.src, e.eb from reach r join edges e on e.ea = r.node
)
select src as doc_id, min(node) as component_id from reach group by src
"""


# Q12g: winnowing fingerprints (MOSS sketch — positional partial-copy
# detection the set-based MinHash misses; 60-bit md5-prefix hashes so the
# DuckDB twin is bit-identical)
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.winnow_fingerprints(_docs(spark, sf_dir))


def sql_winnow() -> str:
    return dedup.winnow_sql("documents")


# Q12h: benchmark decontamination — the published 13-gram-collision
# protocol: training docs sharing any token 13-gram with the benchmark dim
# (here the doc_id % 10 == 0 slice stands in for an evaluation set; the
# testdata's planted near-dups provide real cross-slice collisions). The
# Spark path Bloom-prunes the corpus gram stream scan-side before the
# join (answer-invariant — FPs die in the join); the twin derives the
# collision table independently and mirrors the boilerplate cap.
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.decontaminate import decontaminate

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return decontaminate(corpus, bench, n=13)


def sql_decontaminate() -> str:
    from osm_search_spark.operators.decontaminate import decontaminate_sql

    return decontaminate_sql(
        "(select doc_id, text from documents where doc_id % 10 <> 0)",
        "(select doc_id as bench_id, text from documents where doc_id % 10 = 0)",
        n=13,
    )


# Q12h2: doc-level decontamination verdicts — every corpus doc with its
# contaminated flag and benchmark-match count (the frame a corpus build
# filters on). Twin: the pair query aggregated and left-joined back.
def q_decontaminate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.decontaminate import decontaminate_flags

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return decontaminate_flags(corpus, bench, n=13)


def sql_decontaminate_flags() -> str:
    return f"""
with pairs as ({sql_decontaminate()}),
hits as (select doc_id, count(*) as n_bench_matches from pairs group by 1)
select d.doc_id,
       h.n_bench_matches is not null as contaminated,
       coalesce(h.n_bench_matches, 0) as n_bench_matches
from (select doc_id from documents where doc_id % 10 <> 0) d
left join hits h using (doc_id)
"""


# Q12h3: span EXCISION — tokens covered by any benchmark-shared 13-gram
# are removed, the rest of the doc survives in normalized order (the
# span-removal alternative to dropping whole docs). Twin re-derives
# positional gram matches + covered token indexes + the rebuild in SQL
# (positions via the two-unnests-ZIP idiom; comprehension var renamed so
# it can't shadow the zipped position column).
def q_decontaminate_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.decontaminate import decontaminate_excise

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return decontaminate_excise(corpus, bench, n=13)


def sql_decontaminate_excise(n: int = 13) -> str:
    toks = "list_filter(string_split(lower(text), ' '), t -> t <> '')"
    gh = (
        f"('0x' || substr(md5(array_to_string(tk[p:p+{n - 1}], ' ')), 1, 15))::bigint"
    )
    return f"""
with dtk as (
  select doc_id, {toks} as tk from documents where doc_id % 10 <> 0
),
btk as (
  select doc_id as bench_id, {toks} as tk from documents where doc_id % 10 = 0
),
bg0 as (
  select distinct bench_id,
    ('0x' || substr(md5(gram), 1, 15))::bigint as gh
  from (
    select bench_id,
      unnest([array_to_string(tk[i:i+{n - 1}], ' ')
              for i in generate_series(1, len(tk) - {n} + 1)]) as gram
    from btk)
),
bset as (
  select gh from bg0 group by gh having count(*) <= 1000
),
pos as (
  select doc_id,
         unnest(generate_series(1, len(tk) - {n - 1})) as i,
         unnest([{gh} for p in generate_series(1, len(tk) - {n - 1})]) as gh
  from dtk where len(tk) >= {n}
),
flagged as (select distinct doc_id from pos join bset using (gh)),
covered as (
  select distinct * from (
    select p.doc_id, unnest(generate_series(p.i, p.i + {n - 1})) as j
    from pos p join bset using (gh))
),
tokrows as (
  select d.doc_id,
         unnest(tk) as tok,
         unnest(generate_series(1, len(tk))) as j
  from dtk d join flagged using (doc_id)
),
rebuilt as (
  select t.doc_id,
         array_to_string(list(t.tok order by t.j), ' ') as text_clean
  from tokrows t left join covered c on c.doc_id = t.doc_id and c.j = t.j
  where c.doc_id is null
  group by t.doc_id
),
removed as (select doc_id, count(*) as n_removed from covered group by 1)
select f.doc_id,
       coalesce(r.text_clean, '') as text_clean,
       coalesce(m.n_removed, 0) as n_tokens_removed
from flagged f
left join rebuilt r using (doc_id)
left join removed m using (doc_id)
union all
select d.doc_id, array_to_string(d.tk, ' ') as text_clean,
       0 as n_tokens_removed
from dtk d anti join flagged using (doc_id)
"""


# Q12e2: deterministic corpus sampling — reprocessing-stable keep-set by
# salted-md5 id buckets (df.sample's output depends on partitioning; a
# corpus build needs the SAME sample on re-runs).
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.curation import deterministic_sample

    return deterministic_sample(_docs(spark, sf_dir), 0.3).select(
        "doc_id", "lang", "source"
    )


def sql_deterministic_sample() -> str:
    from osm_search_spark.operators.curation import sample_predicate_sql

    return (
        "select doc_id, lang, source from documents where "
        + sample_predicate_sql("doc_id", 0.3)
    )


# Q12e3: sequence packing — the GPT concat-then-chunk shape: global token
# offset per doc (scalable weighted prefix sum: range partition + local
# running sum + per-partition totals, never a single-partition window)
# and the training-chunk span [chunk_first, chunk_last] at the budget.
# Twin: a plain window cumsum (DuckDB can afford the global sort).
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.curation import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=512)


def sql_pack_sequences(budget: int = 512) -> str:
    toks = "list_filter(string_split(lower(text), ' '), t -> t <> '')"
    return f"""
with base as (
  select doc_id, cast(len({toks}) as bigint) as n_tokens from documents
),
pre as (
  select doc_id, n_tokens,
         cast(coalesce(sum(n_tokens) over (order by doc_id
             rows between unbounded preceding and 1 preceding), 0) as bigint)
           as tok_offset
  from base
)
select doc_id, n_tokens, tok_offset,
       cast(floor(cast(tok_offset as double) / {budget}) as bigint) as chunk_first,
       greatest(
         cast(floor(cast(tok_offset + n_tokens - 1 as double) / {budget}) as bigint),
         cast(floor(cast(tok_offset as double) / {budget}) as bigint)
       ) as chunk_last
from pre
"""


# Q12i: winnowing-variant decontamination — fingerprint collisions between
# corpus and benchmark (shared token run >= w + k - 1 guarantees a hit at
# ~1/w the gram volume); twin composes the winnowing twin on both slices.
def q_decontaminate_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.decontaminate import decontaminate_winnow

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return decontaminate_winnow(corpus, bench)


def sql_decontaminate_winnow() -> str:
    corpus_fp = dedup.winnow_sql(
        "(select doc_id, text from documents where doc_id % 10 <> 0)"
    )
    bench_fp = dedup.winnow_sql(
        "(select doc_id, text from documents where doc_id % 10 = 0)"
    )
    return f"""
select d.doc_id, b.bench_id, count(*) as n_shared_fps
from ({corpus_fp}) d
join (select doc_id as bench_id, fp from ({bench_fp})) b using (fp)
group by 1, 2
"""


# Q12e: deterministic train/val/test split (salted-md5 buckets — the only
# split kind that survives corpus growth/reprocessing; operators/curation.py)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators import curation

    return curation.assign_split(_docs(spark, sf_dir)).select(
        "doc_id", "bucket", "split"
    )


def sql_split_assign() -> str:
    from osm_search_spark.operators import curation

    b = curation.split_bucket_sql("doc_id")
    return f"""
select doc_id, {b} as bucket,
       case when {b} < 8000 then 'train'
            when {b} < 9000 then 'val'
            else 'test' end as split
from documents
"""


# Q12f: PII redaction (emails + long digit runs; RE2-compatible patterns so
# the DuckDB twin runs the IDENTICAL regex text). Contact strings are
# synthesized deterministically from doc_id on BOTH sides so the redactor
# has real spans to scrub.
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators import curation

    docs = _docs(spark, sf_dir)
    contact = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com ref "),
        (F.col("doc_id") * F.lit(987654321) + F.lit(123456789)).cast("string"),
    )
    return docs.select("doc_id", curation.redact_pii(contact).alias("clean"))


def sql_pii_redact() -> str:
    from osm_search_spark.operators import curation

    contact = (
        "text || ' contact user' || cast(doc_id as varchar)"
        " || '@mail.example.com ref '"
        " || cast(doc_id * 987654321 + 123456789 as varchar)"
    )
    return f"""
select doc_id, {curation.redact_sql(contact)} as clean
from documents
"""


# Q12h: as-of temporal join — each event enriched with the latest state row
# at or before its timestamp (state stream = every 5th event, deduped per
# (user, ts) by max event_id). The DuckDB twin uses DuckDB's NATIVE
# `ASOF JOIN`, so the gate checks our union+running-last composition
# against an independent first-class implementation of the semantics.
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.asof import asof_join

    ev = synth.spread_scan(spark.read.parquet(f"{sf_dir}/events.parquet"))
    states = (
        ev.filter(F.col("event_id") % 5 == 0)
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("event_id", "event_id").alias("state_id"),
            F.max_by("value", "event_id").alias("state_value"),
        )
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts"), states, on="user_id"
    )
    return joined.select("event_id", "user_id", "state_id", "state_value")


def sql_asof() -> str:
    return """
with states as (
  select user_id, ts,
         max_by(event_id, event_id) as state_id,
         max_by(value, event_id) as state_value
  from events where event_id % 5 = 0
  group by user_id, ts
)
select e.event_id, e.user_id, s.state_id, s.state_value
from events e asof join states s
  on e.user_id = s.user_id and e.ts >= s.ts
"""


# Q12i: range (interval) join — events matched to overlapping value bands
# via the bucketed equi-join (operators/range_join.py; never a nested
# loop). The DuckDB twin is the plain theta join, so the gate proves the
# bucket cover + exact filter reproduces true containment semantics.
_BANDS = [(i, i * 3.5, i * 3.5 + 6.0) for i in range(60)]


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.range_join import range_join

    ev = synth.spread_scan(spark.read.parquet(f"{sf_dir}/events.parquet")).select(
        "event_id", "value"
    )
    bands = spark.createDataFrame(
        _BANDS, "band_id long, lo double, hi double"
    )
    return range_join(ev, bands, point_col="value", bucket_width=4.0).select(
        "event_id", "band_id"
    )


def sql_range_join() -> str:
    vals = ",\n".join(
        f"({i}, {synth.dlit(lo)}, {synth.dlit(hi)})" for i, lo, hi in _BANDS
    )
    return f"""
with bands as (select * from (values\n{vals}\n) b(band_id, lo, hi))
select e.event_id, b.band_id
from events e join bands b on b.lo <= e.value and e.value < b.hi
"""


# Q12j: hypertable-style hourly rollup (continuous aggregate; exact
# integer-cent sums so the aggregate is order-independent and the DuckDB
# twin matches bit-for-bit; incremental merge tested in test_rollup)
def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.rollup import time_rollup

    ev = synth.spread_scan(spark.read.parquet(f"{sf_dir}/events.parquet"))
    return time_rollup(ev).select(
        "bucket_ts", "event_type", "n_events", "sum_cents"
    )


def sql_hourly_rollup() -> str:
    return """
select date_trunc('hour', ts) as bucket_ts, event_type,
       count(*) as n_events,
       cast(sum(cast(round(value * 100, 0) as bigint)) as bigint) as sum_cents
from events
group by 1, 2
"""


# Q13: brute-force cosine top-k over embeddings
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir, spread=False)
    probes = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    res = similarity.brute_force_topk(probes, emb, k=10)
    return res.select(
        "probe_id", "rank", "neighbor_id", F.round("cos", 5).alias("cos")
    )


def sql_embedding_topk() -> str:
    dot = (
        "list_sum([pv[i] * cv[i] for i in generate_series(1, len(pv))])"
    )
    npv = "sqrt(list_sum([pv[i] * pv[i] for i in generate_series(1, len(pv))]))"
    ncv = "sqrt(list_sum([cv[i] * cv[i] for i in generate_series(1, len(cv))]))"
    return f"""
with emb as (
  select vec_id, cast(embedding as double[]) as vec
  from embeddings
),
probes as (select vec_id as probe_id, vec as pv from emb where vec_id < 3),
pairs as (
  select probe_id, vec_id, vec as cv, pv from probes cross join emb
  where vec_id <> probe_id
),
scored as (
  select probe_id, vec_id, {dot} / ({npv} * {ncv}) as cosv from pairs
)
select probe_id, rank, neighbor_id, cos from (
  select probe_id,
         row_number() over (partition by probe_id order by cosv desc, vec_id) as rank,
         vec_id as neighbor_id, round(cosv, 5) as cos
  from scored
) where rank <= 10
"""


# Q14: quality features (stopword ratio)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions.text import _STOPWORD_LIST

    toks = tokenize_simple("text")
    stop_hits = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORD_LIST)))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(stop_hits / F.size(toks), 6).alias("stopword_ratio"),
    )


def sql_quality() -> str:
    from osm_search_spark.functions.text import _STOPWORD_LIST

    stops = ", ".join(f"'{w}'" for w in _STOPWORD_LIST)
    toks = "list_filter(string_split(lower(text), ' '), t -> t <> '')"
    return f"""
with t as (select doc_id, {toks} as tokens from documents)
select doc_id,
       cast(len(tokens) as bigint) as n_tokens,
       round(cast(len(list_filter(tokens, w -> w in ({stops}))) as double)
             / len(tokens), 6) as stopword_ratio
from t
"""


# Q14b: the published Gopher corpus-filter battery (+ C4-style duplicate
# fractions) — one pure-Column projection per doc with a doc-level `keep`
# verdict at the published thresholds. Floats round(6) for the hash gate;
# `keep` compares UNROUNDED doubles, which are bit-identical across
# engines (same sequential sums, same divisions — no libm).
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions.text import (
        gopher_keep,
        gopher_quality_features,
    )

    feats = gopher_quality_features(F.col("text"))
    float_cols = [
        "mean_word_len", "symbol_word_ratio", "bullet_line_frac",
        "ellipsis_line_frac", "alpha_word_frac", "dup_line_frac",
        "dup_line_char_frac", "dup_para_frac", "dup_para_char_frac",
    ]
    return _docs(spark, sf_dir).select(
        "doc_id",
        feats["n_words"].alias("n_words"),
        feats["n_req_stopwords"].alias("n_req_stopwords"),
        *[F.round(feats[c], 6).alias(c) for c in float_cols],
        gopher_keep(feats).alias("keep"),
    )


def sql_gopher_quality() -> str:
    from osm_search_spark.functions.text import gopher_quality_sql

    s = gopher_quality_sql("text")
    float_cols = [
        "mean_word_len", "symbol_word_ratio", "bullet_line_frac",
        "ellipsis_line_frac", "alpha_word_frac", "dup_line_frac",
        "dup_line_char_frac", "dup_para_frac", "dup_para_char_frac",
    ]
    keep = (
        f"({s['n_words']} between 50 and 100000)"
        f" and ({s['mean_word_len']} between 3 and 10)"
        f" and ({s['symbol_word_ratio']} <= 0.1)"
        f" and ({s['bullet_line_frac']} <= 0.9)"
        f" and ({s['ellipsis_line_frac']} <= 0.3)"
        f" and ({s['alpha_word_frac']} >= 0.8)"
        f" and ({s['n_req_stopwords']} >= 2)"
        f" and ({s['dup_line_frac']} <= 0.30)"
        f" and ({s['dup_line_char_frac']} <= 0.20)"
        f" and ({s['dup_para_frac']} <= 0.30)"
        f" and ({s['dup_para_char_frac']} <= 0.20)"
    )
    cols = ",\n       ".join(
        [f"{s['n_words']} as n_words",
         f"{s['n_req_stopwords']} as n_req_stopwords"]
        + [f"round({s[c]}, 6) as {c}" for c in float_cols]
        + [f"({keep}) as keep"]
    )
    return f"select doc_id,\n       {cols}\nfrom documents"


# Q5j: geodesic point buffer (ST_Buffer-for-points) — circular fences
# derived from the point set converted to closed CCW 24-gon rings
# (functions/geodesy.buffer_ring via geofence.fence_polygons), exploded
# per vertex. Trig is libm, so both sides round to 6dp (the float-parity
# rule); the twin re-derives every vertex through the same published
# destination-point formula with a two-unnest generate_series zip.
_FENCE_N_VERTICES = 24


def q_fence_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.geofence import fence_polygons

    pts = synth.derive_points(spark, sf_dir)
    fences = pts.filter(F.col("point_id") % 50 == 0).select(
        F.col("point_id").alias("fence_id"),
        "lat",
        "lon",
        (0.5 + (F.col("point_id") % 7).cast("double") * 0.25).alias("radius_km"),
    )
    out = fence_polygons(fences, n_vertices=_FENCE_N_VERTICES)
    ex = out.select(
        "fence_id",
        "radius_km",
        F.posexplode("ring_lat").alias("seq0", "vlat"),
        "ring_lon",
    )
    return ex.select(
        "fence_id",
        "radius_km",
        (F.col("seq0") + 1).cast("long").alias("seq"),
        F.round("vlat", 6).alias("vlat"),
        F.round(F.element_at("ring_lon", F.col("seq0") + 1), 6).alias("vlon"),
    )


def sql_fence_rings() -> str:
    from osm_search_spark.functions.geodesy import buffer_ring_vertex_sql

    n = _FENCE_N_VERTICES
    vlat, vlon = buffer_ring_vertex_sql("lat", "lon", "radius_km", "k", n)
    return f"""
with pts as ({synth.points_sql()}),
fences as (
  select point_id as fence_id, lat, lon,
         0.5 + cast(point_id % 7 as double) * 0.25 as radius_km
  from pts where point_id % 50 = 0
),
verts as (
  select fence_id, radius_km, lat, lon,
         unnest(generate_series(0, {n})) as k
  from fences
)
select fence_id, radius_km, k + 1 as seq,
       round({vlat}, 6) as vlat,
       round({vlon}, 6) as vlon
from verts
"""


# Q5h: Douglas-Peucker ring simplification (the tile-pipeline pre-step)
# over deterministic jagged fixture rings. The Spark side runs the
# distributed Arrow kernel and explodes the kept vertices; the twin
# embeds the DRIVER-side kernel's output as VALUES (the images-oracle
# recipe) — kept vertices are exact input-float pass-throughs, so the
# compare is bit-exact. The kernel itself is verified independently in
# tests/test_simplify.py against a recursive reference implementation.
def _simplify_fixture_rings() -> list[tuple[int, list[float], list[float]]]:
    import math

    rows = []
    for pid in range(8):
        n = 36 + 6 * pid
        lat, lon = [], []
        for k in range(n):
            ang = 2 * math.pi * k / n
            r = 0.12 + 0.025 * ((k * 7 + pid) % 5)
            lat.append(-7.7 + r * math.sin(ang))
            lon.append(110.5 + r * math.cos(ang))
        lat.append(lat[0])
        lon.append(lon[0])
        rows.append((pid, lat, lon))
    return rows


def q_simplify_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.simplify import simplify_polygons

    df = spark.createDataFrame(
        _simplify_fixture_rings(),
        "polygon_id long, ring_lat array<double>, ring_lon array<double>",
    )
    out = simplify_polygons(df, 0.02)
    ex = out.select(
        "polygon_id",
        "n_points_before",
        "n_points_after",
        F.posexplode("ring_lat").alias("seq0", "lat"),
        "ring_lon",
    )
    return ex.select(
        "polygon_id",
        "n_points_before",
        "n_points_after",
        (F.col("seq0") + 1).alias("seq"),
        "lat",
        F.element_at("ring_lon", F.col("seq0") + 1).alias("lon"),
    )


def sql_simplify_rings() -> str:
    from osm_search_spark.operators.simplify import simplify_rings_py

    rows = []
    for pid, lat, lon in _simplify_fixture_rings():
        slat, slon = simplify_rings_py(lat, lon, 0.02)
        for i, (a, b) in enumerate(zip(slat, slon)):
            rows.append(
                f"(cast({pid} as bigint), {len(lat)}, {len(slat)}, "
                f"{i + 1}, {synth.dlit(a)}, {synth.dlit(b)})"
            )
    return (
        "select * from (values "
        + ", ".join(rows)
        + ") t(polygon_id, n_points_before, n_points_after, seq, lat, lon)"
    )


# Q5i: tile clipping (Sutherland-Hodgman against cell bboxes) — every
# fixture polygon cut to its res-9 cells: FULL cells as pure-Column
# rectangles, PARTIAL cells through the Arrow kernel; output explodes
# the clipped outer-ring vertices (+ per-cell hole count). Twin: the
# whole pipeline re-run DRIVER-side (classified_cover_rows + the
# same kernel) embedded as VALUES — both sides bit-exact since FULL
# rectangles use identical double arithmetic and PARTIAL vertices come
# from one kernel. The kernel itself is verified independently in
# tests/test_clip.py (area conservation, even-odd membership, identity).
def _clip_fixture_polys() -> list[dict]:
    import math

    polys = []
    for pid in range(4):
        n = 36 + 8 * pid
        lat, lon = [], []
        for k in range(n):
            ang = 2 * math.pi * k / n
            r = 0.13 + 0.028 * ((k * 5 + pid) % 4)
            lat.append(-7.68 + r * math.sin(ang))
            lon.append(110.52 + r * math.cos(ang))
        lat.append(lat[0])
        lon.append(lon[0])
        polys.append(
            dict(polygon_id=pid, ring_lat=lat, ring_lon=lon,
                 holes_lat=None, holes_lon=None)
        )
    polys.append(
        dict(polygon_id=4,
             ring_lat=[-7.92, -7.92, -7.31, -7.31, -7.92],
             ring_lon=[110.21, 110.93, 110.93, 110.21, 110.21],
             holes_lat=None, holes_lon=None)
    )
    ring = polys[0]
    h_lat = [(-7.68 + (v + 7.68) * 0.45) for v in ring["ring_lat"]]
    h_lon = [(110.52 + (v - 110.52) * 0.45) for v in ring["ring_lon"]]
    polys.append(
        dict(polygon_id=5, ring_lat=ring["ring_lat"], ring_lon=ring["ring_lon"],
             holes_lat=[h_lat], holes_lon=[h_lon])
    )
    return polys


_CLIP_RES = 9


def q_clip_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.clip import clip_to_tiles

    df = spark.createDataFrame(
        [(p["polygon_id"], p["ring_lat"], p["ring_lon"],
          p["holes_lat"], p["holes_lon"]) for p in _clip_fixture_polys()],
        "polygon_id long, ring_lat array<double>, ring_lon array<double>, "
        "holes_lat array<array<double>>, holes_lon array<array<double>>",
    )
    out = clip_to_tiles(df, res=_CLIP_RES)
    ex = out.select(
        "polygon_id",
        "cell_id",
        F.col("full").alias("is_full"),
        F.size("holes_lat").alias("n_holes"),
        F.posexplode("ring_lat").alias("seq0", "lat"),
        "ring_lon",
    )
    return ex.select(
        "polygon_id",
        "cell_id",
        "is_full",
        "n_holes",
        (F.col("seq0") + 1).alias("seq"),
        "lat",
        F.element_at("ring_lon", F.col("seq0") + 1).alias("lon"),
    )


def sql_clip_tiles() -> str:
    from osm_search_spark.operators.clip import (
        _cell_bounds,
        clip_polygon_cell_py,
    )
    from osm_search_spark.operators.spatial_join import classified_cover_rows

    polys = _clip_fixture_polys()
    by_id = {p["polygon_id"]: p for p in polys}
    rows = []
    for pid, cid, full in classified_cover_rows(polys, _CLIP_RES):
        p = by_id[pid]
        if full:
            minlat, minlon, maxlat, maxlon = _cell_bounds(cid, _CLIP_RES)
            rlat = [minlat, minlat, maxlat, maxlat, minlat]
            rlon = [minlon, maxlon, maxlon, minlon, minlon]
            nh = 0
        else:
            got = clip_polygon_cell_py(
                p["ring_lat"], p["ring_lon"], cid, _CLIP_RES,
                p["holes_lat"], p["holes_lon"],
            )
            if got is None:
                continue
            rlat, rlon, hlat, _ = got
            nh = len(hlat)
        for i, (a, b) in enumerate(zip(rlat, rlon)):
            rows.append(
                f"(cast({pid} as bigint), cast({cid} as bigint), {str(full).lower()}, "
                f"{nh}, {i + 1}, {synth.dlit(a)}, {synth.dlit(b)})"
            )
    return (
        "select * from (values "
        + ", ".join(rows)
        + ") t(polygon_id, cell_id, is_full, n_holes, seq, lat, lon)"
    )


# Q5m: trajectory segmentation — deterministic tracks from the derived
# points (entity = point_id % 10, ts = point_id * 60; consecutive pings
# jump a median ~44 km around the band, so the 45 km rule splits about
# half the steps into new trips), per-trip stats.
# Twin: same lag/flag/cumsum/groupBy in SQL; the trip index's windowed
# int sum is CAST (HUGEINT rule), total_km rounds to 6dp (libm rule).
def _trip_pings(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = synth.derive_points(spark, sf_dir)
    return pts.select(
        (F.col("point_id") % 10).alias("entity_id"),
        (F.col("point_id") * 60).cast("long").alias("ts"),
        "lat",
        "lon",
    )


def q_trip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.trips import segment_trips, trip_stats

    trips = segment_trips(
        _trip_pings(spark, sf_dir), max_gap_s=10**9, max_jump_km=45.0
    )
    out = trip_stats(trips)
    return out.select(
        "entity_id",
        "trip_seq",
        "n_pings",
        "duration_s",
        F.round("total_km", 6).alias("total_km"),
    )


def sql_trip_stats() -> str:
    hav = haversine_km_sql("plat", "plon", "lat", "lon")
    return f"""
with pts as ({synth.points_sql()}),
pings as (
  select point_id % 10 as entity_id, point_id * 60 as ts, lat, lon from pts
),
steps as (
  select entity_id, ts, lat, lon,
         lag(lat) over w as plat,
         lag(lon) over w as plon,
         lag(ts) over w as pt
  from pings window w as (partition by entity_id order by ts)
),
flagged as (
  select entity_id, ts,
         case when pt is null or (ts - pt > 1000000000)
                   or ({hav} > 45.0) then 1 else 0 end as newt,
         case when pt is not null then {hav} end as step_km
  from steps
),
seq as (
  select entity_id, ts, newt, step_km,
         cast(sum(newt) over (partition by entity_id order by ts) as bigint)
           as trip_seq
  from flagged
)
select entity_id, trip_seq, count(*) as n_pings,
       max(ts) - min(ts) as duration_s,
       round(coalesce(sum(case when newt = 0 then step_km end), 0.0), 6)
         as total_km
from seq group by 1, 2
"""


# Q5n: stay-point detection — dwell fixture: each derived point emits
# 1 + (point_id % 4) pings 120 s apart at the same spot, so dwell
# durations are 0/120/240/360 s and the 200 s threshold keeps ~half.
# Runs are per-entity cell change-cumsums (windowed int sum CAST).
def q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.trips import stay_points

    pts = synth.derive_points(spark, sf_dir)
    pings = pts.select(
        (F.col("point_id") % 10).alias("entity_id"),
        "lat",
        "lon",
        F.explode(
            F.sequence(F.lit(0), (F.col("point_id") % 4).cast("int"))
        ).alias("_j"),
        "point_id",
    ).select(
        "entity_id",
        (F.col("point_id") * 600 + F.col("_j") * 120).cast("long").alias("ts"),
        "lat",
        "lon",
    )
    return stay_points(pings, res=13, min_duration_s=200)


def sql_stay_points() -> str:
    cell = C.latlng_to_cell_sql("lat", "lon", 13)
    return f"""
with pts as ({synth.points_sql()}),
pings as (
  select point_id % 10 as entity_id,
         point_id * 600 + unnest(generate_series(0, point_id % 4)) * 120 as ts,
         lat, lon
  from pts
),
cells as (select entity_id, ts, {cell} as cell_id from pings),
lagged as (
  select entity_id, ts, cell_id,
         case when lag(cell_id) over w is null
               or lag(cell_id) over w <> cell_id then 1 else 0 end as chg
  from cells window w as (partition by entity_id order by ts)
),
runs as (
  select entity_id, ts, cell_id,
         cast(sum(chg) over (partition by entity_id order by ts) as bigint)
           as run_id
  from lagged
)
select entity_id, cell_id, min(ts) as enter_ts, max(ts) as exit_ts,
       max(ts) - min(ts) as duration_s, count(*) as n_pings
from runs group by entity_id, run_id, cell_id
having max(ts) - min(ts) >= 200
"""


# Q5o: origin-destination matrix — each trip's first/last res-11 cell
# counted per (o, d) pair over the Q5m trips. Twin: arg_min/arg_max.
def q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.trips import od_matrix, segment_trips

    trips = segment_trips(
        _trip_pings(spark, sf_dir), max_gap_s=10**9, max_jump_km=45.0
    )
    return od_matrix(trips, res=11)


def sql_od_matrix() -> str:
    hav = haversine_km_sql("plat", "plon", "lat", "lon")
    cell = C.latlng_to_cell_sql("lat", "lon", 11)
    return f"""
with pts as ({synth.points_sql()}),
pings as (
  select point_id % 10 as entity_id, point_id * 60 as ts, lat, lon from pts
),
steps as (
  select entity_id, ts, lat, lon,
         lag(lat) over w as plat,
         lag(lon) over w as plon,
         lag(ts) over w as pt
  from pings window w as (partition by entity_id order by ts)
),
flagged as (
  select entity_id, ts, lat, lon,
         case when pt is null or (ts - pt > 1000000000)
                   or ({hav} > 45.0) then 1 else 0 end as newt
  from steps
),
seq as (
  select entity_id, ts, {cell} as cell_id,
         cast(sum(newt) over (partition by entity_id order by ts) as bigint)
           as trip_seq
  from flagged
),
ends as (
  select entity_id, trip_seq,
         arg_min(cell_id, ts) as o_cell,
         arg_max(cell_id, ts) as d_cell
  from seq group by 1, 2
)
select o_cell, d_cell, count(*) as n_trips from ends group by 1, 2
"""


# Q5l: grid-density hotspot clustering (DBSCAN-lite) — dense res-13
# cells of the derived point set (>= 25 points) merged into 8-connected
# clusters with min-cell-id labels. All-integer output; the twin
# re-derives density, adjacency (plain |d|<=1 on the fixture band), and
# the component closure via a recursive CTE.
def q_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.hotspot import hotspot_clusters

    return hotspot_clusters(synth.derive_points(spark, sf_dir))


def sql_hotspots() -> str:
    from osm_search_spark.operators.hotspot import hotspot_sql

    return hotspot_sql(f"({synth.points_sql()})")


# Q26o: per-tile image mosaics (contact sheets) — geotag -> res-11 tile,
# deterministic cap (9 smallest image_ids, WindowGroupLimit map-side),
# decode + bit-exact 16x16 thumbnails composed row-major on one RGB
# canvas per tile. Gate = exact int64 pixel sums + crc32 of the canvas
# (byte-exact without shipping it); the twin re-derives every tile
# driver-side through the SAME pure kernel over the closed-form image
# fixture (the image-oracle pattern, CLAUDE.md round-2).
_MOSAIC_N, _MOSAIC_RES, _MOSAIC_GRID, _MOSAIC_THUMB = 240, 11, 3, 16


def q_tile_mosaics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.mosaic import tile_mosaic
    from osm_search_spark.sources import images as img_src

    return tile_mosaic(
        img_src.images_table(spark, _MOSAIC_N),
        res=_MOSAIC_RES, grid=_MOSAIC_GRID, thumb=_MOSAIC_THUMB,
    ).select("tile_id", "n_images", "px_sum", "px_sq_sum", "crc")


def sql_tile_mosaics() -> str:
    import numpy as np

    from osm_search_spark.functions import cells as C
    from osm_search_spark.operators.mosaic import mosaic_py
    from osm_search_spark.sources import images as img_src

    tiles: dict[int, list] = {}
    for i in range(_MOSAIC_N):
        r = img_src.make_row(i)
        t = int(
            C.np_latlng_to_cell(
                np.array([r["lat"]]), np.array([r["lon"]]), _MOSAIC_RES
            )[0]
        )
        tiles.setdefault(t, []).append((r["image_id"], r["bytes"], r["fmt"]))
    rows = []
    for t in sorted(tiles):
        items = sorted(tiles[t])[: _MOSAIC_GRID * _MOSAIC_GRID]
        n, s, sq, crc, _png = mosaic_py(items, _MOSAIC_GRID, _MOSAIC_THUMB)
        rows.append(f"({t}, {n}, {s}, {sq}, {crc})")
    return f"""
select cast(tile_id as bigint) as tile_id, cast(n_images as int) as n_images,
       cast(px_sum as bigint) as px_sum, cast(px_sq_sum as bigint) as px_sq_sum,
       cast(crc as bigint) as crc
from (values
{",".join(rows)}
) t(tile_id, n_images, px_sum, px_sq_sum, crc)
"""


# Q26q: mosaic pyramid — parent-tile contact sheets derived level by
# level from the res-11 mosaics (quadrant compose + bit-exact integer
# halving), res 10 and 9. Twin: the whole pyramid re-derived
# DRIVER-SIDE through the SAME pure kernels (mosaic_py +
# pyramid_merge_py) over the closed-form image fixture, embedded as
# VALUES — byte-exact gate via px sums + crc32 per level.
_MPYR_MIN_RES = 9


def q_mosaic_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.mosaic import mosaic_pyramid, tile_mosaic
    from osm_search_spark.sources import images as img_src

    base = tile_mosaic(
        img_src.images_table(spark, _MOSAIC_N),
        res=_MOSAIC_RES, grid=_MOSAIC_GRID, thumb=_MOSAIC_THUMB,
    )
    return mosaic_pyramid(
        base, _MOSAIC_RES, _MPYR_MIN_RES,
        side=_MOSAIC_GRID * _MOSAIC_THUMB,
    ).select("res", "tile_id", "n_children", "px_sum", "crc")


def sql_mosaic_pyramid() -> str:
    import numpy as np

    from osm_search_spark.functions import cells as C
    from osm_search_spark.operators.mosaic import mosaic_py, pyramid_merge_py
    from osm_search_spark.sources import images as img_src

    side = _MOSAIC_GRID * _MOSAIC_THUMB
    tiles: dict[int, list] = {}
    for i in range(_MOSAIC_N):
        r = img_src.make_row(i)
        t = int(
            C.np_latlng_to_cell(
                np.array([r["lat"]]), np.array([r["lon"]]), _MOSAIC_RES
            )[0]
        )
        tiles.setdefault(t, []).append((r["image_id"], r["bytes"], r["fmt"]))
    cur = {
        t: mosaic_py(
            sorted(items)[: _MOSAIC_GRID * _MOSAIC_GRID],
            _MOSAIC_GRID, _MOSAIC_THUMB,
        )[4]
        for t, items in tiles.items()
    }
    rows = []
    for res in range(_MOSAIC_RES - 1, _MPYR_MIN_RES - 1, -1):
        parents: dict[int, list] = {}
        for t, png in cur.items():
            ix, iy = C.np_cell_ixy(t)
            p = int(
                res * C.RES_BITS_SHIFT + (ix >> 1) * C.IX_SHIFT + (iy >> 1)
            )
            q = (1 - (int(iy) % 2)) * 2 + int(ix) % 2
            parents.setdefault(p, []).append((q, png))
        cur = {}
        for p in sorted(parents):
            n, s, crc, png = pyramid_merge_py(sorted(parents[p]), side)
            rows.append(f"({res}, {p}, {n}, {s}, {crc})")
            cur[p] = png
    return f"""
select cast(res as int) as res, cast(tile_id as bigint) as tile_id,
       cast(n_children as int) as n_children,
       cast(px_sum as bigint) as px_sum, cast(crc as bigint) as crc
from (values
{",".join(rows)}
) t(res, tile_id, n_children, px_sum, crc)
"""


# Q5l3: focal (neighborhood) statistics — raster map algebra over the
# res-13 point-density raster: each valued cell's 3x3 ring aggregated by
# one scatter-explode + groupBy (the IDW surface's shape). All-integer
# except focal_mean = exact-int double division (parity-safe); the twin
# casts its HUGEINT sum (round-6 rule) and mirrors the ring with
# wrap/clamp + per-source distinct.
FOCAL_RES, FOCAL_K = 13, 1


def q_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions import cells as C
    from osm_search_spark.operators.focal import focal_stats

    raster = (
        synth.derive_points(spark, sf_dir)
        .groupBy(C.latlng_to_cell("lat", "lon", FOCAL_RES).alias("cell_id"))
        .agg(F.count(F.lit(1)).alias("value"))
    )
    return focal_stats(raster, FOCAL_RES, FOCAL_K)


def sql_focal_stats() -> str:
    from osm_search_spark.functions import cells as C
    from osm_search_spark.operators.focal import focal_sql

    cell = C.latlng_to_cell_sql("lat", "lon", FOCAL_RES)
    rel = (
        f"(select {cell} as cell_id, count(*) as value "
        f"from ({synth.points_sql()}) group by 1)"
    )
    return focal_sql(rel, FOCAL_RES, FOCAL_K)


# Q26p: polyline merge (GEOS LineMerger / ST_LineMerge) — a planted
# street network (chains with scrambled orientations, a T junction, a
# 4-segment cycle, a 2-line loop, a pre-closed ring, an isolated
# segment) merged at degree-2 nodes. The twin re-derives every merged
# line DRIVER-SIDE through the SAME pure walk kernel over the same
# fixture (pure-python node/flag/union-find mirror of the distributed
# plan), embedded as VALUES; the gate explodes vertices to scalar rows
# (the simplify_rings pattern). Coordinates are exact halves/quarters ->
# bit-exact, NO rounding.
def _linemerge_fixture() -> list[tuple[int, list, list]]:
    segs: list[tuple[int, list, list]] = []
    sid = 0
    b_lat, b_lon = -7.60, 110.30

    def add(la, lo):
        nonlocal sid
        segs.append((sid, [float(x) for x in la], [float(x) for x in lo]))
        sid += 1

    # five chains, lengths 3..7, every other segment reversed
    for c in range(5):
        y = b_lat + c * 0.25
        for k in range(3 + c):
            x0, x1 = b_lon + k * 0.25, b_lon + (k + 1) * 0.25
            if (c + k) % 2:
                add([y, y], [x1, x0])
            else:
                add([y, y], [x0, x1])
    # T junction: three ends at one node
    ty, tx = b_lat + 2.0, b_lon
    add([ty, ty], [tx, tx + 0.25])
    add([ty, ty], [tx + 0.25, tx + 0.5])
    add([ty, ty + 0.25], [tx + 0.25, tx + 0.25])
    # square cycle, scrambled orientations
    cy, cx = b_lat + 3.0, b_lon
    add([cy, cy], [cx + 0.25, cx])
    add([cy + 0.25, cy], [cx + 0.25, cx + 0.25])
    add([cy + 0.25, cy + 0.25], [cx, cx + 0.25])
    add([cy, cy + 0.25], [cx, cx])
    # two-line loop
    ly, lx = b_lat + 4.0, b_lon
    add([ly, ly + 0.25, ly], [lx, lx + 0.25, lx + 0.5])
    add([ly, ly - 0.25, ly], [lx, lx + 0.25, lx + 0.5])
    # pre-closed ring + isolated segment
    add([b_lat + 5.0, b_lat + 5.0, b_lat + 5.25, b_lat + 5.0],
        [b_lon, b_lon + 0.25, b_lon + 0.25, b_lon])
    add([b_lat + 6.0, b_lat + 6.0], [b_lon, b_lon + 0.25])
    return segs


def _linemerge_expected() -> list[tuple[int, int, list, list]]:
    from osm_search_spark.operators.linemerge import _merge_component

    segs = _linemerge_fixture()
    ends: dict = {}
    for sid, la, lo in segs:
        for e, key in ((0, (la[0], lo[0])), (1, (la[-1], lo[-1]))):
            ends.setdefault(key, []).append((sid, e))
    open_nodes = {
        k for k, v in ends.items() if len(v) == 2 and v[0][0] != v[1][0]
    }
    flags = {sid: [False, False] for sid, _, _ in segs}
    for k in open_nodes:
        for sid, e in ends[k]:
            flags[sid][e] = True
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for k in open_nodes:
        (a, _), (b, _) = ends[k]
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict = {}
    for sid, la, lo in segs:
        comps.setdefault(find(sid), []).append(
            (sid, la, lo, flags[sid][0], flags[sid][1])
        )
    rows: list = []
    for comp in sorted(comps):
        rows.extend(_merge_component(comps[comp]))
    return rows


def q_line_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.linemerge import line_merge

    df = spark.createDataFrame(
        _linemerge_fixture(),
        "line_id long, lats array<double>, lons array<double>",
    )
    merged = line_merge(df)
    z = F.posexplode(F.arrays_zip("lats", "lons"))
    return merged.select(
        "merged_id", "n_lines", z.alias("pos", "pt")
    ).select(
        "merged_id",
        "n_lines",
        (F.col("pos") + 1).cast("int").alias("seq"),
        F.col("pt.lats").alias("lat"),
        F.col("pt.lons").alias("lon"),
    )


def sql_line_merge() -> str:
    rows = []
    for mid, n, la, lo in _linemerge_expected():
        for i, (a, b) in enumerate(zip(la, lo)):
            rows.append(
                f"(cast({mid} as bigint), cast({n} as int), "
                f"cast({i + 1} as int), {synth.dlit(a)}, {synth.dlit(b)})"
            )
    return (
        "select * from (values "
        + ", ".join(rows)
        + ") t(merged_id, n_lines, seq, lat, lon)"
    )


# Q5l4: Getis-Ord Gi* hot-spot z-scores over the same density raster —
# focal window sums vs global moments, the IDENTICAL GI_EXPR text on
# both engines (integer sums + correctly-rounded / and sqrt -> NO
# rounding needed in the gate).
def q_gi_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions import cells as C
    from osm_search_spark.operators.focal import gi_star

    raster = (
        synth.derive_points(spark, sf_dir)
        .groupBy(C.latlng_to_cell("lat", "lon", FOCAL_RES).alias("cell_id"))
        .agg(F.count(F.lit(1)).alias("value"))
    )
    return gi_star(raster, FOCAL_RES, FOCAL_K)


def sql_gi_star() -> str:
    from osm_search_spark.functions import cells as C
    from osm_search_spark.operators.focal import gi_star_sql

    cell = C.latlng_to_cell_sql("lat", "lon", FOCAL_RES)
    rel = (
        f"(select {cell} as cell_id, count(*) as value "
        f"from ({synth.points_sql()}) group by 1)"
    )
    return gi_star_sql(rel, FOCAL_RES, FOCAL_K)


# Q5l7: terrain analysis (slope/aspect/hillshade via Horn's method +
# ESRI D8 flow direction) over a dense synthetic DEM — a 64x48 interior
# grid at res 10 whose integer elevations come from ONE closed-form
# expression text evaluated by both engines. d8 and the interior mask
# are exact (selection/comparison over bit-identical doubles); the trig
# surfaces go through the repo's 6dp libm bridge on both sides.
_DEM_RES, _DEM_W, _DEM_H = 10, 64, 48
_DEM_ELEV = (
    "(cast((i * 37 + j * 59) % 97"
    " + (((i * i) % 31) * ((j * j) % 29)) % 101"
    " + 3 * ((i + 2 * j) % 13) as bigint))"
)


def _dem_cell_expr() -> str:
    return (
        f"({_DEM_RES} * {C.RES_BITS_SHIFT}"
        f" + (900 + i) * {C.IX_SHIFT} + (500 + j))"
    )


def q_terrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.terrain import terrain

    dem = spark.range(_DEM_W * _DEM_H).select(
        F.expr(f"id % {_DEM_W}").alias("i"),
        F.expr(f"id div {_DEM_W}").alias("j"),
    ).select(
        F.expr(_dem_cell_expr()).alias("cell_id"),
        F.expr(_DEM_ELEV).alias("elev"),
    )
    t = terrain(dem, _DEM_RES)
    return t.select(
        "cell_id", "elev",
        F.round("slope_rad", 6).alias("slope_rad"),
        F.round("aspect_deg", 6).alias("aspect_deg"),
        F.round("hillshade", 6).alias("hillshade"),
        "d8",
    )


def sql_terrain() -> str:
    from osm_search_spark.operators.terrain import terrain_sql

    rel = (
        f"(select {_dem_cell_expr()} as cell_id, {_DEM_ELEV} as elev "
        f"from (select cast(range % {_DEM_W} as bigint) as i, "
        f"cast(range // {_DEM_W} as bigint) as j "
        f"from range({_DEM_W * _DEM_H})))"
    )
    inner = terrain_sql(rel, _DEM_RES)
    return (
        f"select cell_id, elev, round(slope_rad, 6) as slope_rad, "
        f"round(aspect_deg, 6) as aspect_deg, "
        f"round(hillshade, 6) as hillshade, d8 from ({inner})"
    )


# Q5l6: local Moran's I (Anselin LISA) over the same density raster as
# gi_star — spatial autocorrelation with HH/LL/HL/LH quadrant labels.
# The IDENTICAL expression texts on both engines over exact integer
# moments (neighbor sum/count from focal_sum/focal_n) -> NO rounding.
def q_moran_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.focal import moran_local

    raster = (
        synth.derive_points(spark, sf_dir)
        .groupBy(C.latlng_to_cell("lat", "lon", FOCAL_RES).alias("cell_id"))
        .agg(F.count(F.lit(1)).alias("value"))
    )
    return moran_local(raster, FOCAL_RES, FOCAL_K)


def sql_moran_local() -> str:
    from osm_search_spark.operators.focal import moran_sql

    cell = C.latlng_to_cell_sql("lat", "lon", FOCAL_RES)
    rel = (
        f"(select {cell} as cell_id, count(*) as value "
        f"from ({synth.points_sql()}) group by 1)"
    )
    return moran_sql(rel, FOCAL_RES, FOCAL_K)


# Q5l5: emerging hot-spot analysis (space-time cube) — per-bin Gi* +
# Mann-Kendall trend + category. Fixture: the derived points replicated
# over 6 time bins with an md5-gated inclusion rule (the split_bucket
# idiom) whose keep threshold GROWS with bin east of EMERG_EAST and is
# flat west of it — planting intensifying/new hot spots in the east and
# stationary/none cells in the west. Every decision downstream of the
# bit-exact gi_z is a sign/comparison, so the gate needs NO rounding.
EMERG_EAST = 110.575


def q_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.emerging import emerging_hotspots

    pts = synth.derive_points(spark, sf_dir).select(
        "point_id", "lat", "lon",
        F.explode(F.sequence(F.lit(0), F.lit(5))).alias("bin"),
    )
    h = F.md5(
        F.concat(
            F.lit("emg:"), F.col("point_id").cast("string"),
            F.lit(":"), F.col("bin").cast("string"),
        )
    )
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 10
    thresh = F.lit(3) + F.when(
        F.col("lon") > F.lit(EMERG_EAST), F.col("bin")
    ).otherwise(F.lit(0))
    raster = (
        pts.filter(bucket < thresh)
        .groupBy(
            "bin",
            C.latlng_to_cell("lat", "lon", FOCAL_RES).alias("cell_id"),
        )
        .agg(F.count(F.lit(1)).alias("value"))
    )
    return emerging_hotspots(raster, FOCAL_RES, FOCAL_K)


def sql_emerging_hotspots() -> str:
    from osm_search_spark.operators.emerging import emerging_sql

    cell = C.latlng_to_cell_sql("lat", "lon", FOCAL_RES)
    bucket = (
        "(('0x' || substr(md5('emg:' || cast(point_id as varchar) || ':' "
        "|| cast(bin as varchar)), 1, 8))::bigint % 10)"
    )
    rel = (
        f"(select bin, {cell} as cell_id, count(*) as value from ("
        f"select p.*, b.bin from ({synth.points_sql()}) p, "
        f"(values (0), (1), (2), (3), (4), (5)) b(bin) "
        f"where {bucket} < 3 + (case when lon > {synth.dlit(EMERG_EAST)} "
        f"then bin else 0 end)"
        f") group by 1, 2)"
    )
    return emerging_sql(rel, FOCAL_RES, FOCAL_K)


# Q5l2: exact point-level DBSCAN (vs Q5l's cell-density approximation) —
# per-point eps-ball roles (core/border/noise) + min-label cluster ids
# over the derived points. eps = 0.0032 deg / min_pts = 4 picked so the
# sf0.01 gate exercises all three roles (11.6k core / 3.2k border / 188
# noise, 809 clusters, max cluster 20) while the twin's recursive
# closure stays fixture-bounded. The eps predicate is ONE shared SQL
# text; the twin mirrors cell assignment, the 3x3 ring, and min-label
# CC via a recursive transitive-closure CTE.
DBSCAN_EPS, DBSCAN_MIN_PTS = 0.0032, 4


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.dbscan import dbscan

    return dbscan(
        synth.derive_points(spark, sf_dir), DBSCAN_EPS, DBSCAN_MIN_PTS
    )


def sql_dbscan() -> str:
    from osm_search_spark.operators.dbscan import dbscan_sql

    return dbscan_sql(
        f"({synth.points_sql()})", DBSCAN_EPS, DBSCAN_MIN_PTS
    )


# Q28h: per-group convex hull (hull.convex_hull) — cluster footprints
# as canonical CCW rings. The twin derives the vertex SET through an
# ENTIRELY independent characterization (Caratheodory: a point is a
# non-vertex iff it lies in some closed non-degenerate triangle of
# other points) and the CCW order through angle sorting from the
# lexicographic-min vertex — no part of the monotone-chain walk is
# mirrored. All coordinates are 1/64-deg lattice offsets from dyadic
# bases, so every cross product is IEEE-exact on both engines (bit
# decisions, NO rounding); slope ordering distinguishes rationals with
# denominators <= 64 (min gap ~2.5e-4 >> division rounding).
def _hull_fixture() -> list[tuple[int, float, float]]:
    rows: list[tuple[int, float, float]] = []
    for g in range(6):
        base_lat, base_lon = -7.5 + g * 0.25, 110.25
        n = [20, 24, 16, 28, 2, 1][g]
        for i in range(n):
            h1 = (g * 37 + i * 101 + i * i * 13) % 64
            h2 = (g * 53 + i * 29 + i * i * 7) % 64
            rows.append((g, base_lat + h2 / 64.0, base_lon + h1 / 64.0))
        if n >= 16:  # planted duplicate + deep-interior point
            rows.append(rows[-1])
            rows.append((g, base_lat + 31 / 64.0, base_lon + 33 / 64.0))
    return rows


def q_cluster_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.hull import convex_hull

    df = spark.createDataFrame(
        _hull_fixture(), "g long, lat double, lon double"
    )
    h = convex_hull(df, group="g")
    z = F.posexplode(F.arrays_zip("hull_lats", "hull_lons"))
    return h.select("g", "n_vertices", z.alias("pos", "pt")).select(
        "g",
        (F.col("pos") + 1).cast("int").alias("seq"),
        F.col("pt.hull_lats").alias("lat"),
        F.col("pt.hull_lons").alias("lon"),
        "n_vertices",
    )


def sql_cluster_hull() -> str:
    rows = ", ".join(
        f"(cast({g} as bigint), {synth.dlit(la)}, {synth.dlit(lo)})"
        for g, la, lo in _hull_fixture()
    )

    def cross(ax, ay, bx, by, px, py):
        return (
            f"(({bx} - {ax}) * ({py} - {ay})"
            f" - ({by} - {ay}) * ({px} - {ax}))"
        )

    s1 = cross("t.alon", "t.alat", "t.blon", "t.blat", "p.lon", "p.lat")
    s2 = cross("t.blon", "t.blat", "t.clon", "t.clat", "p.lon", "p.lat")
    s3 = cross("t.clon", "t.clat", "t.alon", "t.alat", "p.lon", "p.lat")
    return f"""
with pts as materialized (
  select distinct g, lat, lon from (values {rows}) t(g, lat, lon)
),
tri as materialized (
  select a.g, a.lat as alat, a.lon as alon, b.lat as blat, b.lon as blon,
         c.lat as clat, c.lon as clon
  from pts a join pts b on a.g = b.g join pts c on a.g = c.g
  where {cross("a.lon", "a.lat", "b.lon", "b.lat", "c.lon", "c.lat")} <> 0.0e0
),
nonverts as (
  select distinct p.g, p.lat, p.lon
  from pts p join tri t on p.g = t.g
  where (p.lat <> t.alat or p.lon <> t.alon)
    and (p.lat <> t.blat or p.lon <> t.blon)
    and (p.lat <> t.clat or p.lon <> t.clon)
    and (({s1} >= 0 and {s2} >= 0 and {s3} >= 0)
         or ({s1} <= 0 and {s2} <= 0 and {s3} <= 0))
),
verts as (
  select g, lat, lon from pts
  except
  select g, lat, lon from nonverts
),
v0 as (
  select g, lon as x0, lat as y0 from (
    select g, lat, lon,
           row_number() over (partition by g order by lon, lat) as rn
    from verts
  ) where rn = 1
),
ordered as (
  select v.g, v.lat, v.lon,
         row_number() over (partition by v.g order by
           case when v.lon = w.x0 and v.lat = w.y0 then -1.0e308
                when v.lon = w.x0 then 1.0e308
                else (v.lat - w.y0) / (v.lon - w.x0) end) as seq,
         count(*) over (partition by v.g) as nv
  from verts v join v0 w on v.g = w.g
)
select g, cast(seq as int) as seq, lat, lon, cast(nv as int) as n_vertices
from ordered
"""


# Q27t: trajectory similarity join — exact symmetric Hausdorff pairs
# under a threshold (traj_sim.hausdorff_join). Fixture: 4 shape classes
# (distinct dyadic step patterns) x 8 trips each, translated along the
# diagonal by m * 2^-9 deg with a per-trip mid-vertex kink (breaks pure
# translation) and one subsampled variant (n != m sides); classes are
# 0.5 deg apart so cross-class pairs never survive. d_max = 0.005 picks
# a strict subset of the same-class pairs (near offsets in, far offsets
# out). The twin re-derives the FULL min/max over every unordered pair
# from the same VALUES — the Spark side's cell/bbox pruning is a
# superset optimization the twin does not need — with the IDENTICAL
# dist2_points_expr text, so hd2 is bit-exact (selections only, NO
# rounding).
TRAJ_D_MAX = 0.005


def _traj_fixture(subsample: bool = True) -> list[tuple[int, list, list]]:
    shapes = [
        # (dlat, dlon) step patterns, 11 steps -> 12 vertices
        [(0.0, 0.125)] * 6 + [(0.125, 0.0)] * 5,                 # L
        [(0.0625, 0.125), (0.0625, -0.125)] * 5 + [(0.0625, 0.125)],  # zigzag
        [(0.125, 0.0)] * 3 + [(0.0, 0.125)] * 4 + [(-0.125, 0.0)] * 4,  # hook
        [(0.03125, 0.125)] * 11,                                  # ramp
    ]
    trips: list[tuple[int, list, list]] = []
    tid = 0
    for c, steps in enumerate(shapes):
        for m in range(8):
            off = m * 0.001953125  # 2^-9
            la, lo = -7.5 + c * 0.5 + off, 110.25 + off
            lats, lons = [la], [lo]
            for i, (dy, dx) in enumerate(steps):
                la, lo = la + dy, lo + dx
                # per-trip kink on the 5th vertex: breaks translation
                lats.append(la + (m * 0.00048828125 if i == 4 else 0.0))
                lons.append(lo)
            if subsample and m == 7:  # subsampled variant: every other vertex
                lats, lons = lats[::2], lons[::2]
            trips.append((tid, lats, lons))
            tid += 1
    return trips


# Q27v: probe -> corpus top-k trajectory search (hausdorff_topk) —
# thresholded kNN over the Hausdorff metric: probes = one mid-offset
# variant per shape class (offset 2.5 * 2^-9, BETWEEN corpus members so
# ranks are nontrivial), corpus = the full Hausdorff fixture. Twin =
# full per-pair min/max (no pruning) + the identical (hd2, corpus_id)
# rank; hd2 bit-exact, rank integer — NO rounding.
def _traj_probes() -> list[tuple[int, list, list]]:
    out = []
    for tid, la, lo in _traj_fixture(subsample=False):
        if tid % 8 == 0:  # first trip of each class
            off = 2.5 * 0.001953125
            out.append(
                (1000 + tid, [x + off for x in la], [x + off for x in lo])
            )
    return out


def q_traj_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.traj_sim import hausdorff_topk

    schema = "trip_id long, lats array<double>, lons array<double>"
    probes = spark.createDataFrame(_traj_probes(), schema)
    corpus = spark.createDataFrame(_traj_fixture(), schema)
    return hausdorff_topk(probes, corpus, TRAJ_D_MAX * 2, k=3)


def sql_traj_topk() -> str:
    from osm_search_spark.operators.traj_sim import hausdorff_topk_sql

    def rel(rows):
        vals = ", ".join(
            f"(cast({tid} as bigint), "
            f"[{', '.join(synth.dlit(x) for x in la)}], "
            f"[{', '.join(synth.dlit(x) for x in lo)}])"
            for tid, la, lo in rows
        )
        return f"(select * from (values {vals}) t(trip_id, lats, lons))"

    return hausdorff_topk_sql(
        rel(_traj_probes()), rel(_traj_fixture()), TRAJ_D_MAX * 2, k=3
    )


# Q27u: discrete Frechet similarity join — the coupling metric of the
# same family (frechet_join). Fixture: the Hausdorff shape classes
# WITHOUT the subsampled variant (the unrolled twin needs fixed-length
# trips; the guard CTE errors on violation). Twin: the full n x n DP
# unrolled as one MATERIALIZED CTE per cell (never lateral aliases nor
# plain chained selects — multi-reference re-inlining is exponential;
# round-8 CLAUDE.md lesson), IDENTICAL d2 text, min/max selections only
# -> fd2 bit-exact, NO rounding, and NO pruning (superset argument).
def q_traj_frechet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.traj_sim import frechet_join

    df = spark.createDataFrame(
        _traj_fixture(subsample=False),
        "trip_id long, lats array<double>, lons array<double>",
    )
    return frechet_join(df, TRAJ_D_MAX)


def sql_traj_frechet() -> str:
    from osm_search_spark.operators.traj_sim import frechet_sql

    rows = ", ".join(
        f"(cast({tid} as bigint), "
        f"[{', '.join(synth.dlit(x) for x in la)}], "
        f"[{', '.join(synth.dlit(x) for x in lo)}])"
        for tid, la, lo in _traj_fixture(subsample=False)
    )
    rel = f"(select * from (values {rows}) t(trip_id, lats, lons))"
    return frechet_sql(rel, TRAJ_D_MAX, n=12)


def q_traj_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.traj_sim import hausdorff_join

    df = spark.createDataFrame(
        _traj_fixture(),
        "trip_id long, lats array<double>, lons array<double>",
    )
    return hausdorff_join(df, TRAJ_D_MAX)


def sql_traj_hausdorff() -> str:
    from osm_search_spark.operators.traj_sim import hausdorff_sql

    rows = ", ".join(
        f"(cast({tid} as bigint), "
        f"[{', '.join(synth.dlit(x) for x in la)}], "
        f"[{', '.join(synth.dlit(x) for x in lo)}])"
        for tid, la, lo in _traj_fixture()
    )
    rel = f"(select * from (values {rows}) t(trip_id, lats, lons))"
    return hausdorff_sql(rel, TRAJ_D_MAX)


# Q5k: geodesic ring measures — spherical area (Chamberlain-Duquette
# shoelace, exact for lat-lon rectangles) and haversine perimeter over
# the jagged fixture rings, both as pure Column folds. libm trig ->
# round 6dp both sides; the twin re-derives via list comprehensions +
# list_sum on embedded list literals.
def q_ring_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions.geodesy import (
        ring_area_km2,
        ring_perimeter_km,
    )

    polys = _clip_fixture_polys()
    df = spark.createDataFrame(
        [(p["polygon_id"], p["ring_lat"], p["ring_lon"]) for p in polys],
        "polygon_id long, ring_lat array<double>, ring_lon array<double>",
    )
    return df.select(
        "polygon_id",
        F.size("ring_lat").cast("long").alias("n_vertices"),
        F.round(ring_area_km2("ring_lat", "ring_lon"), 6).alias("area_km2"),
        F.round(ring_perimeter_km("ring_lat", "ring_lon"), 6).alias("perim_km"),
    )


def sql_ring_measures() -> str:
    from osm_search_spark.functions.geodesy import (
        ring_area_km2_sql,
        ring_perimeter_km_sql,
    )

    rows = []
    for p in _clip_fixture_polys():
        la = "[" + ",".join(synth.dlit(v) for v in p["ring_lat"]) + "]"
        lo = "[" + ",".join(synth.dlit(v) for v in p["ring_lon"]) + "]"
        rows.append(f"(cast({p['polygon_id']} as bigint), {la}, {lo})")
    return f"""
with polys as (select * from (values {", ".join(rows)})
               t(polygon_id, ring_lat, ring_lon))
select polygon_id, len(ring_lat) as n_vertices,
       round({ring_area_km2_sql('ring_lat', 'ring_lon')}, 6) as area_km2,
       round({ring_perimeter_km_sql('ring_lat', 'ring_lon')}, 6) as perim_km
from polys
"""


# Q12e5: deterministic per-group cap (the C4 per-host cap) — keep the 12
# lowest-salted-md5 docs per source; partition/scan-order independent,
# exact quota. Twin: same row_number over (group, md5, id).
def q_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.curation import cap_per_group

    return cap_per_group(_docs(spark, sf_dir), "source", 12).select(
        "doc_id", "source", "lang"
    )


def sql_cap_per_group() -> str:
    from osm_search_spark.operators.curation import cap_predicate_sql

    return cap_predicate_sql(
        "documents", "source", 12, cols="doc_id, source, lang"
    )


# Q12e4: weighted source mixing (the Pile/LLaMA corpus recipe) — each doc
# emitted floor(w) times plus a deterministic fractional extra copy by
# salted-md5 bucket of (source, id); w=0 drops the source. Exercises
# integer+fraction (2.5), pure fraction (0.4), zero, exact 1, and the
# default weight. Twin: one unnest(generate_series) over the same CASE +
# bucket math (empty series on the DuckDB side needs no guard).
def q_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.curation import mix_sources

    w = {"src0": 2.5, "src1": 0.4, "src2": 0.0, "src3": 1.0}
    return mix_sources(_docs(spark, sf_dir), w, default_weight=0.75).select(
        "doc_id", "source", "lang", "copy_idx"
    )


def sql_mix_sources() -> str:
    from osm_search_spark.operators.curation import mix_sources_sql

    w = {"src0": 2.5, "src1": 0.4, "src2": 0.0, "src3": 1.0}
    return mix_sources_sql(
        "documents", w, cols="doc_id, source, lang", default_weight=0.75
    )


# Q5g: geohash cell keys (public base-32 spec) — every derived point's
# precision-9 geohash, its integer lat/lon codes, and the decoded cell
# center. Float parity: quantization and decode-center run through ONE
# shared SQL text on both engines (functions/geohash.py); the interleave
# and alphabet lookup are exact integer/string ops, re-derived
# independently in the twin via >>/&/substr.
def q_geohash_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions import geohash as gh

    p = 9
    pts = synth.derive_points(spark, sf_dir)
    codes = pts.select(
        "point_id",
        F.expr(gh.lat_code_sql("lat", p)).alias("lat_code"),
        F.expr(gh.lon_code_sql("lon", p)).alias("lon_code"),
    )
    lat_sql, lon_sql = gh.decode_center_sql("lat_code", "lon_code", p)
    return codes.select(
        "point_id",
        gh.geohash_col(F.col("lat_code"), F.col("lon_code"), p).alias("gh"),
        "lat_code",
        "lon_code",
        F.expr(lat_sql).alias("cell_lat"),
        F.expr(lon_sql).alias("cell_lon"),
    )


def sql_geohash_points() -> str:
    from osm_search_spark.functions import geohash as gh

    p = 9
    lat_sql, lon_sql = gh.decode_center_sql("lat_code", "lon_code", p)
    return f"""
with pts as ({synth.points_sql()}),
codes as (
  select point_id, lat, lon,
         {gh.lat_code_sql('lat', p)} as lat_code,
         {gh.lon_code_sql('lon', p)} as lon_code
  from pts)
select point_id,
       {gh.geohash_sql('lat', 'lon', p)} as gh,
       lat_code, lon_code,
       {lat_sql} as cell_lat,
       {lon_sql} as cell_lon
from codes
"""


# Q12h4: exact substring SELF-dedup (Lee et al. 2022, span level) —
# every token 13-gram occurring more than once in the corpus keeps only
# its first occurrence (min (doc_id, position)); tokens covered by any
# later occurrence are excised. Spark derives the owner via a gram-hash
# groupBy min-struct + occurrence join (operators/dedup.dedup_spans);
# the twin re-derives it independently via row_number over
# (gh order by doc_id, i) — rn > 1 IS "non-first occurrence".
def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.dedup import dedup_spans

    return dedup_spans(_docs(spark, sf_dir), n=13)


def sql_dedup_spans() -> str:
    from osm_search_spark.operators.dedup import dedup_spans_sql

    return dedup_spans_sql("documents", n=13)


# Q14f: LM-perplexity quality filter (CCNet-style) — every document's
# stupid-backoff log-probability under the corpus's own n-gram model
# (ngram_lm.go:300-337 cascade over ngram_counts). Spark: one melted
# (n, gram) join + pivot (operators/ngram_lm.corpus_log_prob); twin:
# full re-derivation — OOV vocab, per-n padded counts, 7 gram lookups,
# the same λ cascade — with libm ln rounded to 6dp on both sides and
# every float literal through synth.dlit (float-parity hard rules).
def q_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.curation import perplexity_filter

    scored = perplexity_filter(_docs(spark, sf_dir))
    return scored.select(
        "doc_id",
        "n_scored",
        F.round("log_prob", 6).alias("log_prob"),
        F.round("avg_log_prob", 6).alias("avg_log_prob"),
    )


def sql_perplexity_filter() -> str:
    from osm_search_spark.operators.ngram_lm import BACKOFF_LAMBDA as LAM

    l1, l2, l3 = synth.dlit(LAM), synth.dlit(LAM * LAM), synth.dlit(LAM**3)

    def pad(n):
        starts = ",".join(["'<s>'"] * n)
        return f"list_concat([{starts}], list_append(tokens, '</s>'))"

    def cnt(n):
        if n == 1:
            gram = "unnest(p) as gram"
        else:
            cat = " || ' ' || ".join(f"p[i+{j}]" for j in range(n))
            gram = (
                f"unnest([{cat} for i in generate_series(1, len(p) - {n - 1})])"
                " as gram"
            )
        return (
            f"select gram, count(*) as c from "
            f"(select {gram} from (select {pad(n)} as p from rtoks)) "
            f"group by gram"
        )

    return f"""
with toks as (
  select doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') as tokens
  from documents
),
vocab as (
  select w from (select unnest(tokens) as w from toks)
  group by w having count(*) >= 2
),
pos0 as (
  select doc_id, unnest(tokens) as w,
         unnest(generate_series(1, len(tokens))) as tp
  from toks
),
repl as (
  select p.doc_id, p.tp,
         case when v.w is not null then p.w else '<UNK>' end as w2
  from pos0 p left join vocab v using (w)
),
ragg as (select doc_id, list(w2 order by tp) as rt from repl group by doc_id),
rtoks as (
  select t.doc_id, coalesce(r.rt, cast([] as varchar[])) as tokens
  from toks t left join ragg r using (doc_id)
),
cnt1 as ({cnt(1)}),
cnt2 as ({cnt(2)}),
cnt3 as ({cnt(3)}),
cnt4 as ({cnt(4)}),
p4 as (select doc_id, {pad(4)} as p from rtoks),
posn as (select doc_id, p, unnest(generate_series(5, len(p))) as i from p4),
keys as (
  select doc_id, i,
    p[i-3] || ' ' || p[i-2] || ' ' || p[i-1] || ' ' || p[i] as g4,
    p[i-3] || ' ' || p[i-2] || ' ' || p[i-1] as c3,
    p[i-2] || ' ' || p[i-1] || ' ' || p[i] as g3,
    p[i-2] || ' ' || p[i-1] as c2,
    p[i-1] || ' ' || p[i] as g2,
    p[i-1] as c1,
    p[i] as g1
  from posn
),
j as (
  select k.doc_id, k.i,
         a.c as n_g4, b.c as n_c3, c3t.c as n_g3, d.c as n_c2,
         e.c as n_g2, f.c as n_c1, g.c as n_g1
  from keys k
  left join cnt4 a on a.gram = k.g4
  left join cnt3 b on b.gram = k.c3
  left join cnt3 c3t on c3t.gram = k.g3
  left join cnt2 d on d.gram = k.c2
  left join cnt2 e on e.gram = k.g2
  left join cnt1 f on f.gram = k.c1
  left join cnt1 g on g.gram = k.g1
),
scoredpos as (
  select doc_id,
    case
      when n_c3 is not null and coalesce(n_g4, 0) > 0
        then coalesce(n_g4, 0) / n_c3
      when n_c2 is not null and coalesce(n_g3, 0) > 0
        then {l1} * (coalesce(n_g3, 0) / n_c2)
      when n_c1 is not null and coalesce(n_g2, 0) > 0
        then {l2} * (coalesce(n_g2, 0) / n_c1)
      else {l3} * (coalesce(n_g1, 0)
                   / (select cast(sum(c) as double) from cnt1))
    end as prob
  from j
),
agg as (
  select doc_id, cast(count(*) as bigint) as n_scored,
         sum(case when prob > 0 then ln(prob)
                  else cast('-infinity' as double) end) as lp
  from scoredpos group by doc_id
)
select doc_id, n_scored,
       round(lp, 6) as log_prob,
       round(lp / n_scored, 6) as avg_log_prob
from agg
"""


# Q14e: duplicate-line removal transform (first occurrence kept, order
# preserved; Spark array_distinct vs an explicit row_number derivation in
# the twin since DuckDB's list_distinct scrambles order).
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions.text import dedup_lines

    return _docs(spark, sf_dir).select(
        "doc_id", dedup_lines(F.col("text")).alias("text_clean")
    )


def sql_dedup_lines() -> str:
    from osm_search_spark.functions.text import dedup_lines_sql

    return dedup_lines_sql("documents", "doc_id", "text")


# Q14d: C4 line-level cleaner — cleaned_text + line/sentence stats +
# page verdict (the gate docs are single-line without terminal
# punctuation, so they clean to empty and fail the page verdict — the
# multi-line semantics are pinned in test_curation; the gate still
# hash-checks every rule's computation).
def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions.text import c4_clean

    c = c4_clean(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        c["cleaned_text"].alias("cleaned_text"),
        c["n_lines_total"].alias("n_lines_total"),
        c["n_lines_kept"].alias("n_lines_kept"),
        c["n_sentences"].alias("n_sentences"),
        c["keep_page"].alias("keep_page"),
    )


def sql_c4_clean() -> str:
    from osm_search_spark.functions.text import c4_clean_sql

    s = c4_clean_sql("text")
    cols = ",\n       ".join(
        f"{s[c]} as {c}"
        for c in ("cleaned_text", "n_lines_total", "n_lines_kept",
                  "n_sentences", "keep_page")
    )
    return f"select doc_id,\n       {cols}\nfrom documents"


# Q14c: Gopher repetition-removal measures — per (doc, n) top-n-gram and
# duplicate-n-gram character fractions for n=2..10 (one union-exploded
# count shuffle; published thresholds applied by gopher_repetition_keep).
# Tie parity: Spark's struct max == DuckDB's max_by on (count, gram).
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.curation import gopher_repetition_features

    return gopher_repetition_features(_docs(spark, sf_dir))


def sql_gopher_repetition() -> str:
    from osm_search_spark.operators.curation import gopher_repetition_sql

    return gopher_repetition_sql("documents")


# Q15: running sum window over events
def q_events_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = synth.spread_scan(spark.read.parquet(f"{sf_dir}/events.parquet"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 6).alias("running_value"),
    )


def sql_events_running() -> str:
    return f"""
select user_id, event_id,
       round(sum(value) over (partition by user_id order by ts, event_id
                              rows between unbounded preceding and current row), 6)
       as running_value
from events
"""


# Q16: geofence status transitions
def q_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = synth.track_points_df(spark)
    fences = synth.fences_df(spark)
    return geofence_status(tracks, fences)


def sql_geofence() -> str:
    fences = ",".join(
        f"('{n}', {synth.dlit(la)}, {synth.dlit(lo)}, {synth.dlit(r)})"
        for n, _k, la, lo, r in synth.FENCES
    )
    tracks = ",".join(
        f"('{e}', cast({s} as integer), {synth.dlit(la)}, {synth.dlit(lo)})"
        for e, s, la, lo in synth.TRACK_POINTS
    )
    hav_now = haversine_km_sql("lat", "lon", "flat", "flon")
    hav_prev = haversine_km_sql("prev_lat", "prev_lon", "flat", "flon")
    return f"""
with tracks0 as (
  select * from (values {tracks}) t(query_point_id, seq, lat, lon)
),
t as (
  select query_point_id, seq, lat, lon,
         lag(lat) over (partition by query_point_id order by seq) as prev_lat,
         lag(lon) over (partition by query_point_id order by seq) as prev_lon
  from tracks0
),
f as (select * from (values {fences}) f(fence_name, flat, flon, radius_km)),
proj as (
  select t.*, f.fence_name, f.flat, f.flon, f.radius_km,
         (radians(prev_lon) - radians(flon)) * cos(radians(flat)) * 6371.0 as ax,
         (radians(prev_lat) - radians(flat)) * 6371.0 as ay,
         (radians(lon) - radians(flon)) * cos(radians(flat)) * 6371.0
           - (radians(prev_lon) - radians(flon)) * cos(radians(flat)) * 6371.0 as dx,
         (radians(lat) - radians(flat)) * 6371.0
           - (radians(prev_lat) - radians(flat)) * 6371.0 as dy
  from t cross join f
),
quad as (
  select *, dx*dx + dy*dy as qa, 2.0*(ax*dx + ay*dy) as qb,
         ax*ax + ay*ay - radius_km*radius_km as qc
  from proj
),
j as (
  select query_point_id, seq, fence_name,
         ({hav_now}) <= radius_km as now_in,
         case when prev_lat is not null
              then ({hav_prev}) <= radius_km else false end as prev_in,
         case when prev_lat is null or qa <= 0 then false else (
           (qb*qb - 4.0*qa*qc) >= 0 and (
             ((-qb - sqrt(abs(qb*qb - 4.0*qa*qc))) / (2.0*qa)) between 0.0 and 1.0
             or ((-qb + sqrt(abs(qb*qb - 4.0*qa*qc))) / (2.0*qa)) between 0.0 and 1.0
           )
         ) end as crossed
  from quad
)
select query_point_id, seq, fence_name,
       case when prev_in and now_in then 'INSIDE'
            when not prev_in and now_in then 'ENTER'
            when prev_in and not now_in then 'EXIT'
            when crossed then 'CROSS'
            else 'OUTSIDE' end as status
from j
"""





# ---------------------------------------------------------------------------
# Round-1b queries: scoring variants, boolean, LM counts, build-pipeline ops
# ---------------------------------------------------------------------------

# Q17: BM25+ scoring (reference variant, searcher.go:317-354)
def q_bm25plus(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = search.bm25plus_scores(_docs(spark, sf_dir), BM25_QUERY_TERMS)
    return scores.select("doc_id", F.round("score", 6).alias("score"))


def sql_bm25plus() -> str:
    k1, b, delta = search.BM25PLUS_K1, search.BM25PLUS_B, search.BM25PLUS_DELTA
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""
with toks as (
  select doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') as tokens
  from documents
),
stats as (select doc_id, len(tokens) as dl from toks),
corpus as (select count(*) as n_docs, avg(dl) as avgdl from stats),
tf as (
  select term, doc_id, count(*) as tf
  from (select doc_id, unnest(tokens) as term from toks)
  where term in ({terms}) group by term, doc_id
),
dft as (select term, count(distinct doc_id) as df from tf group by term),
scored as (
  select tf.doc_id,
    (log10(cast(n_docs as double) + 1.0) - log10(df))
    * ({synth.dlit(delta)} + (({synth.dlit(k1)} + 1.0) + tf)
       / ({synth.dlit(k1)} * (1.0 - {synth.dlit(b)} + {synth.dlit(b)} * dl / cast(avgdl as double)) + tf))
    as term_score
  from tf join dft using (term) join stats using (doc_id) cross join corpus
)
select cast(doc_id as bigint) as doc_id, round(sum(term_score), 6) as score
from scored group by doc_id
"""


# Q18: TF-IDF scoring (searcher.go:356-400, unnormalized like the reference)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = search.tfidf_scores(_docs(spark, sf_dir), BM25_QUERY_TERMS)
    return scores.select("doc_id", F.round("score", 6).alias("score"))


def sql_tfidf() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""
with toks as (
  select doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') as tokens
  from documents
),
corpus as (select count(*) as n_docs from toks),
tf as (
  select term, doc_id, count(*) as tf
  from (select doc_id, unnest(tokens) as term from toks)
  where term in ({terms}) group by term, doc_id
),
dft as (select term, count(distinct doc_id) as df from tf group by term),
scored as (
  select tf.doc_id,
    ((1.0 + log10(tf)) * (log10(cast(n_docs as double)) - log10(df)))
    * ((1.0 + log10(1.0)) * (log10(cast(n_docs as double)) - log10(df)))
    as contrib
  from tf join dft using (term) cross join corpus
)
select cast(doc_id as bigint) as doc_id, round(sum(contrib), 6) as score
from scored group by doc_id
"""


# Q19: boolean query (AND/OR/NOT; completes the reference's declared
# operators, searcher.go:633-677)
BOOLEAN_QUERY = "(spark and join) or (window and not merge)"


def q_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators import boolean

    toks = search.doc_tokens(_docs(spark, sf_dir))
    postings = search.build_postings(toks)
    all_docs = toks.select("doc_id")
    return boolean.boolean_search(BOOLEAN_QUERY, postings, all_docs)


def sql_boolean() -> str:
    return """
with toks as (
  select doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') as tokens
  from documents
),
p as (select distinct doc_id, unnest(tokens) as term from toks)
select doc_id from (
  (select doc_id from p where term = 'spark'
   intersect select doc_id from p where term = 'join')
  union
  (select doc_id from p where term = 'window'
   except select doc_id from p where term = 'merge')
)
"""


# Q20: quadgram LM counts with reference padding (ngram_lm.go:189-210)
def q_quadgram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators import ngram_lm

    toks = search.doc_tokens(_docs(spark, sf_dir))
    counts = ngram_lm.ngram_counts(toks, max_n=4, oov_threshold=None)
    return counts.filter(F.col("n") == 4).select("gram", "count")


def sql_quadgram_counts() -> str:
    return """
with toks as (
  select list_concat(['<s>','<s>','<s>','<s>'],
         list_append(list_filter(string_split(lower(text), ' '), t -> t <> ''), '</s>'))
         as p
  from documents
),
grams as (
  select unnest([p[i] || ' ' || p[i+1] || ' ' || p[i+2] || ' ' || p[i+3]
                 for i in generate_series(1, len(p) - 3)]) as gram
  from toks
)
select gram, count(*) as count from grams group by gram
"""


# Q21: term dictionary with first-seen ids (pkg/util.go:30-42, deterministic)
def q_term_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = search.doc_tokens(_docs(spark, sf_dir))
    return search.term_dict(toks)


def sql_term_dict() -> str:
    return """
with toks as (
  select doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') as tokens
  from documents
),
pos as (
  select doc_id, unnest(tokens) as term,
         unnest(generate_series(1, len(tokens))) as pos
  from toks
),
fd as (select term, min(doc_id) as first_doc from pos group by term),
fp as (
  select p.term, f.first_doc, min(p.pos) as first_pos
  from pos p join fd f on p.term = f.term and p.doc_id = f.first_doc
  group by p.term, f.first_doc
)
select term,
       cast(row_number() over (order by first_doc, first_pos) - 1 as bigint) as term_id
from fp
"""


# Q22: way assembly + median centroid (indexer.go:168-181) over synth OSM
def q_way_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.plans import build_pipeline as bp
    from osm_search_spark.sources import osm as osm_src

    nodes, ways, _ = osm_src.synth_osm(spark)
    return bp.way_docs(ways, nodes).select(
        F.col("src_id").alias("way_id"), "name", "lat", "lon"
    )


def sql_way_centroid() -> str:
    from osm_search_spark.sources import osm as osm_src

    nodes, ways, _ = osm_src.synth_osm_py()
    node_map = {n["id"]: (n["lat"], n["lon"]) for n in nodes}
    rows = []
    for w in ways:
        name = w["tags"].get("name")
        if not name:
            continue
        from osm_search_spark.sources.synth import dlit

        lats = [node_map[i][0] for i in w["node_ids"]]
        lons = [node_map[i][1] for i in w["node_ids"]]
        la = "[" + ",".join(dlit(x) for x in lats) + "]"
        lo = "[" + ",".join(dlit(x) for x in lons) + "]"
        rows.append(f"({w['id']}, '{name}', {la}::double[], {lo}::double[])")
    vals = ",\n".join(rows)
    return f"""
with ways as (select * from (values {vals}) w(way_id, name, lats, lons))
select cast(way_id as bigint) as way_id, name,
       list_sort(lats)[cast(floor(len(lats)/2) as int) + 1] as lat,
       list_sort(lons)[cast(floor(len(lons)/2) as int) + 1] as lon
from ways
"""


# Q23: radius kNN with feature filter (rtree.go:648-672 semantics)
def q_knn_radius_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    probes = synth.probes_df(spark)
    objects = synth.derive_points(spark, sf_dir).withColumn(
        "has_feature", F.col("point_id") % 3 == 0
    )
    res = knn_join(
        probes, objects.filter("has_feature"), k=10, res=C.TILE_RES,
        radius_km=3.0, obj_id="point_id", olat="lat", olon="lon",
    )
    return res.select(
        "probe_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("point_id").alias("obj_id"),
        F.round("dist_km", 6).alias("dist_km"),
    )


def sql_knn_radius_feature() -> str:
    hav = haversine_km_sql("pr.plat", "pr.plon", "p.lat", "p.lon")
    return f"""
with points as ({synth.points_sql()}),
probes as ({synth.probes_sql()})
select probe_id, rank, obj_id, dist_km from (
  select pr.probe_id,
         row_number() over (partition by pr.probe_id
                            order by {hav}, p.point_id) as rank,
         p.point_id as obj_id,
         round({hav}, 6) as dist_km
  from probes pr cross join points p
  where p.point_id % 3 = 0 and ({hav}) <= 3.0
) ranked where rank <= 10
"""


# Q24: gap-based sessionization over events (training-pipeline window op)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = synth.spread_scan(spark.read.parquet(f"{sf_dir}/events.parquet"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session tz is pinned UTC so ltz epoch == duckdb epoch()
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .withColumn(
            "session_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).cast("long"),
        )
        .select("user_id", "event_id", "session_id")
    )


def sql_sessionize() -> str:
    return """
with e as (
  select user_id, event_id, ts,
         case when epoch(ts) - lag(epoch(ts)) over
                (partition by user_id order by ts, event_id) > 1800
              or lag(ts) over (partition by user_id order by ts, event_id) is null
              then 1 else 0 end as new_sess
  from events
)
select user_id, event_id,
       cast(sum(new_sess) over (partition by user_id order by ts, event_id
            rows between unbounded preceding and current row) as bigint) as session_id
from e
"""


# Q24b: origin-destination flow matrix — trips segmented from the
# derived event ping stream (trips.segment_trips, 1800s gap rule; the
# jump rule is disabled so the twin needs no haversine), origin/dest =
# first/last ping's cell at OD_RES, flows + ping mass per (o, d) pair.
# The classic mobility-analytics rollup on top of the trip segmenter.
OD_RES = 9


def q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.trips import segment_trips

    lat_e = synth.LAT_EXPR.replace("o_orderkey", "event_id")
    lon_e = synth.LON_EXPR.replace("o_orderkey", "event_id")
    ev = synth.spread_scan(spark.read.parquet(f"{sf_dir}/events.parquet")).select(
        "event_id", "user_id",
        F.col("ts").cast("timestamp_ltz").cast("long").alias("tsl"),
        F.expr(lat_e).alias("lat"), F.expr(lon_e).alias("lon"),
    )
    t = segment_trips(
        ev, max_gap_s=1800, max_jump_km=1.0e12,
        entity="user_id", ts="tsl",
    )
    cell = C.latlng_to_cell("lat", "lon", OD_RES)
    per_trip = t.groupBy("user_id", "trip_seq").agg(
        F.min_by(cell, F.struct("tsl", "event_id")).alias("o_cell"),
        F.max_by(cell, F.struct("tsl", "event_id")).alias("d_cell"),
        F.count(F.lit(1)).alias("n"),
    )
    return per_trip.groupBy("o_cell", "d_cell").agg(
        F.count(F.lit(1)).alias("flows"),
        F.sum("n").alias("pings"),
    )


def sql_od_matrix() -> str:
    lat_e = synth.LAT_EXPR.replace("o_orderkey", "event_id")
    lon_e = synth.LON_EXPR.replace("o_orderkey", "event_id")
    cell = C.latlng_to_cell_sql("lat", "lon", OD_RES)
    return f"""
with pings as materialized (
  select event_id, user_id, cast(epoch(ts) as bigint) as tsl,
         {cell} as cell
  from (select event_id, user_id, ts, {lat_e} as lat, {lon_e} as lon
        from events)
),
seg as (
  select *, case when lag(tsl) over w is null
                   or tsl - lag(tsl) over w > 1800
                 then 1 else 0 end as new_trip
  from pings window w as (partition by user_id order by tsl, event_id)
),
trips as (
  select user_id, event_id, tsl, cell,
         sum(new_trip) over (partition by user_id order by tsl, event_id
             rows between unbounded preceding and current row) as trip_seq
  from seg
),
pt as (
  select user_id, trip_seq, cell,
         row_number() over (partition by user_id, trip_seq
                            order by tsl, event_id) as rn_a,
         row_number() over (partition by user_id, trip_seq
                            order by tsl desc, event_id desc) as rn_d
  from trips
),
per_trip as (
  select o.user_id, o.trip_seq, o.o_cell, d.d_cell, c.n
  from (select user_id, trip_seq, cell as o_cell from pt where rn_a = 1) o
  join (select user_id, trip_seq, cell as d_cell from pt where rn_d = 1) d
    on o.user_id = d.user_id and o.trip_seq = d.trip_seq
  join (select user_id, trip_seq, cast(count(*) as bigint) as n
        from pt group by 1, 2) c
    on o.user_id = c.user_id and o.trip_seq = c.trip_seq
)
select o_cell, d_cell, cast(count(*) as bigint) as flows,
       cast(sum(n) as bigint) as pings
from per_trip group by 1, 2
"""


# Q25: language-ID heuristic (stopword-hit based; documents carry a lang
# column but the heuristic is computed from text alone)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions.text import _STOPWORD_LIST

    toks = tokenize_simple("text")
    hits = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORD_LIST)))
    ratio = hits / F.size(toks)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.when(ratio >= 0.10, "en").otherwise("other").alias("pred_lang"),
    )


def sql_lang_id() -> str:
    from osm_search_spark.functions.text import _STOPWORD_LIST

    stops = ", ".join(f"'{w}'" for w in _STOPWORD_LIST)
    toks = "list_filter(string_split(lower(text), ' '), t -> t <> '')"
    return f"""
with t as (select doc_id, {toks} as tokens from documents)
select doc_id,
       case when cast(len(list_filter(tokens, w -> w in ({stops}))) as double)
                 / len(tokens) >= 0.10
            then 'en' else 'other' end as pred_lang
from t
"""


# Q25b: TRAINED language-ID — character n-gram rank profiles (Cavnar &
# Trenkle out-of-place method) trained on the deterministic labeled synth
# corpus, classifying its held-out split. Integer-exact (counts / ranks /
# absolute rank differences), so the twin — which re-derives the ENTIRE
# train+classify pipeline in SQL — hash-matches with no float rounding.
# (The documents table's `lang` column is random metadata uncorrelated
# with its text, hence the dedicated corpus; the stopword heuristic
# `lang_id` stays as the cheap prefilter variant.)
def q_lang_id_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators import langid

    corpus = synth.langcorpus_df(spark)
    profiles = langid.train_char_profiles(corpus.filter(F.col("split") == "train"))
    return langid.classify_langid(corpus.filter(F.col("split") == "test"), profiles)


def sql_lang_id_trained() -> str:
    from osm_search_spark.operators import langid

    return langid.langid_sql(
        f"(select lang, text from ({synth.langcorpus_sql()}) where split = 'train')",
        f"(select doc_id, text from ({synth.langcorpus_sql()}) where split = 'test')",
    )


# Q26: simhash signatures — 60-bit md5-prefix token hash, recomputable
# bit-for-bit in DuckDB (the near-dup hamming property is pytest-verified
# in tests/test_dedup_similarity.py).
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_portable(_docs(spark, sf_dir))


def sql_simhash() -> str:
    return dedup.simhash_portable_sql("documents")


# Q26b: concave-ring PIP join — non-rectangular polygons (reflex vertices,
# diagonal edges), so the driver gate exercises the exact winding-number
# refine (geometry.go:86-122 semantics incl. the segment-bbox boundary
# quirk :102-106), not just bbox containment.
def q_concave_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    points = synth.derive_points(spark, sf_dir)
    polys = synth.concave_polygons_df(spark)
    joined = spatial_join(points, polys, res=C.JOIN_RES)
    return joined.select(
        "point_id", F.col("polygon_id").cast("long").alias("polygon_id")
    )


def sql_concave_pip() -> str:
    cross = "((rn[i+1]-rn[i])*(plat-rl[i]) - (plon-rn[i])*(rl[i+1]-rl[i]))"
    return f"""
with points as ({synth.points_sql()}),
polys as ({synth.concave_polygons_sql()}),
pairs as (
  select p.point_id, cp.polygon_id, p.lat as plat, p.lon as plon,
         cp.ring_lat as rl, cp.ring_lon as rn
  from points p join polys cp
    on p.lat >= list_min(cp.ring_lat) and p.lat <= list_max(cp.ring_lat)
   and p.lon >= list_min(cp.ring_lon) and p.lon <= list_max(cp.ring_lon)
),
scored as (
  select point_id, polygon_id,
    list_sum([case when rl[i] <= plat and rl[i+1] > plat and {cross} > 0 then 1
                   when rl[i] > plat and rl[i+1] <= plat and {cross} < 0 then -1
                   else 0 end
              for i in generate_series(1, len(rl) - 1)]) as wn,
    len(list_filter(generate_series(1, len(rl) - 1), i ->
        plon >= least(rn[i], rn[i+1]) and plon <= greatest(rn[i], rn[i+1])
        and plat >= least(rl[i], rl[i+1]) and plat <= greatest(rl[i], rl[i+1])
    )) > 0 as on_edge
  from pairs
)
select point_id, cast(polygon_id as bigint) as polygon_id
from scored where on_edge or wn <> 0
"""


# Q26b: multipolygon-with-holes PIP join — donut fixtures (outer rings +
# `inner` hole rings, which the reference drops at parse_osm.go:348-368).
# A point strictly inside a hole must NOT match; on a hole boundary it
# must. The twin derives outer winding + per-hole strict-interior
# exclusion independently (holes unnested per ring; two unnests in one
# select ZIP, which is exactly the pairing wanted here).
def q_donut_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    points = synth.derive_points(spark, sf_dir)
    polys = synth.donut_polygons_df(spark)
    joined = spatial_join(points, polys, res=C.JOIN_RES)
    return joined.select(
        "point_id", F.col("polygon_id").cast("long").alias("polygon_id")
    )


def sql_donut_pip() -> str:
    def wn_terms(rl, rn):
        cross = f"((({rn})[i+1]-({rn})[i])*(plat-({rl})[i]) - (plon-({rn})[i])*(({rl})[i+1]-({rl})[i]))"
        return (
            f"list_sum([case when ({rl})[i] <= plat and ({rl})[i+1] > plat and {cross} > 0 then 1 "
            f"when ({rl})[i] > plat and ({rl})[i+1] <= plat and {cross} < 0 then -1 "
            f"else 0 end for i in generate_series(1, len({rl}) - 1)])"
        )

    def edge_terms(rl, rn):
        return (
            f"len(list_filter(generate_series(1, len({rl}) - 1), i -> "
            f"plon >= least(({rn})[i], ({rn})[i+1]) and plon <= greatest(({rn})[i], ({rn})[i+1]) "
            f"and plat >= least(({rl})[i], ({rl})[i+1]) and plat <= greatest(({rl})[i], ({rl})[i+1]))) > 0"
        )

    return f"""
with points as ({synth.points_sql()}),
polys as ({synth.donut_polygons_sql()}),
pairs as (
  select p.point_id, dp.polygon_id, p.lat as plat, p.lon as plon,
         dp.ring_lat as rl, dp.ring_lon as rn
  from points p join polys dp
    on p.lat >= list_min(dp.ring_lat) and p.lat <= list_max(dp.ring_lat)
   and p.lon >= list_min(dp.ring_lon) and p.lon <= list_max(dp.ring_lon)
),
outer_in as (
  select point_id, polygon_id, plat, plon from pairs
  where {edge_terms('rl', 'rn')} or {wn_terms('rl', 'rn')} <> 0
),
hole_rows as (
  select polygon_id, unnest(holes_lat) as hrl, unnest(holes_lon) as hrn
  from polys
),
hole_strict as (
  select o.point_id, o.polygon_id
  from outer_in o join hole_rows h using (polygon_id)
  where {wn_terms('h.hrl', 'h.hrn')} <> 0
    and not {edge_terms('h.hrl', 'h.hrn')}
)
select point_id, cast(polygon_id as bigint) as polygon_id from outer_in
except
select point_id, cast(polygon_id as bigint) as polygon_id from hole_strict
"""


# Q26d (round 7): multi-outer multipolygon PIP join. Archipelago relations
# (outer boundary = SEVERAL disjoint rings, one split across open ways)
# assembled with assemble_relation_polygons(multi_outer=True) — the
# beyond-reference mode that cuts one polygon row per closed outer ring
# instead of the reference's splice-all-outers (parse_osm.go:348-368).
# PIP must assign points in EITHER island to the relation and nothing in
# the sea between; the twin derives rings closed-form from the same way
# constants and PIPs per ring (+ per-ring hole exclusion).
def q_multi_outer_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.sources import osm as osm_src

    points = synth.derive_points(spark, sf_dir)
    nodes_df, ways_df, rels_df = synth.archipelago_tables(spark)
    polys = osm_src.assemble_relation_polygons(
        rels_df, ways_df, nodes_df, multi_outer=True
    )
    joined = spatial_join(points, polys, res=C.JOIN_RES)
    dim = polys.select("polygon_id", "rel_id", "ring_idx")
    return joined.join(F.broadcast(dim), "polygon_id").select(
        "point_id", "rel_id", F.col("ring_idx").cast("int").alias("ring_idx")
    )


def sql_multi_outer_pip() -> str:
    def wn_terms(rl, rn):
        cross = f"((({rn})[i+1]-({rn})[i])*(plat-({rl})[i]) - (plon-({rn})[i])*(({rl})[i+1]-({rl})[i]))"
        return (
            f"list_sum([case when ({rl})[i] <= plat and ({rl})[i+1] > plat and {cross} > 0 then 1 "
            f"when ({rl})[i] > plat and ({rl})[i+1] <= plat and {cross} < 0 then -1 "
            f"else 0 end for i in generate_series(1, len({rl}) - 1)])"
        )

    def edge_terms(rl, rn):
        return (
            f"len(list_filter(generate_series(1, len({rl}) - 1), i -> "
            f"plon >= least(({rn})[i], ({rn})[i+1]) and plon <= greatest(({rn})[i], ({rn})[i+1]) "
            f"and plat >= least(({rl})[i], ({rl})[i+1]) and plat <= greatest(({rl})[i], ({rl})[i+1]))) > 0"
        )

    return f"""
with points as ({synth.points_sql()}),
rings as ({synth.archipelago_rings_sql()}),
pairs as (
  select p.point_id, r.rel_id, r.ring_idx, p.lat as plat, p.lon as plon,
         r.ring_lat as rl, r.ring_lon as rn
  from points p join rings r
    on p.lat >= list_min(r.ring_lat) and p.lat <= list_max(r.ring_lat)
   and p.lon >= list_min(r.ring_lon) and p.lon <= list_max(r.ring_lon)
),
outer_in as (
  select point_id, rel_id, ring_idx, plat, plon from pairs
  where {edge_terms('rl', 'rn')} or {wn_terms('rl', 'rn')} <> 0
),
hole_rows as (
  select rel_id, ring_idx, unnest(holes_lat) as hrl, unnest(holes_lon) as hrn
  from rings
),
hole_strict as (
  select o.point_id, o.rel_id, o.ring_idx
  from outer_in o join hole_rows h using (rel_id, ring_idx)
  where {wn_terms('h.hrl', 'h.hrn')} <> 0
    and not {edge_terms('h.hrl', 'h.hrn')}
)
select point_id, cast(rel_id as bigint) as rel_id,
       cast(ring_idx as int) as ring_idx
from outer_in
except
select point_id, cast(rel_id as bigint) as rel_id,
       cast(ring_idx as int) as ring_idx
from hole_strict
"""


# Q26e (round 7): vector dissolve/union by attribute — kecamatan merged by
# city key via shared-edge cancellation (operators/dissolve.py). The gate
# hashes the CANCELLATION core: surviving-edge count, Chamberlain-Duquette
# area and haversine perimeter summed over the surviving directed edge set
# (both edge-additive, so no ring order needed SQL-side); ring CHAINING is
# pytest-verified (tests/test_dissolve.py: ring counts + city parity).
# Same CD/haversine expression text on both engines; libm -> 6dp rounding.
_DISSOLVE_CD_TERM = (
    "(radians(blon) - radians(alon))"
    " * (2.0 + sin(radians(alat)) + sin(radians(blat)))"
)
_KEC_KEY_RE = "kecamatan_([0-9]+)_([0-9]+)_"


def q_dissolve_admin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions.geodesy import EARTH_RADIUS_KM
    from osm_search_spark.operators.dissolve import dissolve_edges

    kec = (
        synth.admin_polygons(spark)
        .filter(F.col("admin_level") == 7)
        .withColumn(
            "group_key",
            F.concat(
                F.lit("kota_"),
                F.regexp_extract("name", _KEC_KEY_RE, 1),
                F.lit("_"),
                F.regexp_extract("name", _KEC_KEY_RE, 2),
            ),
        )
    )
    edges = dissolve_edges(kec)
    return edges.groupBy("group_key").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.round(
            F.abs(F.sum(F.expr(_DISSOLVE_CD_TERM)))
            * F.lit(EARTH_RADIUS_KM**2 / 2.0),
            6,
        ).alias("area_km2"),
        F.round(
            F.sum(haversine_km(F.col("alat"), F.col("alon"), F.col("blat"), F.col("blon"))),
            6,
        ).alias("perim_km"),
    )


def sql_dissolve_admin() -> str:
    from osm_search_spark.functions.geodesy import EARTH_RADIUS_KM

    r2half = synth.dlit(EARTH_RADIUS_KM**2 / 2.0)
    hav = haversine_km_sql("alat", "alon", "blat", "blon")
    shoe_t = "(_rn[i] * _rl[i+1] - _rn[i+1] * _rl[i])"
    return f"""
with kec as (
  select concat('kota_', regexp_extract(name, '{_KEC_KEY_RE}', 1), '_',
                regexp_extract(name, '{_KEC_KEY_RE}', 2)) as group_key,
         [minlat, minlat, maxlat, maxlat, minlat] as _rl,
         [minlon, maxlon, maxlon, minlon, minlon] as _rn
  from ({synth.admin_polygons_sql()}) where admin_level = 7
),
-- rings are closed by construction; normalize to CCW (no-op here, but the
-- operator's semantics) via the planar shoelace sign
norm as (
  select group_key,
    case when shoe < 0 then list_reverse(_rl) else _rl end as rl,
    case when shoe < 0 then list_reverse(_rn) else _rn end as rn
  from (
    select *, list_sum([{shoe_t}
                        for i in generate_series(1, len(_rl) - 1)]) as shoe
    from kec
  )
),
idx as (
  select group_key, rl, rn,
         unnest(generate_series(1, len(rl) - 1)) as i
  from norm
),
edges as (
  select group_key, rl[i] as alat, rn[i] as alon,
         rl[i+1] as blat, rn[i+1] as blon
  from idx
),
surv as (
  select group_key,
         min([alat, alon, blat, blon]) as e
  from edges
  group by group_key,
           case when [alat, alon] < [blat, blon]
                then [alat, alon] else [blat, blon] end,
           case when [alat, alon] < [blat, blon]
                then [blat, blon] else [alat, alon] end
  having count(*) = 1
),
dedir as (
  select group_key, e[1] as alat, e[2] as alon, e[3] as blat, e[4] as blon
  from surv
)
select group_key,
       count(*) as n_edges,
       round(abs(sum({_DISSOLVE_CD_TERM})) * {r2half}, 6) as area_km2,
       round(sum({hav}), 6) as perim_km
from dedir
group by group_key
"""


# Q26f (round 7): trained model-based quality filter (FineWeb-Edu/DCLM
# position in the pipeline) — pinned logistic-regression margins over
# dense text features + hashed char trigrams, pure Column arithmetic
# (operators/quality_clf.py; trained distributed, weights pinned). The
# twin carries the identical weight literals and term order; ln() is the
# one libm call -> margins rounded 6dp on both sides, and the keep flag
# derives from the ROUNDED margin so both engines decide identically.
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.quality_clf import score_quality

    m = F.round(score_quality(F.col("text")), 6)
    return _docs(spark, sf_dir).select(
        "doc_id",
        m.alias("margin"),
        (m > 0).alias("keep"),
    )


def sql_quality_classifier() -> str:
    from osm_search_spark.operators.quality_clf import score_quality_sql

    m = f"round({score_quality_sql('text')}, 6)"
    return f"""
select doc_id, {m} as margin, {m} > 0 as keep
from documents
"""


# Q26g (round 7): snap-to-segment (map-matching primitive) — nearest
# street SEGMENT with the exact foot-of-perpendicular, vs the
# reference's nearest street-POINT 1-NN (indexer.go:1032-1038). The
# Spark side goes through the cell-cover candidate join + struct-argmin;
# the twin brute-forces all segments (embedded VALUES from the same
# synth closed form) with the IDENTICAL t/snap/haversine expression text
# and a row_number argmin with the same (dist, way_id, seg_idx)
# tie-break. Floats rounded 6dp (cos/asin/sqrt libm).
_SNAP_RADIUS_KM = 3.0


def q_snap_streets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.snap import snap_to_segments
    from osm_search_spark.sources import osm as osm_src

    nodes, ways, _ = osm_src.synth_osm(spark)
    streets = (
        osm_src.assemble_ways(ways, nodes)
        .filter(F.map_contains_key("tags", "highway"))
        .select("id", "lats", "lons")
    )
    points = synth.derive_points(spark, sf_dir)
    return snap_to_segments(points, streets, radius_km=_SNAP_RADIUS_KM)


def sql_snap_streets() -> str:
    from osm_search_spark.operators.snap import (
        SNAP_LAT_EXPR, SNAP_LON_EXPR, T_EXPR,
    )
    from osm_search_spark.sources import osm as osm_src

    nodes, ways, _ = osm_src.synth_osm_py()
    node_pos = {n["id"]: (n["lat"], n["lon"]) for n in nodes}
    seg_rows = []
    for w in ways:
        if "highway" not in w["tags"]:
            continue
        ids = w["node_ids"]
        for i in range(len(ids) - 1):
            (alat, alon), (blat, blon) = node_pos[ids[i]], node_pos[ids[i + 1]]
            seg_rows.append(
                f"({w['id']}, {i}, {synth.dlit(alat)}, {synth.dlit(alon)}, "
                f"{synth.dlit(blat)}, {synth.dlit(blon)})"
            )
    hav = haversine_km_sql("plat", "plon", SNAP_LAT_EXPR, SNAP_LON_EXPR)
    return f"""
with points as ({synth.points_sql()}),
segs as (select * from (values
{",".join(seg_rows)}
) s(way_id, seg_idx, alat, alon, blat, blon)),
scored as (
  select p.point_id, s.way_id, s.seg_idx,
         {T_EXPR} as t_raw, {SNAP_LAT_EXPR} as slat_raw,
         {SNAP_LON_EXPR} as slon_raw, {hav} as d_raw
  from (select point_id, lat as plat, lon as plon from points) p
  cross join segs s
),
in_radius as (
  select *, row_number() over (
    partition by point_id order by d_raw, way_id, seg_idx
  ) as rk
  from scored where round(d_raw, 6) <= {_SNAP_RADIUS_KM}
)
select point_id, cast(way_id as bigint) as way_id,
       cast(seg_idx as int) as seg_idx,
       round(t_raw, 6) as t, round(slat_raw, 6) as snap_lat,
       round(slon_raw, 6) as snap_lon, round(d_raw, 6) as dist_km
from in_radius where rk = 1
"""


# Q26h (round 7): cell-cover compaction (the H3 compact analog on the
# engine's grid, operators/compaction.py). Input cover = the DISTINCT
# res-14 occupancy cells of the derived points (identical formula both
# engines); the twin unrolls the same 4-sibling promotion level by level
# (14 -> 10) in chained CTEs with the identical parent integer
# arithmetic. Pure integer ids — exact hash compare, no rounding.
_COMPACT_RES, _COMPACT_MIN_RES = 14, 10


def q_compact_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.compaction import compact_cells

    cover = (
        synth.derive_points(spark, sf_dir)
        .select(C.latlng_to_cell("lat", "lon", _COMPACT_RES).alias("cell_id"))
        .distinct()
    )
    out = compact_cells(cover, _COMPACT_RES, _COMPACT_MIN_RES)
    return out.select(
        "cell_id",
        (F.col("cell_id") / F.lit(C.RES_BITS_SHIFT)).cast("int").alias("res"),
    )


def sql_compact_cover() -> str:
    from osm_search_spark.operators.compaction import parent_sql

    cell = C.latlng_to_cell_sql("lat", "lon", _COMPACT_RES)
    ctes = [
        f"pts as ({synth.points_sql()})",
        f"c{_COMPACT_RES} as (select distinct {cell} as cell_id from pts)",
    ]
    keeps = []
    for r in range(_COMPACT_RES, _COMPACT_MIN_RES, -1):
        par = parent_sql("cell_id", r)
        ctes.append(f"w{r} as (select cell_id, {par} as p from c{r})")
        ctes.append(
            f"promo{r} as (select p from w{r} group by p having count(*) = 4)"
        )
        ctes.append(
            f"keep{r} as (select cell_id from w{r} "
            f"where p not in (select p from promo{r}))"
        )
        ctes.append(f"c{r - 1} as (select p as cell_id from promo{r})")
        keeps.append(f"select cell_id from keep{r}")
    keeps.append(f"select cell_id from c{_COMPACT_MIN_RES}")
    union = "\nunion all ".join(keeps)
    return (
        "with " + ",\n".join(ctes) + f"""
select cell_id,
       cast(cell_id // {C.RES_BITS_SHIFT} as int) as res
from ({union})
"""
    )


# Q26i (round 7): polygon labeling points — area-weighted centroid
# (holes subtracted, orientation-free) + point-on-surface (widest-
# interval scanline at the bbox mid-latitude, guaranteed interior) over
# the donut + concave fixtures (functions/labels.py). Libm-free (+,-,*,/
# only; shoelace in LOCAL coordinates about the ring's first vertex for
# conditioning), so both engines compute the identical doubles.
def _labels_polys(spark: SparkSession) -> DataFrame:
    empty_dd = F.array().cast("array<array<double>>")
    donut = synth.donut_polygons_df(spark)
    conc = synth.concave_polygons_df(spark).select(
        (F.col("polygon_id") + 100).alias("polygon_id"),
        "ring_lat", "ring_lon",
        empty_dd.alias("holes_lat"), empty_dd.alias("holes_lon"),
    )
    return donut.unionByName(conc)


def q_polygon_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions.labels import centroid, point_on_surface

    polys = _labels_polys(spark)
    clat, clon = centroid("ring_lat", "ring_lon", "holes_lat", "holes_lon")
    plat, plon = point_on_surface(
        "ring_lat", "ring_lon", "holes_lat", "holes_lon"
    )
    return polys.select(
        "polygon_id",
        clat.alias("clat"), clon.alias("clon"),
        plat.alias("pos_lat"), plon.alias("pos_lon"),
    )


def sql_polygon_labels() -> str:
    def cross(rl, rn, i):
        return (
            f"(({rn}[{i}] - x0) * ({rl}[{i}+1] - y0)"
            f" - ({rn}[{i}+1] - x0) * ({rl}[{i}] - y0))"
        )

    def terms(rl, rn):
        c = cross(rl, rn, "i")
        gen = f"generate_series(1, len({rl}) - 1)"
        s = f"coalesce(list_sum([{c} for i in {gen}]), 0.0)"
        nx = (
            f"coalesce(list_sum([(({rn}[i] - x0) + ({rn}[i+1] - x0)) * {c}"
            f" for i in {gen}]), 0.0)"
        )
        ny = (
            f"coalesce(list_sum([(({rl}[i] - y0) + ({rl}[i+1] - y0)) * {c}"
            f" for i in {gen}]), 0.0)"
        )
        return s, nx, ny

    def xs_of(rl, rn):
        gen = f"generate_series(1, len({rl}) - 1)"
        x = f"({rn}[i] + (y - {rl}[i]) / ({rl}[i+1] - {rl}[i]) * ({rn}[i+1] - {rn}[i]))"
        return (
            f"[{x} for i in {gen}"
            f" if ({rl}[i] <= y) <> ({rl}[i+1] <= y)]"
        )

    s_o, nx_o, ny_o = terms("ring_lat", "ring_lon")
    s_h, nx_h, ny_h = terms("hrl", "hrn")
    return f"""
with donut as ({synth.donut_polygons_sql()}),
conc0 as ({synth.concave_polygons_sql()}),
polys as (
  select polygon_id, ring_lat, ring_lon, holes_lat, holes_lon from donut
  union all
  select polygon_id + 100, ring_lat, ring_lon,
         []::double[][], []::double[][] from conc0
),
base as (
  select polygon_id, ring_lat, ring_lon, holes_lat, holes_lon,
         ring_lat[1] as y0, ring_lon[1] as x0,
         (list_min(ring_lat) + list_max(ring_lat)) / 2.0 as y
  from polys
),
outer_t as (
  select polygon_id, y0, x0, y,
         case when {s_o} < 0 then -1.0 else 1.0 end * {s_o} as s,
         case when {s_o} < 0 then -1.0 else 1.0 end * {nx_o} as nx,
         case when {s_o} < 0 then -1.0 else 1.0 end * {ny_o} as ny,
         {xs_of('ring_lat', 'ring_lon')} as oxs
  from base
),
hole_rows as (
  select polygon_id, y0, x0, y,
         unnest(holes_lat) as hrl, unnest(holes_lon) as hrn
  from base
),
hole_t as (
  select polygon_id,
         case when {s_h} < 0 then -1.0 else 1.0 end * {s_h} as s,
         case when {s_h} < 0 then -1.0 else 1.0 end * {nx_h} as nx,
         case when {s_h} < 0 then -1.0 else 1.0 end * {ny_h} as ny,
         {xs_of('hrl', 'hrn')} as hxs
  from hole_rows
),
hole_agg as (
  select polygon_id, sum(s) as hs, sum(nx) as hnx, sum(ny) as hny,
         flatten(list(hxs)) as hxs
  from hole_t group by polygon_id
),
combined as (
  select o.polygon_id, o.y0, o.x0, o.y,
         o.s - coalesce(h.hs, 0.0) as s,
         o.nx - coalesce(h.hnx, 0.0) as nx,
         o.ny - coalesce(h.hny, 0.0) as ny,
         list_sort(o.oxs || coalesce(h.hxs, [])) as xs
  from outer_t o left join hole_agg h using (polygon_id)
),
intervals as (
  select polygon_id, y, xs,
         unnest(generate_series(1, len(xs) // 2)) as k
  from combined
),
pos as (
  select polygon_id, y,
         (xs[2*k - 1] + xs[2*k]) / 2.0 as mid,
         row_number() over (
           partition by polygon_id
           order by (xs[2*k] - xs[2*k - 1]) desc, k asc
         ) as rk
  from intervals
)
select cast(c.polygon_id as bigint) as polygon_id,
       case when c.s <> 0 then c.y0 + c.ny / (3.0 * c.s) end as clat,
       case when c.s <> 0 then c.x0 + c.nx / (3.0 * c.s) end as clon,
       p.y as pos_lat, p.mid as pos_lon
from combined c left join pos p on c.polygon_id = p.polygon_id and p.rk = 1
"""


# Q26j (round 7): image quality filtering + aspect bucketing (the LAION/
# DataComp curation filters over the image payload). The Spark side
# DECODES every image in the Arrow kernel and computes the stats; the
# twin re-synthesizes the deterministic rows DRIVER-SIDE through the
# SAME decode + image_stats_py and embeds the results as VALUES (the
# round-2 images recipe) — so the gate hash-verifies the distributed
# decode + stats pipeline end to end. Integer sums exact; the two float
# columns are identical numpy arithmetic on both sides (no rounding).
_IMG_Q_N = 240


def q_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.image_ops import image_quality_stats
    from osm_search_spark.sources import images as img_src

    return image_quality_stats(img_src.images_table(spark, _IMG_Q_N))


def sql_image_quality() -> str:
    from osm_search_spark.functions import images as I
    from osm_search_spark.operators.image_ops import image_stats_py
    from osm_search_spark.sources import images as img_src

    rows = []
    for i in range(_IMG_Q_N):
        r = img_src.make_row(i)
        s = image_stats_py(r["image_id"], I.decode(r["bytes"], r["fmt"]))
        rows.append(
            f"('{s[0]}', {s[1]}, {s[2]}, {s[3]}, '{s[4]}', {s[5]}, {s[6]}, "
            f"{synth.dlit(s[7])}, {synth.dlit(s[8])}, {str(s[9]).lower()})"
        )
    return f"""
select image_id, cast(w as int) as w, cast(h as int) as h,
       cast(min_dim as int) as min_dim, aspect_bucket,
       cast(px_sum as bigint) as px_sum,
       cast(px_sq_sum as bigint) as px_sq_sum,
       entropy, luma_mean, keep
from (values
{",".join(rows)}
) t(image_id, w, h, min_dim, aspect_bucket, px_sum, px_sq_sum,
    entropy, luma_mean, keep)
"""


# Q26q (round 8): SDXL aspect-bucket resize — decode -> bucket -> exact
# integer resample -> PNG re-encode (operators/image_ops.py bucket_resize).
# The gate projects the exact int64 stats + crc32 of the resized raw
# pixels (byte-exact on the resized output without shipping bytes); the
# twin re-derives every row driver-side through the SAME pure kernel over
# the closed-form image fixture (the image-oracle pattern of
# sql_image_quality / CLAUDE.md round-2 rule).
def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.image_ops import bucket_resize
    from osm_search_spark.sources import images as img_src

    return bucket_resize(img_src.images_table(spark, _IMG_Q_N)).select(
        "image_id", "aspect_bucket", "tw", "th",
        "px_sum", "px_sq_sum", "crc",
    )


def sql_image_resize() -> str:
    from osm_search_spark.functions import images as I
    from osm_search_spark.operators.image_ops import bucket_resize_py
    from osm_search_spark.sources import images as img_src

    rows = []
    for i in range(_IMG_Q_N):
        r = img_src.make_row(i)
        s, _ = bucket_resize_py(r["image_id"], I.decode(r["bytes"], r["fmt"]))
        rows.append(
            f"('{s[0]}', '{s[1]}', {s[2]}, {s[3]}, {s[4]}, {s[5]}, {s[6]})"
        )
    return f"""
select image_id, aspect_bucket, cast(tw as int) as tw,
       cast(th as int) as th, cast(px_sum as bigint) as px_sum,
       cast(px_sq_sum as bigint) as px_sq_sum, cast(crc as bigint) as crc
from (values
{",".join(rows)}
) t(image_id, aspect_bucket, tw, th, px_sum, px_sq_sum, crc)
"""


# Q26k (round 7): line x polygon overlay length — "road km per district"
# (operators/line_stats.py) over the synth streets x the donut + concave
# fixtures (crossing splits, concave double-crossings, hole exclusion all
# exercised). The twin embeds the SAME normalized edge set (driver-side
# mirror of _poly_edges_dim: outer CCW, holes CW) and reruns the
# identical crossing-param + midpoint-winding + haversine arithmetic
# brute-force; libm -> 6dp rounding on the summed lengths.
def _line_edges_py(rl, rn, holes_lat=(), holes_lon=()):
    def closed(la, lo):
        la, lo = list(la), list(lo)
        if la[0] != la[-1] or lo[0] != lo[-1]:
            la, lo = la + [la[0]], lo + [lo[0]]
        return la, lo

    def shoe(la, lo):
        return sum(
            lo[i] * la[i + 1] - lo[i + 1] * la[i] for i in range(len(la) - 1)
        )

    out = []

    def add(la, lo, ccw):
        la, lo = closed(la, lo)
        s = shoe(la, lo)
        if (s < 0) if ccw else (s > 0):
            la, lo = la[::-1], lo[::-1]
        for i in range(len(la) - 1):
            out.append((la[i], lo[i], la[i + 1], lo[i + 1]))

    add(rl, rn, ccw=True)
    for hl, hn in zip(holes_lat, holes_lon):
        add(hl, hn, ccw=False)
    return out


def q_road_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.line_stats import line_length_in_polygons
    from osm_search_spark.sources import osm as osm_src

    nodes, ways, _ = osm_src.synth_osm(spark)
    streets = (
        osm_src.assemble_ways(ways, nodes)
        .filter(F.map_contains_key("tags", "highway"))
        .select("id", "lats", "lons")
    )
    return line_length_in_polygons(streets, _labels_polys(spark))


def sql_road_lengths() -> str:
    from osm_search_spark.sources import osm as osm_src

    # street segments (same closed form as the snap twin)
    nodes, ways, _ = osm_src.synth_osm_py()
    node_pos = {n["id"]: (n["lat"], n["lon"]) for n in nodes}
    seg_rows = []
    for w in ways:
        if "highway" not in w["tags"]:
            continue
        ids = w["node_ids"]
        for i in range(len(ids) - 1):
            (alat, alon), (blat, blon) = node_pos[ids[i]], node_pos[ids[i + 1]]
            seg_rows.append(
                f"({w['id']}, {i}, {synth.dlit(alat)}, {synth.dlit(alon)}, "
                f"{synth.dlit(blat)}, {synth.dlit(blon)})"
            )
    # polygon edges, normalized exactly like _poly_edges_dim
    edge_rows = []
    for pid, rl, rn, hl, hn in synth.DONUT_POLYGONS:
        for e in _line_edges_py(rl, rn, hl, hn):
            edge_rows.append(
                f"({pid}, " + ", ".join(synth.dlit(v) for v in e) + ")"
            )
    for pid, rl, rn in synth.CONCAVE_POLYGONS:
        for e in _line_edges_py(rl, rn):
            edge_rows.append(
                f"({pid + 100}, " + ", ".join(synth.dlit(v) for v in e) + ")"
            )
    # P(t) on the segment
    plat_t = "(alat + {t} * (blat - alat))"
    plon_t = "(alon + {t} * (blon - alon))"
    hav = haversine_km_sql(
        plat_t.format(t="t0"), plon_t.format(t="t0"),
        plat_t.format(t="t1"), plon_t.format(t="t1"),
    )
    mlat, mlon = plat_t.format(t="tm"), plon_t.format(t="tm")
    t_expr = (
        "((e[2] - alon) * (e[3] - e[1]) - (e[1] - alat) * (e[4] - e[2]))"
        " / ((blon - alon) * (e[3] - e[1]) - (blat - alat) * (e[4] - e[2]))"
    )
    u_expr = (
        "((e[2] - alon) * (blat - alat) - (e[1] - alat) * (blon - alon))"
        " / ((blon - alon) * (e[3] - e[1]) - (blat - alat) * (e[4] - e[2]))"
    )
    den = "((blon - alon) * (e[3] - e[1]) - (blat - alat) * (e[4] - e[2]))"
    dwn = (
        "case when e[1] <= {mlat} and e[3] > {mlat} and "
        "((e[4] - e[2]) * ({mlat} - e[1]) - ({mlon} - e[2]) * (e[3] - e[1])) > 0 then 1 "
        "when e[1] > {mlat} and e[3] <= {mlat} and "
        "((e[4] - e[2]) * ({mlat} - e[1]) - ({mlon} - e[2]) * (e[3] - e[1])) < 0 then -1 "
        "else 0 end"
    ).format(mlat=mlat, mlon=mlon)
    on_seg = (
        "({mlon} >= least(e[2], e[4]) and {mlon} <= greatest(e[2], e[4]) "
        "and {mlat} >= least(e[1], e[3]) and {mlat} <= greatest(e[1], e[3]))"
    ).format(mlat=mlat, mlon=mlon)
    return f"""
with segs as (select * from (values
{",".join(seg_rows)}
) s(way_id, seg_idx, alat, alon, blat, blon)),
edges_raw as (select * from (values
{",".join(edge_rows)}
) e(polygon_id, ealat, ealon, eblat, eblon)),
poly_edges as (
  select polygon_id,
         list([ealat, ealon, eblat, eblon]) as edges
  from edges_raw group by polygon_id
),
pairs as (select * from segs cross join poly_edges),
split as (
  select way_id, seg_idx, polygon_id, alat, alon, blat, blon, edges,
         list_sort([0.0] || [{t_expr} for e in edges
                    if {den} <> 0 and {u_expr} >= 0 and {u_expr} <= 1
                       and {t_expr} > 0 and {t_expr} < 1] || [1.0]) as ts
  from pairs
),
piece_rows as (
  select way_id, seg_idx, polygon_id, alat, alon, blat, blon, edges, ts,
         unnest(generate_series(1, len(ts) - 1)) as k
  from split
),
pieces as (
  select way_id, seg_idx, polygon_id, alat, alon, blat, blon, edges,
         ts[k] as t0, ts[k+1] as t1, (ts[k] + ts[k+1]) / 2.0 as tm
  from piece_rows
),
inside_pieces as (
  select way_id, seg_idx, polygon_id, t0, t1, alat, alon, blat, blon
  from pieces
  where coalesce(list_sum([{dwn} for e in edges]), 0) <> 0
     or len(list_filter(edges, e -> {on_seg})) > 0
)
select cast(way_id as bigint) as way_id,
       cast(polygon_id as bigint) as polygon_id,
       round(sum({hav}), 6) as length_km
from inside_pieces
group by way_id, polygon_id
having round(sum({hav}), 6) > 0
"""


# Q26l (round 7): embedding-space decontamination (semantic complement
# of the 13-gram collision join): corpus docs whose embedding is
# near-identical to any benchmark doc's flag as contaminated. Benchmark
# = every 17th embedding (planted identicals -> cos == ~1), exact path
# for the gate (the LSH-restricted default is parity-tested in pytest).
_SEMDECON_THRESHOLD = 0.95


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.decontaminate import semantic_decontaminate

    emb = _emb(spark, sf_dir)
    bench = emb.filter(F.col("vec_id") % 17 == 0)
    return semantic_decontaminate(
        emb, bench, threshold=_SEMDECON_THRESHOLD, n_planes=None
    )


def sql_semantic_decontaminate() -> str:
    dot = "list_sum([cv[i] * bv[i] for i in generate_series(1, len(cv))])"
    nc = "sqrt(list_sum([cv[i] * cv[i] for i in generate_series(1, len(cv))]))"
    nb = "sqrt(list_sum([bv[i] * bv[i] for i in generate_series(1, len(bv))]))"
    return f"""
with emb as (
  select vec_id, cast(embedding as double[]) as vec from embeddings
),
bench as (select vec_id as bench_id, vec as bv from emb where vec_id % 17 = 0),
scored as (
  select e.vec_id, b.bench_id, {dot} / ({nc} * {nb}) as cosv
  from (select vec_id, vec as cv from emb) e cross join bench b
),
hits as (
  select vec_id, bench_id, cosv,
         row_number() over (partition by vec_id
                            order by cosv desc, bench_id desc) as rk
  from scored where cosv >= {_SEMDECON_THRESHOLD}
)
select e.vec_id,
       h.bench_id is not null as contaminated,
       h.bench_id as bench_match,
       round(h.cosv, 5) as max_cos
from emb e left join (select * from hits where rk = 1) h using (vec_id)
"""


# Q26m (round 7): overview-tile aggregation pyramid — per-cell point
# counts at res 14 rolled up level by level to res 10 (one groupBy per
# level over a 4x-shrinking frame; the fact table is scanned ONCE). The
# twin unrolls the same parent-sum cascade; every DuckDB integer sum is
# cast to bigint (the round-6 HUGEINT rule). Integer-exact hash compare.
_PYR_MAX_RES, _PYR_MIN_RES = 14, 10


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.compaction import tile_pyramid

    return tile_pyramid(
        synth.derive_points(spark, sf_dir), _PYR_MAX_RES, _PYR_MIN_RES
    )


def sql_tile_pyramid() -> str:
    from osm_search_spark.operators.compaction import parent_sql

    cell = C.latlng_to_cell_sql("lat", "lon", _PYR_MAX_RES)
    ctes = [
        f"pts as ({synth.points_sql()})",
        f"l{_PYR_MAX_RES} as (select {cell} as cell_id, "
        f"cast(count(*) as bigint) as n from pts group by 1)",
    ]
    for r in range(_PYR_MAX_RES, _PYR_MIN_RES, -1):
        ctes.append(
            f"l{r - 1} as (select {parent_sql('cell_id', r)} as cell_id, "
            f"cast(sum(n) as bigint) as n from l{r} group by 1)"
        )
    union = "\nunion all ".join(
        f"select cell_id, n from l{r}"
        for r in range(_PYR_MAX_RES, _PYR_MIN_RES - 1, -1)
    )
    return (
        "with " + ",\n".join(ctes) + f"""
select cell_id,
       cast(cell_id // {C.RES_BITS_SHIFT} as int) as res,
       n
from ({union})
"""
    )


# Q26n (round 7): IDW interpolation surface (smoothed Shepard) — point
# samples -> per-cell raster values over the k-ring neighborhoods
# (operators/interpolate.py). Sample values derive from the key
# identically on both engines; the twin mirrors the ring explode (same
# wrap/clamp formulas as cells.k_ring) and the weight arithmetic
# (haversine -> 6dp rounding on the final ratio).
_IDW_RES, _IDW_K, _IDW_EPS = 12, 1, 0.1
_IDW_VALUE_EXPR = "(cast(o_orderkey % 997 as double) / 10.0)"


def q_idw_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.interpolate import idw_interpolate

    samples = (
        synth.spread_scan(spark.read.parquet(f"{sf_dir}/orders.parquet"))
        .select(
            F.expr(synth.LAT_EXPR).alias("lat"),
            F.expr(synth.LON_EXPR).alias("lon"),
            F.expr(_IDW_VALUE_EXPR).alias("value"),
        )
    )
    return idw_interpolate(
        samples, _IDW_RES, k=_IDW_K, eps_km=_IDW_EPS
    )


def sql_idw_surface() -> str:
    res, k = _IDW_RES, _IDW_K
    nx, ny = 2 << res, 1 << res
    size = C.cell_size_deg(res)
    base = C.latlng_to_cell_sql("slat", "slon", res)
    # ring cell from (base ix/iy, dx, dy): lon wraps, lat clamps
    ix = f"((({base}) % {C.RES_BITS_SHIFT}) // {C.IX_SHIFT})"
    iy = f"(({base}) % {C.IX_SHIFT})"
    wix = f"((({ix}) + dx + {nx}) % {nx})"
    wiy = f"least(greatest(({iy}) + dy, 0), {ny - 1})"
    cell = f"({res * C.RES_BITS_SHIFT} + {wix} * {C.IX_SHIFT} + {wiy})"
    # Spark's k_ring array_distinct-s per sample: wrap/clamp collisions
    # (near a pole or on a narrow grid) collapse to ONE cell per sample.
    # Mirror that with a DISTINCT keyed by the sample row (sid), so two
    # identical sample rows still both contribute (ADVICE round 7).
    clat = f"(((cell_id) % {C.IX_SHIFT}) + 0.5) * {size!r} - 90.0"
    clon = (
        f"((((cell_id) % {C.RES_BITS_SHIFT}) // {C.IX_SHIFT}) + 0.5)"
        f" * {size!r} - 180.0"
    )
    hav = haversine_km_sql(f"({clat})", f"({clon})", "slat", "slon")
    from osm_search_spark.sources.synth import dlit

    w = f"(1.0 / (({hav}) * ({hav}) + {dlit(_IDW_EPS * _IDW_EPS)}))"
    return f"""
with samples as (
  select o_orderkey as sid, {synth.LAT_EXPR} as slat, {synth.LON_EXPR} as slon,
         {_IDW_VALUE_EXPR} as v
  from orders
),
dxs as (select sid, slat, slon, v, unnest(generate_series(-{k}, {k})) as dx
        from samples),
ringed as (select sid, slat, slon, v, dx,
                  unnest(generate_series(-{k}, {k})) as dy
           from dxs),
ringcells as (select distinct sid, slat, slon, v, {cell} as cell_id
              from ringed)
select cell_id,
       round(sum({w} * v) / sum({w}), 6) as value,
       count(*) as n_samples
from ringcells
group by 1
"""


# Q26o (round 7): visual similarity search — per probe pHash, the top-k
# corpus images by hamming distance (image_ops.phash_topk). At the
# default max_hamming=3 the 16-bit band candidates are EXHAUSTIVE by
# pigeonhole (3 differing bits touch at most 3 of 4 bands), so the
# banded Spark path equals the twin's brute force EXACTLY — integer
# hamming, no rounding. Probes = every 37th image (self-match at rank 1
# guarantees non-trivial output); phashes re-synthesized driver-side.
_PHS_N, _PHS_K, _PHS_MAXH = 240, 5, 3


def q_phash_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.image_ops import phash_topk
    from osm_search_spark.sources import images as img_src

    corpus = img_src.images_table(spark, _PHS_N).select("image_id", "phash")
    # probes = every 37th image's hash with 1-2 LOW bits flipped (the
    # "slightly edited image" search case): bit positions stay < 29 so
    # the same mask arithmetic is portable to DuckDB (round-4 shift rule)
    idx = F.regexp_extract("image_id", "img_0*([0-9]+)", 1).cast("long")
    pow2 = F.array(*[F.lit(1 << b) for b in range(29)])
    mask = F.element_at(pow2, (idx % 29 + 1).cast("int")).bitwiseOR(
        F.element_at(pow2, ((idx * 7 + 13) % 29 + 1).cast("int"))
    )
    probes = corpus.filter(idx % 37 == 0).select(
        F.concat(F.lit("probe_"), idx.cast("string")).alias("probe_id"),
        F.col("phash").bitwiseXOR(mask).alias("phash"),
    )
    return phash_topk(probes, corpus, k=_PHS_K, max_hamming=_PHS_MAXH)


def sql_phash_search() -> str:
    from osm_search_spark.sources import images as img_src

    rows = []
    probe_rows = []
    for i in range(_PHS_N):
        r = img_src.make_row(i)
        rows.append(f"('{r['image_id']}', {r['phash']})")
        if i % 37 == 0:
            mask = (1 << (i % 29)) | (1 << ((i * 7 + 13) % 29))
            probe_rows.append(f"('probe_{i}', {r['phash'] ^ mask})")
    return f"""
with corpus as (select * from (values
{",".join(rows)}
) c(image_id, phash)),
probes as (select * from (values
{",".join(probe_rows)}
) p(probe_id, ph)),
scored as (
  select p.probe_id, c.image_id,
         cast(bit_count(xor(p.ph, c.phash)) as int) as hamming
  from probes p cross join corpus c
),
ranked as (
  select probe_id, image_id, hamming,
         row_number() over (partition by probe_id
                            order by hamming, image_id) as rk
  from scored where hamming <= {_PHS_MAXH}
)
select probe_id, cast(rk as int) as rank, image_id, hamming
from ranked where rk <= {_PHS_K}
"""


# Q27b: the north-rule spine over the ACTUAL input shape — geotagged
# image+caption records -> cell-cover PIP join -> tile ids. The oracle
# re-synthesizes the deterministic image rows DRIVER-SIDE (make_row is
# closed-form per index) and embeds (image_id, caption, phash, lat, lon)
# as VALUES — the bytes themselves aren't needed for the join semantics,
# and decode invariants are separately pytest-checked (PSNR/phash tests).
def q_image_tile_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.spatial_join import spatial_join as sj
    from osm_search_spark.sources import images as img_src

    imgs = img_src.images_table(spark, 400)
    box = (img_src.LAT0, img_src.LON0, img_src.LAT1, img_src.LON1)
    polys = synth.admin_polygons(spark, box)
    joined = sj(imgs.select(F.col("image_id"), "lat", "lon", "caption", "phash"), polys)
    return joined.select(
        "image_id", "polygon_id", "caption", "phash",
        C.latlng_to_cell("lat", "lon", C.TILE_RES).alias("tile_id"),
    )


def sql_image_tile_join() -> str:
    from osm_search_spark.sources import images as img_src

    vals = ",\n".join(
        "('{}', '{}', {}::bigint, {}, {})".format(
            r["image_id"], r["caption"].replace("'", "''"), r["phash"],
            synth.dlit(r["lat"]), synth.dlit(r["lon"]),
        )
        for r in (img_src.make_row(i) for i in range(400))
    )
    box = (img_src.LAT0, img_src.LON0, img_src.LAT1, img_src.LON1)
    return f"""
with imgs as (
  select * from (values\n{vals}\n) i(image_id, caption, phash, lat, lon)
),
polys as ({synth.admin_polygons_sql(box)})
select i.image_id, cast(p.polygon_id as bigint) as polygon_id,
       i.caption, i.phash,
       {C.latlng_to_cell_sql('i.lat', 'i.lon', C.TILE_RES)} as tile_id
from imgs i join polys p
  on i.lat >= p.minlat and i.lat <= p.maxlat
 and i.lon >= p.minlon and i.lon <= p.maxlon
"""


# Q27: pHash near-dup pairs over the synthesized image table. Oracle:
# driver-side re-synthesis of the 48 deterministic phashes as VALUES +
# the same 16-bit-band candidate join and bit_count(xor) refine in SQL.
def q_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators import image_ops
    from osm_search_spark.sources import images as img_src

    imgs = img_src.images_table(spark, 48)
    return image_ops.phash_near_dup_pairs(imgs, max_hamming=16)


def sql_phash_near_dup() -> str:
    from osm_search_spark.sources import images as img_src

    vals = ",".join(
        f"('{r['image_id']}', {r['phash']}::bigint)"
        for r in (img_src.make_row(i) for i in range(48))
    )
    band_match = " or ".join(
        f"((a.phash >> {b * 16}) & 65535) = ((b.phash >> {b * 16}) & 65535)"
        for b in range(4)
    )
    return f"""
with imgs as (select * from (values {vals}) i(image_id, phash))
select image_a, image_b, hamming from (
  select a.image_id as image_a, b.image_id as image_b,
         cast(bit_count(xor(a.phash, b.phash)) as integer) as hamming
  from imgs a join imgs b on a.image_id < b.image_id and ({band_match})
) where hamming <= 16
"""




# Q27b: END-TO-END image near-dup dedup — pHash band pairs -> exact
# hamming refine -> connected components -> canonical flag, over the
# whole image table (singletons are their own kept component). Twin:
# the Q27 pair SQL + a recursive-CTE reachability closure + a left join
# back to every image (the dedup_components recipe on the image side).
def q_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators import image_ops
    from osm_search_spark.sources import images as img_src

    imgs = img_src.images_table(spark, 48)
    return image_ops.image_dedup(imgs, max_hamming=16)


def sql_image_dedup() -> str:
    from osm_search_spark.sources import images as img_src

    vals = ",".join(
        f"('{r['image_id']}')" for r in (img_src.make_row(i) for i in range(48))
    )
    return f"""
with recursive pairs as ({sql_phash_near_dup()}),
edges as (
  select image_a as ea, image_b as eb from pairs
  union all
  select image_b as ea, image_a as eb from pairs
),
cnodes as (select distinct ea as node from edges),
reach(src, node) as (
  select node, node from cnodes
  union
  select r.src, e.eb from reach r join edges e on e.ea = r.node
),
cc as (select src as image_id, min(node) as component_id from reach group by src),
allimgs as (select * from (values {vals}) a(image_id))
select a.image_id,
       coalesce(cc.component_id, a.image_id) as component_id,
       coalesce(cc.component_id, a.image_id) = a.image_id as is_canonical
from allimgs a left join cc using (image_id)
"""


# Q28: the WHOLE indexing program end-to-end — build_places over synth OSM
# (way assembly + median centroid + dedup + deterministic ids + nearest-
# street 1-NN + multi-level PIP address enrichment) vs a DuckDB
# re-derivation. Tag->field projections are pinned by pytest goldens; the
# oracle starts from projected docs and verifies everything downstream.
def q_places_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.plans import build_pipeline as bp
    from osm_search_spark.sources import osm as osm_src

    nodes, ways, rels = osm_src.synth_osm(spark)
    polys = osm_src.assemble_relation_polygons(rels, ways, nodes)
    streets = (
        bp.way_docs(ways, nodes)
        .filter(F.col("type") == "residential")
        .select(F.col("src_id").alias("id"), "name", "lat", "lon")
    )
    # initial_ring=4 covers the synth fixture's street extent (worst
    # per-probe r_needed is 2 cells at res 10) so the exact 1-NN finishes
    # in ONE annulus round — identical output, ~half the gate jobs
    return bp.build_places(
        ways, nodes, streets=streets, admin_polygons=polys,
        knn_initial_ring=4,
    ).select("id", "name", "lat", "lon", "address", "type")


def sql_places_build() -> str:
    from osm_search_spark.plans import build_pipeline as bp  # noqa: F401
    from osm_search_spark.sources import osm as osm_src
    from osm_search_spark.sources.synth import dlit

    nodes, ways, rels = osm_src.synth_osm_py()
    node_map = {n["id"]: (n["lat"], n["lon"]) for n in nodes}

    # projected docs (projection logic pinned by pytest goldens)
    doc_rows = []
    for w in ways:
        t = w["tags"]
        if not any(k in t for k in osm_src.VALID_SEARCH_TAGS) or "name" not in t:
            continue
        lats = sorted(node_map[i][0] for i in w["node_ids"])
        lons = sorted(node_map[i][1] for i in w["node_ids"])
        tipe = next((t[k] for k in osm_src.TYPE_PRECEDENCE if k in t), "")
        doc_rows.append(
            (0, w["id"], t["name"], lats[len(lats) // 2], lons[len(lons) // 2],
             t.get("addr:street", ""), tipe,
             min(lats), min(lons), max(lats), max(lons))
        )
    for n in nodes:
        t = n["tags"]
        if not any(k in t for k in ("historic", "name")) or "name" not in t:
            continue
        tipe = next((t[k] for k in osm_src.TYPE_PRECEDENCE if k in t), "")
        doc_rows.append(
            (1, n["id"], t["name"], n["lat"], n["lon"],
             t.get("addr:street", ""), tipe,
             n["lat"], n["lon"], n["lat"], n["lon"])
        )
    docs_vals = ",\n".join(
        f"({k}, {sid}, '{nm}', {dlit(la)}, {dlit(lo)}, '{st}', '{tp}', "
        f"{dlit(mnla)}, {dlit(mnlo)}, {dlit(mxla)}, {dlit(mxlo)})"
        for k, sid, nm, la, lo, st, tp, mnla, mnlo, mxla, mxlo in doc_rows
    )
    polys_sql = synth.admin_polygons_sql()
    hav = haversine_km_sql("d.lat", "d.lon", "s.lat", "s.lon")
    return f"""
with docs as (
  select * from (values\n{docs_vals}\n) d(kind, src_id, name, lat, lon,
    street, type, minlat, minlon, maxlat, maxlon)
),
dedup as (
  select d.* from docs d
  where not exists (
    select 1 from docs e
    where lower(e.name) = lower(d.name)
      and (e.kind < d.kind or (e.kind = d.kind and e.src_id < d.src_id))
      and ((d.minlat >= e.minlat and d.maxlat <= e.maxlat
            and d.minlon >= e.minlon and d.maxlon <= e.maxlon)
        or (e.minlat >= d.minlat and e.maxlat <= d.maxlat
            and e.minlon >= d.minlon and e.maxlon <= d.maxlon))
  )
),
ids as (
  select cast(row_number() over (order by kind, src_id) - 1 as bigint) as id, *
  from dedup
),
streets as (
  select src_id as sid, name as sname, lat, lon from docs
  where kind = 0 and type = 'residential'
),
nn as (
  select id, sname from (
    select d.id, s.sname,
           row_number() over (partition by d.id order by {hav}, s.sid) as rn
    from ids d cross join streets s
    where d.street = ''
  ) where rn = 1
),
with_street as (
  select i.*, case when i.street = '' then coalesce(nn.sname, '')
                   else i.street end as street2
  from ids i left join nn using (id)
),
polys as ({polys_sql}),
admin_matched as (
  select i.id, p.polygon_id, p.name, p.admin_level,
         row_number() over (
           partition by i.id, p.admin_level
           order by case when p.admin_level = 4
                         then -p.polygon_id else p.polygon_id end
         ) as rn
  from ids i join polys p
    on i.lat >= p.minlat and i.lat <= p.maxlat
   and i.lon >= p.minlon and i.lon <= p.maxlon
),
admin as (
  select id, string_agg(name, ', ' order by admin_level desc) as suffix
  from admin_matched where rn = 1 group by id
),
-- kelurahan postal-code fallback (indexer.go:1053-1055,1146-1148): docs
-- without addr:postcode inherit the finest enclosing relation's code;
-- synth relations carry '5' || 4-digit polygon_id (sources/osm.py:79)
rel_pc as (
  select id, '5' || lpad(cast(polygon_id as varchar), 4, '0') as pc
  from (
    select id, polygon_id,
           row_number() over (partition by id order by admin_level desc) as r
    from admin_matched where rn = 1
  ) where r = 1
)
select w.id, w.name, w.lat, w.lon,
       concat_ws(', ', nullif(w.street2, ''), a.suffix, rel_pc.pc) as address,
       w.type
from with_street w
left join admin a using (id)
left join rel_pc using (id)
"""


# Q29: BULK reverse geocode — every 29th order key becomes a probe (shifted
# derivation so probes are not objects); exact 1-NN over all derived points
# via the iterative ring algorithm, vs brute-force oracle.
PROBE_LAT = "(-7.95 + (cast((o_orderkey * 52361) % 999979 as double) / 999979.0) * 0.55)"
PROBE_LON = "(110.20 + (cast((o_orderkey * 31727) % 1000003 as double) / 1000003.0) * 0.75)"


def q_bulk_reverse_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    probes = (
        synth.spread_scan(spark.read.parquet(f"{sf_dir}/orders.parquet"))
        .filter(F.col("o_orderkey") % 29 == 0)
        .select(
            F.col("o_orderkey").alias("probe_id"),
            F.expr(PROBE_LAT).alias("plat"),
            F.expr(PROBE_LON).alias("plon"),
        )
    )
    objects = synth.derive_points(spark, sf_dir)
    # Round-9: index res 16 (~0.3 km cells) instead of TILE_RES=14 — the
    # k-NN result is res-independent (the finalize bound is exact at any
    # res; oracle-verified at every SF), but the round-1 candidate count is
    # density x ring area: at bench density res 14 fed ~1.6k candidates per
    # probe into the 1-NN reduction (~8M rows for 5k probes) where res 16
    # feeds ~100 (4.16s -> ~1.9s at sf0.1 after the argmin + lazy-extent
    # knn changes; res 15 measured ~0.3s slower, res 17 slower again).
    # Denser (larger-SF) inputs only push the optimal res finer; sparse
    # small-SF gates just take an extra O(1)-cell expansion round.
    res = knn_join(
        probes, objects, k=1, res=16,
        obj_id="point_id", olat="lat", olon="lon",
    )
    return res.select(
        "probe_id",
        F.col("point_id").alias("obj_id"),
        F.round("dist_km", 6).alias("dist_km"),
    )


def sql_bulk_reverse_geocode() -> str:
    hav = haversine_km_sql("pr.plat", "pr.plon", "p.lat", "p.lon")
    return f"""
with points as ({synth.points_sql()}),
probes as (
  select o_orderkey as probe_id, {PROBE_LAT} as plat, {PROBE_LON} as plon
  from orders where o_orderkey % 29 = 0
)
select probe_id, obj_id, dist_km from (
  select pr.probe_id, p.point_id as obj_id, round({hav}, 6) as dist_km,
         row_number() over (partition by pr.probe_id
                            order by {hav}, p.point_id) as rn
  from probes pr cross join points p
) where rn = 1
"""


# Q30b: SemDeDup-style semantic dedup — cluster assignment (argmax
# unnormalized-query cosine against pinned deterministic centroids),
# within-cluster exact near-dup pairs over a planted-clone corpus
# (originals + 1.5x-scaled copies at vec_id+100000 -> cos == 1), and
# min-id connected components (recursive CTE in the twin). All output
# columns are integral/boolean so the gate is hash-exact with no float
# games; the corpus works in double end to end (float->double cast is
# exact, so Spark and DuckDB see bit-identical vectors). Training
# (kmeans_train_distributed) is pytest-covered; the oracle pins `cent`
# to keep the twin derivable.
SEMDEDUP_K, SEMDEDUP_DIM, SEMDEDUP_THRESHOLD = 4, 64, 0.9
SEMDEDUP_CLONE_OFFSET, SEMDEDUP_CLONE_SCALE = 100000, 1.5


def _semdedup_cent() -> list[list[float]]:
    return [
        [(((c * 37 + j * 13) % 29) - 14) / 10.0 for j in range(SEMDEDUP_DIM)]
        for c in range(SEMDEDUP_K)
    ]


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    clones = emb.select(
        (F.col("vec_id") + F.lit(SEMDEDUP_CLONE_OFFSET)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x * F.lit(SEMDEDUP_CLONE_SCALE)
        ).alias("embedding"),
    )
    corpus = emb.unionByName(clones)
    return similarity.semantic_dedup(
        corpus,
        threshold=SEMDEDUP_THRESHOLD,
        n_planes=None,  # exact within-cluster pairs: oracle mode
        cent=_semdedup_cent(),
    )


def sql_semantic_dedup() -> str:
    from osm_search_spark.sources.synth import dlit

    cents = ",\n    ".join(
        f"({c}, [{', '.join(dlit(v) for v in row)}]::double[])"
        for c, row in enumerate(_semdedup_cent())
    )
    dot_vc = "list_sum([v[i] * cv[i] for i in generate_series(1, len(v))])"
    nv = "sqrt(list_sum([v[i] * v[i] for i in generate_series(1, len(v))]))"
    dot_ab = "list_sum([va[i] * vb[i] for i in generate_series(1, len(va))])"
    na = "sqrt(list_sum([va[i] * va[i] for i in generate_series(1, len(va))]))"
    nb = "sqrt(list_sum([vb[i] * vb[i] for i in generate_series(1, len(vb))]))"
    return f"""
with recursive emb0 as (
  select vec_id, cast(embedding as double[]) as v from embeddings
),
corpus as (
  select vec_id, v from emb0
  union all
  select vec_id + {SEMDEDUP_CLONE_OFFSET},
         list_transform(v, x -> x * {dlit(SEMDEDUP_CLONE_SCALE)})
  from emb0
),
cents as (select * from (values
    {cents}
) c(cid, cv)),
sims as (
  select co.vec_id, ct.cid,
         {dot_vc} / ({nv} + 1e-12) as s
  from corpus co cross join cents ct
),
assigned as (
  select vec_id, cid as cluster_id from (
    select vec_id, cid,
           row_number() over (partition by vec_id order by s desc, cid) as rn
    from sims
  ) where rn = 1
),
ac as (
  select a.vec_id, a.cluster_id, co.v
  from assigned a join corpus co using (vec_id)
),
pairs as (
  select id_a, id_b from (
    select a.vec_id as id_a, b.vec_id as id_b,
           {dot_ab} / ({na} * {nb}) as cosv
    from (select vec_id, cluster_id, v as va from ac) a
    join (select vec_id, cluster_id, v as vb from ac) b
      on a.cluster_id = b.cluster_id and a.vec_id < b.vec_id
  ) where cosv >= {dlit(SEMDEDUP_THRESHOLD)}
),
edges as (
  select id_a as src, id_b as dst from pairs
  union
  select id_b, id_a from pairs
),
reach(node, m) as (
  select vec_id, vec_id from assigned
  union
  select r.node, e.dst from reach r join edges e on e.src = r.m
),
comp as (select node, min(m) as component_id from reach group by node)
select a.vec_id, cast(a.cluster_id as int) as cluster_id,
       c.component_id, (a.vec_id = c.component_id) as is_canonical
from assigned a join comp c on c.node = a.vec_id
"""


# Q30: embedding-cosine near-duplicate pairs (exact mode pinned explicitly
# for the oracle — the operator's DEFAULT is the LSH-restricted scale path)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = similarity.embedding_near_dup_pairs(
        _emb(spark, sf_dir), threshold=0.5, n_planes=None
    )
    return pairs.select("id_a", "id_b", F.round("cos", 5).alias("cos"))


def sql_embedding_near_dup() -> str:
    dot = "list_sum([va[i] * vb[i] for i in generate_series(1, len(va))])"
    na = "sqrt(list_sum([va[i] * va[i] for i in generate_series(1, len(va))]))"
    nb = "sqrt(list_sum([vb[i] * vb[i] for i in generate_series(1, len(vb))]))"
    return f"""
with emb as (
  select vec_id, cast(embedding as double[]) as vec from embeddings
),
pairs as (
  select a.vec_id as id_a, b.vec_id as id_b, a.vec as va, b.vec as vb
  from emb a cross join emb b where a.vec_id < b.vec_id
)
select id_a, id_b, round(cosv, 5) as cos from (
  select id_a, id_b, {dot} / ({na} * {nb}) as cosv from pairs
) where cosv >= 0.5
"""


# Q37: BM25F two-field scoring (scoreBM25Field, searcher.go:249-315) — the
# field-weighted ranker behind freeform_search/autocomplete, previously
# golden-only. Fields derive deterministically from the documents table
# (name = tokens 1-3, address = tokens 4-7) so DuckDB re-derives the same
# two-field corpus; df counts distinct docs over BOTH fields; both fields
# use NAME_B (faithful quirk).
def q_bm25f(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators import spell

    toks = tokenize_simple("text")
    places = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        F.concat_ws(" ", F.slice(toks, 1, 3)).alias("name"),
        F.concat_ws(" ", F.slice(toks, 4, 4)).alias("address"),
    )
    scores = spell.bm25f_scores(places, BM25_QUERY_TERMS)
    return scores.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def sql_bm25f() -> str:
    from osm_search_spark.operators.spell import (
        ADDRESS_WEIGHT, K1_BM25F, NAME_B, NAME_WEIGHT,
    )

    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""
with tok0 as (
  select doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') as tokens
  from documents
),
fields as (
  select doc_id, list_slice(tokens, 1, 3) as name_toks,
         list_slice(tokens, 4, 7) as addr_toks
  from tok0
),
stats as (
  select doc_id, len(name_toks) as dl_name, len(addr_toks) as dl_addr
  from fields
),
corpus as (
  select count(*) as n_docs, avg(dl_name) as avg_name, avg(dl_addr) as avg_addr
  from stats
),
tfn as (
  select doc_id, term, count(*) as tf
  from (select doc_id, unnest(name_toks) as term from fields)
  where term in ({terms}) group by doc_id, term
),
tfa as (
  select doc_id, term, count(*) as tf
  from (select doc_id, unnest(addr_toks) as term from fields)
  where term in ({terms}) group by doc_id, term
),
uni as (
  select doc_id, term, tf, 'name' as field from tfn
  union all
  select doc_id, term, tf, 'address' as field from tfa
),
dft as (select term, count(distinct doc_id) as df from uni group by term),
scored as (
  select u.doc_id,
    (log10(cast(n_docs as double) - df + 0.5) - log10(df + 0.5)) as idf,
    case when field = 'name'
      then {synth.dlit(NAME_WEIGHT)} * (tf / (1.0 + {synth.dlit(NAME_B)} * (dl_name / cast(avg_name as double) - 1.0)))
      else {synth.dlit(ADDRESS_WEIGHT)} * (tf / (1.0 + {synth.dlit(NAME_B)} * (dl_addr / cast(avg_addr as double) - 1.0)))
    end as w
  from uni u join dft using (term) join stats using (doc_id) cross join corpus
)
select cast(doc_id as bigint) as doc_id,
       round(sum((w / ({synth.dlit(K1_BM25F)} + w)) * idf), 6) as score
from scored group by doc_id
"""


# ---------------------------------------------------------------------------

# Q38-40: raster <-> vector (operators/raster.py — north-rule capability the
# reference lacks; defined Spark-first on the engine's aligned pixel lattice).
_RAST_RES, _RAST_PX = 12, 8


def _concave_lattice_cte() -> str:
    """Shared DuckDB CTE chain: concave polygons -> bbox cover cells at
    _RAST_RES -> px*px pixel-center lattice -> winding-number inside flag.
    Formula text mirrors rasterize_polygons' numpy kernel exactly (global
    lattice centers, same op order; see operators/raster.py docstring)."""
    res, px = _RAST_RES, _RAST_PX
    size = synth.dlit(C.cell_size_deg(res))
    size_p = synth.dlit(C.cell_size_deg(res + px.bit_length() - 1))
    nx, ny = 2 << res, 1 << res
    cross = "((rn[e+1]-rn[e])*(plat-rl[e]) - (plon-rn[e])*(rl[e+1]-rl[e]))"
    return f"""
polys as ({synth.concave_polygons_sql()}),
cov as (
  select polygon_id, ring_lat as rl, ring_lon as rn,
    least(greatest(cast(floor((list_min(ring_lon) + 180.0) / {size}) as bigint), 0), {nx - 1}) as ix0,
    least(greatest(cast(floor((list_max(ring_lon) + 180.0) / {size}) as bigint), 0), {nx - 1}) as ix1,
    least(greatest(cast(floor((list_min(ring_lat) + 90.0) / {size}) as bigint), 0), {ny - 1}) as iy0,
    least(greatest(cast(floor((list_max(ring_lat) + 90.0) / {size}) as bigint), 0), {ny - 1}) as iy1
  from polys
),
cells_x as (
  select polygon_id, rl, rn, iy0, iy1, unnest(generate_series(ix0, ix1)) as ix
  from cov
),
cells as (
  select polygon_id, rl, rn, ix, unnest(generate_series(iy0, iy1)) as iy
  from cells_x
),
pix as (
  select polygon_id, rl, rn, ix, iy, gi.i, gj.j,
         (ix * {px} + gi.i + 0.5) * {size_p} - 180.0 as plon,
         (iy * {px} + gj.j + 0.5) * {size_p} - 90.0 as plat
  from cells, generate_series(0, {px - 1}) gi(i), generate_series(0, {px - 1}) gj(j)
),
scored as (
  select polygon_id, ix, iy, i, j,
    list_sum([case when rl[e] <= plat and rl[e+1] > plat and {cross} > 0 then 1
                   when rl[e] > plat and rl[e+1] <= plat and {cross} < 0 then -1
                   else 0 end
              for e in generate_series(1, len(rl) - 1)]) as wn,
    len(list_filter(generate_series(1, len(rl) - 1), e ->
        plon >= least(rn[e], rn[e+1]) and plon <= greatest(rn[e], rn[e+1])
        and plat >= least(rl[e], rl[e+1]) and plat <= greatest(rl[e], rl[e+1])
    )) > 0 as on_edge
  from pix
)"""


def q_rasterize_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators import raster as R

    rast = R.rasterize_polygons(
        synth.concave_polygons_df(spark), res=_RAST_RES, px=_RAST_PX
    )
    return R.raster_pixels(rast, _RAST_PX)


def sql_rasterize_pixels() -> str:
    return f"""
with {_concave_lattice_cte()}
select cast(polygon_id as bigint) as polygon_id,
       ({_RAST_RES} * {C.RES_BITS_SHIFT} + ix * {C.IX_SHIFT} + iy) as cell_id,
       cast(j * {_RAST_PX} + i as integer) as pixel_idx
from scored where on_edge or wn <> 0
"""


def q_vectorize_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster -> vector round-trip invariant as a gate query: the exact
    integer shoelace area of the marching-boundary rings must equal the
    set-pixel count (x2), which DuckDB derives INDEPENDENTLY by counting
    lattice points inside the original polygons."""
    from osm_search_spark.operators import raster as R

    rast = R.rasterize_polygons(
        synth.concave_polygons_df(spark), res=_RAST_RES, px=_RAST_PX
    )
    rings = R.vectorize_masks(rast, _RAST_RES, _RAST_PX)
    return rings.groupBy("polygon_id").agg(F.sum("area2").alias("area2_px"))


def sql_vectorize_area() -> str:
    return f"""
with {_concave_lattice_cte()}
select cast(polygon_id as bigint) as polygon_id,
       2 * count(*) as area2_px
from scored where on_edge or wn <> 0
group by polygon_id
"""


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators import raster as R
    from osm_search_spark.sources import images as img_src

    imgs = img_src.images_table(spark, 400)
    box = (img_src.LAT0, img_src.LON0, img_src.LAT1, img_src.LON1)
    return R.image_zonal_stats(imgs, synth.admin_polygons(spark, box))


def _image_sums_values(n: int = 400) -> str:
    """(image_id, lat, lon, n_px, sum_r, sum_g, sum_b) VALUES rows built by
    re-synthesizing + DECODING the deterministic images driver-side (the
    images-oracle pattern, FIXTURES.md)."""
    import numpy as _np

    from osm_search_spark.functions import images as I
    from osm_search_spark.sources import images as img_src

    rows = []
    for i in range(n):
        r = img_src.make_row(i)
        p = I.decode(r["bytes"], r["fmt"]).astype(_np.int64)
        s = p.sum(axis=(0, 1))
        rows.append(
            "('{}', {}, {}, {}, {}, {}, {})".format(
                r["image_id"], synth.dlit(r["lat"]), synth.dlit(r["lon"]),
                p.shape[0] * p.shape[1], int(s[0]), int(s[1]), int(s[2]),
            )
        )
    return ",\n".join(rows)


def sql_zonal_stats() -> str:
    """Oracle per the images pattern (FIXTURES.md): re-synthesize + DECODE the
    deterministic rows driver-side, embed exact integer channel sums as
    VALUES — the gate then independently verifies the PIP join + zonal
    aggregation; decode fidelity itself is pytest-PSNR-checked."""
    from osm_search_spark.sources import images as img_src

    box = (img_src.LAT0, img_src.LON0, img_src.LAT1, img_src.LON1)
    vals = _image_sums_values(400)
    return f"""
with feats as (
  select * from (values\n{vals}\n) f(image_id, lat, lon, n_px, sum_r, sum_g, sum_b)
),
polys as ({synth.admin_polygons_sql(box)})
select cast(p.polygon_id as bigint) as polygon_id,
       count(*) as n_images,
       cast(sum(n_px) as bigint) as n_px,
       round((cast(sum(sum_r) as bigint) + cast(sum(sum_g) as bigint)
              + cast(sum(sum_b) as bigint)) / (3.0 * cast(sum(n_px) as bigint)), 6)
         as avg_rgb
from feats f join polys p
  on f.lat >= p.minlat and f.lat <= p.maxlat
 and f.lon >= p.minlon and f.lon <= p.maxlon
group by p.polygon_id
"""


# Q41: coverage-WEIGHTED zonal stats — the raster x raster x vector
# composition: per-tile image rollup joined to the polygon masks on
# cell_id, each tile weighted by the zone's coverage (exact rational
# n_set/px^2, kept as integer products until one final division).
def q_coverage_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators import raster as R
    from osm_search_spark.sources import images as img_src

    imgs = img_src.images_table(spark, 400)
    box = (img_src.LAT0, img_src.LON0, img_src.LAT1, img_src.LON1)
    polys = synth.admin_polygons(spark, box)
    return R.coverage_zonal_stats(imgs, polys, res=_RAST_RES, px=_RAST_PX)


def sql_coverage_zonal() -> str:
    """Rectangular zones, so the per-tile coverage count is an inclusive
    bbox test on the pixel-center lattice (== the winding semantics with
    the segment-bbox boundary quirk for axis-aligned rings)."""
    from osm_search_spark.sources import images as img_src

    res, px = _RAST_RES, _RAST_PX
    size = synth.dlit(C.cell_size_deg(res))
    size_p = synth.dlit(C.cell_size_deg(res + px.bit_length() - 1))
    nx, ny = 2 << res, 1 << res
    box = (img_src.LAT0, img_src.LON0, img_src.LAT1, img_src.LON1)
    vals = _image_sums_values(400)
    return f"""
with polys as ({synth.admin_polygons_sql(box)}),
cov as (
  select polygon_id, minlat, minlon, maxlat, maxlon,
    least(greatest(cast(floor((minlon + 180.0) / {size}) as bigint), 0), {nx - 1}) as ix0,
    least(greatest(cast(floor((maxlon + 180.0) / {size}) as bigint), 0), {nx - 1}) as ix1,
    least(greatest(cast(floor((minlat + 90.0) / {size}) as bigint), 0), {ny - 1}) as iy0,
    least(greatest(cast(floor((maxlat + 90.0) / {size}) as bigint), 0), {ny - 1}) as iy1
  from polys
),
cells_x as (
  select polygon_id, minlat, minlon, maxlat, maxlon, iy0, iy1,
         unnest(generate_series(ix0, ix1)) as ix
  from cov
),
cells as (
  select polygon_id, minlat, minlon, maxlat, maxlon, ix,
         unnest(generate_series(iy0, iy1)) as iy
  from cells_x
),
covn as (
  select polygon_id, ({res} * {C.RES_BITS_SHIFT} + ix * {C.IX_SHIFT} + iy) as cell_id,
         count(*) as n_set
  from cells, generate_series(0, {px - 1}) gi(i), generate_series(0, {px - 1}) gj(j)
  where (iy * {px} + gj.j + 0.5) * {size_p} - 90.0 between minlat and maxlat
    and (ix * {px} + gi.i + 0.5) * {size_p} - 180.0 between minlon and maxlon
  group by 1, 2
),
imgs as (
  select * from (values\n{vals}\n) f(image_id, lat, lon, n_px, sum_r, sum_g, sum_b)
),
per_tile as (
  select {C.latlng_to_cell_sql('lat', 'lon', res)} as cell_id,
         cast(sum(n_px) as bigint) as t_px,
         cast(sum(sum_r) + sum(sum_g) + sum(sum_b) as bigint) as t_rgb
  from imgs group by 1
)
select cast(c.polygon_id as bigint) as polygon_id,
       cast(sum(c.n_set * t.t_px) as bigint) as w_px,
       round(cast(sum(c.n_set * t.t_rgb) as bigint)
             / (3.0 * cast(sum(c.n_set * t.t_px) as bigint)), 6) as wavg_rgb
from covn c join per_tile t on c.cell_id = t.cell_id
group by c.polygon_id
"""


# Q50: HyperLogLog register table over the documents corpus
# (functions/sketch.py) — the engine-portable distinct sketch: the gate
# checks INTEGER register parity (hash, register index, leading-zero
# rank all recomputed independently by DuckDB), not a float estimate.
def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions import sketch

    return sketch.hll_registers(_docs(spark, sf_dir), "text", p=8)


def sql_hll_registers() -> str:
    from osm_search_spark.functions import sketch

    return sketch.hll_registers_sql("documents", "text", p=8)


# Q52: count-min counter table over the documents corpus (token stream)
# (functions/countmin.py) — frequency sketch as mergeable data; the gate
# checks the INTEGER counter table against an independent DuckDB
# derivation (same md5-prefix row-salted positions).
def q_cms_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions import countmin

    toks = _docs(spark, sf_dir).select(
        F.explode(tokenize_simple("text")).alias("tok")
    )
    return countmin.cms_build(toks, "tok", w=1024, d=4)


def sql_cms_counters() -> str:
    from osm_search_spark.functions import countmin

    tok_rel = (
        "(select unnest(list_filter(string_split(lower(text), ' '), "
        "t -> t <> '')) as tok from documents)"
    )
    return countmin.cms_sql(tok_rel, "tok", w=1024, d=4)


# Q51: Bloom filter word table over the documents corpus
# (functions/bloom.py) — the shuffle-free join-pruning primitive as
# mergeable data; the gate checks bit-exact word parity against an
# independent DuckDB derivation (same md5-prefix hash, 30-bit words).
def q_bloom_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions import bloom

    return bloom.bloom_build(_docs(spark, sf_dir), "text")


def sql_bloom_words() -> str:
    from osm_search_spark.functions import bloom

    return bloom.bloom_sql("documents", "text")


# Q49: polygon x polygon overlap join (operators/overlap_join.py) — two
# deterministic rectangle layers derived from `part`; the operator runs
# its GENERAL path (classified cover join + FULL∧FULL shortcut + exact
# winding/segment refine) while the DuckDB twin states the same
# closed-set predicate as pure interval algebra. All literals are exact
# binary decimals (multiples of 1/32), so both sides compare bit-equal.
def _rect_layer(spark: SparkSession, sf_dir: str, salt: int) -> DataFrame:
    k = F.col("p_partkey")
    x0 = F.pmod(k * (7919 + salt), 4000) * 0.03125
    y0 = F.pmod(k * (104729 + 2 * salt), 2500) * 0.03125
    x1 = x0 + (F.pmod(k, 40) + 1) * 0.03125
    y1 = y0 + (F.pmod(k * 31, 40) + 1) * 0.03125
    return (
        synth.spread_scan(spark.read.parquet(f"{sf_dir}/part.parquet"))
        .select(
            k.cast("long").alias("polygon_id"),
            F.array(y0, y0, y1, y1, y0).alias("ring_lat"),
            F.array(x0, x1, x1, x0, x0).alias("ring_lon"),
        )
    )


def q_polygon_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.overlap_join import polygon_overlap_join

    return polygon_overlap_join(
        _rect_layer(spark, sf_dir, 0), _rect_layer(spark, sf_dir, 17), res=8
    )


def sql_polygon_overlap() -> str:
    c = synth.dlit(0.03125)

    def layer(salt: int) -> str:
        return f"""
select p_partkey as id,
  (p_partkey * {7919 + salt} % 4000) * {c} as x0,
  (p_partkey * {104729 + 2 * salt} % 2500) * {c} as y0,
  (p_partkey * {7919 + salt} % 4000) * {c}
    + ((p_partkey % 40) + 1) * {c} as x1,
  (p_partkey * {104729 + 2 * salt} % 2500) * {c}
    + ((p_partkey * 31 % 40) + 1) * {c} as y1
from part"""

    return f"""
with a as ({layer(0)}), b as ({layer(17)})
select cast(a.id as bigint) as polygon_id_a,
       cast(b.id as bigint) as polygon_id_b
from a join b
  on a.x0 <= b.x1 and b.x0 <= a.x1 and a.y0 <= b.y1 and b.y0 <= a.y1
"""


# Q-CURATE: the composed end-to-end TEXT curation pipeline
# (plans/curate_text.py) gated as ONE oracle query — the text twin of the
# image side's places_build-style whole-pipeline gate. Both engines consume
# the identical driver-synthesized planted corpus (synth.curation_corpus_py:
# every stage has survivors AND victims); the twin re-derives every stage
# independently: C4 page keep, Gopher battery + repetition thresholds,
# classifier margin (rounded 6dp both sides — libm ln), exact dedup,
# MinHash(k=9)/LSH bands, connected components via a RECURSIVE
# transitive-closure CTE (vs Spark's pointer-jumping fixpoint), span dedup,
# 13-gram decontamination, salted-md5 split, weighted mixing, and the
# concat-chunk packing as a plain window cumsum over mix_id.
def q_curate_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.plans.curate_text import curate_text

    return curate_text(
        synth.curation_corpus(spark), synth.curation_bench(spark)
    )


def sql_curate_text() -> str:
    from osm_search_spark.functions.text import (
        c4_clean_sql,
        gopher_keep_sql,
        tokenize_simple_sql,
    )
    from osm_search_spark.operators.curation import (
        GOPHER_DUP_NGRAM_MAX,
        GOPHER_TOP_NGRAM_MAX,
        gopher_repetition_sql,
        mix_sources_sql,
        split_bucket_sql,
    )
    from osm_search_spark.operators.decontaminate import decontaminate_sql
    from osm_search_spark.operators.dedup import dedup_spans_sql, minhash_sql
    from osm_search_spark.operators.quality_clf import score_quality_sql
    from osm_search_spark.plans import curate_text as ct

    c4 = c4_clean_sql("text")
    rep_checks = " and ".join(
        [
            f"(case when n = {n} then top_char_frac <= {thr} else true end)"
            for n, thr in GOPHER_TOP_NGRAM_MAX.items()
        ]
        + [
            f"(case when n = {n} then dup_char_frac <= {thr} else true end)"
            for n, thr in GOPHER_DUP_NGRAM_MAX.items()
        ]
    )
    cap = dedup.DEFAULT_LSH_MAX_BUCKET
    b = split_bucket_sql("doc_id")
    mix = mix_sources_sql(
        "spl",
        ct.DEFAULT_MIX_WEIGHTS,
        cols="doc_id, source, lang, split, margin, n_tokens",
    )
    budget = ct.DEFAULT_PACK_BUDGET
    return f"""
with corpus as materialized {synth.curation_corpus_sql()},
bench as {synth.curation_bench_sql()},
clean as materialized (
  select doc_id, source, lang, {c4["cleaned_text"]} as text
  from corpus where {c4["keep_page"]}
),
rep as (
  select doc_id, bool_and({rep_checks}) as keep_repetition
  from ({gopher_repetition_sql("clean")}) group by doc_id
),
scored as materialized (
  select c.*, round({score_quality_sql("c.text")}, 6) as margin from clean c
),
quality as materialized (
  select s.doc_id, s.source, s.lang, s.text, s.margin
  from scored s left join rep using (doc_id)
  where {gopher_keep_sql("s.text")}
    and coalesce(rep.keep_repetition, true) and s.margin > 0
),
exkeep as (select min(doc_id) as doc_id from quality group by md5(text)),
ex as materialized (select q.* from quality q join exkeep using (doc_id)),
sigs as materialized ({minhash_sql("ex", shingle_k=ct.DEFAULT_SHINGLE_K)}),
k1 as (select h0, h1 from sigs group by h0, h1 having count(*) <= {cap}),
k2 as (select h2, h3 from sigs group by h2, h3 having count(*) <= {cap}),
lsh_pairs as materialized (
  select a.doc_id as doc_a, b.doc_id as doc_b
  from sigs a join sigs b
    on a.h0 = b.h0 and a.h1 = b.h1 and a.doc_id < b.doc_id
  join k1 on a.h0 = k1.h0 and a.h1 = k1.h1
  union
  select a.doc_id as doc_a, b.doc_id as doc_b
  from sigs a join sigs b
    on a.h2 = b.h2 and a.h3 = b.h3 and a.doc_id < b.doc_id
  join k2 on a.h2 = k2.h2 and a.h3 = k2.h3
),
noncanon as (
  select doc_id from (
    with recursive
    edges as (select doc_a as ea, doc_b as eb from lsh_pairs
              union all select doc_b, doc_a from lsh_pairs),
    cnodes as (select distinct ea as node from edges),
    reach(src, node) as (
      select node, node from cnodes
      union
      select r.src, e.eb from reach r join edges e on e.ea = r.node)
    select src as doc_id, min(node) as component_id from reach group by src)
  where doc_id <> component_id
),
dd as materialized (select * from ex anti join noncanon using (doc_id)),
spans as ({dedup_spans_sql("dd", n=ct.DEFAULT_SPAN_N)}),
sp as materialized (
  select d.doc_id, d.source, d.lang, d.margin, s.text_clean as text
  from dd d join spans s using (doc_id)
),
contaminated as (
  select distinct doc_id
  from ({decontaminate_sql("sp", "bench", n=ct.DEFAULT_DECON_N)})
),
spl as materialized (
  select doc_id, source, lang, margin,
         cast(len({tokenize_simple_sql("text")}) as bigint) as n_tokens,
         case when {b} < 8000 then 'train'
              when {b} < 9000 then 'val' else 'test' end as split
  from sp anti join contaminated using (doc_id)
),
mixed as materialized ({mix}),
pre as (
  select *,
    cast(coalesce(sum(n_tokens) over (order by doc_id * {ct.MIX_ID_STRIDE} + copy_idx
        rows between unbounded preceding and 1 preceding), 0) as bigint)
      as tok_offset
  from mixed
),
packed as (
  select *,
    cast(floor(cast(tok_offset as double) / {budget}) as bigint) as chunk_first,
    greatest(
      cast(floor(cast(tok_offset + n_tokens - 1 as double) / {budget}) as bigint),
      cast(floor(cast(tok_offset as double) / {budget}) as bigint)
    ) as chunk_last
  from pre
)
select doc_id, copy_idx, source, lang, split, margin, n_tokens, tok_offset,
       chunk_first, chunk_last,
       cast(floor(cast(chunk_first as double) / {ct.SHARD_CHUNKS}) as bigint)
         as shard
from packed
"""


# Q-HMM: Newson-Krumm HMM map matching (operators/map_match.py) — per-ping
# top-m nearest-way candidates (snap cover join), per-trip Viterbi over
# emission (snap distance) + transition (|snap-step − ping-great-circle| +
# way-switch cost). The fixture plants one ping per trip CLOSER to a
# parallel road; per-point snap picks the wrong road there, the HMM keeps
# the true one. Every DP input is a 6dp-rounded number from shared
# expression text; the DP itself is exact float64 arithmetic in a
# documented order, so both engines' Viterbi decisions match exactly. The
# twin unrolls the DP as chained CTEs (one per ping step — the fixture's
# trips all have MM_TRIP_LEN pings), carrying the argmin path as a list.
def q_hmm_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.map_match import hmm_match

    return hmm_match(
        synth.map_match_pings(spark), synth.map_match_streets(spark)
    )


def sql_hmm_match() -> str:
    from osm_search_spark.operators.map_match import (
        DEFAULT_EM_W,
        DEFAULT_M,
        DEFAULT_SWITCH_COST,
        DEFAULT_TR_W,
    )
    from osm_search_spark.operators.snap import (
        SNAP_LAT_EXPR, SNAP_LON_EXPR, T_EXPR,
    )

    radius, m = 0.5, DEFAULT_M
    emw = synth.dlit(DEFAULT_EM_W)
    trw = synth.dlit(DEFAULT_TR_W)
    sw = synth.dlit(DEFAULT_SWITCH_COST)
    L = synth.MM_TRIP_LEN
    hav = haversine_km_sql("plat", "plon", SNAP_LAT_EXPR, SNAP_LON_EXPR)
    hav_step = haversine_km_sql("a.snap_lat", "a.snap_lon", "b.snap_lat", "b.snap_lon")
    hav_gc = haversine_km_sql("a.plat", "a.plon", "b.plat", "b.plon")
    em = f"(c.dist_km * c.dist_km) * {emw}"
    steps = []
    for s in range(1, L):
        steps.append(f"""v{s} as materialized (
  select trip_id, cand, way_id, score, path from (
    select c.trip_id, c.cand, c.way_id,
           (v.score + t.tr_cost) + {em} as score,
           list_append(v.path, c.cand) as path,
           row_number() over (partition by c.trip_id, c.cand
                              order by (v.score + t.tr_cost), v.cand) as rk
    from (select * from cand where seq = {s}) c
    join trans t on t.trip_id = c.trip_id and t.seq_b = {s}
                and t.cand_b = c.cand
    join v{s - 1} v on v.trip_id = t.trip_id and v.cand = t.cand_a)
  where rk = 1
)""")
    return f"""
with pings as materialized {synth.map_match_pings_sql()},
segs as materialized {synth.map_match_segments_sql()},
scored as (
  select p.trip_id, p.seq, p.plat, p.plon, s.way_id, s.seg_idx,
         {T_EXPR} as t_raw, {SNAP_LAT_EXPR} as slat_raw,
         {SNAP_LON_EXPR} as slon_raw, {hav} as d_raw
  from (select trip_id, seq, lat as plat, lon as plon from pings) p
  cross join segs s
),
perway as (
  select * from (
    select *, row_number() over (partition by trip_id, seq, way_id
                                 order by round(d_raw, 6), seg_idx) as rw
    from scored where round(d_raw, 6) <= {radius})
  where rw = 1
),
cand as materialized (
  select trip_id, seq, plat, plon, cast(rk - 1 as int) as cand,
         way_id, seg_idx, round(t_raw, 6) as t,
         round(slat_raw, 6) as snap_lat, round(slon_raw, 6) as snap_lon,
         round(d_raw, 6) as dist_km
  from (select *, row_number() over (partition by trip_id, seq
                                     order by round(d_raw, 6), way_id) as rk
        from perway)
  where rk <= {m}
),
trans as materialized (
  select a.trip_id, b.seq as seq_b, a.cand as cand_a, b.cand as cand_b,
         abs(round({hav_step}, 6) - round({hav_gc}, 6)) * {trw}
         + case when a.way_id <> b.way_id then {sw} else 0.0e0 end as tr_cost
  from cand a join cand b on a.trip_id = b.trip_id and b.seq = a.seq + 1
),
v0 as materialized (
  select c.trip_id, c.cand, c.way_id, {em} as score, [c.cand] as path
  from cand c where c.seq = 0
),
{",".join(steps)},
best as (
  select trip_id, score, path from (
    select *, row_number() over (partition by trip_id
                                 order by score, cand) as rk
    from v{L - 1})
  where rk = 1
),
steps as (
  select trip_id, score, unnest(path) as cand,
         unnest(generate_series(0, {L - 1})) as seq
  from best
)
select s.trip_id, cast(s.seq as int) as seq, c.way_id, c.seg_idx, c.t,
       c.snap_lat, c.snap_lon, c.dist_km, round(s.score, 6) as score
from steps s
join cand c on c.trip_id = s.trip_id and c.seq = s.seq and c.cand = s.cand
"""


# Q-CAPCONS: caption⇄image consistency (operators/caption_score.py) — the
# LAION/DataComp CLIP-score filter position. Deterministic fixture derived
# from the embeddings table IN BOTH ENGINES: caption vec = image vec +
# closed-form lattice noise, except every 7th pair whose caption comes
# from the NEXT row (a planted mismatch — the fixture's neighbor vectors
# are decorrelated, cos <= ~0.45 vs ~0.99 for true pairs, so threshold
# 0.6 separates cleanly). Negatives = the pair_id % 31 == 5 caption
# sample. Cosine folds accumulate identically (embedding_topk precedent);
# scores rounded 5dp, margin/keep derived from the rounded values.
def _caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = emb.select(
        "vec_id",
        F.col("embedding").alias("img_vec"),
        F.when(F.col("vec_id") % 7 == 0, F.col("vec_id") + 1)
        .otherwise(F.col("vec_id"))
        .alias("src_id"),
    )
    srcv = emb.select(
        F.col("vec_id").alias("src_id"), F.col("embedding").alias("src_vec")
    )
    cap = F.transform(
        "src_vec",
        lambda x, i: x.cast("double")
        + F.lit(0.01) * (((F.col("vec_id") * 31 + i) % 7) - 3),
    )
    return base.join(srcv, "src_id").select(
        F.col("vec_id").alias("pair_id"), "img_vec", cap.alias("cap_vec")
    )


def q_caption_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.operators.caption_score import caption_consistency

    pairs = _caption_pairs(spark, sf_dir)
    negs = pairs.filter(F.col("pair_id") % 31 == 5).select(
        F.col("pair_id").alias("neg_id"), F.col("cap_vec").alias("neg_vec")
    )
    return caption_consistency(pairs, negs)


def sql_caption_consistency() -> str:
    def cos(a, b):
        dot = f"list_sum([{a}[i] * {b}[i] for i in generate_series(1, len({a}))])"
        na = f"sqrt(list_sum([{a}[i] * {a}[i] for i in generate_series(1, len({a}))]))"
        nb = f"sqrt(list_sum([{b}[i] * {b}[i] for i in generate_series(1, len({b}))]))"
        return f"{dot} / ({na} * {nb})"

    thr = synth.dlit(0.6)
    noise = f"{synth.dlit(0.01)} * cast(((b.vec_id * 31 + (i - 1)) % 7) - 3 as double)"
    return f"""
with emb as (select vec_id, cast(embedding as double[]) as vec from embeddings),
pairs as materialized (
  select b.vec_id as pair_id, b.vec as img,
         [s.vec[i] + {noise} for i in generate_series(1, len(s.vec))] as cap
  from (select vec_id, vec,
               case when vec_id % 7 = 0 then vec_id + 1 else vec_id end
                 as src_id
        from emb) b
  join emb s on s.vec_id = b.src_id
),
negs as materialized (
  select pair_id as neg_id, cap as nv from pairs where pair_id % 31 = 5
),
clip as materialized (
  select pair_id, img, round({cos("img", "cap")}, 5) as clip_score from pairs
),
best as (
  select * from (
    select c.pair_id, c.clip_score, n.neg_id,
           round({cos("c.img", "n.nv")}, 5) as nc,
           row_number() over (partition by c.pair_id
                              order by round({cos("c.img", "n.nv")}, 5) desc,
                                       n.neg_id desc) as rk
    from clip c join negs n on c.pair_id <> n.neg_id)
  where rk = 1
)
select pair_id, clip_score, neg_id, nc as best_neg,
       clip_score - nc as margin,
       (clip_score - nc > 0 and clip_score >= {thr}) as keep
from best
"""


# Q-SFC-K: space-filling-curve cell keys (functions/sfc.py) — the S2 half
# of the H3/S2 analog: every derived point's grid cell at res 14 plus its
# Hilbert key (chained codegen projections, one per bit level) and Morton
# key (6 shift-or-mask steps per axis). The twin re-derives both curves
# independently via chained CTEs (one per bit level / spread step) over
# the same integer (ix, iy) — exact integer ops end to end, no floats
# beyond the shared cell-assignment formula text.
def q_sfc_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions import cells as C
    from osm_search_spark.functions import sfc

    res = 14
    pts = synth.derive_points(spark, sf_dir).withColumn(
        "cell_id", C.latlng_to_cell("lat", "lon", res)
    )
    return sfc.with_hilbert_key(pts, "cell_id", res=res, out="hkey").select(
        "point_id",
        "cell_id",
        "hkey",
        sfc.morton_key("cell_id", res).alias("zkey"),
    )


def sql_sfc_keys() -> str:
    from osm_search_spark.functions import cells as C
    from osm_search_spark.functions import sfc

    res = 14
    size = C.cell_size_deg(res)
    nx, ny = 2 << res, 1 << res
    ix = f"least(greatest(cast(floor((lon + 180.0) / {size!r}) as bigint), 0), {nx - 1})"
    iy = f"least(greatest(cast(floor((lat + 90.0) / {size!r}) as bigint), 0), {ny - 1})"
    hc, hf = sfc.hilbert_cte_sql("g", "point_id", "ix", "iy", res)
    mc, mf = sfc.morton_cte_sql("g", "point_id", "ix", "iy")
    return f"""
with pts as ({synth.points_sql()}),
g as materialized (
  select point_id, {ix} as ix, {iy} as iy from pts),
{hc},
{mc},
hk as ({hf}),
zk as ({mf})
select g.point_id,
       {res} * {C.RES_BITS_SHIFT} + g.ix * {C.IX_SHIFT} + g.iy as cell_id,
       hk.hkey, zk.zkey
from g join hk using (point_id) join zk using (point_id)
"""


# Q-SFC-B: SFC bbox scan — the range planner (bbox -> merged Hilbert key
# ranges, planned at a coarse res and scaled by 4^e via the quadtree
# prefix property) prefilters on the key, then the exact bbox predicate
# refines; the twin is the PLAIN bbox predicate. Green iff the planner
# admits no false negatives and the refine removes every extra — the
# S2RegionCoverer-style scan contract. Bbox bounds are exact binary
# decimals (no float-literal hazard). The key in the filter is the FOLD
# expression (hilbert_key_expr), not the projection chain — a Filter
# pushed through with_hilbert_key's chained Projects explodes
# exponentially (sfc.py hazard note); on the read path proper the key is
# a stored column and this does not arise.
def q_sfc_bbox_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_search_spark.functions import cells as C
    from osm_search_spark.functions import sfc

    res = 14
    bbox = (-7.8125, 110.4375, -7.59375, 110.71875)
    pts = synth.derive_points(spark, sf_dir).withColumn(
        "cell_id", C.latlng_to_cell("lat", "lon", res)
    )
    ranges = sfc.bbox_key_ranges(res, *bbox, curve="hilbert", plan_res=10)
    return (
        pts.filter(
            sfc.key_range_filter(sfc.hilbert_key_expr("cell_id", res), ranges)
        )
        .filter(
            (F.col("lat") >= bbox[0])
            & (F.col("lon") >= bbox[1])
            & (F.col("lat") <= bbox[2])
            & (F.col("lon") <= bbox[3])
        )
        .select("point_id", "cell_id")
    )


def sql_sfc_bbox_scan() -> str:
    from osm_search_spark.functions import cells as C

    return f"""
with pts as ({synth.points_sql()})
select point_id, {C.latlng_to_cell_sql('lat', 'lon', 14)} as cell_id
from pts
where lat >= {synth.dlit(-7.8125)} and lon >= {synth.dlit(110.4375)}
  and lat <= {synth.dlit(-7.59375)} and lon <= {synth.dlit(110.71875)}
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial PIP join + tile assignment at sf0.001."""
    return q_spatial_tile_join(spark, SF001)


def _round_number() -> int:
    """Current build round, derived from the driver's own artifacts: it
    writes CORRECTNESS_r{N}.json once per completed round, so the count
    of those files + 1 is the round about to be recorded. Deterministic
    within a round, advances by itself between rounds."""
    import glob as _glob
    import os as _os

    here = _os.path.dirname(_os.path.abspath(__file__))
    return len(_glob.glob(_os.path.join(here, "CORRECTNESS_r*.json"))) + 1


# Queries added in the CURRENT round: always first, ahead of the rotation.
_NEW_THIS_ROUND = [
    "traj_topk", "terrain_surfaces", "mosaic_pyramid", "traj_frechet", "od_matrix", "moran_local", "emerging_hotspots", "cluster_hull", "traj_hausdorff", "line_merge", "gi_star", "tile_mosaics",
    "focal_stats", "dbscan_clusters",
    "image_resize", "caption_consistency", "hmm_match", "curate_text",
]
# Everything past this index in the base order is the stable capped-out
# tail; 5 of them rotate into the head each round.
_TAIL_POOL_START = 75  # +1 per round-8 head insertion, keeps the pool stable


def _rotated(base: dict) -> dict:
    """Driver cap insurance (VERDICT r05 item 6): the driver may cap its
    correctness run at ~50 queries taken in dict order, so the stable
    tail would otherwise never re-prove itself. Promote 5 tail queries
    into the head each round — a deterministic rotation in the round
    number — so every query re-runs under the driver's gate at least
    every ceil(len(tail)/5) rounds."""
    order = list(base)
    pool = order[_TAIL_POOL_START:]
    if not pool:
        return base
    r = _round_number()
    promoted: list[str] = []
    for i in range(5):
        q = pool[(5 * r + i) % len(pool)]
        if q not in promoted:
            promoted.append(q)
    head = [q for q in order if q in _NEW_THIS_ROUND]
    rest = [
        q for q in order if q not in promoted and q not in _NEW_THIS_ROUND
    ]
    return {k: base[k] for k in head + promoted + rest}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING POLICY: newest / least-proven entries FIRST (then the
    # 5-query tail rotation via _rotated, then the rest newest-first).
    # The driver may cap its correctness run at a query-count budget taken
    # in dict order (round 4 ran 50 of 53 and silently dropped the last
    # three), so the tail should hold the oldest, most-stable queries —
    # the ones with the longest green history — never entries added this
    # round.
    return _rotated({
        "traj_topk": q_traj_topk,
        "terrain_surfaces": q_terrain,
        "mosaic_pyramid": q_mosaic_pyramid,
        "traj_frechet": q_traj_frechet,
        "od_matrix": q_od_matrix,
        "moran_local": q_moran_local,
        "emerging_hotspots": q_emerging_hotspots,
        "cluster_hull": q_cluster_hull,
        "traj_hausdorff": q_traj_hausdorff,
        "line_merge": q_line_merge,
        "gi_star": q_gi_star,
        "tile_mosaics": q_tile_mosaics,
        "focal_stats": q_focal_stats,
        "dbscan_clusters": q_dbscan,
        "sfc_keys": q_sfc_keys,
        "sfc_bbox_scan": q_sfc_bbox_scan,
        "image_resize": q_image_resize,
        "caption_consistency": q_caption_consistency,
        "hmm_match": q_hmm_match,
        "curate_text": q_curate_text,
        "phash_search": q_phash_search,
        "idw_surface": q_idw_surface,
        "tile_pyramid": q_tile_pyramid,
        "semantic_decontaminate": q_semantic_decontaminate,
        "road_lengths": q_road_lengths,
        "image_quality": q_image_quality,
        "polygon_labels": q_polygon_labels,
        "compact_cover": q_compact_cover,
        "snap_streets": q_snap_streets,
        "quality_classifier": q_quality_classifier,
        "dissolve_admin": q_dissolve_admin,
        "multi_outer_pip": q_multi_outer_pip,
        "stay_points": q_stay_points,
        "trip_stats": q_trip_stats,
        "hotspots": q_hotspots,
        "ring_measures": q_ring_measures,
        "cap_per_group": q_cap_per_group,
        "image_dedup": q_image_dedup,
        "fence_rings": q_fence_rings,
        "clip_tiles": q_clip_tiles,
        "simplify_rings": q_simplify_rings,
        "mix_sources": q_mix_sources,
        "geohash_points": q_geohash_points,
        "dedup_spans": q_dedup_spans,
        "perplexity_filter": q_perplexity_filter,
        "semantic_dedup": q_semantic_dedup,
        "dedup_lines": q_dedup_lines,
        "deterministic_sample": q_deterministic_sample,
        "pack_sequences": q_pack_sequences,
        "decontaminate_excise": q_decontaminate_excise,
        "decontaminate_flags": q_decontaminate_flags,
        "c4_clean": q_c4_clean,
        "gopher_repetition": q_gopher_repetition,
        "gopher_quality": q_gopher_quality,
        "lang_id_trained": q_lang_id_trained,
        "donut_pip_join": q_donut_pip,
        "decontaminate": q_decontaminate,
        "decontaminate_winnow": q_decontaminate_winnow,
        "range_band_join": q_range_join,
        "hourly_rollup": q_hourly_rollup,
        "coverage_zonal": q_coverage_zonal,
        "spatial_tile_join": q_spatial_tile_join,
        "tile_assign": q_tile_assign,
        "admin_first_match": q_admin_first_match,
        "knn_k5": q_knn_k5,
        "knn_far_probes": q_knn_far_probes,
        "reverse_geocode": q_reverse_geocode,
        "haversine": q_haversine,
        "bm25_search": q_bm25,
        "token_count": q_token_count,
        "bpe_token_count": q_bpe_token_count,
        "bpe_merge_token_count": q_bpe_merge_token_count,
        "polygon_overlap": q_polygon_overlap,
        "hll_registers": q_hll_registers,
        "bloom_words": q_bloom_words,
        "cms_counters": q_cms_counters,
        "term_df": q_term_df,
        "bigram_counts": q_bigrams,
        "exact_dedup": q_exact_dedup,
        "minhash_signatures": q_minhash,
        "lsh_candidate_pairs": q_lsh_pairs,
        "jaccard_pairs": q_jaccard_pairs,
        "embedding_topk": q_embedding_topk,
        "quality_features": q_quality,
        "events_running_sum": q_events_running,
        "geofence_status": q_geofence,
        "bm25plus_search": q_bm25plus,
        "bm25f_search": q_bm25f,
        "tfidf_search": q_tfidf,
        "boolean_query": q_boolean,
        "quadgram_counts": q_quadgram_counts,
        "term_dict": q_term_dict,
        "way_median_centroid": q_way_centroid,
        "knn_radius_feature": q_knn_radius_feature,
        "events_sessionize": q_sessionize,
        "lang_id": q_lang_id,
        "simhash": q_simhash,
        "concave_pip_join": q_concave_pip,
        "phash_near_dup": q_phash_near_dup,
        "image_tile_join": q_image_tile_join,
        "places_build": q_places_build,
        "bulk_reverse_geocode": q_bulk_reverse_geocode,
        "embedding_near_dup": q_embedding_near_dup,
        "rasterize_pixels": q_rasterize_pixels,
        "vectorize_area": q_vectorize_area,
        "zonal_stats": q_zonal_stats,
        "dedup_components": q_dedup_components,
        "split_assign": q_split_assign,
        "pii_redact": q_pii_redact,
        "winnow_fingerprints": q_winnow,
        "asof_enrich": q_asof,
    })


def oracle_sql() -> dict[str, str]:
    """DuckDB twins over the driver's pre-registered views (orders,
    documents, embeddings, events, ...)."""
    return _rotated({
        "traj_topk": sql_traj_topk(),
        "terrain_surfaces": sql_terrain(),
        "mosaic_pyramid": sql_mosaic_pyramid(),
        "traj_frechet": sql_traj_frechet(),
        "od_matrix": sql_od_matrix(),
        "moran_local": sql_moran_local(),
        "emerging_hotspots": sql_emerging_hotspots(),
        "cluster_hull": sql_cluster_hull(),
        "traj_hausdorff": sql_traj_hausdorff(),
        "line_merge": sql_line_merge(),
        "gi_star": sql_gi_star(),
        "tile_mosaics": sql_tile_mosaics(),
        "focal_stats": sql_focal_stats(),
        "dbscan_clusters": sql_dbscan(),
        "sfc_keys": sql_sfc_keys(),
        "sfc_bbox_scan": sql_sfc_bbox_scan(),
        "image_resize": sql_image_resize(),
        "caption_consistency": sql_caption_consistency(),
        "hmm_match": sql_hmm_match(),
        "curate_text": sql_curate_text(),
        "phash_search": sql_phash_search(),
        "idw_surface": sql_idw_surface(),
        "tile_pyramid": sql_tile_pyramid(),
        "semantic_decontaminate": sql_semantic_decontaminate(),
        "road_lengths": sql_road_lengths(),
        "image_quality": sql_image_quality(),
        "polygon_labels": sql_polygon_labels(),
        "compact_cover": sql_compact_cover(),
        "snap_streets": sql_snap_streets(),
        "quality_classifier": sql_quality_classifier(),
        "dissolve_admin": sql_dissolve_admin(),
        "multi_outer_pip": sql_multi_outer_pip(),
        "stay_points": sql_stay_points(),
        "trip_stats": sql_trip_stats(),
        "hotspots": sql_hotspots(),
        "ring_measures": sql_ring_measures(),
        "cap_per_group": sql_cap_per_group(),
        "image_dedup": sql_image_dedup(),
        "fence_rings": sql_fence_rings(),
        "clip_tiles": sql_clip_tiles(),
        "simplify_rings": sql_simplify_rings(),
        "mix_sources": sql_mix_sources(),
        "geohash_points": sql_geohash_points(),
        "dedup_spans": sql_dedup_spans(),
        "perplexity_filter": sql_perplexity_filter(),
        "semantic_dedup": sql_semantic_dedup(),
        "dedup_lines": sql_dedup_lines(),
        "deterministic_sample": sql_deterministic_sample(),
        "pack_sequences": sql_pack_sequences(),
        "decontaminate_excise": sql_decontaminate_excise(),
        "decontaminate_flags": sql_decontaminate_flags(),
        "c4_clean": sql_c4_clean(),
        "gopher_repetition": sql_gopher_repetition(),
        "gopher_quality": sql_gopher_quality(),
        "lang_id_trained": sql_lang_id_trained(),
        "donut_pip_join": sql_donut_pip(),
        "decontaminate": sql_decontaminate(),
        "decontaminate_winnow": sql_decontaminate_winnow(),
        "range_band_join": sql_range_join(),
        "hourly_rollup": sql_hourly_rollup(),
        "coverage_zonal": sql_coverage_zonal(),
        "spatial_tile_join": sql_spatial_tile_join(),
        "tile_assign": sql_tile_assign(),
        "admin_first_match": sql_admin_first_match(),
        "knn_k5": sql_knn(5),
        "knn_far_probes": sql_knn_far_probes(),
        "reverse_geocode": sql_knn(1),
        "haversine": sql_haversine(),
        "bm25_search": sql_bm25(),
        "token_count": sql_token_count(),
        "bpe_token_count": sql_bpe_token_count(),
        "bpe_merge_token_count": sql_bpe_merge_token_count(),
        "polygon_overlap": sql_polygon_overlap(),
        "hll_registers": sql_hll_registers(),
        "bloom_words": sql_bloom_words(),
        "cms_counters": sql_cms_counters(),
        "term_df": sql_term_df(),
        "bigram_counts": sql_bigrams(),
        "exact_dedup": sql_exact_dedup(),
        "minhash_signatures": sql_minhash(),
        "lsh_candidate_pairs": sql_lsh_pairs(),
        "jaccard_pairs": sql_jaccard_pairs(),
        "embedding_topk": sql_embedding_topk(),
        "quality_features": sql_quality(),
        "events_running_sum": sql_events_running(),
        "geofence_status": sql_geofence(),
        "bm25plus_search": sql_bm25plus(),
        "bm25f_search": sql_bm25f(),
        "tfidf_search": sql_tfidf(),
        "boolean_query": sql_boolean(),
        "quadgram_counts": sql_quadgram_counts(),
        "term_dict": sql_term_dict(),
        "way_median_centroid": sql_way_centroid(),
        "knn_radius_feature": sql_knn_radius_feature(),
        "events_sessionize": sql_sessionize(),
        "lang_id": sql_lang_id(),
        "simhash": sql_simhash(),
        "concave_pip_join": sql_concave_pip(),
        "phash_near_dup": sql_phash_near_dup(),
        "image_tile_join": sql_image_tile_join(),
        "places_build": sql_places_build(),
        "bulk_reverse_geocode": sql_bulk_reverse_geocode(),
        "embedding_near_dup": sql_embedding_near_dup(),
        "rasterize_pixels": sql_rasterize_pixels(),
        "vectorize_area": sql_vectorize_area(),
        "zonal_stats": sql_zonal_stats(),
        "dedup_components": sql_dedup_components(),
        "split_assign": sql_split_assign(),
        "pii_redact": sql_pii_redact(),
        "winnow_fingerprints": sql_winnow(),
        "asof_enrich": sql_asof(),
    })
