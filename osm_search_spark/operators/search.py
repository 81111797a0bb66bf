"""Full-text indexing + ranking as DataFrame aggregations.

Re-expresses the reference's SPIMI inverted index + BM25 family:
- postings build (SpimiInvert, pkg/index/indexer.go:689-785, and the k-way
  segment merge indexer.go:652-685) collapses to ONE `groupBy` — Spark's
  external sort-agg *is* SPIMI;
- term dictionary (pkg.IDMap, pkg/util.go:16-49) = a dimension DataFrame
  with deterministic ids (row_number over first-seen doc order — the
  reference's mutex-guarded first-seen assignment made deterministic);
- BM25F / BM25+ / TF-IDF scoring (pkg/searcher/searcher.go:249-400) = pure
  Column arithmetic over the joined (term, doc, tf, len, avgdl, df) frame,
  one `groupBy(doc).sum()`;
- posting-list intersection / boolean AND (searcher.go:702-719) = a
  `groupBy(doc).count() == n_terms` semi-join;
- prefix match (spell_corrector.go:160-188) = `startswith` on the term dim.

The hot path is entirely JVM-side; no UDFs anywhere in this module.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize, tokenize_simple
from ..sources.synth import dlit

# Reference scoring constants (searcher.go:28-38)
BM25PLUS_K1, BM25PLUS_B, BM25PLUS_DELTA = 1.2, 0.98, 1.0
# Pinned single-field config for oracle-checked BM25 (classic defaults)
BM25_K1, BM25_B = 1.2, 0.75


def doc_tokens(
    docs: DataFrame, doc_id: str = "doc_id", text: str = "text",
    simple: bool = True, stem_roots: "frozenset | None" = None,
) -> DataFrame:
    """Tokenize (optionally stem) one text field -> (doc_id, tokens).

    stem_roots: root-word dictionary enabling Indonesian confix-stripping
    on the INDEX side, like the reference stems every indexed token
    (indexer.go:804 via pkg/util.go:12-14). Stemming cost is per unique
    term (functions/stemmer.stemmed_tokens), not per token instance."""
    tok = tokenize_simple(text) if simple else tokenize(text)
    out = docs.select(F.col(doc_id).alias("doc_id"), tok.alias("tokens"))
    if stem_roots is not None:
        from ..functions.stemmer import stemmed_tokens

        out = stemmed_tokens(out, stem_roots)
    return out


def build_postings(tokens_df: DataFrame) -> DataFrame:
    """(term, doc_id, tf) — the inverted index as data. One groupBy replaces
    SPIMI invert + spill + k-way merge."""
    return (
        tokens_df.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )


def doc_stats(tokens_df: DataFrame) -> DataFrame:
    """(doc_id, dl) field lengths (indexer.go:806-809)."""
    return tokens_df.select("doc_id", F.size("tokens").alias("dl"))


def term_dict(tokens_df: DataFrame) -> DataFrame:
    """Deterministic term ids: order by (first_doc, first_pos) — the
    reference's first-seen order (pkg/util.go:30-42) made race-free."""
    first_seen = (
        tokens_df.select(
            "doc_id", F.posexplode("tokens").alias("pos", "term")
        )
        .groupBy("term")
        .agg(F.min(F.struct("doc_id", "pos")).alias("first"))
    )
    return assign_term_ids(first_seen)


def assign_term_ids(first_seen: DataFrame) -> DataFrame:
    """(term, term_id) for `first_seen` (term, first: struct<doc_id, pos>):
    consecutive ids from 0 in (first.doc_id, first.pos) order.

    Ids are assigned WITHOUT a global sort window (a web-scale vocabulary
    must not funnel through one task): range-partition on the sort key,
    partition-LOCAL row_number, then add per-partition offsets (the
    zipWithIndex pattern, SURVEY §2.11). The only collect is one count per
    partition. The range shuffle takes no partition count, so AQE sizes it
    to the vocabulary (coalescing merges only adjacent ranges). Range
    partitions are ordered and non-overlapping and the sort key (first
    doc, first pos) is unique per term, so offset + local rank == global
    rank regardless of where the range boundaries fall."""
    # checkpoint so the offsets job and the id job see one partition
    # layout (a persisted plan would keep its final shuffle uncoalesced)
    parts = (
        first_seen.repartitionByRange(F.col("first.doc_id"), F.col("first.pos"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        parts.groupBy("_pid").count().collect(), key=lambda r: r["_pid"]
    )
    if not counts:
        return first_seen.select(
            "term", F.lit(0).cast("long").alias("term_id")
        ).limit(0)
    offsets, acc = {}, 0
    for r in counts:
        offsets[r["_pid"]] = acc
        acc += r["count"]
    off = F.create_map(
        *[F.lit(x) for pid_acc in offsets.items() for x in pid_acc]
    )
    w = Window.partitionBy("_pid").orderBy(
        F.col("first.doc_id"), F.col("first.pos")
    )
    ids = parts.select(
        "term",
        (off[F.col("_pid")] + F.row_number().over(w) - 1)
        .cast("long")
        .alias("term_id"),
    )
    # materialize the ids: the window would otherwise re-shuffle the
    # vocabulary on every use of the returned frame
    return ids.localCheckpoint(eager=True)


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    doc_id: str = "doc_id",
    text: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    require_all: bool = False,
) -> DataFrame:
    """BM25 over one text field: (doc_id, score). idf = ln((N-df+.5)/(df+.5))
    exactly as scoreBM25Field (searcher.go:249-315). require_all=True gives
    the autocomplete AND-intersection semantics (searcher.go:493-532).

    Round-9 plan (guide §2.3/§2.4 — aggregate before you shuffle / remove
    shuffles outright): for a bounded query-term list the per-doc tf of
    each term is pure Column arithmetic
    (``size(tokens) - size(array_remove(tokens, term))``), so the whole
    query runs as TWO map passes with ZERO shuffles: one small aggregate
    for (N, avgdl, per-term df), then a map-side score projection — no
    corpus-wide explode/groupBy postings build, no persist, no
    posting-to-doc-stats join. Scores are bit-equal term_score expressions;
    the per-doc sum has a fixed term order (the former groupBy sum order
    was partition-dependent; both round to 6 dp identically)."""
    # isin() semantics: duplicates in query_terms contribute once — dedupe
    # (order-preserving) so the per-term columns mirror the posting rows
    terms = list(dict.fromkeys(query_terms))
    toks = doc_tokens(docs, doc_id, text)
    if not terms:
        return toks.select(
            "doc_id", F.lit(0.0).alias("score")
        ).limit(0)
    per_doc = toks.select(
        "doc_id",
        F.size("tokens").alias("dl"),
        *[
            (F.size("tokens") - F.size(F.array_remove("tokens", t))).alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    corpus = per_doc.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    n_docs, avgdl = corpus["n"], corpus["avgdl"]

    score = None
    matched = None
    for i in range(len(terms)):
        dfi = corpus[f"_df{i}"] or 0
        tf = F.col(f"_tf{i}")
        # identical expression shape to the former per-posting columns:
        # df enters as a long literal, every other op unchanged
        idf = F.log(
            (F.lit(float(n_docs)) - F.lit(dfi) + 0.5) / (F.lit(dfi) + 0.5)
        )
        term_score = (
            idf
            * (tf * (k1 + 1.0))
            / (tf + k1 * (1.0 - b + b * F.col("dl") / F.lit(float(avgdl))))
        )
        contrib = F.when(tf > 0, term_score).otherwise(F.lit(0.0))
        hit = (tf > 0).cast("long")
        score = contrib if score is None else score + contrib
        matched = hit if matched is None else matched + hit
    out = per_doc.select(
        "doc_id", score.alias("score"), matched.alias("n_matched")
    )
    out = out.filter(
        F.col("n_matched") == len(query_terms)
        if require_all
        else F.col("n_matched") >= 1
    )
    return out.select("doc_id", "score")


def bm25_search(
    docs: DataFrame,
    query: str,
    k: int = 15,
    offset: int = 0,
    **kw,
) -> DataFrame:
    """Tokenized free-form query → top-k (doc_id, score, rank) — the scoring
    core of FreeFormQuery (searcher.go:150-246); spell correction is layered
    on top by operators/spell.py.

    Top-k is `orderBy().limit()` — TakeOrderedAndProject: each partition
    keeps its local top-(offset+k) and the driver merges, so no
    full-matching-set single-partition shuffle (the rank window that
    follows only ever sees the <= offset+k surviving rows)."""
    terms = [t for t in query.lower().split() if t]
    scores = bm25_scores(docs, terms, **kw)
    return _ranked_topk(
        scores, [F.desc("score"), F.col("doc_id")], k, offset
    )


def _ranked_topk(
    scores: DataFrame, order: list, k: int, offset: int = 0
) -> DataFrame:
    """Attach 1-based `rank` to the global top-(offset+k) rows of `scores`.

    The heavy selection is Sort+Limit (compiled to TakeOrderedAndProject —
    per-partition top-k, driver merge); the row_number window runs AFTER the
    limit, over a constant-bounded (<= offset+k row) frame, so its single
    partition is scale-safe by construction."""
    top = scores.orderBy(*order).limit(offset + k)
    w = Window.orderBy(*order)
    out = top.withColumn("rank", F.row_number().over(w).cast("long"))
    if offset:
        out = out.filter(F.col("rank") > offset)
    return out


def bm25_sql(
    docs_rel: str,
    query_terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_to: int = 6,
) -> str:
    """DuckDB oracle twin of bm25_scores (identical formula text)."""
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
with toks as (
  select doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') as tokens
  from {docs_rel}
),
stats as (select doc_id, len(tokens) as dl from toks),
corpus as (select count(*) as n_docs, avg(dl) as avgdl from stats),
postings as (
  select doc_id, unnest(tokens) as term from toks
),
tf as (
  select term, doc_id, count(*) as tf from postings
  where term in ({terms}) group by term, doc_id
),
dft as (select term, count(distinct doc_id) as df from tf group by term),
scored as (
  select tf.doc_id,
    ln((cast(n_docs as double) - df + 0.5) / (df + 0.5))
      * (tf * ({dlit(k1)} + 1.0))
      / (tf + {dlit(k1)} * (1.0 - {dlit(b)} + {dlit(b)} * dl / cast(avgdl as double)))
    as term_score
  from tf join dft using (term) join stats using (doc_id) cross join corpus
)
select cast(doc_id as bigint) as doc_id,
       round(sum(term_score), {round_to}) as score
from scored group by doc_id
"""


# --- BM25+ and TF-IDF variants (searcher.go:317-400) ------------------------

def bm25plus_scores(
    docs: DataFrame,
    query_terms: list[str],
    doc_id: str = "doc_id",
    text: str = "text",
    k1: float = BM25PLUS_K1,
    b: float = BM25PLUS_B,
    delta: float = BM25PLUS_DELTA,
) -> DataFrame:
    """scoreBM25Plus (searcher.go:317-354), replicated faithfully including
    its quirks: idf = log10(N+1) - log10(df), and the numerator reads
    (K1+1)+tf — a plus, exactly as written at searcher.go:338-340.

    Round-9: same two-map-pass zero-shuffle plan as bm25_scores (per-doc
    tf columns + one stats aggregate; no postings explode/groupBy, no
    persist, no joins)."""
    terms = list(dict.fromkeys(query_terms))
    toks = doc_tokens(docs, doc_id, text)
    if not terms:
        return toks.select("doc_id", F.lit(0.0).alias("score")).limit(0)
    per_doc = toks.select(
        "doc_id",
        F.size("tokens").alias("dl"),
        *[
            (F.size("tokens") - F.size(F.array_remove("tokens", t))).alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    corpus = per_doc.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    n_docs, avgdl = corpus["n"], float(corpus["avgdl"])

    score = None
    matched = None
    for i in range(len(terms)):
        dfi = corpus[f"_df{i}"] or 0
        tf = F.col(f"_tf{i}")
        idf = F.log10(F.lit(float(n_docs)) + 1.0) - F.log10(F.lit(dfi))
        term_score = idf * (
            delta
            + ((k1 + 1.0) + tf)
            / (k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)) + tf)
        )
        contrib = F.when(tf > 0, term_score).otherwise(F.lit(0.0))
        hit = (tf > 0).cast("long")
        score = contrib if score is None else score + contrib
        matched = hit if matched is None else matched + hit
    return (
        per_doc.select("doc_id", score.alias("score"), matched.alias("n_matched"))
        .filter(F.col("n_matched") >= 1)
        .select("doc_id", "score")
    )


def tfidf_scores(
    docs: DataFrame,
    query_terms: list[str],
    doc_id: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """scoreTFIDFCosine (searcher.go:356-400): lnc-style
    (1+log10 tf) * log10(N/df) dot product with the QUERY tf-idf; the
    reference computes norms but never divides by them — replicated.

    Round-9: same two-map-pass zero-shuffle plan as bm25_scores. Query-term
    MULTIPLICITY still matters here (qtf), exactly as the Counter-based
    posting formulation."""
    from collections import Counter

    qcounts = Counter(query_terms)
    toks = doc_tokens(docs, doc_id, text)
    if not qcounts:
        return toks.select("doc_id", F.lit(0.0).alias("score")).limit(0)
    terms = list(qcounts)
    per_doc = toks.select(
        "doc_id",
        *[
            (F.size("tokens") - F.size(F.array_remove("tokens", t))).alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    corpus = per_doc.agg(
        F.count("*").alias("n"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    n_docs = corpus["n"]

    score = None
    matched = None
    for i, t in enumerate(terms):
        dfi = corpus[f"_df{i}"] or 0
        tf = F.col(f"_tf{i}")
        idf = F.log10(F.lit(float(n_docs))) - F.log10(F.lit(dfi))
        tfidf_q = (1.0 + F.log10(F.lit(float(qcounts[t])))) * idf
        tfidf_d = (1.0 + F.log10(tf)) * idf
        contrib = F.when(tf > 0, tfidf_d * tfidf_q).otherwise(F.lit(0.0))
        hit = (tf > 0).cast("long")
        score = contrib if score is None else score + contrib
        matched = hit if matched is None else matched + hit
    return (
        per_doc.select("doc_id", score.alias("score"), matched.alias("n_matched"))
        .filter(F.col("n_matched") >= 1)
        .select("doc_id", "score")
    )


# --- batch search: many queries as ONE join plan -----------------------------

def batch_bm25_search(
    docs: DataFrame,
    queries_df: DataFrame,
    k: int = 15,
    doc_id: str = "doc_id",
    text: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Score MANY queries in one plan: queries_df(query_id, terms array) is
    exploded and joined against the postings once; scoring and top-k rank
    happen per query via one window. This is the engine's answer to the
    reference's per-request loop (FreeFormQuery) — per-query latency trades
    for batch throughput (queries/sec at scale)."""
    toks = doc_tokens(docs, doc_id, text).persist()
    postings = build_postings(toks)
    stats = doc_stats(toks)
    corpus = stats.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    n_docs, avgdl = corpus["n"], float(corpus["avgdl"])

    # Shuffle shape (the thing that decides 100 TB scaling):
    #  - postings + stats + df enrich on the CORPUS side, query-independent
    #    (amortizable across batches when persisted by the caller);
    #  - the query batch BROADCASTS onto it (a batch is bounded; the corpus
    #    is not) — the big side never shuffles for the query join;
    #  - ONE explicit repartition by query_id then both the score aggregate
    #    (hash partitioning on a subset of the grouping keys satisfies the
    #    clustering requirement) and the top-k window reuse it: one wide
    #    stage total after the corpus enrich.
    df_t = postings.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    enriched = postings.join(stats, "doc_id").join(F.broadcast(df_t), "term")
    qterms = queries_df.select(
        "query_id", F.explode("terms").alias("term")
    )
    scored = (
        F.broadcast(qterms).join(enriched, "term")
        .withColumn(
            "idf",
            F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))),
        )
        .repartition("query_id")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("term_score").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
