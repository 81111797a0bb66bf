"""Spell correction, BM25F two-field ranking, free-form search and
autocomplete pipelines (pkg/searcher/searcher.go + spell_corrector.go).

- spell candidates (GetWordCandidates, spell_corrector.go:93-120): all vocab
  terms within Levenshtein distance 1 then 2 — the reference's Levenshtein
  automaton ∩ FST is an implementation detail; Spark's built-in
  `levenshtein()` against the broadcast term dictionary is JVM-side and
  exact. d=1 candidates come before d=2, each block sorted (deterministic
  stand-in for FST iteration order).
- candidate query cartesian product (GetCorrectQueryCandidates, :122-137):
  driver-side fold — query token counts are tiny by construction.
- LM argmax / top-3 (GetCorrectSpellingSuggestion :139-155,
  GetMatchedWordsAutocomplete :202-227): operators/ngram_lm.best_query.
- BM25F (scoreBM25Field, searcher.go:249-315): idf =
  log10(N-df+0.5)-log10(df+0.5) with df counted over BOTH fields;
  weight_f = W_f * tf / (1 + B*(len_f/avglen_f - 1)); score += idf *
  weight/(K1+weight). NOTE the reference uses NAME_B in the address branch
  too (searcher.go:301) — replicated faithfully.
  INTENTIONAL DEVIATION: searcher.go:255-288 shadows `ok` with the
  address-postings lookup, so the reference silently skips scoring a term
  that appears ONLY in the name field (no address postings). We score
  name-only terms too — rankings can differ from the reference exactly for
  such terms; the shadowing is a Go bug, not a semantic choice, and
  dropping name matches would contradict the NAME_WEIGHT=20 design.
- FreeFormQuery pipeline (searcher.go:150-246) and Autocomplete
  (searcher.go:402-491): tokenize -> vocab check -> correct -> score ->
  page -> fetch docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import ngram_lm, search

# searcher.go:28-38; no ADDRESS_B — both fields use NAME_B (see above)
K1_BM25F = 10.0
NAME_WEIGHT, NAME_B = 20.0, 0.95
ADDRESS_WEIGHT = 1.0


# Spell candidates per OOV token: vocab terms within MAX_EDIT_DISTANCE,
# the first MAX_CANDIDATES_PER_TOKEN in (d, term) order. The cartesian
# interpretation fold is multiplicative in the bound (two OOV tokens at 10k
# candidates each would be 10^8 interpretations); per-query and batch
# correction share it, so batch_correct_queries == [correct_query(q) ...].
MAX_EDIT_DISTANCE = 2
MAX_CANDIDATES_PER_TOKEN = 64


def candidate_queries(per_token: list[list[str]]) -> list[list[str]]:
    """Cartesian product fold (GetCorrectQueryCandidates)."""
    temp: list[list[str]] = [[]]
    for cands in per_token:
        temp = [p + [t] for p in temp for t in cands]
    return temp


def correct_query(
    spark: SparkSession,
    query: str,
    term_dict: DataFrame,
    counts: DataFrame,
    stem_roots: "frozenset | None" = None,
) -> list[str]:
    """Tokenize + (optional stem) + vocab check + spell expand + LM rank;
    the best interpretation. (Autocomplete's prefix expansion of the last
    token runs through _batch_interps(prefix_last=True).)

    stem_roots: stem query tokens through the same Indonesian
    confix-stripper as the index side — searcher.go:158 stems every query
    token before the vocabulary check, so a stemmed index REQUIRES this.

    Round 4: a batch of one on the batched spell spine (_batch_interps) —
    the per-query path previously issued one bounded levenshtein collect
    PER OOV token (linear jobs per query); now vocab probe + candidate
    generation + LM rank are each one job regardless of token count, and
    per-query and batch corrections share one audited code path."""
    return batch_correct_queries(
        spark, [query], term_dict, counts, stem_roots=stem_roots
    )[0]


def batch_correct_queries(
    spark: SparkSession,
    queries: list[str],
    term_dict: DataFrame,
    counts: DataFrame,
    stem_roots: "frozenset | None" = None,
) -> list[list[str]]:
    """Spell-correct N queries with a CONSTANT number of Spark jobs.

    For the whole batch at once:

      1. ONE semi-join for vocab membership of every distinct token;
      2. ONE levenshtein join of the distinct OOV tokens against the term
         dictionary (d<=MAX_EDIT_DISTANCE candidates, deterministic
         (d, term) order, bounded per token);
      3. ONE query_log_prob call scoring every candidate interpretation of
         every query (the 7 count-table joins amortize across the batch);
      4. driver-side argmax per original query (tiny).

    Returns the best interpretation per query; correct_query is a batch of
    one.
    """
    return [
        interps[0]
        for interps in _batch_interps(
            spark, queries, term_dict, counts, top=1, stem_roots=stem_roots
        )
    ]


def _batch_interps(
    spark: SparkSession,
    queries: list[str],
    term_dict: DataFrame,
    counts: DataFrame,
    top: int = 1,
    prefix_last: bool = False,
    max_prefix: int = 10000,
    stem_roots: "frozenset | None" = None,
) -> list[list[list[str]]]:
    """Top-`top` interpretations for EVERY query with a CONSTANT number of
    Spark jobs (vocab semi-join + one levenshtein join + one prefix join
    when prefix_last + one LM scoring job), regardless of query count or
    interpretation count — the batched form of correct_query."""
    tok_lists = []
    for q in queries:
        toks = [t for t in q.lower().split() if t]
        if stem_roots is not None:
            from ..functions.stemmer import stem

            toks = [stem(t, stem_roots) for t in toks]
        if not toks:
            raise ValueError("query is empty")
        tok_lists.append(toks)

    all_tokens = sorted({t for toks in tok_lists for t in toks})
    tok_frame = spark.createDataFrame([(t,) for t in all_tokens], "term string")
    vocab = {
        r["term"] for r in tok_frame.join(term_dict, "term", "leftsemi").collect()
    }
    # tokens eligible for spell correction: every token, except each
    # query's LAST one in prefix mode (that one always prefix-expands,
    # spell_corrector.go:160-188)
    spellable = {
        t
        for toks in tok_lists
        for t in (toks[:-1] if prefix_last else toks)
    }
    unknown = sorted(spellable - vocab)

    cand_map: dict[str, list[str]] = {}
    if unknown:
        unk_frame = F.broadcast(
            spark.createDataFrame([(t,) for t in unknown], "token string")
        )
        w = Window.partitionBy("token").orderBy("d", "term")
        rows = (
            term_dict.crossJoin(unk_frame)
            .withColumn("d", F.levenshtein(F.col("token"), F.col("term")))
            .filter((F.col("d") >= 1) & (F.col("d") <= MAX_EDIT_DISTANCE))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= MAX_CANDIDATES_PER_TOKEN)
            .select("token", "term", "d")
            .collect()
        )
        # collect order is partition order — restore the contract order
        # (d=1 block then d=2, each sorted) per token
        rows.sort(key=lambda r: (r["token"], r["d"], r["term"]))
        for r in rows:
            cand_map.setdefault(r["token"], []).append(r["term"])

    prefix_map: dict[str, list[str]] = {}
    if prefix_last:
        lasts = sorted({toks[-1] for toks in tok_lists})
        last_frame = F.broadcast(
            spark.createDataFrame([(t,) for t in lasts], "prefix string")
        )
        wp = Window.partitionBy("prefix").orderBy("term")
        prows = (
            term_dict.crossJoin(last_frame)
            .filter(F.col("term").startswith(F.col("prefix")))
            .withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") <= max_prefix)
            .select("prefix", "term")
            .collect()
        )
        prows.sort(key=lambda r: (r["prefix"], r["term"]))
        for r in prows:
            prefix_map.setdefault(r["prefix"], []).append(r["term"])

    # assemble candidate interpretations per query (reference cartesian fold)
    all_cands: list[list[str]] = []
    spans: list[tuple[int, int]] = []  # [start, end) into all_cands per query
    for toks in tok_lists:
        per_token = []
        for i, t in enumerate(toks):
            if prefix_last and i == len(toks) - 1:
                per_token.append(prefix_map.get(t) or [t])
            elif t in vocab:
                per_token.append([t])
            else:
                per_token.append(cand_map.get(t) or [t])
        cands = candidate_queries(per_token)
        spans.append((len(all_cands), len(all_cands) + len(cands)))
        all_cands.extend(cands)

    multi = [i for i, (s, e) in enumerate(spans) if e - s > 1]
    if not multi:
        return [[all_cands[s]] for s, _ in spans]

    scored = ngram_lm.query_log_prob(spark, all_cands, counts).collect()
    by_id = {r["query_id"]: r["log_prob"] for r in scored}

    def keyf(i):
        p = by_id.get(i)
        if p is None or p != p:  # NaN
            p = float("-inf")
        return (-p, i)

    out: list[list[list[str]]] = []
    for s, e in spans:
        if e - s == 1:
            out.append([all_cands[s]])
            continue
        order = sorted(range(s, e), key=keyf)
        out.append([all_cands[i] for i in order[:top]])
    return out


class BM25FIndex:
    """Prebuilt per-field postings + stats — the 'loaded index' of the
    reference (Searcher.LoadMainIndex, searcher.go:84-133). Build once,
    query many; freeform_search/autocomplete accept it to avoid
    re-tokenizing the corpus per query."""

    def __init__(
        self,
        places: DataFrame,
        doc_id: str = "id",
        name_col: str = "name",
        address_col: str = "address",
        stem_roots: "frozenset | None" = None,
    ):
        """stem_roots: enable index-side Indonesian stemming (the reference
        stems every indexed token, indexer.go:804); query tokens must then
        be stemmed too (correct_query(stem_roots=...)), like
        searcher.go:158."""
        self.n_docs = places.count()
        self.stem_roots = stem_roots
        self.fields: dict[str, tuple[DataFrame, DataFrame, float]] = {}
        for field, col in (("name", name_col), ("address", address_col)):
            toks = search.doc_tokens(places, doc_id, col, stem_roots=stem_roots)
            # checkpointed, not persisted: a cached plan keeps its final
            # shuffle uncoalesced, and every search would scan all of it
            postings = search.build_postings(toks).localCheckpoint(eager=True)
            stats = search.doc_stats(toks).persist()
            avgdl = stats.agg(F.avg("dl")).collect()[0][0] or 1.0
            self.fields[field] = (postings, stats, float(avgdl))

    def field_frame(self, field: str, terms: "list[str] | DataFrame") -> DataFrame:
        """The field's postings of `terms` with doc length and avgdl. A
        list filters with isin (the per-query plan); a frame with a `term`
        column is a broadcast semi-join (the batch plan, whose term set
        comes from a whole query batch)."""
        postings, stats, avgdl = self.fields[field]
        if isinstance(terms, DataFrame):
            postings = postings.join(
                F.broadcast(terms.select("term")), "term", "leftsemi"
            )
        else:
            postings = postings.filter(F.col("term").isin(terms))
        return (
            postings.join(stats, "doc_id")
            .withColumn("field", F.lit(field))
            .withColumn("avgdl", F.lit(avgdl))
        )


def _term_contribs(index: BM25FIndex, terms: "list[str] | DataFrame") -> DataFrame:
    """One posting row per (term, doc_id, field) of `terms` with its BM25F
    `contrib` — the one scoring formula (scoreBM25Field, searcher.go:
    249-315); a doc's score is the sum of its rows' contribs."""
    tf = index.field_frame("name", terms).unionByName(
        index.field_frame("address", terms)
    )
    df_t = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log10(F.lit(float(index.n_docs)) - F.col("df") + 0.5) - F.log10(
        F.col("df") + 0.5
    )
    w = F.when(
        F.col("field") == "name",
        NAME_WEIGHT * (F.col("tf") / (1.0 + NAME_B * (F.col("dl") / F.col("avgdl") - 1.0))),
    ).otherwise(
        ADDRESS_WEIGHT * (F.col("tf") / (1.0 + NAME_B * (F.col("dl") / F.col("avgdl") - 1.0)))
    )
    return (
        tf.join(F.broadcast(df_t), "term")
        .withColumn("wtd", w)
        .withColumn("contrib", (F.col("wtd") / (K1_BM25F + F.col("wtd"))) * idf)
    )


def bm25f_scores(
    places: DataFrame,
    query_terms: list[str],
    doc_id: str = "id",
    name_col: str = "name",
    address_col: str = "address",
    index: BM25FIndex | None = None,
) -> DataFrame:
    """(doc_id, score) — field-weighted BM25F over name + address."""
    if index is None:
        index = BM25FIndex(places, doc_id, name_col, address_col)
    return (
        _term_contribs(index, query_terms)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )


def freeform_search(
    spark: SparkSession,
    places: DataFrame,
    term_dict: DataFrame,
    counts: DataFrame,
    query: str,
    k: int = 10,
    offset: int = 0,
    index: "BM25FIndex | None" = None,
) -> DataFrame:
    """FreeFormQuery (searcher.go:150-246): spell-correct -> BM25F ->
    stable top-k page -> fetch docs (broadcast join against places).
    With a stemmed index, query tokens stem through the same dictionary
    (searcher.go:158)."""
    roots = index.stem_roots if index is not None else None
    corrected = correct_query(spark, query, term_dict, counts, stem_roots=roots)
    scores = bm25f_scores(places, corrected, index=index)
    # TakeOrderedAndProject top-k: per-partition top-(offset+k) + driver
    # merge; the rank window after it only sees <= offset+k rows
    top = search._ranked_topk(
        scores, [F.desc("score"), F.col("doc_id")], k, offset
    )
    return (
        places.join(F.broadcast(top), places["id"] == top["doc_id"])
        .select("rank", "score", "id", "name", "lat", "lon", "address", "type")
        .orderBy("rank")
    )


def autocomplete(
    spark: SparkSession,
    places: DataFrame,
    term_dict: DataFrame,
    counts: DataFrame,
    query: str,
    k: int = 10,
    index: "BM25FIndex | None" = None,
) -> DataFrame:
    """Autocomplete (searcher.go:402-491): prefix-expand last token, top-3
    LM interpretations, AND-intersection semantics per interpretation
    (scoreBM25FAutocomplete :493-532), BM25F rank, merge. Scores a batch
    of one on the batch_autocomplete plan; only the top-k differs — one
    query needs no per-query window, so it is a TakeOrderedAndProject."""
    if index is None:
        index = BM25FIndex(places)
    scores = _autocomplete_scores(spark, term_dict, counts, [query], index)
    top = search._ranked_topk(
        scores, [F.col("interp"), F.desc("score"), F.col("doc_id")], k
    )
    return (
        places.join(F.broadcast(top), places["id"] == top["doc_id"])
        .select("rank", "interp", "score", "id", "name", "address")
        .orderBy("rank")
    )


# --- batched BM25F serving: many queries / interpretations, ONE plan ---------

def batch_bm25f_scores(index: BM25FIndex, interps: DataFrame) -> DataFrame:
    """(query_id, interp, doc_id, score) for a whole batch of query
    interpretations — `interps` is (query_id long, interp int,
    terms array<string>) — with autocomplete's AND semantics.

    Shuffle shape mirrors batch_bm25_search: the per-field postings enrich
    on the CORPUS side (query-independent, persisted in the index); the
    exploded (query_id, interp, term) batch BROADCASTS onto it; one
    repartition by query_id feeds both the score aggregate and any top-k
    window downstream. The AND-intersection (every distinct query term
    must have a posting in name or address — searcher.go:493-532) comes
    from the same joined rows, so it costs no extra corpus pass."""
    qt = interps.select(
        "query_id", "interp",
        F.explode(F.array_distinct("terms")).alias("term"),
        F.size(F.array_distinct("terms")).alias("_n_terms"),
    )
    # a semi-join needs no distinct term set: duplicate keys on the
    # broadcast side change nothing
    scored = (
        F.broadcast(qt).join(_term_contribs(index, qt), "term")
        .repartition("query_id")
        .groupBy("query_id", "interp", "doc_id", "_n_terms")
        .agg(
            F.sum("contrib").alias("score"),
            F.countDistinct("term").alias("_nt"),
        )
    )
    return scored.filter(F.col("_nt") == F.col("_n_terms")).select(
        "query_id", "interp", "doc_id", "score"
    )


def _autocomplete_scores(
    spark: SparkSession,
    term_dict: DataFrame,
    counts: DataFrame,
    queries: list[str],
    index: BM25FIndex,
) -> DataFrame:
    """(query_id, interp, doc_id, score): one batched prefix+spell+LM pass
    picks the top-3 interpretations per query, then ONE batched BM25F plan
    scores every (query, interpretation) with AND semantics."""
    per_q = _batch_interps(
        spark, queries, term_dict, counts, top=3, prefix_last=True,
        stem_roots=index.stem_roots,
    )
    interps = spark.createDataFrame(
        [
            (qid, qi, terms)
            for qid, interps_q in enumerate(per_q)
            for qi, terms in enumerate(interps_q)
        ],
        "query_id long, interp int, terms array<string>",
    )
    return batch_bm25f_scores(index, interps)


def batch_autocomplete(
    spark: SparkSession,
    places: DataFrame,
    term_dict: DataFrame,
    counts: DataFrame,
    queries: list[str],
    k: int = 10,
    index: "BM25FIndex | None" = None,
) -> DataFrame:
    """Autocomplete over a whole query batch with a CONSTANT number of
    Spark jobs in both query count and interpretation count
    (_autocomplete_scores), ranked by a per-query top-k window. AND
    semantics derive from the same joined posting rows (no corpus
    re-tokenize). Per query, rows match autocomplete().

    Returns (query_id, rank, interp, score, id, name, address)."""
    if index is None:
        index = BM25FIndex(places)
    scores = _autocomplete_scores(spark, term_dict, counts, queries, index)
    wq = Window.partitionBy("query_id").orderBy(
        "interp", F.desc("score"), F.col("doc_id")
    )
    top = (
        scores.withColumn("rank", F.row_number().over(wq).cast("long"))
        .filter(F.col("rank") <= k)
    )
    return (
        places.join(F.broadcast(top), places["id"] == top["doc_id"])
        .select("query_id", "rank", "interp", "score", "id", "name", "address")
        .orderBy("query_id", "rank")
    )
