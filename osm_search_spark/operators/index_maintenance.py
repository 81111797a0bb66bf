"""Incremental inverted-index maintenance: merge a NEW document batch into
existing index tables without re-indexing the corpus.

The reference rebuilds its whole index per run (pkg/index/indexer.go — the
SPIMI build starts from scratch; there is no incremental path). At 10^12
docs a daily crawl increment cannot re-tokenize the corpus, so this module
adds the merge operators a production pipeline needs. All merges are
aggregations over (existing tables ∪ delta) with the delta driving the
work; the existing tables are only touched on the merge keys the delta
actually contains where the semantics allow (postings merge is a union +
re-aggregate that Spark executes as a map-side-combined hash agg — the
existing side streams).

Semantics:
- upsert by doc_id: a re-ingested doc REPLACES its old postings/stats
  (delete + insert, the standard segment-merge contract);
- term ids are STABLE: existing terms keep their ids; new terms get ids
  after the current max, ordered by first-seen in the new batch (same
  deterministic partition-offset assignment as term_dict — never a global
  sort window).

These compose with Structured Streaming via foreachBatch: each micro-batch
is `new_docs`, the index tables are the sink state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import ngram_lm, search


def upsert_postings(
    postings: DataFrame, new_tokens: DataFrame
) -> DataFrame:
    """Merged (term, doc_id, tf): delta docs replace their old postings
    (anti-join on doc_id), everything else unions through untouched."""
    delta = search.build_postings(new_tokens)
    touched = new_tokens.select("doc_id").distinct()
    kept = postings.join(touched, "doc_id", "leftanti").select(
        "term", "doc_id", "tf"
    )
    return kept.unionByName(delta)


def upsert_doc_stats(stats: DataFrame, new_tokens: DataFrame) -> DataFrame:
    """Merged (doc_id, dl) with delta docs replacing their old lengths."""
    delta = search.doc_stats(new_tokens)
    kept = stats.join(delta.select("doc_id"), "doc_id", "leftanti").select(
        "doc_id", "dl"
    )
    return kept.unionByName(delta)


def extend_term_dict(term_dict: DataFrame, new_tokens: DataFrame) -> DataFrame:
    """term_dict ∪ {new terms}: existing ids are untouched (queries and
    stored postings referencing them stay valid); unseen terms get
    consecutive ids starting at max_id+1, in first-seen order within the
    new batch — search.assign_term_ids, shifted by the current max (one
    1-row agg)."""
    base_max = term_dict.agg(F.max("term_id").alias("m")).collect()[0]["m"]
    base_max = -1 if base_max is None else base_max
    fresh = (
        new_tokens.select("doc_id", F.posexplode("tokens").alias("pos", "term"))
        .join(term_dict.select("term"), "term", "leftanti")
        .groupBy("term")
        .agg(F.min(F.struct("doc_id", "pos")).alias("first"))
    )
    new_ids = search.assign_term_ids(fresh, base_max + 1)
    return term_dict.unionByName(new_ids)


def merge_ngram_counts(
    counts: DataFrame, new_tokens: DataFrame,
    old_tokens: DataFrame | None = None, max_n: int = 4,
) -> DataFrame:
    """counts ⊎ delta counts: additive merge by (n, gram) — one hash agg,
    map-side combined; the LM sees the union corpus.

    old_tokens: the PREVIOUS token arrays of re-ingested docs (the doc
    store still has them at merge time) — their grams are subtracted so a
    changed doc doesn't double-count. Zero-count grams drop out.

    NOTE: with an OOV threshold the full-rebuild table can differ (a term
    crossing the threshold only in the union), so incremental LM
    maintenance uses oov_threshold=None (document-frequency thresholds are
    a rebuild-time decision, not a merge-time one)."""
    delta = ngram_lm.ngram_counts(new_tokens, max_n=max_n, oov_threshold=None)
    merged = counts.unionByName(delta)
    if old_tokens is not None:
        undo = ngram_lm.ngram_counts(
            old_tokens, max_n=max_n, oov_threshold=None
        ).withColumn("count", -F.col("count"))
        merged = merged.unionByName(undo)
    return (
        merged.groupBy("n", "gram")
        .agg(F.sum("count").alias("count"))
        .filter(F.col("count") > 0)
    )


def incremental_index(
    index: dict[str, DataFrame], new_docs: DataFrame,
    old_docs: DataFrame | None = None,
    doc_id: str = "doc_id", text: str = "text", max_n: int = 4,
    stem_roots: "frozenset | None" = None,
) -> dict[str, DataFrame]:
    """Merge a new/changed document batch into
    {postings, doc_stats, term_dict, ngram_counts}. Returns the updated
    frames (callers commit them through streaming/commit.commit, which
    writes a new version per commit, so the tables they were read from
    can be committed over safely).

    old_docs: the previous versions of re-ingested docs (semi-join the doc
    store with the batch's ids) — required for exact ngram_counts
    maintenance; postings/doc_stats upsert by doc_id and don't need it."""
    toks = search.doc_tokens(
        new_docs, doc_id, text, stem_roots=stem_roots
    ).persist()
    out = {
        "postings": upsert_postings(index["postings"], toks),
        "doc_stats": upsert_doc_stats(index["doc_stats"], toks),
        "term_dict": extend_term_dict(index["term_dict"], toks),
    }
    if "ngram_counts" in index:
        old_toks = (
            search.doc_tokens(old_docs, doc_id, text, stem_roots=stem_roots)
            if old_docs is not None
            else None
        )
        out["ngram_counts"] = merge_ngram_counts(
            index["ngram_counts"], toks, old_toks, max_n=max_n
        )
    return out
