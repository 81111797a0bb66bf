"""Merge-based byte-pair encoding: train, apply, count — the real token
budgeter for an LLM-data pipeline (regex pieces only approximate what a
trained tokenizer charges; corpora are budgeted in actual BPE tokens).

Everything derives from the published BPE algorithm (Sennrich et al. 2016;
the GPT-2 tokenizer applies the same learned merges after a regex
pre-split). No external merge tables: `bpe_train` learns merges FROM the
corpus, and the oracle gate uses `REFERENCE_MERGES` learned from a pinned
word-count list in this file.

Semantics (identical across both kernels and the DuckDB twin):
  - pre-split: functions.text.bpe_pieces (the RE2/Java-compatible GPT-2
    style piece regex); BPE never merges across piece boundaries.
  - a piece is its codepoint sequence joined by SEP (0x1f, which the
    piece regex can never emit — it only matches non-space runs);
  - merges apply IN LEARNED ORDER, each replacing every non-overlapping
    occurrence left-to-right (str.replace / F.replace / DuckDB replace all
    share that contract) — the classic apply loop;
  - token count of a piece = SEP count when a trailing SEP is kept.

Scale shape: training aggregates (piece, count) once over the corpus
(map-side combined; the driver sees only the bounded word dim — Heaps'
law keeps vocabularies tiny relative to corpora) and learns merges
driver-side on that dim. Application is per UNIQUE piece (the stemmer
pattern): the merge chain runs over the distinct-piece dim, then joins
back to per-doc piece counts — corpus-sized work is one explode + two
hash aggs, vocabulary-sized work is the only part that touches BPE.
Up to _COLUMN_MERGE_LIMIT merges the chain unrolls as nested F.replace
(whole-stage codegen); past it the merge list is broadcast into
mapInPandas over the piece dim (constant plan size — the path for real
50k-merge vocabularies). The limit is read at call time (tests
monkeypatch it).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import bpe_pieces, bpe_pieces_sql

SEP = "\x1f"
_COLUMN_MERGE_LIMIT = 64


# --- trainer ------------------------------------------------------------------

def _merge_word(s: str, a: str, b: str) -> str:
    return s.replace(a + SEP + b, a + b)


def learn_bpe(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE training over a (word, count) dim: repeatedly merge the
    most frequent adjacent symbol pair (ties -> lexicographically smallest
    pair, fully deterministic). Pure driver-side; the dim is bounded."""
    vocab = {SEP.join(w): c for w, c in word_counts if w}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for s, c in vocab.items():
            syms = s.split(SEP)
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        best = min(pairs, key=lambda p: (-pairs[p], p))
        merges.append(best)
        vocab = {
            _merge_word(s, best[0], best[1]): c for s, c in vocab.items()
        }
    return merges


def bpe_train(
    docs: DataFrame,
    n_merges: int = 200,
    text: str = "text",
    max_words: int = 50_000,
) -> list[tuple[str, str]]:
    """Learn merges from the corpus: ONE distributed (piece, count)
    aggregation (map-side combined), a deterministic top-`max_words` dim
    collected to the driver (count desc, piece asc — stable under corpus
    growth of the tail), then `learn_bpe` on the dim."""
    wc = (
        docs.select(F.explode(bpe_pieces(text)).alias("piece"))
        .groupBy("piece")
        .count()
        .orderBy(F.desc("count"), "piece")
        .limit(max_words)
        .collect()
    )
    return learn_bpe([(r["piece"], r["count"]) for r in wc], n_merges)


# --- applier ------------------------------------------------------------------

def encode_piece(piece: str, merges: list[tuple[str, str]]) -> list[str]:
    """Scalar apply (used by the mapInPandas kernel and as an independent
    check in tests): split to codepoints, fold the merges in order."""
    s = SEP.join(piece)
    for a, b in merges:
        s = _merge_word(s, a, b)
    return s.split(SEP) if s else []


def _sep_join_col(piece):
    # trailing SEP kept: token count == number of SEPs after merging
    return F.regexp_replace(piece, "(.)", "$1" + SEP)


def _token_count_column(piece, merges: list[tuple[str, str]]):
    s = _sep_join_col(piece)
    for a, b in merges:
        s = F.replace(s, F.lit(a + SEP + b), F.lit(a + b))
    return (F.length(s) - F.length(F.replace(s, F.lit(SEP), F.lit("")))).cast(
        "long"
    )


def _piece_dim_counts(
    dim: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """(piece, n_tokens) over the distinct-piece dim."""
    if len(merges) <= _COLUMN_MERGE_LIMIT:
        return dim.withColumn(
            "n_tokens", _token_count_column(F.col("piece"), merges)
        )

    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    spark = dim.sparkSession
    bc = spark.sparkContext.broadcast(list(merges))
    schema = StructType(
        list(dim.schema.fields) + [StructField("n_tokens", LongType())]
    )

    def run(batches):
        ms = bc.value
        for pdf in batches:
            pdf = pdf.copy()
            pdf["n_tokens"] = [
                len(encode_piece(p, ms)) for p in pdf["piece"]
            ]
            yield pdf

    return dim.mapInPandas(run, schema=schema)


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    doc_id: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens): the document's actual BPE token count under the
    learned merges. Docs whose text yields zero pieces are absent (the
    DuckDB twin mirrors that)."""
    per_doc = (
        docs.select(
            F.col(doc_id).alias("doc_id"),
            F.explode(bpe_pieces(text)).alias("piece"),
        )
        .groupBy("doc_id", "piece")
        .agg(F.count("*").alias("cnt"))
    )
    dim = _piece_dim_counts(per_doc.select("piece").distinct(), merges)
    return (
        per_doc.join(dim, "piece")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("n_tokens")).alias("n_tokens"))
    )


# --- DuckDB twin --------------------------------------------------------------

def token_count_sql(
    text_expr: str, merges: list[tuple[str, str]]
) -> str:
    """DuckDB expression: BPE token count of every piece of `text_expr`,
    as a list aligned with the piece list. Built as the SAME fold —
    per-codepoint SEP join, nested replace in merge order, count SEPs."""
    s = f"regexp_replace(p, '(.)', '\\1{SEP}', 'g')"
    for a, b in merges:
        qa, qb = (a + SEP + b).replace("'", "''"), (a + b).replace("'", "''")
        s = f"replace({s}, '{qa}', '{qb}')"
    return (
        f"[length({s}) - length(replace({s}, '{SEP}', '')) "
        f"for p in {bpe_pieces_sql(text_expr)}]"
    )


# --- pinned reference merges for the oracle gate ------------------------------

# A deterministic word-count dim (NOT corpus-derived, so the oracle SQL is
# a fixed string): English-ish subword structure exercising multi-level
# merges. The GATE verifies the two APPLY implementations (Spark
# per-unique-piece join + codegen replace chain vs DuckDB inline replace
# chain) against each other over the real documents table; the TRAINER is
# verified separately by hand-derived fixtures in tests.
REFERENCE_WORD_COUNTS: list[tuple[str, int]] = [
    ("the", 120), ("then", 30), ("there", 25), ("these", 20),
    ("ing", 90), ("running", 40), ("ringing", 15), ("sing", 25),
    ("low", 50), ("lower", 20), ("lowest", 15), ("slow", 18),
    ("new", 45), ("newest", 30), ("news", 22),
    ("est", 35), ("rest", 28), ("test", 26), ("best", 24),
    ("and", 80), ("band", 12), ("stand", 14), ("hand", 16),
    ("er", 60), ("per", 21), ("here", 19),
    ("on", 70), ("one", 33), ("once", 17), ("only", 29),
    ("at", 65), ("that", 55), ("rate", 13), ("late", 11),
]
N_REFERENCE_MERGES = 48


def reference_merges() -> list[tuple[str, str]]:
    return learn_bpe(REFERENCE_WORD_COUNTS, N_REFERENCE_MERGES)
