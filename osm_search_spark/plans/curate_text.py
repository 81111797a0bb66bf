"""End-to-end TEXT-corpus curation — the composed pretraining-data DAG
(the text twin of jobs/curate_images.py):

  c4_clean -> Gopher quality battery + repetition filter + trained
  classifier -> exact dedup -> MinHash/LSH near-dup connected components
  (canonical survivor) -> exact-substring span dedup (Lee et al. 2022)
  -> benchmark n-gram decontamination -> deterministic split ->
  weighted source mixing -> sequence packing -> sharded write.

Every step is an already-oracle-gated operator; this module composes
them into ONE pure DataFrame function (`curate_text`) so the composed
output itself can be oracle-gated end-to-end, and `jobs/curate_text.py`
wraps the same stage functions in lineage-committed checkpoints.

Stage boundaries that feed multiple consumers are localCheckpoint'ed
(the round-4 lineage rule: a lazy frame consumed by N subtrees re-runs
its whole subtree N times). Each operator keeps its own 100 TB
discipline (hash-grouped dedup, banded LSH — never all-pairs; scan-side
Bloom prune in decontamination; range-partitioned prefix sums in
packing), so the composition inherits it: the only frames ever collected
are bounded (partition token totals, one row per range partition).

No reference analog: the reference's end-to-end program is the indexing
chain (cmd/indexing/main.go:46-107), whose Spark analog is
plans/build_pipeline.build_places; this is the same treatment for the
LLM-data side. Pipeline position follows C4 (Raffel et al. 2020),
Gopher (Rae et al. 2021), FineWeb-Edu (Penedo et al. 2024),
Lee et al. 2022, and the Pile/LLaMA mixing recipes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SPAN_N = 13
DEFAULT_DECON_N = 13
# char-shingle length for the near-dup MinHash: MUST span past shared
# stopwords into content words, or same-genre documents all collide in
# the LSH bands (measured on the planted fixture: k=5 makes the candidate
# graph a hairball of ~1700 pairs; k=9 yields exactly the planted pairs)
DEFAULT_SHINGLE_K = 9
DEFAULT_PACK_BUDGET = 512
DEFAULT_MIX_WEIGHTS = {"src0": 1.5, "src1": 1.0, "src2": 0.5}
SHARD_CHUNKS = 32  # training chunks per output shard
# mix copies are folded into a unique packing id as doc_id*STRIDE+copy_idx;
# weights must keep max copies (floor(w)+1) below the stride
MIX_ID_STRIDE = 4


def clean_stage(docs: DataFrame) -> DataFrame:
    """C4 line-level cleaning; survivors carry the CLEANED text."""
    from ..functions.text import c4_clean

    c = c4_clean(F.col("text"))
    return (
        docs.select(
            "doc_id", "source", "lang",
            c["cleaned_text"].alias("text"),
            c["keep_page"].alias("_keep"),
        )
        .filter(F.col("_keep"))
        .drop("_keep")
    )


def quality_stage(clean: DataFrame) -> DataFrame:
    """Gopher battery AND repetition filter AND trained-classifier margin
    > 0; survivors gain the `margin` column. Docs too short to have any
    repetition n-row pass that check vacuously (left join + coalesce)."""
    from ..functions.text import gopher_keep, gopher_quality_features
    from ..operators.curation import (
        gopher_repetition_features,
        gopher_repetition_keep,
    )
    from ..operators.quality_clf import score_quality

    # round-9: the gopher-keep + margin columns are pure per-row
    # expressions over `clean` — computed IN PLACE instead of the former
    # self-join of a (doc_id, _kq, margin) projection back onto clean
    # (same 1:1 rows, one shuffle join fewer; guide §2.4). Only the
    # repetition keep still joins: its kernel emits one row per (doc, n)
    # and short docs legitimately have no row.
    feats = gopher_quality_features(F.col("text"))
    rep = gopher_repetition_keep(gopher_repetition_features(clean))
    return (
        clean.withColumn("_kq", gopher_keep(feats))
        .withColumn("margin", F.round(score_quality(F.col("text")), 6))
        .join(rep, "doc_id", "left")
        .filter(
            F.col("_kq")
            & F.coalesce(F.col("keep_repetition"), F.lit(True))
            & (F.col("margin") > 0)
        )
        .select(*clean.columns, "margin")
    )


def dedup_stage(
    quality: DataFrame, shingle_k: int = DEFAULT_SHINGLE_K
) -> DataFrame:
    """Exact dedup (min doc_id per content hash) then MinHash/LSH
    candidate pairs -> connected components; only the canonical (min-id)
    member of each near-dup cluster survives."""
    from ..operators import dedup

    keep = dedup.exact_dedup_groups(quality).select(
        F.col("keep_doc").alias("doc_id")
    )
    # exact survivors feed three subtrees (signatures, the CC anti-join's
    # left side, and the final carry): pin once
    ex = quality.join(keep, "doc_id", "leftsemi").localCheckpoint(eager=True)
    sigs = dedup.minhash_signatures(ex, shingle_k=shingle_k)
    pairs = dedup.lsh_candidate_pairs(sigs)
    noncanon = (
        dedup.connected_components(pairs)
        .filter(F.col("node") != F.col("component_id"))
        .select(F.col("node").alias("doc_id"))
    )
    return ex.join(noncanon, "doc_id", "left_anti")


def spans_stage(docs: DataFrame, n: int = DEFAULT_SPAN_N) -> DataFrame:
    """Exact-substring span dedup: every duplicated token n-gram keeps
    only its first occurrence; survivors carry the rebuilt (normalized:
    lowercase, single-space) text."""
    from ..operators.dedup import dedup_spans

    rebuilt = dedup_spans(docs, n=n).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    return docs.drop("text").join(rebuilt, "doc_id")


def decontaminate_stage(
    docs: DataFrame, bench: DataFrame, n: int = DEFAULT_DECON_N
) -> DataFrame:
    """Drop every doc sharing any token n-gram with a benchmark doc."""
    from ..operators.decontaminate import decontaminate_flags

    bad = (
        decontaminate_flags(docs, bench, n=n)
        .filter(F.col("contaminated"))
        .select("doc_id")
    )
    return docs.join(bad, "doc_id", "left_anti")


def split_stage(docs: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment (salted-md5 buckets)."""
    from ..operators.curation import assign_split

    return assign_split(docs)


def mix_pack_stage(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    default_weight: float = 1.0,
    budget: int = DEFAULT_PACK_BUDGET,
) -> DataFrame:
    """Weighted source mixing (copies) then sequence packing over the
    mixed stream in (doc_id, copy_idx) order; output adds the shard id
    (SHARD_CHUNKS training chunks per shard — the partition key of the
    sharded write)."""
    from ..operators.curation import mix_sources, pack_sequences

    weights = DEFAULT_MIX_WEIGHTS if weights is None else weights
    top = max([default_weight, *weights.values()])
    if int(top) + 1 >= MIX_ID_STRIDE:
        raise ValueError(
            f"mix weight {top} can emit >= {MIX_ID_STRIDE} copies; raise"
            " MIX_ID_STRIDE"
        )
    mixed = mix_sources(docs, weights, default_weight=default_weight)
    mixed = mixed.withColumn(
        "mix_id", F.col("doc_id") * MIX_ID_STRIDE + F.col("copy_idx")
    ).localCheckpoint(eager=True)  # feeds the pack AND the final join
    packed = pack_sequences(mixed, budget, doc_id="mix_id").withColumnRenamed(
        "doc_id", "mix_id"
    )
    return mixed.join(packed, "mix_id").select(
        "doc_id", "copy_idx", "source", "lang", "split", "margin",
        "n_tokens", "tok_offset", "chunk_first", "chunk_last",
        F.floor(F.col("chunk_first") / SHARD_CHUNKS).cast("long").alias("shard"),
    )


def curate_text(
    docs: DataFrame,
    bench: DataFrame,
    span_n: int = DEFAULT_SPAN_N,
    decon_n: int = DEFAULT_DECON_N,
    shingle_k: int = DEFAULT_SHINGLE_K,
    weights: dict[str, float] | None = None,
    default_weight: float = 1.0,
    budget: int = DEFAULT_PACK_BUDGET,
) -> DataFrame:
    """The full composition as one pure DataFrame function (the oracle
    gate surface). docs: (doc_id, source, lang, text); bench:
    (bench_id, text). Returns one row per (surviving doc, mix copy):
    (doc_id, copy_idx, source, lang, split, margin, n_tokens,
    tok_offset, chunk_first, chunk_last, shard)."""
    clean = clean_stage(docs).localCheckpoint(eager=True)
    q = quality_stage(clean).localCheckpoint(eager=True)
    d = dedup_stage(q, shingle_k=shingle_k)
    sp = spans_stage(d, n=span_n).localCheckpoint(eager=True)
    ds = decontaminate_stage(sp, bench, n=decon_n)
    return mix_pack_stage(
        split_stage(ds), weights, default_weight, budget
    )
