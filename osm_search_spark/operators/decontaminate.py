"""Benchmark decontamination — flag training documents that share long
token n-grams with an evaluation/benchmark set (the published
13-gram-collision protocol used for GPT-3/PaLM-style corpus builds), plus
a winnowing-fingerprint variant for partial-overlap sweeps.

The shape at 100 TB: the benchmark side is a BOUNDED dim (evaluation
suites are 10^4-10^6 documents → 10^5-10^8 distinct grams), the corpus
side is the 100 TB stream. So the plan is:

1. gram both sides (tokenize → n-grams → distinct per doc → 60-bit
   md5-prefix hash, so the shuffle/broadcast carries 8-byte keys instead
   of 13-token strings);
2. cap boilerplate grams on the BENCHMARK side (a license header shared
   by every benchmark doc matches half the web and carries no
   contamination signal; the cap resolves as one bounded literal job with
   a broadcast anti-join fallback — the dedup.ngram_jaccard_pairs
   pattern);
3. prune the corpus gram stream BEFORE the join: a Bloom filter over the
   benchmark's gram hashes (functions/bloom.py — sized from the gram
   count; past the literal plan-size ceiling the word array is broadcast
   into mapInPandas, so m can be 2^24+ for 10^7-gram benchmarks) drops
   ~all non-colliding corpus grams scan-side with no shuffle and no
   false negatives; the surviving
   trickle then equi-joins (broadcastable benchmark side) — false
   positives die in the join, so pruning never changes the answer;
4. one groupBy (doc_id, bench_id) count = distinct shared grams.

The corpus side is touched once, map-side, and only collision survivors
shuffle. Nothing here is quadratic in the corpus.

Verification: the DuckDB gate twin derives the collision table completely
independently (same tokenizer/ngram/hash text); the planted-contamination
pytest checks a copied 13-token run is flagged and clean docs are not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import bloom
from ..functions.text import ngrams, tokenize_simple

# Benchmark-side boilerplate cap: grams present in more than this many
# benchmark docs are dropped (both sides of the gate mirror it). Collision
# counting is per (doc, bench) pair, so a gram kept at frequency f fans a
# single corpus gram row out to ≤ f pairs — the cap bounds that fan-out.
DEFAULT_MAX_GRAM_BENCH_DOCS = 1000
_HEAVY_GRAM_LITERALS = 1000

DEFAULT_N = 13  # the published n-gram-collision protocol length

# bloom_words materializes m/30 driver-side longs; the filter size derived
# from the gram count is capped here (2^28 bits ≈ 9M words, ~70 MB on the
# driver). A larger gram set only raises the FP rate — FPs die in the join.
MAX_BLOOM_M = 1 << 28


def _gram_hash(c):
    """Engine-portable 60-bit gram hash (md5-prefix — the winnowing /
    simhash_portable recipe), so the DuckDB twin recomputes it exactly."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def _gram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int, out_id: str
) -> DataFrame:
    """(out_id, gh): the distinct n-gram hashes of each document."""
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(
            F.array_distinct(ngrams(tokenize_simple(F.col(text_col)), n))
        ).alias("_g"),
    ).select(out_id, _gram_hash(F.col("_g")).alias("gh"))


def _drop_heavy(grams: DataFrame, per_doc: DataFrame, cap: int) -> DataFrame:
    """Drop grams whose BENCHMARK-doc frequency exceeds cap from `grams`.
    The over-cap list is tiny by construction: one bounded literal job,
    broadcast anti-join past the literal budget (dedup.py pattern)."""
    bad = (
        per_doc.groupBy("gh").count().filter(F.col("count") > cap).select("gh")
    )
    heavy = [r["gh"] for r in bad.limit(_HEAVY_GRAM_LITERALS + 1).collect()]
    if len(heavy) > _HEAVY_GRAM_LITERALS:
        return grams.join(F.broadcast(bad), "gh", "left_anti")
    if heavy:
        return grams.filter(~F.col("gh").isin(heavy))
    return grams


class PreparedBenchmark:
    """The benchmark side of `decontaminate`, built ONCE and reused —
    the streaming path's fixed-cost killer: per micro-batch the gram
    pass, boilerplate cap, Bloom build, and the driver-side word collect
    are all pure recomputation of a STATIC dim, so a stream prepares the
    benchmark up front (`prepare_benchmark`) and every batch pays only
    the corpus-side scan + prune + join."""

    __slots__ = ("bgrams", "n", "bloom_words", "bloom_m")

    def __init__(self, bgrams, n, bloom_words, bloom_m):
        self.bgrams = bgrams
        self.n = n
        self.bloom_words = bloom_words
        self.bloom_m = bloom_m


def prepare_benchmark(
    benchmark: DataFrame,
    n: int = DEFAULT_N,
    bench_id: str = "bench_id",
    bench_text: str = "text",
    max_gram_bench_docs: int | None = DEFAULT_MAX_GRAM_BENCH_DOCS,
) -> PreparedBenchmark:
    """Gram-hash + cap + Bloom-build the benchmark dim once;
    the result is reusable across any number of `decontaminate` /
    `decontaminate_flags` calls with the same n (micro-batches, corpus
    shards). The post-cap gram frame is localCheckpointed so reuse never
    recomputes the benchmark subtree."""
    bgrams = _gram_hashes(benchmark, bench_id, bench_text, n, "bench_id")
    if max_gram_bench_docs is not None:
        bgrams = _drop_heavy(bgrams, bgrams, max_gram_bench_docs)
    # consumed by up to three subtrees (bloom build, join, cap count) and
    # by every reuse — pin the post-cap frame once
    bgrams = bgrams.localCheckpoint(eager=True)
    # ~20 bits/gram (FP ≈ 1-2% at k=4), floor 2^13, cap MAX_BLOOM_M
    n_grams = bgrams.count()  # bounded dim: one tiny job
    bloom_m = min(
        MAX_BLOOM_M,
        max(1 << 13, 1 << max(0, (20 * max(n_grams, 1) - 1)).bit_length()),
    )
    words = bloom.bloom_words(
        bloom.bloom_build(bgrams, "gh", m_bits=bloom_m), bloom_m
    )
    return PreparedBenchmark(bgrams, n, words, bloom_m)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame | PreparedBenchmark,
    n: int = DEFAULT_N,
    doc_id: str = "doc_id",
    text: str = "text",
    bench_id: str = "bench_id",
    bench_text: str = "text",
    max_gram_bench_docs: int | None = DEFAULT_MAX_GRAM_BENCH_DOCS,
) -> DataFrame:
    """(doc_id, bench_id, n_collisions): for every corpus doc sharing at
    least one token n-gram with a benchmark doc, the number of DISTINCT
    shared n-grams. Any row here = contamination under the published
    n-gram-collision protocol; downstream either drops the doc or excises
    the overlapping span.

    benchmark: the raw benchmark frame, or a `PreparedBenchmark` (from
    `prepare_benchmark`) to amortize the benchmark-side work across many
    calls — then bench_id/bench_text/max_gram_bench_docs are already
    baked in and ignored here; n must match the preparation.

    The corpus gram stream is pre-filtered against a Bloom filter of the
    benchmark's grams (scan-side, no shuffle, exact — FPs die in the
    join). The filter is sized from the gram count (~20 bits/gram, FP ≈
    1-2% at k=4, floor 2^13, cap MAX_BLOOM_M); bloom.bloom_prune picks
    the literal or the broadcast kernel from its word count.

    max_gram_bench_docs: benchmark-side boilerplate cap (see module doc);
    None disables (textbook protocol)."""
    if isinstance(benchmark, PreparedBenchmark):
        prep = benchmark
        if n != prep.n:
            raise ValueError(
                f"n={n} differs from the PreparedBenchmark's n={prep.n}"
            )
    else:
        prep = prepare_benchmark(
            benchmark, n, bench_id, bench_text, max_gram_bench_docs,
        )
    dgrams = bloom.bloom_prune(
        _gram_hashes(docs, doc_id, text, n, "doc_id"),
        prep.bloom_words, "gh", m_bits=prep.bloom_m,
    )
    return (
        dgrams.join(prep.bgrams, "gh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_collisions"))
    )


def decontaminate_flags(
    docs: DataFrame,
    benchmark: DataFrame | PreparedBenchmark,
    n: int = DEFAULT_N,
    doc_id: str = "doc_id",
    text: str = "text",
    bench_id: str = "bench_id",
    bench_text: str = "text",
    **kw,
) -> DataFrame:
    """Doc-level verdicts: every corpus doc with (contaminated boolean,
    n_bench_matches = benchmark docs it collides with) — the frame a
    corpus build filters on (`filter(~contaminated)`)."""
    pairs = decontaminate(
        docs, benchmark, n, doc_id, text, bench_id, bench_text, **kw
    )
    hits = pairs.groupBy("doc_id").agg(
        F.count("*").alias("n_bench_matches")
    )
    return (
        docs.select(F.col(doc_id).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_bench_matches").isNotNull().alias("contaminated"),
            F.coalesce("n_bench_matches", F.lit(0)).alias("n_bench_matches"),
        )
    )


def decontaminate_excise(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = DEFAULT_N,
    doc_id: str = "doc_id",
    text: str = "text",
    bench_id: str = "bench_id",
    bench_text: str = "text",
    max_gram_bench_docs: int | None = DEFAULT_MAX_GRAM_BENCH_DOCS,
) -> DataFrame:
    """(doc_id, text_clean, n_tokens_removed): EXCISE the contaminated
    spans instead of dropping whole docs (the span-removal alternative
    real corpus builds use when a doc is mostly clean): every token
    covered by ANY n-gram shared with the benchmark is removed; the rest
    of the document survives in order.

    text_clean is the NORMALIZED reconstruction (lowercased, single
    spaces — the same tokenizer the collision join uses); clean docs get
    the normalized identity with n_tokens_removed = 0.

    Scale shape: the positional gram pass (posexplode — positions can't
    dedupe) runs ONLY on docs the collision join flagged (a left-semi
    join restricts it first), so the full corpus pays exactly the
    `decontaminate` cost plus a tiny flagged-docs pass."""
    bgrams = _gram_hashes(benchmark, bench_id, bench_text, n, "bench_id")
    if max_gram_bench_docs is not None:
        bgrams = _drop_heavy(bgrams, bgrams, max_gram_bench_docs)
    bset = bgrams.select("gh").distinct()
    flagged = (
        decontaminate(
            docs, benchmark, n, doc_id, text, bench_id, bench_text,
            max_gram_bench_docs=max_gram_bench_docs,
        )
        .select("doc_id")
        .distinct()
    )
    toks = tokenize_simple(F.col(text))
    base = docs.select(F.col(doc_id).alias("doc_id"), toks.alias("_t"))
    dirty = base.join(flagged, "doc_id", "leftsemi")
    # positional grams of flagged docs only; token span [i+1, i+n]
    pos = dirty.select(
        "doc_id", F.posexplode(ngrams("_t", n)).alias("_i0", "_g")
    ).select("doc_id", (F.col("_i0") + 1).alias("_i"), _gram_hash(F.col("_g")).alias("gh"))
    covered = (
        pos.join(F.broadcast(bset), "gh")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("_i"), F.col("_i") + (n - 1))).alias("_j"),
        )
        .distinct()
    )
    tok_rows = dirty.select(
        "doc_id", F.posexplode("_t").alias("_j0", "_tok")
    ).select("doc_id", (F.col("_j0") + 1).alias("_j"), "_tok")
    rebuilt = (
        tok_rows.join(covered, ["doc_id", "_j"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_j", "_tok"))),
                    lambda s: s["_tok"],
                ),
            ).alias("text_clean")
        )
    )
    removed = covered.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens_removed")
    )
    dirty_out = (
        dirty.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .join(removed, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_tokens_removed", F.lit(0)).alias("n_tokens_removed"),
        )
    )
    clean_out = (
        base.join(flagged, "doc_id", "left_anti")
        .select(
            "doc_id",
            F.concat_ws(" ", "_t").alias("text_clean"),
            F.lit(0).cast("long").alias("n_tokens_removed"),
        )
    )
    return dirty_out.unionByName(clean_out)


def decontaminate_winnow(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    w: int = 4,
    doc_id: str = "doc_id",
    text: str = "text",
    bench_id: str = "bench_id",
    bench_text: str = "text",
) -> DataFrame:
    """(doc_id, bench_id, n_shared_fps) via winnowing fingerprints
    (dedup.winnow_fingerprints): any shared token run of ≥ w + k - 1
    tokens GUARANTEES a shared fingerprint, at ~1/w the gram volume of
    the exact protocol — the cheap first sweep for very long documents
    where materializing every 13-gram is the dominant cost. Sketch-level
    collisions can also arise from shorter shared runs, so treat a hit as
    a candidate and confirm with `decontaminate` on the flagged pairs."""
    from .dedup import winnow_fingerprints

    dfp = winnow_fingerprints(docs, k=k, w=w, text_col=text, id_col=doc_id)
    bfp = winnow_fingerprints(
        benchmark, k=k, w=w, text_col=bench_text, id_col=bench_id
    )
    return (
        dfp.select(F.col(doc_id).alias("doc_id"), "fp")
        .join(bfp.select(F.col(bench_id).alias("bench_id"), "fp"), "fp")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared_fps"))
    )


def decontaminate_sql(
    docs_rel: str,
    bench_rel: str,
    n: int = DEFAULT_N,
    max_gram_bench_docs: int | None = DEFAULT_MAX_GRAM_BENCH_DOCS,
) -> str:
    """DuckDB twin of `decontaminate` (the Bloom prune is answer-invariant,
    so the twin goes straight to the join; the boilerplate cap IS mirrored).
    Relations need (doc_id, text) / (bench_id, text)."""
    from ..functions.text import tokenize_simple_sql

    cap = (
        f"""
bcap as (
  select gh from bg group by gh having count(*) <= {max_gram_bench_docs}
),
bgc as (select bg.bench_id, bg.gh from bg join bcap using (gh))"""
        if max_gram_bench_docs is not None
        else "bgc as (select * from bg)"
    )
    return f"""
with dt as (select doc_id, {tokenize_simple_sql('text')} as tk from {docs_rel}),
bt as (select bench_id, {tokenize_simple_sql('text')} as tk from {bench_rel}),
dg as (
  select distinct doc_id,
    ('0x' || substr(md5(gram), 1, 15))::bigint as gh
  from (
    select doc_id,
      unnest([array_to_string(tk[i:i+{n - 1}], ' ')
              for i in generate_series(1, len(tk) - {n} + 1)]) as gram
    from dt)
),
bg as (
  select distinct bench_id,
    ('0x' || substr(md5(gram), 1, 15))::bigint as gh
  from (
    select bench_id,
      unnest([array_to_string(tk[i:i+{n - 1}], ' ')
              for i in generate_series(1, len(tk) - {n} + 1)]) as gram
    from bt)
),
{cap}
select dg.doc_id, bgc.bench_id, count(*) as n_collisions
from dg join bgc using (gh)
group by 1, 2
"""


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    bench_id: str = "vec_id",
    bench_vec: str = "embedding",
    n_planes: int | None = 8,
    seed: int = 42,
) -> DataFrame:
    """EMBEDDING-space decontamination — the semantic complement of the
    13-gram collision join above: a corpus document is contaminated when
    its embedding is near-identical (cosine >= threshold) to ANY
    benchmark document's, catching paraphrased/reformatted benchmark
    leakage that exact n-grams miss (the published complement: n-gram +
    embedding dedup against eval sets).

    Output covers the WHOLE corpus: (vec_id, contaminated, bench_match,
    max_cos) — bench_match/max_cos null for clean rows. Candidates are
    LSH-bucket-restricted by default against the BROADCAST benchmark dim
    (benchmarks are small; the corpus is the 100 TB side — no corpus
    self-join, no cross join); n_planes=None is the exact path for
    oracle checking and small dims. Argmax tie-break: highest cosine,
    then highest bench id (mirrored in the twin)."""
    from .similarity import cosine, hyperplanes, lsh_signature

    c = corpus.select(
        F.col(corpus_id).alias("vec_id"), F.col(corpus_vec).alias("cv")
    )
    b = benchmark.select(
        F.col(bench_id).alias("bench_id"), F.col(bench_vec).alias("bv")
    )
    if n_planes:
        dim = len(benchmark.select(bench_vec).first()[0])
        planes = hyperplanes(dim, n_planes, seed)
        cand = c.withColumn("sig", lsh_signature(F.col("cv"), planes)).join(
            F.broadcast(b.withColumn("sig", lsh_signature(F.col("bv"), planes))),
            "sig",
        )
    else:
        cand = c.crossJoin(F.broadcast(b))
    hits = cand.withColumn("cos", cosine(F.col("cv"), F.col("bv"))).filter(
        F.col("cos") >= threshold
    )
    best = hits.groupBy("vec_id").agg(
        F.max(
            F.struct(F.col("cos").alias("cos"), F.col("bench_id").alias("b"))
        ).alias("m")
    )
    return (
        corpus.select(F.col(corpus_id).alias("vec_id"))
        .join(best, "vec_id", "left")
        .select(
            "vec_id",
            F.col("m").isNotNull().alias("contaminated"),
            F.col("m.b").alias("bench_match"),
            F.round("m.cos", 5).alias("max_cos"),
        )
    )
