"""Deduplication operators for large-scale training-data pipelines.

All hot paths are JVM-side Column expressions (md5/xxhash64/array ops);
no Python UDFs. Each operator returns a DataFrame and has a deterministic
contract so a DuckDB oracle can verify it at small scale.

- exact_dedup: hash-groupBy on normalized content (one shuffle, map-side
  combined).
- minhash_signatures + lsh_candidate_pairs: MinHash over k-char shingles;
  the 4 hash functions are 8-hex slices of ONE md5 digest per shingle
  (portable: identical in any engine with md5), banded LSH bucket join
  for near-dup candidate pairs.
- simhash_portable: 60-bit simhash from an md5 prefix of each token
  (portable: the DuckDB twin `simhash_portable_sql` recomputes it
  bit-for-bit).
- ngram_jaccard_pairs: exact Jaccard over token n-grams for candidate pairs
  (explode + join + ratio; bounded by LSH prefilter at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import char_shingles, ngrams, tokenize_simple



def exact_dedup_groups(
    docs: DataFrame, doc_id: str = "doc_id", text: str = "text"
) -> DataFrame:
    """(text_hash, n_docs, keep_doc) — groups by content hash; keep_doc is
    the deterministic survivor (min id)."""
    return (
        docs.select(F.col(doc_id).alias("doc_id"), F.md5(F.col(text)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text: str = "text",
    shingle_k: int = 5,
    n_hashes: int = 4,
) -> DataFrame:
    """(doc_id, h0..h{n-1}) — MinHash signature.

    hash_i(s) = the i-th 8-hex-digit slice of ONE md5(s) digest, minimum
    taken lexicographically (engine-portable: identical in any engine with
    md5). One digest per shingle instead of one per (shingle, seed) —
    md5 is the dominant cost and the 32-hex digest carries 4 independent
    32-bit slices (standard one-hash MinHash practice); measured ~3x
    faster than the md5(seed||s)-per-seed form at sf0.1."""
    assert n_hashes <= 4  # 32 hex chars / 8
    # Round-9: shingles come from one native regexp_extract_all with an
    # overlapping-window lookahead ('(?s)(?=(.{k}))' captures the k chars
    # at every position where k remain) instead of the char_shingles
    # transform/filter HOF — the interpreted per-element substring array
    # build was the dominant cost of this operator (1.55s of 3.4s at
    # sf0.1; guide §4.1 — prefer native built-ins). Bit-identical shingle
    # arrays on every SF (asserted row-wise in test_dedup); (?s) keeps
    # newline-bearing text identical to substring semantics. Internal to
    # the Spark side only — the DuckDB twin keeps its substr comprehension,
    # so the lookahead never has to be RE2-compatible.
    shingle_re = F.lit(f"(?s)(?=(.{{{shingle_k}}}))")
    exploded = docs.select(
        F.col(doc_id).alias("doc_id"),
        F.explode(F.regexp_extract_all(text, shingle_re, 1)).alias("s"),
    ).select("doc_id", F.md5("s").alias("d"))
    aggs = [
        F.min(F.substring("d", 8 * i + 1, 8)).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def minhash_sql(
    docs_rel: str,
    shingle_k: int = 5,
    n_hashes: int = 4,
) -> str:
    """DuckDB oracle twin of minhash_signatures."""
    sh = (
        f"[md5(substr(text, i, {shingle_k})) "
        f"for i in generate_series(1, len(text) - {shingle_k - 1})]"
    )
    hashes = ",\n  ".join(
        f"list_min([substr(d, {8 * i + 1}, 8) for d in digests]) as h{i}"
        for i in range(n_hashes)
    )
    return (
        f"with sh as (select doc_id, {sh} as digests from {docs_rel})\n"
        f"select cast(doc_id as bigint) as doc_id,\n  {hashes}\nfrom sh"
    )


DEFAULT_LSH_MAX_BUCKET = 1000  # cutoff: the lsh_skew bench (tools/bench_registry.py)
_HEAVY_GRAM_LITERALS = 1000  # heavy-hitter grams kept as a literal filter
# connected_components driver fast path cap (2 ids/edge collected; above
# this the distributed pointer-jumping loop runs unchanged)
DRIVER_CC_MAX_EDGES = 200_000


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: tuple[tuple[str, ...], ...] = (("h0", "h1"), ("h2", "h3")),
    max_bucket_size: int | None = DEFAULT_LSH_MAX_BUCKET,
) -> DataFrame:
    """(doc_a, doc_b) candidate near-dup pairs: docs sharing any full band.
    Self-join per band on the band key; dedup across bands.

    max_bucket_size: skew guard for web corpora — a band bucket of m docs
    emits m^2/2 pairs, and boilerplate-heavy corpora have mega-buckets that
    are near-useless as dedup candidates. Buckets larger than the cap are
    EXCLUDED from the self-join (the standard practice; not a silent
    truncation — an over-cap bucket is by definition an all-pairs near-dup
    group, cheaper handled as a GROUP by exact_dedup/cluster logic than as
    m^2/2 pairs). The cap is ON BY DEFAULT (1000: a single planted 2%
    mega-bucket in a 100k-doc corpus would otherwise emit 2x10^6 junk
    pairs and dominate the join; lsh_skew in tools/bench_registry.py) — pass None to
    keep every bucket on corpora known to be boilerplate-free."""
    pairs = None
    for band in bands:
        keyed = signatures.select(
            "doc_id", F.concat_ws("|", *band).alias("band_key")
        )
        if max_bucket_size is not None:
            ok = (
                keyed.groupBy("band_key")
                .count()
                .filter(F.col("count") <= max_bucket_size)
                .select("band_key")
            )
            keyed = keyed.join(ok, "band_key", "leftsemi")
        p = (
            keyed.alias("a")
            .join(keyed.alias("b"), "band_key")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.distinct()


def simhash_portable(
    docs: DataFrame, doc_id: str = "doc_id", text: str = "text", bits: int = 60
) -> DataFrame:
    """(doc_id, simhash) — engine-portable simhash: the per-token hash is
    the first 15 hex digits of md5 (60 bits, fits signed int64 positive), so
    a DuckDB oracle can recompute it bit-for-bit (`simhash_portable_sql`).
    For each bit b: sign = sum over tokens of (+1 if bit set else -1);
    simhash bit b = 1 iff sign > 0. Tokens explode and hash once, then
    the per-bit sums run as one map-side-combined hash aggregate; the
    bits recombine into one long."""
    assert bits <= 60
    tok = docs.select(
        F.col(doc_id).alias("doc_id"),
        F.explode(tokenize_simple(text)).alias("t"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    votes = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim + F.when(
            F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_portable_sql(docs_rel: str, bits: int = 60) -> str:
    """DuckDB twin of simhash_portable (identical md5-hex-prefix hash)."""
    votes = ",\n    ".join(
        f"sum(case when (h >> {b}) & 1 = 1 then 1 else -1 end) as v{b}"
        for b in range(bits)
    )
    sim = " + ".join(
        f"(case when v{b} > 0 then {1 << b}::bigint else 0::bigint end)"
        for b in range(bits)
    )
    return f"""
with tok as (
  select doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) as t
  from {docs_rel}
),
hashed as (
  select doc_id, cast(concat('0x', substr(md5(t), 1, 15)) as bigint) as h from tok
),
votes as (
  select doc_id,
    {votes}
  from hashed group by doc_id
)
select cast(doc_id as bigint) as doc_id, ({sim}) as simhash from votes
"""


def ngram_jaccard_pairs(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    max_gram_freq: int | None = DEFAULT_LSH_MAX_BUCKET,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) over token n-gram sets — the exact verifier
    behind an LSH prefilter (explode + self-join on the gram, never a full
    cross join).

    candidates (e.g. lsh_candidate_pairs output): the gram frame is
    semi-joined to the candidate doc-id set BEFORE the self-join — both
    join inputs, and the per-doc set sizes, touch only candidate docs, so
    the expensive join is bounded by the prefilter's output, not the
    corpus (the aggregated pairs are then semi-joined to the exact
    candidate PAIRS, since two candidate docs are not necessarily a
    candidate pair).

    max_gram_freq (ON by default, mirroring DEFAULT_LSH_MAX_BUCKET):
    grams present in more than this many (candidate-restricted) docs are
    dropped before sizes and the join. A stopword n-gram shared by f docs
    contributes f^2/2 join rows while carrying no dedup signal — on a web
    corpus one boilerplate trigram is quadratic with no cap. Jaccard is
    then computed over each doc's informative-gram subset; at any sane cap
    this only perturbs pairs that were dominated by boilerplate anyway.
    Pass None for the textbook set-Jaccard on corpora known skew-free."""
    from ..functions.text import ngrams

    grams = docs.select(
        F.col(doc_id).alias("doc_id"),
        F.explode(F.array_distinct(ngrams(tokenize_simple(text), n))).alias("gram"),
    )
    if candidates is not None:
        cand_ids = (
            candidates.select(F.col("doc_a").alias("doc_id"))
            .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        grams = grams.join(cand_ids, "doc_id", "leftsemi")
    if max_gram_freq is not None:
        # heavy-hitter detection, not a full-frame restriction: the
        # OVER-cap gram list is tiny by construction (few grams exceed a
        # sane cap). It is resolved ONCE with a bounded eager job (one
        # map-side-combined count whose shuffle volume is distinct grams,
        # not gram rows) and applied as a literal filter — the gram frame
        # never shuffles for the cap, and the three lazy consumers
        # (sizes + both self-join sides) don't re-run the aggregate the
        # way an inline anti-join subplan would. Above the literal budget
        # (pathological corpus) it falls back to a broadcast anti-join.
        bad = (
            grams.groupBy("gram")
            .count()
            .filter(F.col("count") > max_gram_freq)
            .select("gram")
        )
        heavy = [r["gram"] for r in bad.limit(_HEAVY_GRAM_LITERALS + 1).collect()]
        if len(heavy) > _HEAVY_GRAM_LITERALS:
            grams = grams.join(F.broadcast(bad), "gram", "left_anti")
        elif heavy:
            grams = grams.filter(~F.col("gram").isin(heavy))
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    inter = (
        grams.alias("a")
        .join(grams.alias("b"), "gram")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    if candidates is not None:
        inter = inter.join(
            candidates.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "leftsemi"
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over near-dup candidate pairs:
    (node, component_id) with component_id = the MIN node id in the
    component — the step a real dedup pipeline needs between candidate
    pairs (lsh_candidate_pairs / ngram_jaccard_pairs / phash_near_dup) and
    "keep one canonical doc per duplicate cluster".

    Min-label propagation with POINTER JUMPING: each round every node takes
    the min label among itself and its neighbors, then compresses through
    its label's own label (label ids are node ids, so the lookup is a self
    join). Propagation alone needs diameter rounds; the jump makes label
    distance roughly double per round -> O(log d) rounds (the standard
    Spark CC recipe; large-star/small-star is the same idea edge-side).
    Every round is ONE join + groupBy min + ONE compression join, and the
    labels frame is localCheckpoint(eager=True)'d so lineage stays flat
    across rounds (driver-iterative loops otherwise grow their lineage
    exponentially — see operators/knn.py). Convergence is detected on the
    checkpointed frame (no extra shuffle); raises if max_iter rounds do not
    converge (duplicate clusters have tiny diameters in practice).
    """
    # Round-9 bounded driver fast path: near-dup candidate graphs at gate
    # and bench scale are a few hundred to a few thousand edges, yet every
    # distributed label round costs seconds of driver-synchronized
    # latency (measured 8 rounds x ~1.7s for ~800 planted edges at 20k
    # docs). A bounded take() — ONE evaluation of the pair plan, same as
    # the checkpoint below — collects small graphs and runs an exact
    # union-find on the driver (identical min-id labels). Graphs over the
    # cap (which is bytes-bounded: 2 longs/edge) fall through to the
    # distributed pointer-jumping loop unchanged.
    edge_rows = pairs.select(
        F.col(a).alias("src"), F.col(b).alias("dst")
    ).take(DRIVER_CC_MAX_EDGES + 1)
    if len(edge_rows) <= DRIVER_CC_MAX_EDGES:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for e in edge_rows:
            u, v = e["src"], e["dst"]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by MIN id so the root IS the component label
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        out_rows = [(n, find(n)) for n in parent]
        spark = pairs.sparkSession
        from pyspark.sql.types import StructField, StructType

        node_t = pairs.schema[a].dataType
        schema = StructType(
            [StructField("node", node_t), StructField("component_id", node_t)]
        )
        return spark.createDataFrame(out_rows, schema=schema)

    # checkpoint the edge frame once: the upstream pair plan (an LSH band
    # self-join, typically) must not re-execute every round
    sym = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        prev_labels = labels
        nmin = (
            sym.join(labels, sym["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("comp").alias("nmin"))
        )
        stepped = (
            labels.join(nmin, labels["node"] == nmin["dst"], "left")
            .select(
                labels["node"],
                labels["comp"].alias("prev"),
                F.least(
                    labels["comp"], F.coalesce("nmin", labels["comp"])
                ).alias("comp1"),
            )
        )
        lut = labels.select(
            F.col("node").alias("lnode"), F.col("comp").alias("lcomp")
        )
        labels = (
            stepped.join(lut, stepped["comp1"] == lut["lnode"])
            .select(
                "node",
                "prev",
                F.least("comp1", "lcomp").alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        # the new checkpoint is materialized; free the superseded round's
        # blocks so long runs don't accumulate local-disk checkpoints
        prev_labels.unpersist()
        converged = (
            labels.filter(F.col("comp") != F.col("prev")).limit(1).count() == 0
        )
        labels = labels.select("node", "comp")
        if converged:
            return labels.select(
                "node", F.col("comp").alias("component_id")
            )
    raise ValueError(f"connected_components did not converge in {max_iter} rounds")


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """(node, component_id, is_canonical): canonical = the min-id member of
    each duplicate cluster (the doc a dedup pass keeps; the rest drop)."""
    cc = connected_components(pairs)
    return cc.withColumn("is_canonical", F.col("node") == F.col("component_id"))


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document sketches (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every k-token shingle, slide a w-window over the hash
    sequence, keep each window's minimum, dedup -> (doc_id, fp).

    Guarantee: two documents sharing any token run of >= w + k - 1 tokens
    share at least one fingerprint — a positional sketch that catches
    partial-copy overlap exact/MinHash dedup miss. Documents shorter than
    k tokens emit nothing; shorter than w shingles emit their single global
    min. Pure Column arithmetic (codegen md5 + higher-order transforms);
    the hash is a 60-bit md5 prefix so the DuckDB oracle twin is
    bit-identical (same recipe as simhash_portable).
    """
    from ..functions.text import tokenize_simple

    def shingle_hash(i):
        return F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", F.slice("_t", i, k))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")

    d = (
        docs.select(id_col, tokenize_simple(F.col(text_col)).alias("_t"))
        .withColumn("_n", F.size("_t"))
        .filter(F.col("_n") >= k)
        .withColumn(
            "_hs",
            F.transform(
                F.sequence(F.lit(1), F.col("_n") - k + 1), shingle_hash
            ),
        )
        .withColumn("_m", F.size("_hs"))
    )
    wins = F.when(
        F.col("_m") >= w,
        F.transform(
            F.sequence(F.lit(1), F.col("_m") - w + 1),
            lambda j: F.array_min(F.slice("_hs", j, w)),
        ),
    ).otherwise(F.array(F.array_min("_hs")))
    return d.select(
        id_col, F.explode(F.array_distinct(wins)).alias("fp")
    )


def winnow_sql(docs_rel: str, k: int = 5, w: int = 4) -> str:
    """DuckDB twin of winnow_fingerprints over a relation with
    (doc_id, text)."""
    from ..functions.text import tokenize_simple_sql

    return f"""
with t as (select doc_id, {tokenize_simple_sql('text')} as tk from {docs_rel}),
s as (
  select doc_id,
    [('0x' || substr(md5(array_to_string(tk[i:i+{k - 1}], ' ')), 1, 15))::bigint
     for i in generate_series(1, len(tk) - {k} + 1)] as hs
  from t where len(tk) >= {k}
),
wfp as (
  select doc_id,
    case when len(hs) >= {w} then
      [list_min(hs[j:j+{w - 1}]) for j in generate_series(1, len(hs) - {w} + 1)]
    else [list_min(hs)] end as wins
  from s
)
select distinct doc_id, fp from (select doc_id, unnest(wins) as fp from wfp)
"""


def dedup_spans(
    docs: DataFrame,
    n: int = 50,
    doc_id: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """(doc_id, text_clean, n_tokens_removed): EXACT SUBSTRING self-dedup —
    every token n-gram that occurs MORE THAN ONCE anywhere in the corpus
    (another document, or a repeat inside the same document) keeps only
    its FIRST occurrence (min (doc_id, position)); every token covered by
    a non-first occurrence is excised and the rest of each document
    survives in order. This is the span-level exact-substring protocol of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", dedup length 50 tokens) re-expressed as hash joins instead
    of a suffix array.

    text_clean is the NORMALIZED reconstruction (lowercased, single
    spaces — the collision join's tokenizer); untouched docs get the
    normalized identity with n_tokens_removed = 0. Docs shorter than n
    tokens have no grams and pass through untouched.

    Scale shape (100 TB): the positional gram stream (posexplode + one
    md5 per gram — positions can't dedupe) is built ONCE and
    localCheckpointed because two subtrees consume it (the
    frequency/owner aggregate and the occurrence join); without the pin
    Catalyst recomputes the whole md5 pass per subtree. The duplicate-
    gram dim (count >= 2) is usually a tiny fraction of all grams, so
    filtering it BEFORE the join shrinks the join's build side; the join
    itself is a plain shuffled hash join on the 8-byte gram hash (AQE
    skew-split handles boilerplate grams with huge occurrence counts).
    The rebuild pass runs only on flagged docs behind a semi-join —
    exactly the decontaminate_excise tail. Nothing is quadratic in the
    corpus; total cost is two corpus-token-linear shuffles (the suffix
    array's sort is the same asymptotics with a bigger constant)."""
    from .decontaminate import _gram_hash

    toks = tokenize_simple(F.col(text))
    base = docs.select(F.col(doc_id).alias("doc_id"), toks.alias("_t"))
    # round-9: explode POSITIONS and build each gram with the codegen
    # concat_ws(slice(...)) instead of materializing the ngrams() HOF
    # array first (same gram text expression ngrams() uses internally;
    # measured 3.3x on the gram stream at 20k docs, identical row set).
    # Spark's sequence(1, 0) is the DESCENDING [1, 0], NOT empty (the
    # round-5 rule) — short docs must short-circuit to an empty array
    # exactly like ngrams() does.
    count = F.size("_t") - (n - 1)
    pos = base.select(
        "doc_id",
        "_t",
        F.explode(
            F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("_i"),
    ).select(
        "doc_id",
        "_i",
        _gram_hash(F.concat_ws(" ", F.slice("_t", F.col("_i"), n))).alias("gh"),
    )
    # two consumers (owner aggregate + occurrence join): pin the md5 pass
    pos = pos.localCheckpoint(eager=True)
    # canonical owner of each duplicated gram = first occurrence
    dup = (
        pos.groupBy("gh")
        .agg(
            F.count("*").alias("_cnt"),
            F.min(F.struct("doc_id", "_i")).alias("_own"),
        )
        .filter(F.col("_cnt") >= 2)
        .select("gh", "_own")
    )
    hits = (
        pos.join(dup, "gh")
        .filter(
            (F.col("doc_id") != F.col("_own").getField("doc_id"))
            | (F.col("_i") != F.col("_own").getField("_i"))
        )
        .select("doc_id", "_i")
    )
    covered = hits.select(
        "doc_id",
        F.explode(F.sequence(F.col("_i"), F.col("_i") + (n - 1))).alias("_j"),
    ).distinct()
    # three consumers (flagged semi, rebuild anti-join, removed counts)
    # would each re-run the dup join + explode: pin the (small) cover set
    covered = covered.localCheckpoint(eager=True)
    flagged = covered.select("doc_id").distinct()
    dirty = base.join(flagged, "doc_id", "leftsemi")
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
    clean_out = base.join(flagged, "doc_id", "left_anti").select(
        "doc_id",
        F.concat_ws(" ", "_t").alias("text_clean"),
        F.lit(0).cast("long").alias("n_tokens_removed"),
    )
    return dirty_out.unionByName(clean_out)


def dedup_spans_sql(docs_rel: str, n: int = 50) -> str:
    """DuckDB twin of dedup_spans over a relation with (doc_id, text).
    Owner/occurrence logic via row_number over (gh order by doc_id, i):
    rn > 1 is exactly "a non-first occurrence of a duplicated gram"."""
    from ..functions.text import tokenize_simple_sql

    gh = (
        f"('0x' || substr(md5(array_to_string(tk[p:p+{n - 1}], ' ')), 1, 15))"
        "::bigint"
    )
    return f"""
with dtk as (select doc_id, {tokenize_simple_sql('text')} as tk from {docs_rel}),
pos as (
  select doc_id,
         unnest(generate_series(1, len(tk) - {n - 1})) as i,
         unnest([{gh} for p in generate_series(1, len(tk) - {n - 1})]) as gh
  from dtk where len(tk) >= {n}
),
hits as (
  select doc_id, i from (
    select doc_id, i,
           row_number() over (partition by gh order by doc_id, i) as rn
    from pos)
  where rn > 1
),
covered as (
  select distinct * from (
    select doc_id, unnest(generate_series(i, i + {n - 1})) as j from hits)
),
flagged as (select distinct doc_id from covered),
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
select d.doc_id,
       coalesce(array_to_string(d.tk, ' '), '') as text_clean,
       0 as n_tokens_removed
from dtk d anti join flagged using (doc_id)
"""
