"""N-gram language model + stupid backoff — as DataFrame aggregations/joins.

Reference semantics replicated exactly (pkg/searcher/ngram_lm.go):
- OOV preprocessing: words with corpus frequency < 2 become "<UNK>"
  (PreProcessData :105-110; threshold from spell_corrector.go:19-22)
- counting for each n pads with n x "<s>" and one "</s>" then slides a
  window (countUnigram..countQuadgram :112-210); TotalWordFreq counts the
  1-padded token stream
- stupid backoff (:323-337): p = count(ngram)/count(context) at the longest
  order with nonzero numerator AND known denominator, else 0.4^k down-order;
  unigram level = count(w)/TotalWordFreq
- query log-prob (:300-310): pad 4 x "<s>" + query + "</s>", sum
  log(backoff) over positions i >= 4

The count matrix is ONE pass: a single explode over per-n padded token
arrays -> groupBy(n, gram) (the reference's four goroutines collapse into
Spark's partition parallelism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

START, END, UNK = "<s>", "</s>", "<UNK>"
BACKOFF_LAMBDA = 0.4


SMALL_VOCAB_MAX = 10000


def replace_oov(tokens_df: DataFrame, threshold: int = 2) -> DataFrame:
    """(doc_id, tokens) with sub-threshold words replaced by <UNK>
    (replaceOOVWordsWithUNK, ngram_lm.go:81-103).

    Path choice never pulls the whole vocabulary to the driver: a bounded
    `limit(SMALL_VOCAB_MAX + 1)` probe decides, and only a small vocabulary
    is ever collected (for the literal array_contains fast path). A large
    vocabulary stays distributed: posexplode + join + re-assemble, with the
    join strategy left to Catalyst/AQE (a 100 TB corpus vocabulary is not
    broadcastable by fiat)."""
    counts = (
        tokens_df.select(F.explode("tokens").alias("w"))
        .groupBy("w")
        .count()
        .filter(F.col("count") >= threshold)
        .select(F.col("w"))
    )
    sample = counts.limit(SMALL_VOCAB_MAX + 1).collect()
    if len(sample) <= SMALL_VOCAB_MAX:
        vocab_arr = F.array(*[F.lit(r["w"]) for r in sorted(sample)])
        repl = F.transform(
            "tokens",
            lambda t: F.when(F.array_contains(vocab_arr, t), t).otherwise(F.lit(UNK)),
        )
        return tokens_df.select("doc_id", repl.alias("tokens"))
    # big-vocab path: explode + join (Catalyst picks the strategy) + re-collect
    pos = tokens_df.select("doc_id", F.posexplode("tokens").alias("pos", "w"))
    joined = pos.join(counts.withColumn("known", F.lit(True)), "w", "left")
    return (
        joined.withColumn("w2", F.when(F.col("known"), F.col("w")).otherwise(F.lit(UNK)))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "w2"))).getField("w2").alias("tokens"))
    )


def _padded(tokens_col, n: int):
    return F.concat(
        F.array_repeat(F.lit(START), n), tokens_col, F.array(F.lit(END))
    )


def ngram_counts(
    tokens_df: DataFrame, max_n: int = 4, oov_threshold: int | None = 2
) -> DataFrame:
    """(n, gram, count) for n=1..max_n — one explode+groupBy pass, so
    the map stage runs one task per input partition for every n."""
    if oov_threshold:
        tokens_df = replace_oov(tokens_df, oov_threshold)
    def grams_for(n: int):
        padded = _padded(F.col("tokens"), n)
        count_expr = F.greatest(F.size(padded) - (n - 1), F.lit(0))

        def tagged_gram(i):  # one-arg lambda: pyspark passes (elem, idx) to 2-arg
            return F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(" ", F.slice(padded, i, n)).alias("gram"),
            )

        return F.transform(F.sequence(F.lit(1), count_expr), tagged_gram)

    grams = F.flatten(F.array(*[grams_for(n) for n in range(1, max_n + 1)]))
    return (
        tokens_df.select(F.inline(grams))
        .groupBy("n", "gram")
        .agg(F.count("*").alias("count"))
    )


def total_word_freq(counts: DataFrame) -> int:
    return counts.filter(F.col("n") == 1).agg(F.sum("count")).collect()[0][0]


def query_log_prob(
    spark: SparkSession,
    candidate_queries: list[list[str]],
    counts: DataFrame,
    total_freq: int | None = None,
) -> DataFrame:
    """(query_id, log_prob) for each candidate token list — the DataFrame
    re-expression of EstimateQueriesProbabilities (ngram_lm.go:313-321):
    4 left joins against the counts table + a coalesce/when cascade
    implementing stupid backoff."""
    if total_freq is None:
        total_freq = total_word_freq(counts)

    rows = []
    for qid, q in enumerate(candidate_queries):
        padded = [START] * 4 + list(q) + [END]
        for i in range(4, len(padded)):
            ctx = padded[i - 3 : i]
            w = padded[i]
            rows.append(
                (
                    qid, i,
                    " ".join(ctx + [w]),        # 4-gram
                    " ".join(ctx),              # 3-gram context
                    " ".join(ctx[1:] + [w]),    # 3-gram
                    " ".join(ctx[1:]),          # 2-gram context
                    " ".join(ctx[2:] + [w]),    # 2-gram
                    ctx[2],                     # 1-gram context
                    w,                          # 1-gram
                )
            )
    pos = spark.createDataFrame(
        rows,
        "query_id long, pos int, g4 string, c3 string, g3 string, "
        "c2 string, g2 string, c1 string, g1 string",
    )

    def cnt(n, col, alias):
        side = counts.filter(F.col("n") == n).select(
            F.col("gram").alias(col), F.col("count").alias(alias)
        )
        return side

    j = (
        pos.join(cnt(4, "g4", "n_g4"), "g4", "left")
        .join(cnt(3, "c3", "n_c3"), "c3", "left")
        .join(cnt(3, "g3", "n_g3"), "g3", "left")
        .join(cnt(2, "c2", "n_c2"), "c2", "left")
        .join(cnt(2, "g2", "n_g2"), "g2", "left")
        .join(cnt(1, "c1", "n_c1"), "c1", "left")
        .join(cnt(1, "g1", "n_g1"), "g1", "left")
    )
    lam = BACKOFF_LAMBDA
    p4 = F.coalesce(F.col("n_g4"), F.lit(0)) / F.col("n_c3")
    p3 = F.coalesce(F.col("n_g3"), F.lit(0)) / F.col("n_c2")
    p2 = F.coalesce(F.col("n_g2"), F.lit(0)) / F.col("n_c1")
    p1 = F.coalesce(F.col("n_g1"), F.lit(0)) / F.lit(float(total_freq))
    prob = (
        F.when(F.col("n_c3").isNotNull() & (F.coalesce(F.col("n_g4"), F.lit(0)) > 0), p4)
        .when(F.col("n_c2").isNotNull() & (F.coalesce(F.col("n_g3"), F.lit(0)) > 0), F.lit(lam) * p3)
        .when(F.col("n_c1").isNotNull() & (F.coalesce(F.col("n_g2"), F.lit(0)) > 0), F.lit(lam * lam) * p2)
        .otherwise(F.lit(lam**3) * p1)
    )
    # Spark log(0) is NULL (and sum() skips nulls); the reference gets
    # math.Log(0) = -Inf — force the same
    log_p = F.when(prob > 0, F.log(prob)).otherwise(F.lit(float("-inf")))
    return (
        j.withColumn("log_p", log_p)
        .groupBy("query_id")
        .agg(F.sum("log_p").alias("log_prob"))
    )


def corpus_log_prob(
    tokens_df: DataFrame,
    counts: DataFrame,
    total_freq: int | None = None,
) -> DataFrame:
    """(doc_id, n_scored, log_prob, avg_log_prob) for EVERY document —
    the corpus-scale counterpart of `query_log_prob` (CCNet-style LM
    quality signal: a doc's stupid-backoff log-probability under the
    corpus n-gram model; low avg_log_prob = high perplexity = gibberish).

    Scale shape: documents explode into per-position rows (one per token
    + </s>), each position melts into its 7 gram lookups (g4, c3, g3,
    c2, g2, c1, g1), and ALL lookups resolve through ONE left join
    against the counts table on (n, gram) — not 7 sequential joins; a
    groupBy(doc, pos) pivots the slots back before the backoff cascade
    (the same cascade as query_log_prob, ngram_lm.go:323-337). Counts
    may be far larger than memory: the single join shuffles both sides
    by gram hash, no broadcast assumption, no driver materialization.

    tokens_df must already carry the token stream to score (apply
    `replace_oov` first if OOV semantics are wanted — the model and the
    scored stream should share one vocabulary).
    """
    if total_freq is None:
        total_freq = total_word_freq(counts)

    padded = _padded(F.col("tokens"), 4)

    def key(i, start, ln):
        return F.concat_ws(" ", F.slice(padded, i + start, ln))

    pos_struct = F.transform(
        F.sequence(F.lit(5), F.size(padded)),  # size >= 5 always: never desc
        lambda i: F.struct(
            i.alias("pos"),
            key(i, -3, 4).alias("g4"),
            key(i, -3, 3).alias("c3"),
            key(i, -2, 3).alias("g3"),
            key(i, -2, 2).alias("c2"),
            key(i, -1, 2).alias("g2"),
            F.element_at(padded, i - 1).alias("c1"),
            F.element_at(padded, i).alias("g1"),
        ),
    )
    pos = tokens_df.select(
        "doc_id", F.explode(pos_struct).alias("p")
    ).select("doc_id", "p.*")

    # melt: each position contributes 7 (slot, n, gram) lookups; ONE join
    slots = [
        ("g4", 4), ("c3", 3), ("g3", 3), ("c2", 2),
        ("g2", 2), ("c1", 1), ("g1", 1),
    ]
    melted = pos.select(
        "doc_id",
        "pos",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("slot"),
                        F.lit(n).alias("n"),
                        F.col(s).alias("gram"),
                    )
                    for s, n in slots
                ]
            )
        ).alias("m"),
    ).select("doc_id", "pos", "m.*")
    joined = melted.join(counts, ["n", "gram"], "left")
    pivoted = joined.groupBy("doc_id", "pos").agg(
        *[
            F.max(F.when(F.col("slot") == s, F.col("count"))).alias(f"n_{s}")
            for s, _ in slots
        ]
    )

    lam = BACKOFF_LAMBDA
    p4 = F.coalesce(F.col("n_g4"), F.lit(0)) / F.col("n_c3")
    p3 = F.coalesce(F.col("n_g3"), F.lit(0)) / F.col("n_c2")
    p2 = F.coalesce(F.col("n_g2"), F.lit(0)) / F.col("n_c1")
    p1 = F.coalesce(F.col("n_g1"), F.lit(0)) / F.lit(float(total_freq))
    prob = (
        F.when(F.col("n_c3").isNotNull() & (F.coalesce(F.col("n_g4"), F.lit(0)) > 0), p4)
        .when(F.col("n_c2").isNotNull() & (F.coalesce(F.col("n_g3"), F.lit(0)) > 0), F.lit(lam) * p3)
        .when(F.col("n_c1").isNotNull() & (F.coalesce(F.col("n_g2"), F.lit(0)) > 0), F.lit(lam * lam) * p2)
        .otherwise(F.lit(lam**3) * p1)
    )
    log_p = F.when(prob > 0, F.log(prob)).otherwise(F.lit(float("-inf")))
    return (
        pivoted.withColumn("log_p", log_p)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_scored"),
            F.sum("log_p").alias("log_prob"),
        )
        .withColumn("avg_log_prob", F.col("log_prob") / F.col("n_scored"))
    )


def best_query(
    spark: SparkSession,
    candidate_queries: list[list[str]],
    counts: DataFrame,
    top: int = 1,
) -> list[list[str]]:
    """Argmax over candidates (GetCorrectSpellingSuggestion,
    spell_corrector.go:139-155) / top-3 autocomplete rank (:202-227).
    NaN/-inf probs sort last; ties break on candidate index (the reference
    keeps the first max)."""
    scored = query_log_prob(spark, candidate_queries, counts).collect()
    by_id = {r["query_id"]: r["log_prob"] for r in scored}

    def keyf(i):
        p = by_id.get(i)
        if p is None or p != p:  # NaN
            p = float("-inf")
        return (-p, i)

    order = sorted(range(len(candidate_queries)), key=keyf)
    return [candidate_queries[i] for i in order[:top]]
