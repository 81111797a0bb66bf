"""Corpus curation utilities for training-data pipelines.

Two operations every large-corpus pipeline needs downstream of dedup:

- `assign_split`: DETERMINISTIC train/val/test assignment by hashing the
  document id (salted md5 -> bucket in [0, 10000)). Hash-based splits are
  the only kind that survive reprocessing at scale: re-running the pipeline
  on a grown corpus never moves an old document across splits, independent
  of partitioning, ordering, or cluster size. Pure Column arithmetic
  (JVM md5 + conv), no shuffle, no RNG.

- `redact_pii`: scrub obvious PII spans (emails, long digit runs such as
  phone/account numbers) with RE2-compatible regexes so the same pattern
  text runs identically in Spark (Java regex) and the DuckDB oracle twin.
  Purely declarative `regexp_replace` — stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SPLIT_BUCKETS = 10000

# RE2-compatible (no lookarounds) — identical semantics in Java regex and
# DuckDB; keep in sync with redact_sql below.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_NUM_RE = r"[0-9]{9,}"


def split_bucket(id_col: Column | str, salt: str = "split") -> Column:
    """Stable bucket in [0, SPLIT_BUCKETS): first 8 hex chars of
    md5(salt ':' id) as an integer, mod bucket count."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat(F.lit(salt + ":"), c.cast("string")))
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % SPLIT_BUCKETS
    ).alias("bucket")


def split_bucket_sql(id_expr: str, salt: str = "split") -> str:
    """DuckDB twin: '0x'||hex -> BIGINT (DuckDB has no conv)."""
    return (
        f"(('0x' || substr(md5('{salt}:' || cast({id_expr} as varchar)), 1, 8))"
        f"::bigint % {SPLIT_BUCKETS})"
    )


def assign_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Add (bucket, split) columns. Weights must sum to 1; boundaries are
    cumulative-weight bucket thresholds, so every id maps to exactly one
    split and the mapping never changes as the corpus grows."""
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError("split weights must sum to 1")
    out = df.withColumn("bucket", split_bucket(id_col, salt))
    expr, acc, prev_hi = None, 0.0, 0
    for name, w in weights.items():
        acc += w
        hi = round(acc * SPLIT_BUCKETS)
        if hi <= prev_hi:  # weight below bucket granularity -> empty split
            raise ValueError(
                f"split {name!r} weight {w} rounds to an empty bucket range "
                f"(< 1/{SPLIT_BUCKETS})"
            )
        prev_hi = hi
        cond = F.col("bucket") < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return out.withColumn("split", expr)


def redact_pii(col: Column | str) -> Column:
    """Emails then long digit runs -> typed placeholders."""
    c = F.col(col) if isinstance(col, str) else col
    step1 = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(step1, LONG_NUM_RE, "<NUM>")


def redact_sql(expr: str) -> str:
    """DuckDB twin of redact_pii (note the explicit 'g' flag — DuckDB
    replaces only the first match by default, Spark replaces all)."""
    return (
        f"regexp_replace(regexp_replace({expr}, '{EMAIL_RE}', '<EMAIL>', 'g'),"
        f" '{LONG_NUM_RE}', '<NUM>', 'g')"
    )


# --- Gopher n-gram repetition filters ---------------------------------------

# Published thresholds (Rae et al. 2021 App. A, "repetition removal"):
# a doc is dropped when the most-frequent word n-gram covers too many
# characters (n=2..4) or duplicated n-grams cover too many (n=5..10).
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def gopher_repetition_features(
    docs: DataFrame, doc_id: str = "doc_id", text: str = "text"
) -> DataFrame:
    """(doc_id, n, top_char_frac, dup_char_frac) for n = 2..10 — the
    Gopher repetition-removal measures over word n-grams:

    - top_char_frac (meaningful for n=2..4): characters covered by ALL
      occurrences of the single most frequent n-gram / total normalized
      characters (gram chars = its text length with single spaces; ties
      broken by gram text descending, matching the twin; ASCII-safe —
      Python/Java/DuckDB collate supplementary-plane chars differently).
    - dup_char_frac (meaningful for n=5..10): Σ over grams occurring
      more than once of (count - 1) × gram chars / total characters —
      the occurrences-beyond-first convention the open implementations
      (DataTrove/NeMo) use; overlap between duplicated grams is counted
      per occurrence, not deduplicated (documented approximation).

    MAP-ONLY plan: the measures are PER-DOCUMENT, so the gram counting
    runs inside one Arrow kernel per doc (tokens -> Counter per n) and
    NOTHING shuffles — the previous exploded-union formulation shipped
    every (doc, n, gram) string through a full-cardinality groupBy
    (10.6M ~60-byte rows for 20k docs: 31s; the kernel: ~3s at
    local[32]). The kernel emits INTEGER numerators (top_chars,
    dupchars, chars); the fractions and 6dp rounding stay JVM-side so
    the oracle twin's arithmetic is matched exactly. Docs shorter than
    n tokens have no n-row (the keep helper treats absent as passing)."""
    from collections import Counter

    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            out = {
                "doc_id": [], "n": [], "top_chars": [],
                "dupchars": [], "chars": [],
            }
            for did, txt in zip(pdf["doc_id"], pdf["_text"]):
                tokens = [t for t in str(txt).lower().split(" ") if t]
                chars = len(" ".join(tokens))
                for n in range(2, 11):
                    if len(tokens) < n:
                        continue
                    counts = Counter(
                        " ".join(tokens[i : i + n])
                        for i in range(len(tokens) - n + 1)
                    )
                    cnt, top = max(
                        ((c, g) for g, c in counts.items())
                    )  # ties -> gram text DESCENDING (max), as documented
                    dupchars = sum(
                        (c - 1) * len(g) for g, c in counts.items() if c > 1
                    )
                    out["doc_id"].append(did)
                    out["n"].append(n)
                    out["top_chars"].append(cnt * len(top))
                    out["dupchars"].append(dupchars)
                    out["chars"].append(chars)
            yield pd.DataFrame(out)

    dt = dict(docs.dtypes)[doc_id]
    raw = docs.select(
        F.col(doc_id).alias("doc_id"), F.col(text).alias("_text")
    ).mapInPandas(
        kernel,
        f"doc_id {dt}, n int, top_chars long, dupchars long, chars long",
    )
    return raw.select(
        "doc_id",
        "n",
        F.round(F.col("top_chars") / F.col("chars"), 6).alias("top_char_frac"),
        F.round(F.col("dupchars") / F.col("chars"), 6).alias("dup_char_frac"),
    )


def gopher_repetition_keep(features: DataFrame) -> DataFrame:
    """(doc_id, keep_repetition): AND of the published thresholds over
    every n present for the doc (absent n rows pass vacuously)."""
    checks = F.lit(True)
    for n, thr in GOPHER_TOP_NGRAM_MAX.items():
        checks = checks & F.when(F.col("n") == n, F.col("top_char_frac") <= thr).otherwise(True)
    for n, thr in GOPHER_DUP_NGRAM_MAX.items():
        checks = checks & F.when(F.col("n") == n, F.col("dup_char_frac") <= thr).otherwise(True)
    return features.groupBy("doc_id").agg(
        F.min(checks).alias("keep_repetition")
    )


def gopher_repetition_sql(docs_rel: str) -> str:
    """DuckDB twin of gopher_repetition_features (ties in the top gram
    broken by gram text descending, mirroring Spark's struct max)."""
    from ..functions.text import tokenize_simple_sql

    toks = tokenize_simple_sql("text")
    unions = "\nunion all\n".join(
        f"select doc_id, _chars, {n} as n, "
        f"unnest([array_to_string(_t[i:i+{n - 1}], ' ') "
        f"for i in generate_series(1, len(_t) - {n} + 1)]) as gram from base"
        for n in range(2, 11)
    )
    return f"""
with base as (
  select doc_id, {toks} as _t,
         len(array_to_string({toks}, ' ')) as _chars
  from {docs_rel}
),
g as ({unions}),
counts as (
  select doc_id, n, _chars, gram, count(*) as cnt from g group by 1, 2, 3, 4
),
top as (
  select doc_id, n, cnt * len(gram) as top_chars,
         row_number() over (partition by doc_id, n
                            order by cnt desc, gram desc) as rn
  from counts
),
dups as (
  select doc_id, n,
         sum(case when cnt > 1 then (cnt - 1) * len(gram) else 0 end) as dupchars,
         first(_chars) as chars
  from counts group by 1, 2
)
select d.doc_id, d.n,
       round(cast(t.top_chars as double) / d.chars, 6) as top_char_frac,
       round(cast(d.dupchars as double) / d.chars, 6) as dup_char_frac
from dups d join top t on t.doc_id = d.doc_id and t.n = d.n and t.rn = 1
"""


# --- deterministic sampling + sequence packing ------------------------------

def deterministic_sample(
    df: DataFrame, rate: float, id_col: str = "doc_id", salt: str = "sample"
) -> DataFrame:
    """Keep a deterministic ~rate fraction by id hash (the same salted-md5
    buckets as assign_split): reprocessing-stable — re-running on a grown
    corpus keeps exactly the same old rows, unlike df.sample whose output
    depends on partitioning. Pure Column, no shuffle."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    cut = round(rate * SPLIT_BUCKETS)
    return df.filter(split_bucket(id_col, salt) < cut)


def sample_predicate_sql(id_expr: str, rate: float, salt: str = "sample") -> str:
    """DuckDB twin of deterministic_sample's keep predicate."""
    cut = round(rate * SPLIT_BUCKETS)
    return f"({split_bucket_sql(id_expr, salt)} < {cut})"


def pack_sequences(
    docs: DataFrame,
    budget: int,
    doc_id: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens, tok_offset, chunk_first, chunk_last) — concat-
    chunk sequence packing (the GPT training-data shape): documents
    concatenate in doc_id order into ONE token stream; training chunk k
    holds stream positions [k*budget, (k+1)*budget), and a document may
    span chunks. `offset` is the global running token count BEFORE the
    doc.

    The global cumsum never funnels through a single-partition window:
    range-partition on doc_id (no partition count: AQE sizes the shuffle
    and merges only adjacent ranges), per-partition token totals (one
    collect of a row per partition) become partition offsets, and a
    partition-LOCAL running sum completes the prefix — the zipWithIndex
    pattern generalized from ranks to weighted prefix sums (same recipe
    as search.term_dict ids). Empty docs get chunk_last == chunk_first.

    doc_id must be UNIQUE: the stream order (and therefore each doc's
    offset) is defined by doc_id, and duplicate ids would make the
    running sum's tie order nondeterministic."""
    from ..functions.text import tokenize_simple
    from pyspark.sql import Window

    base = docs.select(
        F.col(doc_id).alias("doc_id"),
        F.size(tokenize_simple(F.col(text))).cast("long").alias("n_tokens"),
    )
    # checkpoint so the offsets job and the offset window see one layout
    # (a persisted plan would keep its final shuffle uncoalesced)
    parts = (
        base.repartitionByRange("doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = sorted(
        parts.groupBy("_pid").agg(F.sum("n_tokens").alias("t")).collect(),
        key=lambda r: r["_pid"],
    )
    if not totals:
        return base.select(
            "doc_id", "n_tokens",
            F.lit(0).cast("long").alias("tok_offset"),
            F.lit(0).cast("long").alias("chunk_first"),
            F.lit(0).cast("long").alias("chunk_last"),
        ).limit(0)
    offsets, acc = {}, 0
    for r in totals:
        offsets[r["_pid"]] = acc
        acc += r["t"]
    off = F.create_map(
        *[F.lit(x) for pid_acc in offsets.items() for x in pid_acc]
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = off[F.col("_pid")] + F.coalesce(
        F.sum("n_tokens").over(w), F.lit(0)
    )
    out = parts.select(
        "doc_id",
        "n_tokens",
        offset.cast("long").alias("tok_offset"),
    ).select(
        "doc_id",
        "n_tokens",
        "tok_offset",
        F.floor(F.col("tok_offset") / budget).cast("long").alias("chunk_first"),
        F.greatest(
            F.floor((F.col("tok_offset") + F.col("n_tokens") - 1) / budget),
            F.floor(F.col("tok_offset") / budget),
        ).cast("long").alias("chunk_last"),
    )
    # materialize: the window would otherwise re-shuffle on every use
    return out.localCheckpoint(eager=True)


def perplexity_filter(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text: str = "text",
    max_n: int = 4,
    oov_threshold: int = 2,
    keep_quantile: float | None = None,
) -> DataFrame:
    """(doc_id, n_scored, log_prob, avg_log_prob) — the CCNet-style LM
    quality signal: score every document's stupid-backoff log-probability
    under the corpus's own n-gram model (operators/ngram_lm.py semantics,
    ngram_lm.go:300-337). Gibberish / boilerplate-mangled documents sit in
    the low-avg_log_prob tail; a curation pass drops below a threshold.

    Pipeline (all distributed, one vocabulary end to end):
      1. tokenize + `replace_oov` (corpus frequency < oov_threshold ->
         <UNK>) — model and scored stream share the vocabulary;
      2. `ngram_counts` over the replaced stream (n = 1..max_n);
      3. `corpus_log_prob`: per-position gram melt + ONE join against the
         counts table + the backoff cascade.

    With keep_quantile set (e.g. 0.1), adds a `keep` flag marking docs
    ABOVE the given quantile of avg_log_prob (approxQuantile on the
    score frame — one extra bounded pass; the cutoff is approximate, the
    standard trade for a corpus-scale percentile).
    """
    from .ngram_lm import corpus_log_prob, ngram_counts, replace_oov
    from .search import doc_tokens

    toks = doc_tokens(
        docs.select(F.col(doc_id).alias("doc_id"), F.col(text).alias("text"))
    )
    toks = replace_oov(toks, oov_threshold).localCheckpoint(eager=True)
    counts = ngram_counts(toks, max_n=max_n, oov_threshold=None)
    scored = corpus_log_prob(toks, counts)
    if keep_quantile is None:
        return scored
    cut = scored.approxQuantile("avg_log_prob", [keep_quantile], 0.001)[0]
    return scored.withColumn("keep", F.col("avg_log_prob") > F.lit(cut))


def _weight_parts(w: float) -> tuple[int, int]:
    """(full copies, fractional bucket cut) for a mixing weight."""
    if w < 0:
        raise ValueError(f"mixing weight must be >= 0, got {w}")
    nfull = int(w)
    return nfull, round((w - nfull) * SPLIT_BUCKETS)


def mix_sources(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Weighted source mixing (the Pile/LLaMA-style corpus recipe): each
    document is emitted floor(w) times plus one more with probability
    frac(w), where w is its source's mixing weight (epochs-per-pass).
    Adds `copy_idx` (1..n_copies); w = 0 drops the source entirely.

    Deterministic and reprocessing-stable: the fractional keep hashes
    (salt, source, id) through the same salted-md5 buckets as
    assign_split, so re-running on a grown corpus never changes which
    old documents get the extra copy — and the per-source hash keeps the
    fractional picks decorrelated across sources. Pure Column: a bounded
    literal CASE over the weight dict (sources are a small dim by
    construction — the CLAUDE.md bounded-literal-map rule), one explode;
    no shuffle, no RNG. The sequence is guarded for n_copies = 0 (Spark's
    sequence(1, 0) is DESCENDING, round-5 rule)."""
    src = F.col(source_col).cast("string")
    h = F.md5(
        F.concat(
            F.lit(salt + ":"), src, F.lit(":"), F.col(id_col).cast("string")
        )
    )
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % SPLIT_BUCKETS

    dn, dcut = _weight_parts(default_weight)
    nfull_expr: Column = F.lit(dn)
    cut_expr: Column = F.lit(dcut)
    for s, w in sorted(weights.items()):
        nf, cut = _weight_parts(w)
        nfull_expr = F.when(src == s, nf).otherwise(nfull_expr)
        cut_expr = F.when(src == s, cut).otherwise(cut_expr)
    n_copies = (
        nfull_expr + F.when(bucket < cut_expr, 1).otherwise(0)
    ).cast("long")
    copies = F.when(
        n_copies >= 1, F.sequence(F.lit(1).cast("long"), n_copies)
    ).otherwise(F.array().cast("array<long>"))
    return df.withColumn("copy_idx", F.explode(copies))


def mix_sources_sql(
    docs_rel: str,
    weights: dict[str, float],
    cols: str = "doc_id, source",
    source_expr: str = "source",
    id_expr: str = "doc_id",
    default_weight: float = 1.0,
    salt: str = "mix",
) -> str:
    """DuckDB twin of mix_sources (generate_series(1, 0) is empty in
    DuckDB, so no guard is needed on that side)."""
    dn, dcut = _weight_parts(default_weight)

    def case(f):
        arms = " ".join(
            f"when '{s}' then {f(_weight_parts(w))}"
            for s, w in sorted(weights.items())
        )
        return f"(case {source_expr} {arms} else {f((dn, dcut))} end)"

    bucket = (
        f"(('0x' || substr(md5('{salt}:' || {source_expr} || ':' || "
        f"cast({id_expr} as varchar)), 1, 8))::bigint % {SPLIT_BUCKETS})"
    )
    return f"""
select {cols}, copy_idx from (
  select {cols},
         unnest(generate_series(1,
           {case(lambda p: p[0])}
           + case when {bucket} < {case(lambda p: p[1])} then 1 else 0 end
         )) as copy_idx
  from {docs_rel})
"""


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str = "doc_id",
    salt: str = "cap",
) -> DataFrame:
    """Deterministic per-group row cap (the C4 per-host / per-domain cap:
    no single source may dominate the corpus): keep the `cap` rows with
    the LOWEST salted-md5 hash per group, ties broken by id. Unlike
    head-N the keep set is independent of partitioning and scan order;
    unlike a rate sample the quota is exact. Growth caveat: a new doc
    hashing below a kept one displaces it — the cap is a quota, not a
    stable sample (use deterministic_sample for growth-stable keeps).

    Plan shape: rank-filtered window -> Spark's WindowGroupLimit pushes
    the top-cap selection map-side before the shuffle (the round-3
    insight: partial limits run per input partition), so a group with
    10^9 rows ships at most cap rows per input partition, not the
    group."""
    if cap < 1:
        raise ValueError("cap must be >= 1")
    from pyspark.sql import Window

    h = F.md5(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )


def cap_predicate_sql(
    rel: str, group_expr: str, cap: int, id_expr: str = "doc_id",
    salt: str = "cap", cols: str = "*",
) -> str:
    """DuckDB twin of cap_per_group over `rel`."""
    h = f"md5('{salt}:' || cast({id_expr} as varchar))"
    return f"""
select {cols} from (
  select *, row_number() over (
    partition by {group_expr} order by {h}, {id_expr}
  ) as _rk
  from {rel})
where _rk <= {cap}
"""
