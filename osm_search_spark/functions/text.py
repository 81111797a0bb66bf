"""Text analysis scalar functions — pure Column expressions (no UDFs).

Covers the reference's tokenizer surface (pkg/searcher tokenize+stem usage at
pkg/index/indexer.go:804, pkg/searcher/searcher.go:158 — here a pluggable
analyzer: lowercase, strip non-alphanumerics, split) plus the
training-data-pipeline text ops: token counting, n-grams, quality scoring,
language-ID heuristic, document fingerprinting. Each function that backs an
oracle-checked query has a ``*_sql`` twin emitting the identical computation
as DuckDB-compatible ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# --- tokenizer (analyzer) --------------------------------------------------

def tokenize(text: Column | str) -> Column:
    """Lowercase, collapse non-alphanumerics to spaces, split, drop empties.

    Mirrors the reference's sastrawi tokenizer contract (lowercased word
    stream); stemming is a pluggable extra (Indonesian stemmer not bundled).
    """
    cleaned = F.trim(
        F.regexp_replace(F.lower(_col(text)), r"[^\p{L}\p{N}]+", " ")
    )
    return F.filter(F.split(cleaned, " "), lambda t: t != "")


def tokenize_simple(text: Column | str) -> Column:
    """Split on single spaces only — exact twin of tokenize_simple_sql, used
    for oracle-checked queries (testdata text is already space-normalized)."""
    return F.filter(F.split(F.lower(_col(text)), " "), lambda t: t != "")


def tokenize_simple_sql(text: str) -> str:
    return f"list_filter(string_split(lower({text}), ' '), t -> t <> '')"


# --- n-grams ---------------------------------------------------------------

def ngrams(tokens: Column | str, n: int, sep: str = " ") -> Column:
    """Array of n-grams (joined with sep) from a token array.

    `transform(sequence(...))` keeps this JVM-side; empty when fewer than n
    tokens. Reference analog: sliding n-gram counting loop
    pkg/searcher/ngram_lm.go:112-210.
    """
    toks = _col(tokens)
    count = F.size(toks) - (n - 1)
    # sequence(1, 0) yields the DESCENDING [1, 0] (and slice rejects the
    # 0), so the fewer-than-n-tokens case must short-circuit to empty
    return F.when(
        count >= 1,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(sep, F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_shingles(text: Column | str, k: int) -> Column:
    """Array of k-character shingles of a string (for MinHash/Jaccard).
    Empty below k chars (sequence(1, 0) is the DESCENDING [1, 0] in Spark
    while the DuckDB twin's generate_series(1, 0) is empty — the
    short-string case must yield empty to match). The guard is a length
    filter over a never-descending sequence rather than a when/otherwise
    branch: the conditional costs ~11% on the minhash hot path (measured
    interleaved at sf0.1), the filter ~3%."""
    t = _col(text)
    count = F.greatest(F.length(t) - (k - 1), F.lit(1))
    return F.filter(
        F.transform(
            F.sequence(F.lit(1), count), lambda i: F.substring(t, i, k)
        ),
        lambda s: F.length(s) == k,
    )


# --- quality / language heuristics ----------------------------------------

STOPWORDS = (
    "the a an and or of to in is are was were on at for with as by it this that",
)
_STOPWORD_LIST = STOPWORDS[0].split(" ")


def quality_features(text: Column | str) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features for quality scoring."""
    t = _col(text)
    toks = tokenize_simple(t)
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORD_LIST)))
    return {
        "n_chars": F.length(t),
        "n_tokens": n_tokens,
        "avg_token_len": (F.length(t) - (n_tokens - 1)) / n_tokens,
        "stopword_ratio": stop_hits / n_tokens,
        "punct_ratio": (
            F.length(F.regexp_replace(t, r"[\p{L}\p{N}\s]", "")) / F.length(t)
        ),
    }


# --- Gopher/C4-style corpus quality filters --------------------------------

# The 8 "required stop words" of the Gopher rules (Rae et al. 2021,
# App. A): a document must contain at least 2 of them to pass.
GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _char_sum(arr) -> Column:
    return F.aggregate(arr, F.lit(0), lambda a, x: a + F.length(x))


def gopher_quality_features(text: Column | str) -> dict[str, Column]:
    """The published Gopher corpus-filter battery (Rae et al. 2021 App. A)
    + the C4-style duplicate-content fractions, as PURE Column
    expressions (one projection, no shuffle, no Python — the shape a
    100 TB filter pass needs). Float features should be round()ed before
    oracle comparison; `gopher_keep` applies the published thresholds.

    Duplicate-content definitions (the DataTrove/NeMo convention): a
    line/paragraph occurring c times contributes (c-1) duplicated
    occurrences and (c-1)*len duplicated characters; fractions are over
    all occurrences / all characters."""
    t = _col(text)
    low = F.lower(t)
    words = F.filter(F.split(low, r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    lines = F.filter(F.split(t, r"\n"), lambda x: F.trim(x) != "")
    paras = F.filter(F.split(t, r"\n\n"), lambda x: F.trim(x) != "")
    n_lines, n_paras = F.size(lines), F.size(paras)
    n_hash = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))).cast("int")
    n_ellipsis = (
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    ).cast("int")
    bullet = F.size(
        F.filter(
            lines,
            lambda x: F.ltrim(x).startswith("-")
            | F.ltrim(x).startswith("*")
            | F.ltrim(x).startswith("•"),
        )
    )
    ell_lines = F.size(F.filter(lines, lambda x: F.rtrim(x).endswith("...")))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    req = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_STOPWORDS])
    return {
        "n_words": n_words.cast("long"),
        "mean_word_len": _char_sum(words) / n_words,
        "symbol_word_ratio": (n_hash + n_ellipsis) / n_words,
        "bullet_line_frac": bullet / n_lines,
        "ellipsis_line_frac": ell_lines / n_lines,
        "alpha_word_frac": alpha_words / n_words,
        "n_req_stopwords": F.size(F.array_intersect(words, req)).cast("int"),
        "dup_line_frac": (n_lines - F.size(F.array_distinct(lines))) / n_lines,
        "dup_line_char_frac": (
            (_char_sum(lines) - _char_sum(F.array_distinct(lines)))
            / _char_sum(lines)
        ),
        "dup_para_frac": (n_paras - F.size(F.array_distinct(paras))) / n_paras,
        "dup_para_char_frac": (
            (_char_sum(paras) - _char_sum(F.array_distinct(paras)))
            / _char_sum(paras)
        ),
    }


def gopher_keep(feats: dict[str, Column]) -> Column:
    """The published Gopher keep predicate over `gopher_quality_features`
    (thresholds verbatim from Rae et al. 2021 Appendix A; duplicate
    fractions from the same table)."""
    f = feats
    return (
        f["n_words"].between(50, 100_000)
        & f["mean_word_len"].between(3, 10)
        & (f["symbol_word_ratio"] <= 0.1)
        & (f["bullet_line_frac"] <= 0.9)
        & (f["ellipsis_line_frac"] <= 0.3)
        & (f["alpha_word_frac"] >= 0.8)
        & (f["n_req_stopwords"] >= 2)
        & (f["dup_line_frac"] <= 0.30)
        & (f["dup_line_char_frac"] <= 0.20)
        & (f["dup_para_frac"] <= 0.30)
        & (f["dup_para_char_frac"] <= 0.20)
    )


def gopher_quality_sql(text: str) -> dict[str, str]:
    """DuckDB twins of every gopher_quality_features column (identical
    arithmetic; float columns still need round() on both sides). Returns
    SQL snippets keyed by feature name, referencing `{text}`."""
    words = f"list_filter(regexp_split_to_array(lower({text}), '\\s+'), w -> w <> '')"
    lines = f"list_filter(string_split({text}, chr(10)), x -> trim(x) <> '')"
    paras = f"list_filter(string_split({text}, chr(10) || chr(10)), x -> trim(x) <> '')"

    def char_sum(arr):
        return f"coalesce(list_sum(list_transform({arr}, x -> len(x))), 0)"

    n_hash = f"(len({text}) - len(replace({text}, '#', '')))"
    n_ell = f"((len({text}) - len(replace({text}, '...', ''))) // 3)"
    bullet = (
        f"len(list_filter({lines}, x -> starts_with(ltrim(x), '-') or "
        f"starts_with(ltrim(x), '*') or starts_with(ltrim(x), '•')))"
    )
    ell_lines = f"len(list_filter({lines}, x -> ends_with(rtrim(x), '...')))"
    alpha = f"len(list_filter({words}, w -> regexp_matches(w, '[a-z]')))"
    req = ", ".join(f"'{w}'" for w in GOPHER_REQUIRED_STOPWORDS)
    return {
        "n_words": f"cast(len({words}) as bigint)",
        "mean_word_len": f"cast({char_sum(words)} as double) / len({words})",
        "symbol_word_ratio": f"cast({n_hash} + {n_ell} as double) / len({words})",
        "bullet_line_frac": f"cast({bullet} as double) / len({lines})",
        "ellipsis_line_frac": f"cast({ell_lines} as double) / len({lines})",
        "alpha_word_frac": f"cast({alpha} as double) / len({words})",
        "n_req_stopwords": (
            f"cast(len(list_intersect(list_distinct({words}), [{req}])) as int)"
        ),
        "dup_line_frac": (
            f"cast(len({lines}) - len(list_distinct({lines})) as double) / len({lines})"
        ),
        "dup_line_char_frac": (
            f"cast({char_sum(lines)} - {char_sum(f'list_distinct({lines})')} as double)"
            f" / {char_sum(lines)}"
        ),
        "dup_para_frac": (
            f"cast(len({paras}) - len(list_distinct({paras})) as double) / len({paras})"
        ),
        "dup_para_char_frac": (
            f"cast({char_sum(paras)} - {char_sum(f'list_distinct({paras})')} as double)"
            f" / {char_sum(paras)}"
        ),
    }



def gopher_keep_sql(text: str) -> str:
    """DuckDB twin of `gopher_keep` (the published thresholds verbatim,
    over the unrounded feature expressions — matching the Column
    predicate, which also compares unrounded)."""
    s = gopher_quality_sql(text)
    return (
        f"(({s['n_words']} between 50 and 100000)"
        f" and ({s['mean_word_len']} between 3 and 10)"
        f" and ({s['symbol_word_ratio']} <= 0.1)"
        f" and ({s['bullet_line_frac']} <= 0.9)"
        f" and ({s['ellipsis_line_frac']} <= 0.3)"
        f" and ({s['alpha_word_frac']} >= 0.8)"
        f" and ({s['n_req_stopwords']} >= 2)"
        f" and ({s['dup_line_frac']} <= 0.30)"
        f" and ({s['dup_line_char_frac']} <= 0.20)"
        f" and ({s['dup_para_frac']} <= 0.30)"
        f" and ({s['dup_para_char_frac']} <= 0.20))"
    )


def dedup_lines(text: Column | str) -> Column:
    """Remove duplicate lines keeping each line's FIRST occurrence in
    order — the cleaning transform the dup_line_frac feature points at
    (boilerplate nav/footer lines repeat within scraped pages). Pure
    Column: Spark's array_distinct is first-occurrence order-preserving.
    (The DuckDB twin must derive first-occurrence explicitly —
    list_distinct there does NOT preserve order.)"""
    return F.concat_ws("\n", F.array_distinct(F.split(_col(text), r"\n")))


def dedup_lines_sql(rel: str, id_col: str, text: str) -> str:
    """DuckDB twin: first-occurrence kept via row_number over line index,
    rebuilt in original order. Returns a full query (id_col, text_clean)."""
    lines = f"string_split({text}, chr(10))"
    return f"""
with l as (
  select {id_col},
         unnest({lines}) as line,
         unnest(generate_series(1, len({lines}))) as i
  from {rel}
),
f as (
  select {id_col}, line, i,
         row_number() over (partition by {id_col}, line order by i) as rn
  from l
)
select {id_col},
       coalesce(array_to_string(list(line order by i) filter (rn = 1),
                chr(10)), '') as text_clean
from f group by {id_col}
"""


def _c4_line_ok(line: Column) -> Column:
    t = F.rtrim(line)
    terminal = (
        t.endswith(".") | t.endswith("!") | t.endswith("?") | t.endswith('"')
    )
    n_words = F.size(F.filter(F.split(line, r"\s+"), lambda w: w != ""))
    return (
        terminal
        & (n_words >= 3)
        & ~F.lower(line).contains("javascript")
    )


def c4_clean(text: Column | str) -> dict[str, Column]:
    """The C4 line-level cleaning rules (Raffel et al. 2020 §2.2) as pure
    Column expressions: keep lines ending in a terminal punctuation mark
    (. ! ? ") with >= 3 words and no "javascript"; page-level verdict
    requires >= 5 sentences (approximated as terminal-punct marks in the
    kept text — the paper used a sentence splitter), no "lorem ipsum",
    and no curly brace. (The bad-words page list is a deployment-specific
    dim join, out of scope here.) Returns cleaned_text + line/sentence
    stats + keep_page."""
    t = _col(text)
    lines = F.split(t, r"\n")
    kept = F.filter(lines, _c4_line_ok)
    cleaned = F.concat_ws("\n", kept)
    n_sentences = (
        F.length(cleaned)
        - F.length(
            F.replace(
                F.replace(
                    F.replace(cleaned, F.lit("."), F.lit("")),
                    F.lit("!"), F.lit(""),
                ),
                F.lit("?"), F.lit(""),
            )
        )
    ).cast("int")
    low = F.lower(t)
    return {
        "cleaned_text": cleaned,
        "n_lines_total": F.size(lines).cast("int"),
        "n_lines_kept": F.size(kept).cast("int"),
        "n_sentences": n_sentences,
        "keep_page": (
            (n_sentences >= 5)
            & ~low.contains("lorem ipsum")
            & ~t.contains("{")
        ),
    }


def c4_clean_sql(text: str) -> dict[str, str]:
    """DuckDB twins of every c4_clean column (identical rules)."""
    line_ok = (
        "(ends_with(rtrim(x), '.') or ends_with(rtrim(x), '!') or "
        "ends_with(rtrim(x), '?') or ends_with(rtrim(x), '\"')) and "
        "len(list_filter(regexp_split_to_array(x, '\\s+'), w -> w <> '')) >= 3 "
        "and not contains(lower(x), 'javascript')"
    )
    kept = f"list_filter(string_split({text}, chr(10)), x -> {line_ok})"
    # DuckDB's array_to_string returns NULL for an empty list; Spark's
    # concat_ws returns '' — coalesce to match
    cleaned = f"coalesce(array_to_string({kept}, chr(10)), '')"
    n_sent = (
        f"cast(len({cleaned}) - len(replace(replace(replace({cleaned}, '.', ''),"
        f" '!', ''), '?', '')) as int)"
    )
    return {
        "cleaned_text": cleaned,
        "n_lines_total": f"cast(len(string_split({text}, chr(10))) as int)",
        "n_lines_kept": f"cast(len({kept}) as int)",
        "n_sentences": n_sent,
        "keep_page": (
            f"(({n_sent}) >= 5 and not contains(lower({text}), 'lorem ipsum')"
            f" and not contains({text}, '{{'))"
        ),
    }


# GPT-2-style pre-tokenizer pieces: contractions, letter runs, digit runs,
# punctuation runs (each optionally space-prefixed). RE2- and Java-regex
# compatible (no lookarounds), so Spark and DuckDB split identically.
BPE_PIECE_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+"


def bpe_pieces(text: Column | str) -> Column:
    """Array of BPE-ish pre-tokenizer pieces — the token-budget estimator a
    training pipeline runs over every document (piece count tracks BPE
    token count far better than whitespace words: punctuation, digit runs
    and contractions split out). Pure Column (regexp_extract_all)."""
    return F.regexp_extract_all(F.lower(_col(text)), F.lit(BPE_PIECE_RE), 0)


def bpe_pieces_sql(text: str) -> str:
    """DuckDB twin (RE2 accepts the same pattern)."""
    pat = BPE_PIECE_RE.replace("'", "''")
    return f"regexp_extract_all(lower({text}), '{pat}')"
