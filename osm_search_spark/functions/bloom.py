"""Engine-portable Bloom filter as DATA — the shuffle-free join-pruning
primitive.

At 100 TB the classic move is: build a Bloom filter over the SMALL
side's join keys (one map-side-combined aggregation), ship the bit array
(a few kB) to every task, and filter the BIG side's scan down to
probable matches BEFORE any join/shuffle — the big side never moves for
keys that cannot match. Spark's runtime row-group filters do a flavor of
this inside one query; this implementation makes the filter a mergeable
TABLE (store per-shard filters, bit_or them later, use across queries
and engines).

Portability/determinism: positions come from the md5-prefix 60-bit
integer hash (the simhash_portable / sketch.py pattern), k positions per
item via a salt suffix. Bits pack 30 per signed integer word — both
Spark and DuckDB shift safely below the sign bit — so the DuckDB gate
oracle recomputes the word table BIT-FOR-BIT. No false negatives ever
(exact property of the structure); false-positive rate ~ (1-e^{-kn/m})^k.

Published algorithm: Bloom 1970.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WORD_BITS = 30  # < 31: shifts stay clear of int/bigint sign bits everywhere
DEFAULT_M = 1 << 16
DEFAULT_K = 4


def _pow2_arr():
    # literal power-of-two lookup: F.shiftleft only takes a literal shift
    # count, so variable-bit set/test goes through element_at instead
    return F.array(*[F.lit(1 << b).cast("long") for b in range(WORD_BITS)])


def _pos(col, i: int, m_bits: int):
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    h = F.conv(
        F.substring(F.md5(F.concat(c, F.lit(f"#{i}"))), 1, 15), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(m_bits))


def bloom_build(
    df: DataFrame, col: str, m_bits: int = DEFAULT_M, k: int = DEFAULT_K
) -> DataFrame:
    """(word int, bits long) sparse word table — one explode (k rows per
    item) + one map-side-combined bit_or aggregation. NULLs skipped."""
    pos = F.explode(
        F.array(*[_pos(col, i, m_bits) for i in range(k)])
    ).alias("pos")
    return (
        df.filter(F.col(col).isNotNull())
        .select(pos)
        .groupBy((F.col("pos") / WORD_BITS).cast("int").alias("word"))
        .agg(
            F.bit_or(
                F.element_at(
                    _pow2_arr(), F.pmod("pos", F.lit(WORD_BITS)).cast("int") + 1
                )
            ).alias("bits")
        )
    )


def bloom_words(bloom_df: DataFrame, m_bits: int = DEFAULT_M) -> list[int]:
    """Dense word list (driver-side, bounded: m_bits/30 longs — ~2.2k at
    the default m, a few kB)."""
    n_words = (m_bits + WORD_BITS - 1) // WORD_BITS
    words = [0] * n_words
    for r in bloom_df.collect():
        words[r["word"]] = r["bits"]
    return words


def might_contain(
    words: list[int], col, m_bits: int = DEFAULT_M, k: int = DEFAULT_K
) -> Column:
    """Pure-Column membership test against the dense word list — codegen
    arithmetic over a literal array, NO join and NO shuffle: the filter a
    big-side scan applies before ever moving a row. False negatives are
    impossible; positives are probabilistic (verify with the real join).

    Plan-size ceiling: the word list is embedded as m/30 literals — fine
    at the default m=2^16 (~2.2k literals, ~17 kB) but NOT at the
    m=10^8-10^9 a 10^7-key small side needs. `bloom_prune` uses this
    filter up to _ARROW_WORD_THRESHOLD words and broadcasts the word array
    instead of embedding it past that."""
    arr = F.array(*[F.lit(int(w)) for w in words])
    checks = []
    for i in range(k):
        pos = _pos(col, i, m_bits)
        word = F.element_at(arr, (pos / WORD_BITS).cast("int") + 1)
        bit = F.element_at(
            _pow2_arr(), F.pmod(pos, F.lit(WORD_BITS)).cast("int") + 1
        )
        checks.append(word.bitwiseAND(bit) != 0)
    return reduce(lambda a, b: a & b, checks)


# Above this word count the literal path would embed that many F.lit()s in
# the plan — the same expression-size ceiling the IVF coarse quantizer hit
# (similarity._ARROW_CENTROID_THRESHOLD pattern); 8192 words = m ≈ 2^18
# bits ≈ 64 kB of plan, a safe upper bound for codegen. Past it the word
# array ships ONCE as a broadcast numpy array into mapInPandas: plan size
# is constant in m, per-batch work is vectorized index/shift arithmetic,
# and m=2^24..2^30 (the 100 TB join-pruning sizes) costs only m/8 bytes of
# broadcast per executor. Read at call time (tests monkeypatch it).
_ARROW_WORD_THRESHOLD = 8192


def bloom_prune(
    df: DataFrame,
    words: list[int],
    col,
    m_bits: int = DEFAULT_M,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Rows of `df` whose `col` MIGHT be in the filter (no false
    negatives) — the big-side pre-join prune, scan-side and shuffle-free.

    Up to _ARROW_WORD_THRESHOLD words: the literal-array might_contain
    filter. Past it, the k hash positions are still computed JVM-side
    (codegen md5 — no hashing in Python), then a broadcast numpy word
    array answers membership per Arrow batch; constant plan size in m.
    Both kernels are bit-identical (same positions, same words;
    parity-tested)."""
    if len(words) <= _ARROW_WORD_THRESHOLD:
        return df.filter(might_contain(words, col, m_bits, k))

    import numpy as np

    POS = "_bloom_pos"
    while POS in df.columns:
        POS = "_" + POS
    W = np.asarray(list(words), dtype=np.int64)
    bc = df.sparkSession.sparkContext.broadcast(W)
    with_pos = df.withColumn(
        POS, F.array(*[_pos(col, i, m_bits) for i in range(k)])
    )
    out_cols = df.columns

    def prune(batches):
        wv = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf[out_cols]
                continue
            P = np.stack(pdf[POS].to_numpy()).astype(np.int64)
            hit = ((wv[P // WORD_BITS] >> (P % WORD_BITS)) & 1).all(axis=1)
            yield pdf.loc[hit, out_cols]

    return with_pos.mapInPandas(prune, schema=df.schema)


def bloom_sql(rel: str, col: str, m_bits: int = DEFAULT_M, k: int = DEFAULT_K) -> str:
    """DuckDB twin of bloom_build — identical hash/position/word layout."""
    hashes = ",\n    ".join(
        f"cast(concat('0x', substr(md5(concat({col}, '#{i}')), 1, 15)) as bigint) % {m_bits}"
        for i in range(k)
    )
    return f"""
with pos as (
  select unnest([
    {hashes}
  ]) as p
  from {rel} where {col} is not null
)
select cast(p // {WORD_BITS} as int) as word,
       bit_or(cast(1 as bigint) << cast(p % {WORD_BITS} as int)) as bits
from pos group by 1
"""
