"""HyperLogLog distinct-count sketch with ENGINE-PORTABLE determinism.

The 100 TB cardinality story: exact countDistinct shuffles every distinct
value; an HLL sketch is m = 2^p integer registers that (a) aggregate with
map-side combine (shuffle volume = registers, not values), (b) MERGE by
register-wise max — so per-partition / per-day sketches compose without
re-reading data — and (c) estimate within ~1.04/sqrt(m).

Spark's built-in approx_count_distinct is the codegen fast path when only
the estimate matters; THIS implementation exists for the pipeline cases
the built-in can't serve: sketches as DATA (store per-shard register
tables, merge later, union across engines) and exact cross-engine
verification. The per-item hash is the md5-prefix 60-bit integer (the
simhash_portable pattern), so a DuckDB oracle recomputes the register
table BIT-FOR-BIT — the gate checks integer register parity, not a
float estimate.

rho (leading-zero rank) is derived from the binary-string length of the
remaining 60-p bits on BOTH engines (Spark `conv(w,10,2)`, DuckDB
`bin(w)` — both minimal-width), never floating log2: near powers of two,
double log2 rounds across the integer boundary and floor() lies.

Published algorithm: Flajolet et al. 2007 (HyperLogLog), with the
standard small-range linear-counting correction.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HASH_BITS = 60  # md5-prefix hash width (fits signed int64 positive)


def hll_registers(df: DataFrame, col: str, p: int = 8) -> DataFrame:
    """(register int, rho int) — m = 2^p rows max; absent registers mean
    rho 0. One map-side-combined aggregation; NULL values are skipped
    (SQL distinct-count semantics)."""
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    m = 1 << p
    wbits = HASH_BITS - p
    h = F.conv(F.substring(F.md5(F.col(col)), 1, 15), 16, 10).cast("long")
    w = F.shiftright(h, p)  # h is 60-bit positive: arithmetic shift is safe
    bitlen = F.length(F.conv(w.cast("string"), 10, 2))
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits) - bitlen + 1
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(
            h.bitwiseAND(F.lit(m - 1)).cast("int").alias("register"),
            rho.cast("int").alias("rho"),
        )
        .groupBy("register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(registers: DataFrame, p: int = 8) -> float:
    """Cardinality estimate from a register table (Flajolet et al. 2007,
    with linear counting below 2.5m). Driver-side math on <= 2^p rows."""
    m = 1 << p
    rows = {r["register"]: r["rho"] for r in registers.collect()}
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}.get(p, 0.7213 / (1 + 1.079 / m))
    s = sum(2.0 ** -rows.get(j, 0) for j in range(m))
    est = alpha * m * m / s
    zeros = m - len([v for v in rows.values() if v > 0])
    if est <= 2.5 * m and zeros > 0:
        est = m * math.log(m / zeros)
    return est


def hll_registers_sql(rel: str, col: str, p: int = 8) -> str:
    """DuckDB twin of hll_registers — identical hash, register, and rho
    derivation; integer-exact."""
    m = 1 << p
    wbits = HASH_BITS - p
    h = f"cast(concat('0x', substr(md5({col}), 1, 15)) as bigint)"
    return f"""
with hashed as (
  select {h} as h from {rel} where {col} is not null
),
ranked as (
  select cast(h & {m - 1} as int) as register,
         cast(case when (h >> {p}) = 0 then {wbits + 1}
              else {wbits} - length(bin(h >> {p})) + 1 end as int) as rho
  from hashed
)
select register, max(rho) as rho from ranked group by register
"""
