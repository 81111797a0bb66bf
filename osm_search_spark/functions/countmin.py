"""Engine-portable count-min sketch — frequency estimation as mergeable
DATA (the heavy-hitter / frequency-cap primitive at corpus scale).

depth d x width w integer counters; item x adds its count to counter
(i, h_i(x) % w) for each of the d rows; the frequency estimate is the MIN
over rows — always an OVER-estimate (never under), within eps*N with
probability 1-delta for w = ceil(e/eps), d = ceil(ln 1/delta). Counters
of disjoint inputs add element-wise (integer counts). Build is ONE
map-side-combined aggregation — shuffle volume is d*w counters, not items.

Where it earns its place next to exact groupBy counts: per-shard /
per-day sketches compose without re-reading data, and a bounded d*w
table answers "is this gram/url/key over the frequency cap?" for ANY key
without storing per-key rows (the dedup heavy-gram cap and LSH bucket
cap both become sketch lookups when even the distinct-key dim is too
large to aggregate exactly).

Positions use the md5-prefix 60-bit hash with a row-index salt (the
sketch.py / bloom.py pattern), so the DuckDB gate oracle recomputes the
counter table INTEGER-EXACTLY.

Published algorithm: Cormode & Muthukrishnan 2005.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_W = 1 << 12
DEFAULT_D = 4


def _pos(col, i: int, w: int):
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    h = F.conv(
        F.substring(F.md5(F.concat(c, F.lit(f"@{i}"))), 1, 15), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(w))


def cms_build(
    df: DataFrame, col: str, w: int = DEFAULT_W, d: int = DEFAULT_D,
    weight: str | None = None,
) -> DataFrame:
    """(row int, pos int, n long) sparse counter table. `weight` column
    adds that many per item (defaults to 1); NULL keys skipped."""
    wcol = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
    rows = F.explode(
        F.array(*[
            F.struct(F.lit(i).alias("row"), _pos(col, i, w).alias("pos"))
            for i in range(d)
        ])
    ).alias("rp")
    return (
        df.filter(F.col(col).isNotNull())
        .select(rows, wcol.alias("n"))
        .select(
            F.col("rp.row").alias("row"),
            F.col("rp.pos").cast("int").alias("pos"),
            "n",
        )
        .groupBy("row", "pos")
        .agg(F.sum("n").alias("n"))
    )


def cms_lookup(
    cms: DataFrame, keys: DataFrame, col: str,
    w: int = DEFAULT_W, d: int = DEFAULT_D,
) -> DataFrame:
    """keys + `est` (long): the count-min estimate for each key row —
    d broadcast joins of the (tiny) counter table, min across rows;
    absent counters read as 0. Never underestimates (tested)."""
    # collision-proof working columns (user key frames may contain any name)
    taken = set(keys.columns)

    def name(base):
        while base in taken:
            base = "_" + base
        taken.add(base)
        return base

    out = keys
    ests = []
    drop = []
    for i in range(d):
        pc, nc = name(f"_p{i}"), name(f"_n{i}")
        cmi = cms.filter(F.col("row") == i).select(
            F.col("pos").alias(pc), F.col("n").alias(nc)
        )
        out = out.withColumn(pc, _pos(col, i, w)).join(
            F.broadcast(cmi), pc, "left"
        )
        ests.append(F.coalesce(F.col(nc), F.lit(0)))
        drop += [pc, nc]
    est = ests[0]
    for e in ests[1:]:
        est = F.least(est, e)
    return out.withColumn("est", est.cast("long")).drop(*drop)


def cms_sql(
    rel: str, col: str, w: int = DEFAULT_W, d: int = DEFAULT_D,
    weight: str | None = None,
) -> str:
    """DuckDB twin of cms_build — identical hash/position derivation."""
    wexpr = f"cast({weight} as bigint)" if weight else "cast(1 as bigint)"
    rows = " union all ".join(
        f"select {i} as row, "
        f"cast(concat('0x', substr(md5(concat({col}, '@{i}')), 1, 15)) as bigint) % {w} as pos, "
        f"{wexpr} as n from {rel} where {col} is not null"
        for i in range(d)
    )
    return f"""
with rp as ({rows})
select row, cast(pos as int) as pos, cast(sum(n) as bigint) as n
from rp group by row, pos
"""
