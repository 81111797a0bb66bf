"""Space-filling-curve cell keys — the S2 half of the H3/S2 analog.

The grid in functions/cells.py provides the hierarchy half (parents,
k-rings, covers); its row-major id has NO 1-D locality: two vertically
adjacent cells are ``2**29`` ids apart, so ``repartitionByRange`` /
parquet min-max pruning on ``cell_id`` scatters a bbox's cells across
many partitions and row groups. S2's defining property beyond the
quadtree — the reason its ids are usable as a clustering key at
planetary scale — is the Hilbert-curve cell id: a 1-D key whose
ordering preserves 2-D locality, so range partitioning IS spatial
clustering and a bbox query compiles to a FEW contiguous key ranges
(s2geometry's ``S2RegionCoverer`` → ``S2CellUnion`` range scan; the
reference's analogous structure is the R-tree bbox probe,
rtree.go:498-529, which this layout replaces with parquet min/max
seeks on a sorted key).

This module adds that property over the same ``(res, ix, iy)`` grid:

- ``morton_key`` — Z-order (Morton) interleave: pure whole-stage-codegen
  bit arithmetic, 6 shift-or-mask steps per axis with LITERAL shift
  counts (round-4 rule) and masks < 2**63 (py4j / DuckDB sign-safe).
- ``with_hilbert_key`` — Hilbert index over the ``2**(res+1)``-side
  square (the grid is ``2**(res+1) × 2**res``; the top half is unused,
  which is valid — the curve simply never visits it). One chained
  projection per bit level: whole-stage codegen keeps per-level locals
  and Catalyst's CollapseProject will not inline a non-cheap alias
  referenced more than once, so there is no expression-tree blowup and
  no HOF fold (stays codegen, unlike an ``aggregate`` accumulator).
- ``np_xy2d`` / ``np_d2xy`` / ``np_morton`` — vectorized numpy twins
  for driver-side planning and kernel use.
- ``bbox_key_ranges`` — the classic SFC range planner: the EXACT,
  merged key ranges covering a lat/lon bbox. A layout sorted /
  range-partitioned on the key answers a bbox query with a handful of
  BETWEENs; parquet row-group stats do the seek. Hilbert merges to
  O(perimeter) ranges where the row-major id needs one range per
  bbox row — the measurable locality win (sfc_* in tools/bench_registry.py).
- ``morton_cte_sql`` / ``hilbert_cte_sql`` — DuckDB twin generators
  (chained CTEs, one per bit level; exact integer ops: ``xor()``,
  ``&``, ``<<`` on values far below the sign bit).

The xy2d/d2xy pair is the public-domain algorithm as published on
Wikipedia ("Hilbert curve", Applications §); correctness here is gated
by round-trip identity, exhaustive small-grid adjacency, and the
Spark↔numpy↔DuckDB three-way parity tests in tests/test_sfc.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import cells as C

# Bit-spread masks: place the low 32 bits of x at even positions 0..62.
_SPREAD = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


# ---------------------------------------------------------------------------
# Morton (Z-order) — single codegen expression
# ---------------------------------------------------------------------------

def _spread_col(x: Column) -> Column:
    for sh, mask in _SPREAD:
        x = (x.bitwiseOR(F.shiftleft(x, sh))).bitwiseAND(F.lit(mask))
    return x


def morton_key(cell: Column | str, res: int) -> Column:
    """Z-order key of a cell id at resolution ``res`` — x bits at odd
    positions, y bits at even. ix has ``res+1`` bits, iy has ``res``
    (iy's phantom top bit is always 0), so the key fits in ``2*res+2``
    bits (res ≤ 28 ⇒ ≤ 58 bits, sign-safe everywhere)."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    ix = C.cell_ix(cell)
    iy = C.cell_iy(cell)
    return F.shiftleft(_spread_col(ix), 1).bitwiseOR(_spread_col(iy))


def morton_cte_sql(
    src: str, id_cols: str, x: str, y: str, out: str = "zkey"
) -> tuple[str, str]:
    """Chained-CTE DuckDB twin of ``morton_key``: emits CTEs ``_m0.._m5``
    reading (``id_cols``, ``x``, ``y``) from CTE/relation ``src`` and
    producing (``id_cols``, ``out``). Chained CTEs, not nested text:
    inlining ``x | x<<16`` per step would double the expression text per
    level."""
    ctes = [f"_m0 as (select {id_cols}, {x} as _zx, {y} as _zy from {src})"]
    for i, (sh, mask) in enumerate(_SPREAD):
        ctes.append(
            f"_m{i + 1} as (select {id_cols}, "
            f"(_zx | (_zx << {sh})) & {mask} as _zx, "
            f"(_zy | (_zy << {sh})) & {mask} as _zy from _m{i})"
        )
    final = f"select {id_cols}, (_zx << 1) | _zy as {out} from _m{len(_SPREAD)}"
    return ",\n".join(ctes) + "\n", final


# ---------------------------------------------------------------------------
# Hilbert — chained projections (codegen; one Project per bit level)
# ---------------------------------------------------------------------------

def with_hilbert_key(
    df: DataFrame,
    cell: str = "cell_id",
    res: int | None = None,
    out: str = "hkey",
) -> DataFrame:
    """Append the Hilbert key of ``cell`` (grid ids at resolution ``res``)
    as column ``out``. ``res`` must match the ids' build resolution (the
    key space is per-resolution, like S2 level-pinned ids).

    PLAN HAZARD — never put a Filter on ``out`` in the same plan: Spark's
    PushDownPredicate substitutes the condition through every chained
    Project with NO cheapness guard, duplicating the ``_hx``/``_hy``
    references ~5x per level — an exponential condition tree (5^(res+1)
    nodes) that hangs the optimizer. Filter on a STORED key column (the
    write path materializes it), or compute the key with
    ``hilbert_key_expr`` (one self-contained fold expression — linear
    under substitution, interpreted instead of codegen)."""
    if res is None:
        raise ValueError("res is required (key space is per-resolution)")
    nbits = res + 1
    big_n = 1 << nbits
    keep = list(df.columns)
    df = df.select(
        *keep,
        C.cell_ix(cell).alias("_hx"),
        C.cell_iy(cell).alias("_hy"),
        F.lit(0).cast("long").alias(out),
    )
    one = F.lit(1).cast("long")
    for i in range(nbits - 1, -1, -1):
        s = 1 << i
        x, y, d = F.col("_hx"), F.col("_hy"), F.col(out)
        rx = F.shiftright(x, i).bitwiseAND(one)
        ry = F.shiftright(y, i).bitwiseAND(one)
        d_new = d + F.lit(s * s) * (F.lit(3) * rx).bitwiseXOR(ry)
        # rot(N): ry==1 → unchanged; ry==0 → swap (and flip first if rx==1)
        x_new = (
            F.when(ry == one, x)
            .when(rx == one, F.lit(big_n - 1) - y)
            .otherwise(y)
        )
        y_new = (
            F.when(ry == one, y)
            .when(rx == one, F.lit(big_n - 1) - x)
            .otherwise(x)
        )
        df = df.select(
            *keep,
            x_new.alias("_hx"),
            y_new.alias("_hy"),
            d_new.alias(out),
        )
    return df.drop("_hx", "_hy")


def hilbert_key_expr(cell: Column | str, res: int) -> Column:
    """Hilbert key as ONE self-contained Column expression — an
    ``aggregate`` fold over the bit levels with a (x, y, d) struct
    accumulator. ~10x slower per row than the chained-projection codegen
    of ``with_hilbert_key`` (interpreted HOF), but safe to reference from
    a Filter or any expression context: predicate pushdown copies the
    whole fold per reference (linear), instead of exploding through a
    projection chain (see the with_hilbert_key hazard note). Variable
    bit shifts go through an element_at over a pow-of-2 LITERAL array
    (F.shiftleft takes literal counts only — round-4 rule; plain
    ``F.array`` literals DO constant-fold, unlike transform-over-sequence
    — round-6 rule)."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    nbits = res + 1
    big_n = 1 << nbits
    pow2 = F.array(*[F.lit(1 << k).cast("long") for k in range(nbits)])
    acc0 = F.struct(
        C.cell_ix(cell).alias("x"),
        C.cell_iy(cell).alias("y"),
        F.lit(0).cast("long").alias("d"),
    )
    levels = F.sequence(F.lit(nbits - 1), F.lit(0), F.lit(-1))
    one = F.lit(1).cast("long")

    def step(acc, i):
        s = F.element_at(pow2, (i + 1).cast("int"))
        rx = F.when(acc["x"].bitwiseAND(s) > 0, one).otherwise(F.lit(0).cast("long"))
        ry = F.when(acc["y"].bitwiseAND(s) > 0, one).otherwise(F.lit(0).cast("long"))
        d_new = acc["d"] + s * s * (F.lit(3) * rx).bitwiseXOR(ry)
        x_new = (
            F.when(ry == one, acc["x"])
            .when(rx == one, F.lit(big_n - 1) - acc["y"])
            .otherwise(acc["y"])
        )
        y_new = (
            F.when(ry == one, acc["y"])
            .when(rx == one, F.lit(big_n - 1) - acc["x"])
            .otherwise(acc["x"])
        )
        return F.struct(x_new.alias("x"), y_new.alias("y"), d_new.alias("d"))

    return F.aggregate(levels, acc0, step, lambda acc: acc["d"])


def hilbert_cte_sql(
    src: str, id_cols: str, x: str, y: str, res: int, out: str = "hkey"
) -> tuple[str, str]:
    """Chained-CTE DuckDB twin of ``with_hilbert_key`` — CTEs ``_h0.._h{n}``
    reading (``id_cols``, ``x``, ``y``) from ``src``; returns
    (cte_text, final_select). Exact integer re-derivation (xor/&/>>)."""
    nbits = res + 1
    big_n = 1 << nbits
    # _hd starts BIGINT: DuckDB INT32 arithmetic raises on overflow rather
    # than promoting, and d reaches 4**nbits - 1.
    ctes = [
        f"_h0 as (select {id_cols}, {x} as _hx, {y} as _hy, "
        f"cast(0 as bigint) as _hd from {src})"
    ]
    lvl = 0
    for i in range(nbits - 1, -1, -1):
        s = 1 << i
        rx = f"((_hx >> {i}) & 1)"
        ry = f"((_hy >> {i}) & 1)"
        ctes.append(
            f"_h{lvl + 1} as (select {id_cols}, "
            f"case when {ry} = 1 then _hx when {rx} = 1 then {big_n - 1} - _hy else _hy end as _hx, "
            f"case when {ry} = 1 then _hy when {rx} = 1 then {big_n - 1} - _hx else _hx end as _hy, "
            f"_hd + {s * s} * xor(3 * {rx}, {ry}) as _hd from _h{lvl})"
        )
        lvl += 1
    final = f"select {id_cols}, cast(_hd as bigint) as {out} from _h{lvl}"
    return ",\n".join(ctes) + "\n", final


# ---------------------------------------------------------------------------
# numpy twins (driver-side planning / kernels)
# ---------------------------------------------------------------------------

def np_xy2d(x: np.ndarray, y: np.ndarray, nbits: int) -> np.ndarray:
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    big_n = np.int64(1) << nbits
    d = np.zeros_like(x)
    for i in range(nbits - 1, -1, -1):
        s = np.int64(1) << i
        rx = (x >> i) & 1
        ry = (y >> i) & 1
        d += s * s * ((3 * rx) ^ ry)
        swap = ry == 0
        flip = swap & (rx == 1)
        x_new = np.where(swap, np.where(flip, big_n - 1 - y, y), x)
        y_new = np.where(swap, np.where(flip, big_n - 1 - x, x), y)
        x, y = x_new, y_new
    return d


def np_d2xy(d: np.ndarray, nbits: int) -> tuple[np.ndarray, np.ndarray]:
    t = np.asarray(d, dtype=np.int64).copy()
    x = np.zeros_like(t)
    y = np.zeros_like(t)
    s = np.int64(1)
    while s < (np.int64(1) << nbits):
        rx = (t >> 1) & 1
        ry = (t ^ rx) & 1
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, s - 1 - x, x)
        y_f = np.where(flip, s - 1 - y, y)
        x = np.where(swap, y_f, x_f) + s * rx
        y = np.where(swap, x_f, y_f) + s * ry
        t >>= 2
        s <<= 1
    return x, y


def np_spread(x: np.ndarray) -> np.ndarray:
    x = np.asarray(x, dtype=np.int64).copy()
    for sh, mask in _SPREAD:
        x = (x | (x << sh)) & mask
    return x


def np_morton(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return (np_spread(x) << 1) | np_spread(y)


# ---------------------------------------------------------------------------
# bbox → merged key ranges (the SFC range planner)
# ---------------------------------------------------------------------------

def bbox_cell_bounds(
    res: int, minlat: float, minlon: float, maxlat: float, maxlon: float
) -> tuple[int, int, int, int]:
    """Inclusive (ix0, ix1, iy0, iy1) of the cells intersecting the bbox —
    the same clamp/floor formula as cells.latlng_to_cell."""
    size = C.cell_size_deg(res)
    nx, ny = 2 << res, 1 << res
    ix0 = min(max(int(np.floor((minlon + 180.0) / size)), 0), nx - 1)
    ix1 = min(max(int(np.floor((maxlon + 180.0) / size)), 0), nx - 1)
    iy0 = min(max(int(np.floor((minlat + 90.0) / size)), 0), ny - 1)
    iy1 = min(max(int(np.floor((maxlat + 90.0) / size)), 0), ny - 1)
    return ix0, ix1, iy0, iy1


def bbox_key_ranges(
    res: int,
    minlat: float,
    minlon: float,
    maxlat: float,
    maxlon: float,
    curve: str = "hilbert",
    max_cells: int = 50_000_000,
    plan_res: int | None = None,
) -> list[tuple[int, int]]:
    """Merged [lo, hi] key ranges covering every cell intersecting the
    bbox (no false negatives by construction: keys are enumerated from
    the exact cell set, then consecutive keys merge). ``curve`` is
    ``hilbert`` | ``morton`` | ``rowmajor`` (rowmajor = the raw cell id —
    the no-locality baseline).

    ``plan_res`` (< ``res``, hilbert/morton only) plans at a COARSER grid
    and scales each range by ``4**(res - plan_res)`` — valid because both
    curves are quadtree-recursive (parent key == child key >> 2; property-
    tested in tests/test_sfc.py), exactly how S2RegionCoverer keeps a
    covering at O(coarse perimeter) ranges regardless of the data
    resolution. The scaled ranges cover whole coarse cells, so they may
    ADMIT extra fine cells near the boundary (callers always refine with
    the exact predicate) but still never miss one."""
    if plan_res is not None and plan_res < res:
        if curve == "rowmajor":
            raise ValueError("rowmajor keys are not quadtree-recursive")
        e = res - plan_res
        coarse = bbox_key_ranges(
            plan_res, minlat, minlon, maxlat, maxlon, curve, max_cells
        )
        return [(lo << (2 * e), ((hi + 1) << (2 * e)) - 1) for lo, hi in coarse]
    ix0, ix1, iy0, iy1 = bbox_cell_bounds(res, minlat, minlon, maxlat, maxlon)
    n_cells = (ix1 - ix0 + 1) * (iy1 - iy0 + 1)
    if n_cells > max_cells:
        raise ValueError(
            f"bbox covers {n_cells} cells at res {res} (> {max_cells}); "
            "coarsen res or decompose the bbox"
        )
    gx, gy = np.meshgrid(
        np.arange(ix0, ix1 + 1, dtype=np.int64),
        np.arange(iy0, iy1 + 1, dtype=np.int64),
        indexing="ij",
    )
    gx, gy = gx.ravel(), gy.ravel()
    if curve == "hilbert":
        keys = np_xy2d(gx, gy, res + 1)
    elif curve == "morton":
        keys = np_morton(gx, gy)
    elif curve == "rowmajor":
        keys = np.int64(res) * np.int64(C.RES_BITS_SHIFT) + gx * np.int64(C.IX_SHIFT) + gy
    else:
        raise ValueError(f"unknown curve {curve!r}")
    keys = np.sort(keys)
    if keys.size == 0:
        return []
    breaks = np.nonzero(np.diff(keys) > 1)[0]
    starts = np.concatenate(([0], breaks + 1))
    ends = np.concatenate((breaks, [keys.size - 1]))
    return [(int(keys[s]), int(keys[e])) for s, e in zip(starts, ends)]


MAX_FILTER_RANGES = 2000


def key_range_filter(key: Column | str, ranges: list[tuple[int, int]]) -> Column:
    """OR-of-BETWEEN predicate over merged ranges (pushed to the parquet
    scan; row-group min/max stats on a key-sorted layout do the seek).
    The OR tree is built BALANCED — a linear chain stack-overflows the
    Column converter at a few thousand terms — and range counts beyond
    ``MAX_FILTER_RANGES`` fail loud: re-plan with a coarser ``plan_res``
    instead of shipping a megapredicate."""
    key = F.col(key) if isinstance(key, str) else key
    if not ranges:
        return F.lit(False)
    if len(ranges) > MAX_FILTER_RANGES:
        raise ValueError(
            f"{len(ranges)} ranges (> {MAX_FILTER_RANGES}); pass a coarser "
            "plan_res to bbox_key_ranges"
        )

    def build(lo: int, hi: int) -> Column:
        if lo == hi:
            return key.between(ranges[lo][0], ranges[lo][1])
        mid = (lo + hi) // 2
        return build(lo, mid) | build(mid + 1, hi)

    return build(0, len(ranges) - 1)
