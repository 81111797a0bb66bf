"""Geohash (public base-32 spec, Niemeyer 2008) as pure Column bit math.

The repo's primary cell system is the arithmetic lat/lon grid in
functions/cells.py (the H3/S2 stand-in behind the reference's R-tree,
pkg/datastructure/rtree.go); geohash complements it with a REAL published
cell encoding implementable exactly without native libraries: a
shared-prefix string key whose truncation IS coarsening, usable as a
tile/bucket key (repartitionByRange on geohash ≈ Z-order locality) and
interoperable with external systems.

Float parity discipline (CLAUDE.md): the ONLY float step is quantizing
lat/lon to integer codes; that expression is ONE SQL text
(`lat_code_sql`/`lon_code_sql`) fed to Spark via F.expr and to the DuckDB
twin verbatim, so codes are bit-identical. Everything after — bit
interleave, base-32 chars, decode back to codes — is exact integer math
(Spark: shiftright/bitwiseAND with LITERAL shift counts per the round-4
rule; DuckDB: `>>`/`&`).

Encoding per the spec: total bits = 5 * precision, alternating lon-first;
code_x = floor((x - min) / range * 2^bits_x) clamped to the top cell
(x = max edge). Verified against the published test vectors
(u4pruydqqvj, ezs42, 6gkzwgjzn82) and an independent bisection
implementation in tests/test_geohash.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..sources.synth import dlit

B32 = "0123456789bcdefghjkmnpqrstuvwxyz"
MAX_PRECISION = 12  # 60 bits interleaved; codes stay far below 2^63


def _bit_split(precision: int) -> tuple[int, int]:
    bits = 5 * precision
    return (bits + 1) // 2, bits // 2  # lon gets the extra bit (spec)


def lon_code_sql(lon: str, precision: int) -> str:
    """Shared Spark/DuckDB SQL text: lon quantized to its geohash bits."""
    nbits, _ = _bit_split(precision)
    return (
        f"least(cast(floor(({lon} + 180.0e0) / 360.0e0 * "
        f"{dlit(2.0 ** nbits)}) as bigint), {2 ** nbits - 1})"
    )


def lat_code_sql(lat: str, precision: int) -> str:
    _, nbits = _bit_split(precision)
    return (
        f"least(cast(floor(({lat} + 90.0e0) / 180.0e0 * "
        f"{dlit(2.0 ** nbits)}) as bigint), {2 ** nbits - 1})"
    )


def _interleave_char_bits(precision: int):
    """For each of the `precision` base-32 chars, the list of
    (source, msb_index) pairs for its 5 bits, MSB first — source is
    'lon' for even global bit positions, 'lat' for odd (spec order)."""
    lonbits, latbits = _bit_split(precision)
    out = []
    for c in range(precision):
        bits = []
        for t in range(5):
            g = 5 * c + t
            if g % 2 == 0:
                bits.append(("lon", g // 2, lonbits))
            else:
                bits.append(("lat", g // 2, latbits))
        out.append(bits)
    return out


def geohash_col(lat_code: Column, lon_code: Column, precision: int) -> Column:
    """Geohash string from the integer codes (exact integer math only;
    all shift counts are plan-time literals)."""
    assert 1 <= precision <= MAX_PRECISION
    alphabet = F.array(*[F.lit(ch) for ch in B32])
    chars = []
    for bits in _interleave_char_bits(precision):
        val = F.lit(0)
        for t, (src, k, nbits) in enumerate(bits):
            code = lon_code if src == "lon" else lat_code
            bit = F.shiftright(code, nbits - 1 - k).bitwiseAND(F.lit(1))
            val = val + bit * F.lit(1 << (4 - t))
        chars.append(F.element_at(alphabet, val.cast("int") + 1))
    return F.concat(*chars)


def geohash(lat: Column | str, lon: Column | str, precision: int) -> Column:
    """Geohash of (lat, lon) at `precision` chars. `lat`/`lon` must be
    SQL expression STRINGS (column names count) so the float quantization
    text is shareable with an oracle twin; Columns are rejected to keep
    the parity contract visible at the call site."""
    if isinstance(lat, Column) or isinstance(lon, Column):
        raise TypeError(
            "pass lat/lon as SQL text (e.g. column names) — the float "
            "quantization must be one shared expression string"
        )
    return geohash_col(
        F.expr(lat_code_sql(lat, precision)),
        F.expr(lon_code_sql(lon, precision)),
        precision,
    )


def geohash_sql(lat: str, lon: str, precision: int) -> str:
    """DuckDB twin of `geohash` — same quantization text, `>> & * +`
    integer interleave, substr alphabet lookup."""
    assert 1 <= precision <= MAX_PRECISION
    la, lo = lat_code_sql(lat, precision), lon_code_sql(lon, precision)
    chars = []
    for bits in _interleave_char_bits(precision):
        terms = []
        for t, (src, k, nbits) in enumerate(bits):
            code = lo if src == "lon" else la
            terms.append(f"((({code}) >> {nbits - 1 - k}) & 1) * {1 << (4 - t)}")
        chars.append(f"substr('{B32}', 1 + ({' + '.join(terms)}), 1)")
    return "(" + " || ".join(chars) + ")"


def _decode_codes(gh: Column, precision: int) -> tuple[Column, Column]:
    """(lat_code, lon_code) recovered from a geohash string — exact
    integer reassembly of the interleaved bits."""
    alphabet = F.array(*[F.lit(ch) for ch in B32])
    lat_code = F.lit(0).cast("long")
    lon_code = F.lit(0).cast("long")
    for c, bits in enumerate(_interleave_char_bits(precision)):
        val = F.array_position(alphabet, F.substring(gh, c + 1, 1)) - 1
        for t, (src, k, nbits) in enumerate(bits):
            bit = F.shiftright(val.cast("long"), 4 - t).bitwiseAND(F.lit(1))
            shifted = bit * F.lit(1 << (nbits - 1 - k))
            if src == "lon":
                lon_code = lon_code + shifted
            else:
                lat_code = lat_code + shifted
    return lat_code, lon_code


def decode_center_sql(lat_code: str, lon_code: str, precision: int) -> tuple[str, str]:
    """Shared Spark/DuckDB SQL texts for the cell-center (lat, lon) of
    integer geohash codes."""
    lonbits, latbits = _bit_split(precision)
    lat = (
        f"(-90.0e0 + (cast({lat_code} as double) + 0.5e0) * "
        f"{dlit(180.0 / 2 ** latbits)})"
    )
    lon = (
        f"(-180.0e0 + (cast({lon_code} as double) + 0.5e0) * "
        f"{dlit(360.0 / 2 ** lonbits)})"
    )
    return lat, lon


def geohash_decode(gh: Column, precision: int) -> tuple[Column, Column]:
    """(lat, lon) cell center of a geohash string (Spark-native; the
    float step mirrors decode_center_sql's exact arithmetic shape)."""
    lat_code, lon_code = _decode_codes(gh, precision)
    # same arithmetic SHAPE as decode_center_sql (one cast, one add, one
    # multiply, dlit-exact literals) — IEEE ops on identical inputs in
    # identical order are deterministic, so a twin decoding the same
    # string matches bit-for-bit
    lonbits, latbits = _bit_split(precision)
    lat = F.lit(-90.0) + (lat_code.cast("double") + F.lit(0.5)) * F.lit(
        180.0 / 2**latbits
    )
    lon = F.lit(-180.0) + (lon_code.cast("double") + F.lit(0.5)) * F.lit(
        360.0 / 2**lonbits
    )
    return lat, lon
