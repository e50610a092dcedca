"""Geohash (base-32) cell encoding — the fourth cell-index family
(alongside Morton `functions/cells`, true S2 `functions/s2`, hexagonal
`functions/hexgrid`), engine-new vs the reference (SURVEY §2.4 G1).

The canonical interval-bisection algorithm is equivalent, away from
exact cell boundaries, to taking the top bits of
``floor((coord - lo) / span * 2^bits)`` per axis and interleaving them
lon-first MSB-down — which is pure bounded-integer column arithmetic:
codegen'd JVM expressions, no UDF, no Python in the hot path, and an
identical plain-SQL twin for the DuckDB oracle.

Interleave layout (precision p, 5p bits total, lon gets the extra bit
when 5p is odd): writing bit positions from the LSB, lon bits land at
even positions when 5p is odd and at odd positions when 5p is even —
both reduce to one bit-spread per axis plus a shift: the Morton index's
own axis and spread helpers (``functions/cells``), whose 32-bit-input
spread covers precision 12's 30 lon bits (ids stay < 2^60, positive in
signed 64-bit in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from osm2geojson_spark.functions.cells import (
    _axis_expr,
    _axis_sql,
    _spread_expr,
    _spread_sql,
)

ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
MAX_PRECISION = 12

_ALPHA_ARR = None  # built lazily: module import must not need a session


def _bits(precision: int) -> tuple[int, int]:
    total = 5 * precision
    lon_bits = (total + 1) // 2
    return lon_bits, total - lon_bits


def geohash_int_expr(lon: Column, lat: Column, precision: int) -> Column:
    """The 5*precision-bit interleaved integer (sortable: prefix order
    == geohash string prefix order)."""
    if not 0 < precision <= MAX_PRECISION:
        raise ValueError(f"precision must be in 1..{MAX_PRECISION}")
    lon_bits, lat_bits = _bits(precision)
    ix = _axis_expr(lon, -180.0, 360.0, lon_bits)
    iy = _axis_expr(lat, -90.0, 180.0, lat_bits)
    if (5 * precision) % 2:  # odd total: lon on even LSB positions
        return _spread_expr(ix).bitwiseOR(F.shiftleft(_spread_expr(iy), 1))
    return F.shiftleft(_spread_expr(ix), 1).bitwiseOR(_spread_expr(iy))


def geohash_expr(lon: Column, lat: Column, precision: int) -> Column:
    """Geohash string of length ``precision`` — base-32 digits peeled
    off the interleaved integer, 5 bits per character, MSB first."""
    global _ALPHA_ARR
    if _ALPHA_ARR is None:
        _ALPHA_ARR = F.array(*[F.lit(c) for c in ALPHABET])
    val = geohash_int_expr(lon, lat, precision)
    chars = [
        F.element_at(
            _ALPHA_ARR,
            (F.shiftright(val, 5 * (precision - 1 - i))
             .bitwiseAND(F.lit(31)) + F.lit(1)).cast("int"),
        )
        for i in range(precision)
    ]
    return F.concat(*chars)


# ---------------------------------------------------------------- SQL twin
def geohash_int_sql(lon: str, lat: str, precision: int) -> str:
    lon_bits, lat_bits = _bits(precision)
    ix = _axis_sql(lon, -180.0, 360.0, lon_bits)
    iy = _axis_sql(lat, -90.0, 180.0, lat_bits)
    if (5 * precision) % 2:
        return f"({_spread_sql(ix)} | ({_spread_sql(iy)} << 1))"
    return f"(({_spread_sql(ix)} << 1) | {_spread_sql(iy)})"


def geohash_sql(lon: str, lat: str, precision: int) -> str:
    val = geohash_int_sql(lon, lat, precision)
    parts = [
        f"substr('{ALPHABET}', "
        f"CAST((((({val}) >> {5 * (precision - 1 - i)})) & 31) + 1 AS INT)"
        f", 1)"
        for i in range(precision)
    ]
    return "(" + " || ".join(parts) + ")"


# ------------------------------------------------------------- pure-Python
def geohash_ref(lon: float, lat: float, precision: int) -> str:
    """Textbook interval-bisection reference (independent algorithm —
    no shared bit tricks with the column expressions)."""
    lo_x, hi_x, lo_y, hi_y = -180.0, 180.0, -90.0, 90.0
    out, bit, ch, even = [], 0, 0, True
    while len(out) < precision:
        if even:
            mid = (lo_x + hi_x) / 2
            if lon >= mid:
                ch = ch * 2 + 1
                lo_x = mid
            else:
                ch *= 2
                hi_x = mid
        else:
            mid = (lo_y + hi_y) / 2
            if lat >= mid:
                ch = ch * 2 + 1
                lo_y = mid
            else:
                ch *= 2
                hi_y = mid
        even = not even
        bit += 1
        if bit == 5:
            out.append(ALPHABET[ch])
            bit, ch = 0, 0
    return "".join(out)
