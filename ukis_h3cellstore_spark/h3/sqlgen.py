"""Dialect-paired SQL fragments for H3 bit arithmetic.

The driver's correctness gate runs every Spark query side-by-side with
a DuckDB oracle (``__spark_entry__.oracle_sql``). H3 hierarchy math is
pure integer bit arithmetic, so the *same* logic can be emitted as SQL
text for both engines — this module is the single place that knows the
two dialects' syntax differences:

==============  =====================  =====================
operation       Spark SQL              DuckDB
==============  =====================  =====================
shift right     shiftright(x, n)       (x >> n)
shift left      shiftleft(x, n)        (x << n)
integer div     (x div y)              (x // y)
==============  =====================  =====================

Bitwise AND/OR (``&``/``|``) and ``%`` agree. All fragments mirror
:mod:`ukis_h3cellstore_spark.h3.cells`.
"""

from __future__ import annotations

from ukis_h3cellstore_spark.h3 import cells as c

SPARK = "spark"
DUCKDB = "duckdb"

_RES_CLEAR_SIGNED = (~(0xF << 52)) & ((1 << 64) - 1)
_RES_CLEAR_SIGNED -= 1 << 64  # two's-complement signed literal


def _shr(x: str, n: int, dialect: str) -> str:
    return f"shiftright({x}, {n})" if dialect == SPARK else f"({x} >> {n})"


def _shl(x: str, n: int, dialect: str) -> str:
    # widen to 64-bit first — INT32 inputs (e.g. int columns) would
    # overflow the shift in both engines
    if dialect == SPARK:
        return f"shiftleft(CAST({x} AS BIGINT), {n})"
    return f"(CAST({x} AS BIGINT) << {n})"


def _idiv(x: str, y: int, dialect: str) -> str:
    return f"({x} div {y})" if dialect == SPARK else f"({x} // {y})"


def resolution(x: str, dialect: str) -> str:
    """`h3GetResolution` as SQL."""
    return f"({_shr(x, 52, dialect)} & 15)"


def base_cell(x: str, dialect: str) -> str:
    """`h3GetBaseCell` as SQL."""
    return f"({_shr(x, 45, dialect)} & 127)"


def to_parent(x: str, parent_res: int, dialect: str) -> str:
    """`h3ToParent(x, parent_res)` as SQL (static resolution)."""
    fill = (parent_res << 52) | c.trailing_sevens(parent_res)
    return f"(({x} & {_RES_CLEAR_SIGNED}) | {fill})"


def children_count(diff: int) -> str:
    """Hexagon child count 7^diff as an exact bigint literal."""
    return str(7**diff)


def synth_cell(key: str, res: int, dialect: str) -> str:
    """Derive a deterministic, valid, non-pentagon H3 cell at ``res``
    from an integer key expression — identical in both dialects.

    base cell = key % 122, bumped by +1 off the 12 pentagon base cells
    (no two pentagon ids are adjacent and 117+1=118 ≤ 121, so the bump
    is always valid); digit_i = (key // 7^(i-1)) % 7. This gives the
    synthetic tables a realistic skewed-but-valid spatial distribution
    without any geographic math.
    """
    pents = ", ".join(str(p) for p in sorted(c.PENTAGON_BASE_CELLS))
    bc0 = f"({key} % 122)"
    bc = f"(CASE WHEN {bc0} IN ({pents}) THEN {bc0} + 1 ELSE {bc0} END)"
    const = (c.MODE_CELL << 59) | (res << 52) | c.trailing_sevens(res)
    parts = [str(const), _shl(bc, 45, dialect)]
    for i in range(1, res + 1):
        digit = f"({_idiv(key, 7 ** (i - 1), dialect)} % 7)"
        parts.append(_shl(digit, 3 * (15 - i), dialect))
    return "(" + " | ".join(parts) + ")"
