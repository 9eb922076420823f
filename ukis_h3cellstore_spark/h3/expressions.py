"""Spark ``Column`` expressions for H3 hierarchy math.

These are pure JVM-side bit-arithmetic expressions (no Python UDFs), so
they participate in whole-stage codegen and can be pushed into
partition/filter pruning. They mirror
:mod:`ukis_h3cellstore_spark.h3.cells` exactly.

Hot-path functions per SURVEY.md §7.1: ``h3_get_resolution``,
``h3_to_parent``, ``h3_get_base_cell`` (reference generates these as
ClickHouse SQL — partitioning.rs:121-127, insert.rs:481-505).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ukis_h3cellstore_spark.h3 import cells as c

_RES_CLEAR = ~(0xF << 52) & ((1 << 64) - 1)  # fits in signed 64-bit as negative
# Python's ~ on ints is fine for Spark literals as long as the value is
# within signed-64 range; compute the signed representation explicitly.
_RES_CLEAR_SIGNED = _RES_CLEAR - (1 << 64)  # = ~(0xF << 52) in two's complement


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def h3_get_resolution(col: Column | str) -> Column:
    """``(cell >> 52) & 15`` — reference `h3GetResolution`."""
    return F.shiftrightunsigned(_col(col), 52).bitwiseAND(F.lit(0xF))


def h3_get_base_cell(col: Column | str) -> Column:
    """``(cell >> 45) & 127`` — reference `h3GetBaseCell`."""
    return F.shiftrightunsigned(_col(col), 45).bitwiseAND(F.lit(0x7F))


def h3_to_parent(col: Column | str, parent_res: int) -> Column:
    """Ancestor at a *static* resolution — single OR/AND chain.

    ``(cell & ~RES_MASK) | (res << 52) | trailing_sevens(res)``.
    Caller guarantees cell resolution ≥ parent_res (as the reference
    does — h3ToParent on coarser cells is undefined there too).
    """
    fill = c.trailing_sevens(parent_res)
    return (
        _col(col)
        .bitwiseAND(F.lit(_RES_CLEAR_SIGNED))
        .bitwiseOR(F.lit((parent_res << 52) | fill))
    )


def h3_to_parent_dyn(col: Column | str, parent_res: Column) -> Column:
    """Ancestor at a *dynamic* (per-row) resolution.

    The trailing-sevens mask is ``2^(3*(15-res)) - 1``; computed via a
    16-arm CASE to stay in exact integer arithmetic (pow() would go
    through doubles).
    """
    col = _col(col)
    expr = None
    for r in range(16):
        mask = F.lit((r << 52) | c.trailing_sevens(r))
        cond = parent_res == r
        expr = F.when(cond, mask) if expr is None else expr.when(cond, mask)
    return col.bitwiseAND(F.lit(_RES_CLEAR_SIGNED)).bitwiseOR(expr)


def h3_is_pentagon(col: Column | str) -> Column:
    col = _col(col)
    digit_area = col.bitwiseAND(F.lit((1 << 45) - 1))
    # 2^(3*(15-res)) - 1; exact in double arithmetic up to 2^45
    shift = ((F.lit(15) - h3_get_resolution(col)) * 3).cast("double")
    trailing = F.pow(F.lit(2.0), shift).cast("long") - 1
    is_pent_base = h3_get_base_cell(col).isin(*sorted(c.PENTAGON_BASE_CELLS))
    return is_pent_base & (digit_area == trailing)


def h3_children_count(col: Column | str, child_res: int | Column) -> Column:
    """Exact descendant count at ``child_res`` (pentagon-aware).

    Reference parity: `length(h3ToChildren(parent, src_res))`
    (insert.rs:393) used as the RelativeToCellArea divisor.
    """
    col = _col(col)
    child_res = F.lit(child_res) if isinstance(child_res, int) else child_res
    diff = child_res - h3_get_resolution(col)
    # 7^diff via pow on doubles is exact up to 7^18 < 2^53 → safe for diff ≤ 15
    hex_count = F.pow(F.lit(7.0), diff.cast("double")).cast("long")
    pent_count = (F.lit(1) + F.lit(5) * (hex_count - F.lit(1)) / F.lit(6)).cast("long")
    return F.when(h3_is_pentagon(col), pent_count).otherwise(hex_count)


#: bit 0 of every 3-bit digit group in the 45-bit digit area
_DIGIT_LOW_BITS = sum(1 << (3 * k) for k in range(15))


def h3_is_valid_cell(col: Column | str) -> Column:
    """Structural validity (high bit, mode, base cell range, digit rules).

    Branch-free bit algebra instead of a 15-way per-digit unroll — a
    ~25-op expression a probe-entry filter can afford on half a
    billion rows (the unrolled form fell out of whole-stage codegen
    budgets and was measured 40× on expansion-sized scans):

    - a digit equals 7 iff all three of its bits are set, so
      ``u & u>>1 & u>>2`` masked to the groups' low bits finds ANY
      7-digit in the used range in three ops;
    - the unused trailing range must be ALL 7s == ALL ones, one mask
      compare;
    - the pentagon K-axis rule needs "first nonzero digit == 1",
      which holds iff the HIGHEST set bit of the used digit area
      falls on a group's low bit (bits 1/2 of that group are clear
      by definition of highest) — one 6-step smear isolates it.
    """
    col = _col(col)
    res = h3_get_resolution(col)
    # 2^(3*(15-res)) − 1: all bits of the unused trailing digit range.
    # pow on doubles is exact here (≤ 2^45 < 2^53)
    mask_low = (
        F.pow(F.lit(2.0), (F.lit(45) - res * 3).cast("double")).cast("long")
        - 1
    )
    digit_area = col.bitwiseAND(F.lit((1 << 45) - 1))
    used = digit_area.bitwiseAND(F.bitwise_not(mask_low))
    sevens = (
        used.bitwiseAND(F.shiftrightunsigned(used, 1))
        .bitwiseAND(F.shiftrightunsigned(used, 2))
        .bitwiseAND(F.lit(_DIGIT_LOW_BITS))
    )
    ok = (
        (col >= 0)
        & (F.shiftrightunsigned(col, 59).bitwiseAND(F.lit(0xF)) == c.MODE_CELL)
        & (F.shiftrightunsigned(col, 56).bitwiseAND(F.lit(0x7)) == 0)
        & (h3_get_base_cell(col) <= 121)
        & (sevens == 0)
        & (digit_area.bitwiseAND(mask_low) == mask_low)
    )
    # pentagon rule: first nonzero digit must not be the deleted K
    # axis (1) — i.e. the HIGHEST set bit of the used digit area falls
    # on a group's low bit. Split the bits into the groups' low-bit
    # plane and the rest: the planes occupy disjoint positions, so the
    # overall top bit lies in the low plane iff the low-plane value
    # exceeds the rest — one compare, no bit-smear (a smear chain
    # duplicates the expression tree exponentially and falls out of
    # codegen budgets)
    m1 = used.bitwiseAND(F.lit(_DIGIT_LOW_BITS))
    m24 = used.bitwiseAND(F.lit(((1 << 45) - 1) & ~_DIGIT_LOW_BITS))
    pent_base = h3_get_base_cell(col).isin(*sorted(c.PENTAGON_BASE_CELLS))
    ok = ok & ~(pent_base & (m1 > m24))
    return ok


# Uncompaction fan-out envelope: one expansion stage explodes every
# parent row into a sequence of 7^diff child ids, which Spark folds into
# one constant int array shipped with the stage's tasks, so diff must
# be capped — at diff 8 (compacted res-0/1 rows under a res-9 query)
# the array holds 5.8M ids (~23 MB), at diff 10 282M ids (~1.1 GB).
# MAX_OFFSET_DIFF = 6 keeps every sequence at <= 7^6 = 117,649 ids
# (~0.5 MB); wider expansions go through h3_expand_to_children, which
# chains stages of <= MAX_OFFSET_DIFF steps each (the row count of the
# EXPANDED data is the same either way — only the per-row sequence is
# bounded).
MAX_OFFSET_DIFF = 6


def h3_uncompact_stages(parent_res: int, child_res: int) -> list[tuple[int, int]]:
    """Split parent_res→child_res into (lo, hi) stages of at most
    MAX_OFFSET_DIFF resolution steps each."""
    stages: list[tuple[int, int]] = []
    r = parent_res
    while r < child_res:
        nxt = min(r + MAX_OFFSET_DIFF, child_res)
        stages.append((r, nxt))
        r = nxt
    return stages


def h3_pentagon_rule_staged(
    col: Column | str, parent_res: int, child_res: int
) -> Column:
    """The pentagon K-axis clause of :func:`h3_is_valid_cell` for the
    output of one uncompaction stage with STATIC resolutions: False iff
    the cell sits on a pentagon base cell, its digits 1..``parent_res``
    are all zero (a pentagon parent), and its first nonzero appended
    digit is the deleted K axis (1).

    Children of structurally-VALID parents can violate nothing else —
    every other clause of the full validity tree (mode bits, base-cell
    range, digit-vs-resolution rules) is preserved by OR-ing child
    digits into a valid parent — so the expansion filter needs only
    this clause, with the same verdicts as :func:`h3_is_valid_cell` on
    such children. The resolutions are literals, so there is no per-row
    res decode, the pentagon parent is ONE static mask test, and the
    unrolled K-axis scan covers only the ``child_res - parent_res`` ≤
    MAX_OFFSET_DIFF appended digit positions. The pentagon-base
    membership test comes first and whole-stage codegen short-circuits
    ``And``, so the ~99% of rows on hexagon base cells never evaluate
    the scan (the full tree was measured 40× on expansion throughput:
    a 284M-row diff-6 stage ran 4.1 s unfiltered vs 164.8 s under
    h3_is_valid_cell)."""
    col = _col(col)
    pent_base = h3_get_base_cell(col).isin(*sorted(c.PENTAGON_BASE_CELLS))
    if parent_res > 0:
        parent_digits = F.shiftrightunsigned(
            col, 3 * (15 - parent_res)
        ).bitwiseAND(F.lit((1 << (3 * parent_res)) - 1))
        pent_parent = pent_base & (parent_digits == 0)
    else:
        pent_parent = pent_base
    leading_k = F.lit(False)
    for r in range(parent_res + 1, child_res + 1):
        digit = F.shiftrightunsigned(col, 3 * (15 - r)).bitwiseAND(F.lit(0x7))
        if r == parent_res + 1:
            appended_zero = F.lit(True)
        else:
            width = 3 * (r - 1 - parent_res)
            appended = F.shiftrightunsigned(
                col, 3 * (15 - (r - 1))
            ).bitwiseAND(F.lit((1 << width) - 1))
            appended_zero = appended == 0
        leading_k = leading_k | (appended_zero & (digit == 1))
    return ~(pent_parent & leading_k)


def h3_expand_to_children(
    df: DataFrame,
    h3name: str,
    parent_res: int,
    child_res: int,
    filter_invalid: bool = False,
) -> DataFrame:
    """Expand ``h3name`` (uniform ``parent_res`` cells) to all
    ``child_res`` descendants in-plan: each row explodes a sequence of
    child ids whose base-7 digits become the child's appended digits
    (:func:`_child_offset`), so the expansion is one narrow Generate —
    no join, no broadcast job. Staged so no per-row sequence exceeds
    7^MAX_OFFSET_DIFF ids. All other columns pass through (each
    parent's values repeat on every descendant row — the uncompaction
    semantics of mod.rs:459-477).

    ``filter_invalid=True`` drops K-axis pentagon descendants after
    EVERY stage — required when pentagon parents may be present, and
    cheaper mid-pipeline than carrying invalid subtrees into the next
    7^k fan-out.

    Between stages the frame is hash-repartitioned on the (partially
    expanded) cell. Coarse compacted rows are FEW by construction —
    a compacted table's res-0/1 stratum might be a handful of rows in
    one parquet footer — so without the redistribution every later
    stage's 7^k fan-out would run inside the input's original task:
    one task emitting 7^10 ≈ 282M rows while 31 cores idle. One small
    shuffle (≤ n·7^MAX_OFFSET_DIFF rows, only when diff >
    MAX_OFFSET_DIFF) buys full parallelism on the expensive stages;
    single-stage expansions (the common pyramid case) add no shuffle."""
    spark = df.sparkSession
    cols = df.columns
    stages = h3_uncompact_stages(parent_res, child_res)
    for i, (lo, hi) in enumerate(stages):
        if i > 0:
            df = df.repartition(
                spark.sparkContext.defaultParallelism, F.col(h3name)
            )
        child = F.explode(F.sequence(F.lit(0), F.lit(7 ** (hi - lo) - 1)))
        df = (
            df.select(*cols, child.alias("__child_idx"))
            .withColumn(
                h3name,
                h3_uncompact_expr(
                    F.col(h3name), lo, hi, _child_offset(F.col("__child_idx"), lo, hi)
                ),
            )
            .select(*cols)
        )
        if filter_invalid:
            # parents are valid cells at every call site, so the only
            # droppable children are pentagon K-axis subtrees — the
            # full h3_is_valid_cell tree is 40× per-row overkill here,
            # and this stage's static (lo, hi) shrinks the rule further
            df = df.filter(h3_pentagon_rule_staged(F.col(h3name), lo, hi))
    return df


def _child_offset(idx: Column, parent_res: int, child_res: int) -> Column:
    """The OR-mask that turns a parent cell at ``parent_res`` (with its
    trailing 7s cleared) into its ``idx``-th child at ``child_res``
    (0 <= idx < 7^(child_res-parent_res)): the base-7 digits of ``idx``,
    most-significant first, become the appended digits, followed by the
    child resolution's trailing 7s."""
    diff = child_res - parent_res
    offset = F.lit(c.trailing_sevens(child_res))
    for i in range(diff):
        # digit for resolution parent_res+1+i
        digit = (idx / F.lit(7 ** (diff - 1 - i))).cast("long") % 7
        offset = offset.bitwiseOR(
            F.shiftleft(digit, 3 * (15 - (parent_res + 1 + i)))
        )
    return offset


def h3_uncompact_expr(cell: Column, parent_res: int, child_res: int, offset: Column) -> Column:
    """Combine a parent cell with a child offset (:func:`_child_offset`)."""
    # clear resolution field and the trailing-7 digits, then OR in the
    # child resolution + offset digits (offset includes the new trailing 7s)
    cleared = cell.bitwiseAND(F.lit(_RES_CLEAR_SIGNED)).bitwiseAND(
        F.lit(~c.trailing_sevens(parent_res))
    )
    return cleared.bitwiseOR(F.lit(child_res << 52)).bitwiseOR(offset)
