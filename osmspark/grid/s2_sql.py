"""S2 cell-id encode as pure Spark SQL expressions (JVM-side codegen).

The published S2 design (sphere → cube face → quadratic ST → leaf (i,j)
→ Hilbert walk → 64-bit cell id of 3 face bits, 2·level position bits
and one trailing '1' sentinel) expressed as Column expressions, so the
S2 tiling hot path — like the hex path in :mod:`hexgrid_sql` — runs
inside whole-stage codegen with NO Python worker or Arrow hop. The
DuckDB oracle (`__spark_entry__._s2_tiles_oracle_sql`) re-states the
identical arithmetic (values are bit-identical either way).

Hilbert walk, r2 → r3 redesign. The r2 version batched the 30-level
orientation recursion into 8 table-lookup rounds of
``element_at(lit(<1024-entry array>), idx)``. Correct, but the generated
code was one 87 KB whole-stage subtree whose merged ``doConsume`` methods
sat at HotSpot's JIT bytecode limit — every fresh executor JVM paid
seconds of interpreted warm-up (and the per-round ANSI bounds machinery
kept steady-state ~5x slower than the hex path).

This version packs each 16-entry traversal table (4 orientations x 4
(i,j) sub-cells, 2-bit entries — ``_IJ_TO_POS`` below) into ONE 32-bit
integer literal and looks entries up with a shift-and-mask::

    idx      = (orient << 2) | (i_bit << 1) | j_bit      # 0..15
    sub_pos  = (0x361e9cb4 >> (idx*2)) & 3               # _IJ_TO_POS
    orient'  = (0x8fe65831 >> (idx*2)) & 3               # orient ^ _POS_TO_ORIENTATION[sub_pos]

so a level is ~12 cheap integer ops with no array literal, no CASE
chain, and no ANSI bounds checks. And the walk runs ONLY the top
``level`` steps, not all 30: the walk is MSB-first, so a level-10 cell
id depends on just the first 10 steps — the other 20 compute bits the
parent mask discards. Profiling showed the r2 regression was mostly
*driver-side plan compilation* (~1.9 s of Catalyst time per fresh plan
on the 30-level trees, vs ~0.9 s of execution); shrinking the tree 3x cuts both: measured at sf0.1 / 1M
rows, plan ~0.5 s + exec ~0.4 s vs r2's 2.4 s total.

Two structural constraints shape the loop (both measured, see
BENCH/host_calibration.json provenance and VERDICT r2):

* **Projection count**: each Project boundary copies the row, so the
  levels are batched ``_LEVELS_PER_ROUND``-per-projection, nesting the
  orient chain inside a round.
* **Substitution-linear chain**: optimizer rules that track column
  lineage through Projects (dynamic partition pruning, predicate
  pushdown, runtime filters) rewrite conditions by RECURSIVE alias
  substitution. Any chain whose outputs reference a prior column more
  than once makes that rewrite exponential — an earlier draft using a
  parallel-prefix scan over GF(2) matrices (4 refs/step) hung the
  driver inside ``PartitionPruning.findExpressionAndTrackLineageDown``
  as soon as the encode fed a join. Here ``_orient`` is referenced
  exactly once per level (``idx`` → lookup), so lineage expansion stays
  O(levels^2) and the encode is safe under joins/filters on ``cell``.

Float semantics: sin/cos/sqrt run on java.lang.Math here vs NumPy's libm
in the tests' NumPy oracle — both claim ≤ 1 ulp; a disagreement only
matters for a point within ~1e-16 of a cell boundary (probability
~1e-7 per point, absent on the pinned test data — the same caveat the
DuckDB oracle documents).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["with_s2_cell_sql", "s2_parent_col"]

_MAX_LEVEL = 30

# Hilbert sub-cell traversal tables (public S2 constants), indexed
# [orientation][(i_bit << 1) | j_bit]; orientation bits: 1 = swap i/j,
# 2 = invert both.
_IJ_TO_POS = ((0, 1, 3, 2), (0, 3, 1, 2), (2, 3, 1, 0), (2, 1, 3, 0))
_POS_TO_ORIENTATION = (1, 0, 0, 3)


def s2_parent_col(cell: Column, level: int) -> Column:
    """Ancestor at ``level``, pure SQL: the standard S2 lsb arithmetic
    (mask off finer position bits, set the level sentinel). uint64 bit
    ops == int64 bit ops on the same bit pattern, so this matches the
    uint64 arithmetic exactly (pinned by tests/test_grid.py)."""
    lsb = 1 << (2 * (_MAX_LEVEL - level))
    mask = ~(lsb - 1) & ((1 << 64) - 1)
    if mask >= 1 << 63:
        mask -= 1 << 64
    return cell.bitwiseAND(F.lit(mask)).bitwiseOR(F.lit(lsb))


def _pack_table() -> int:
    """Pack the fused traversal table into one 64-bit literal: entry at
    index (orient<<2)|(i_bit<<1)|j_bit is (_IJ_TO_POS[o,ij] << 2) |
    (o ^ _POS_TO_ORIENTATION[sub]) — sub-cell position in the high two
    bits, next orientation in the low two (4 bits x 16 entries)."""
    lit = 0
    for o in range(4):
        for ij in range(4):
            sub = _IJ_TO_POS[o][ij]
            nxt = o ^ _POS_TO_ORIENTATION[sub]
            lit |= ((sub << 2) | nxt) << (((o << 2) | ij) * 4)
    return lit


_WALK_LIT = _pack_table()

# Levels fused into one projection round (must divide MAX_LEVEL=30).
# Trade-off measured by profiling: fewer rounds = fewer
# per-Project row copies but bigger doConsume bodies; with the packed
# shift-mask lookup all of {3, 5, 6} stay under the JIT method limit.
_LEVELS_PER_ROUND = 5


def with_s2_cell_sql(df: DataFrame, level: int, lat_col: str = "lat",
                     lon_col: str = "lon", out: str = "cell") -> DataFrame:
    """Append the S2 cell id at ``level`` as a pure-SQL column.

    Bit-identical to the NumPy S2 encoder the tests keep as its oracle
    (tests/test_grid.py parity test); returns the input columns + ``out``.
    """
    if not 0 <= level <= _MAX_LEVEL:
        raise ValueError(f"level must be in [0, {_MAX_LEVEL}]")
    lat, lon = F.col(lat_col), F.col(lon_col)
    phi, theta = F.radians(lat), F.radians(lon)
    cos_phi = F.cos(phi)
    x = F.cos(theta) * cos_phi
    y = F.sin(theta) * cos_phi
    z = F.sin(phi)
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    f0 = (F.when(ax >= ay, F.when(ax >= az, F.lit(0)).otherwise(F.lit(2)))
          .otherwise(F.when(ay >= az, F.lit(1)).otherwise(F.lit(2))))

    work = (df.withColumn("_x", x).withColumn("_y", y).withColumn("_z", z)
            .withColumn("_f0", f0))
    face = (F.when((F.col("_f0") == 0) & (F.col("_x") < 0), F.lit(3))
            .when((F.col("_f0") == 1) & (F.col("_y") < 0), F.lit(4))
            .when((F.col("_f0") == 2) & (F.col("_z") < 0), F.lit(5))
            .otherwise(F.col("_f0")))
    work = work.withColumn("_face", face)

    xc, yc, zc, fc = F.col("_x"), F.col("_y"), F.col("_z"), F.col("_face")
    u = (F.when(fc == 0, yc / xc).when(fc == 1, -xc / yc)
         .when(fc == 2, -xc / zc).when(fc == 3, zc / xc)
         .when(fc == 4, zc / yc).otherwise(-yc / zc))
    v = (F.when(fc == 0, zc / xc).when(fc == 1, zc / yc)
         .when(fc == 2, -yc / zc).when(fc == 3, yc / xc)
         .when(fc == 4, -xc / yc).otherwise(-xc / zc))

    def st(c: Column) -> Column:
        # S2_QUADRATIC_PROJECTION; CASE branches evaluate lazily, so no
        # sqrt-domain guard is needed (1±3c ≥ 1 on the taken branch)
        return (F.when(c >= 0.0, F.lit(0.5) * F.sqrt(F.lit(1.0) + F.lit(3.0) * c))
                .otherwise(F.lit(1.0) - F.lit(0.5)
                           * F.sqrt(F.lit(1.0) - F.lit(3.0) * c)))

    def ij(c: Column) -> Column:
        scaled = F.floor(c * F.lit(float(1 << _MAX_LEVEL))).cast("long")
        return F.greatest(F.lit(0).cast("long"),
                          F.least(F.lit((1 << _MAX_LEVEL) - 1).cast("long"),
                                  scaled))

    work = (work.withColumn("_i", ij(st(u))).withColumn("_j", ij(st(v)))
            .withColumn("_orient", F.col("_face").bitwiseAND(F.lit(1)))
            .withColumn("_pos", F.lit(0).cast("long")))

    # Hilbert walk — ONLY the top `level` steps. The walk is MSB-first:
    # the cell id at `level` is the leaf id with everything below
    # bit 2*(30-level) replaced by the 100..0 center sentinel, and the
    # surviving pos bits are exactly the first `level` steps' output —
    # so the remaining 30-level steps compute bits the parent mask
    # throws away. Skipping them shrinks BOTH the driver plan-compile
    # cost (the r2 regression was ~1.9s of optimizer time on the
    # 30-level expression trees, measured by profiling) and
    # the executed work, ~proportionally to level/30.
    #
    # Per level: one fused shift-mask lookup (sub_pos and next orient
    # share the 4-bit entry, so each level's lookup value — and through
    # it the orient chain — is referenced once by the pos path and once
    # by the next level: in-round duplication stays O(levels^2) tiny
    # and the cross-round chain is substitution-linear).
    walk_lit = F.lit(_WALK_LIT).cast("long")
    ks = list(range(_MAX_LEVEL - 1, _MAX_LEVEL - 1 - level, -1))
    rounds = [ks[i:i + _LEVELS_PER_ROUND]
              for i in range(0, len(ks), _LEVELS_PER_ROUND)]
    for levels in rounds:
        orient = F.col("_orient")
        pos = F.col("_pos")
        for k in levels:
            ib = F.shiftright(F.col("_i"), k).bitwiseAND(F.lit(1)).cast("int")
            jb = F.shiftright(F.col("_j"), k).bitwiseAND(F.lit(1)).cast("int")
            idx4 = F.shiftleft(
                F.shiftleft(orient, 2).bitwiseOR(F.shiftleft(ib, 1))
                .bitwiseOR(jb), 2)
            val = F.call_function("shiftright", walk_lit, idx4).bitwiseAND(F.lit(15))
            pos = F.shiftleft(pos, 2).bitwiseOR(F.shiftright(val, 2))
            orient = val.bitwiseAND(F.lit(3)).cast("int")
        work = work.withColumns({"_pos": pos, "_orient": orient})

    # [3b face][2·level bits pos][1 sentinel][zeros]: _pos holds the top
    # 2*level bits; placing them at bit 2*(30-level)+1 and setting the
    # sentinel lsb reproduces exactly (leaf & -lsb) | lsb of the full
    # 30-level pack (the S2 parent rule), bit-identical to the leaf
    # id's ancestor at this level.
    lsb = 1 << (2 * (_MAX_LEVEL - level))
    cell = (F.shiftleft(F.col("_face").cast("long"), 61)
            .bitwiseOR(F.shiftleft(F.col("_pos"),
                                   2 * (_MAX_LEVEL - level) + 1))
            .bitwiseOR(F.lit(lsb).cast("long")))
    return (work.withColumn(out, cell)
            .drop("_x", "_y", "_z", "_f0", "_face", "_i", "_j",
                  "_orient", "_pos"))
