"""Mergeable distinct-count sketch (HyperLogLog, m = 64 registers).

The cardinality primitive a 10^12-row corpus needs where
``count(distinct x)`` is unpayable: per-group distinct counts in ONE
combinable aggregation pass whose intermediate state is 64 small
integers per group — partial sketches from different partitions, days,
or clusters merge by register-wise ``max`` and NEVER need the raw
values again. Spark's own ``approx_count_distinct`` is the same idea
but its HLL++ state is opaque and engine-specific; this one is built
from engine-portable integer ops so a DuckDB oracle reproduces every
register AND the estimate bit-for-bit.

Exactness discipline (the repo rule: floats only where pinned):

* the 60-bit hash is the established md5 bridge
  (``('0x'||substr(md5(v||':hllSEED'),1,15))::BIGINT`` in any engine);
* register index ``j = h % 64``; the remaining 54 bits give
  ``rho = 55 - bitlen(w)`` computed as a LINEAR sum of 54 threshold
  comparisons — no log2 (a libm last-ulp lottery), no chained shifts
  (the Catalyst multi-reference substitution landmine, see
  grid/s2_sql.py);
* the harmonic sum is kept RATIONAL: ``Z = S / 2^55`` with
  ``S = sum(2^(55-M[j]))`` over all 64 registers — ``S <= 64·2^55 =
  2^61`` fits int64 exactly, so the only float op in the whole sketch
  is the final division ``est = ALPHA_M2_P55 / S`` (one IEEE-exact
  literal ÷ an exactly-representable integer: bit-identical in every
  IEEE-754 engine).

No small/large-range corrections are applied (they need ``ln``);
``v_zero`` (empty-register count) is emitted so a caller can apply
linear counting where it cares to.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["hll_registers", "hll_estimate", "hll_distinct",
           "M_REGS", "RHO_MAX", "ALPHA_M2_P55"]

M_REGS = 64          # registers; standard error 1.04/sqrt(64) ~ 13%
RHO_MAX = 55         # 60-bit hash - 6 index bits = 54 rho bits; rho(0)=55
# alpha_64 * 64^2 * 2^55, alpha_64 = 0.7213/(1 + 1.079/64) — pinned so
# the oracle inlines the IDENTICAL decimal literal (shortest repr
# round-trips): est = ALPHA_M2_P55 / S.
ALPHA_M2_P55 = 1.046802484394006e+20


def _hash60(value: Column, seed: int) -> Column:
    """First 60 bits of md5(value ':hll<seed>') as a non-negative
    int64 — the same seeded-uniform bridge as pipeline/split.py."""
    return F.conv(F.substring(
        F.md5(F.concat(value.cast("string"), F.lit(f":hll{seed}"))),
        1, 15), 16, 10).cast("long")


def _rho(w: Column) -> Column:
    """Leading-zero rank of the 54-bit payload: 55 - bitlen(w), with
    rho(0) = 55. bitlen as a flat sum of threshold comparisons —
    54 independent single-reference terms, pure codegen."""
    bitlen = reduce(lambda a, b: a + b,
                    [(w >= F.lit(1 << k)).cast("int") for k in range(54)])
    return F.lit(RHO_MAX) - bitlen


def hll_registers(df: DataFrame, group_cols: list[str], value_col: str,
                  seed: int = 1) -> DataFrame:
    """Per-group sketch state: (group..., j, m) — only POPULATED
    registers appear (empty ones are implicit m=0). One combinable
    max-aggregate; hot groups cost 64 rows in the shuffle, not their
    row count.

    NULL values are dropped before hashing (a NULL hashes to a
    (group, j=NULL) row that hll_estimate would count in n_regs but
    skip in the harmonic sum, understating v_zero and inflating the
    estimate)."""
    h = _hash60(F.col(value_col), seed)
    return (df.filter(F.col(value_col).isNotNull())
            .select(*group_cols,
                      (h % M_REGS).alias("j"),
                      _rho(F.shiftright(h, 6)).alias("rho"))
            .groupBy(*group_cols, "j")
            .agg(F.max("rho").alias("m")))


def hll_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Finalize: (group..., v_zero, s_num, est). ``s_num`` is the exact
    int64 numerator of the harmonic sum (empty registers contribute
    2^55 each); ``est`` is the single pinned float division."""
    p55 = F.lit(1 << RHO_MAX).cast("long")
    present = (regs.groupBy(*group_cols)
               .agg(F.sum(F.expr(
                        f"shiftleft(cast(1 as bigint), {RHO_MAX} - m)"))
                    .alias("s_present"),
                    F.count(F.lit(1)).alias("n_regs")))
    v_zero = (F.lit(M_REGS) - F.col("n_regs")).cast("long")
    return (present
            .select(*group_cols, v_zero.alias("v_zero"),
                    (F.col("s_present") + v_zero * p55).alias("s_num"))
            .withColumn("est", F.lit(ALPHA_M2_P55)
                        / F.col("s_num").cast("double")))


def hll_distinct(df: DataFrame, group_cols: list[str], value_col: str,
                 seed: int = 1) -> DataFrame:
    """Per-group approximate distinct count in one register pass +
    one finalize aggregate."""
    return hll_estimate(hll_registers(df, group_cols, value_col, seed),
                        group_cols)
