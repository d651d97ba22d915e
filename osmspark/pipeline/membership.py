"""Mergeable Bloom-filter membership sketch for seen-set pre-filtering.

The membership primitive a rolling 10^12-page crawl needs: "have we
ingested this URL / content hash before?" without joining every new
batch against the full historical seen-set. The filter is ``m`` bits of
state per group REGARDLESS of how many values fed it — partial filters
from different partitions, days, or clusters merge by bitwise OR and
never need the raw values again (the same mergeability contract as the
HLL sketch in ``cardinality.py``). A probe answers "definitely new" or
"maybe seen"; only the "maybe" rows (a ``(n_set/m)^k`` fraction of the
truly-new ones) pay the exact anti-join against the authoritative
store, so the expensive join shrinks from every-row to
false-positive-rate × rows.

Representation: the filter is the SORTED ARRAY OF SET BIT POSITIONS
(``array<int>``, at most ``m`` entries), not a packed bitmask — Spark
and DuckDB share exact array semantics, so a SQL oracle reproduces the
filter and every probe verdict bit-for-bit, and OR-merge is a distinct
union of positions. For the sketch sizes this module targets
(m ≤ a few thousand bits per group key) the array is within a small
constant of a packed encoding; a 10^9-bit single-group filter would
want a real bitmap type instead, which no longer round-trips through a
portable oracle.

Exactness discipline (repo rule: floats only where pinned): positions
come from the established md5 bridge
(``('0x'||substr(md5(v||':bloom<seed>:<i>'),1,15))::BIGINT % m`` in any
engine), one salt per hash function; the only float in the module is
``bloom_stats``'s false-positive estimate, an exact-int64 numerator
``n_set^k`` over ``m^k`` in ONE final division.

Reference scope note: marook/osm-read stops at entity decode
(lib/pbfParser.js); seen-set sketching is consumer-side curation the
graft adds on the webtext axis, same as dedup/ANN/HLL.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["bloom_positions", "bloom_build",
           "bloom_might_contain", "bloom_stats"]


def bloom_positions(value: Column, m: int, k: int, seed: int = 1) -> Column:
    """``array<int>`` of the k bit positions value sets: position_i =
    first-60-bits(md5(value ':bloom<seed>:<i>')) mod m. One independent
    salt per hash function — the portable stand-in for the classic
    double-hashing scheme."""
    def pos(i: int) -> Column:
        h = F.conv(F.substring(
            F.md5(F.concat(value.cast("string"),
                           F.lit(f":bloom{seed}:{i}"))), 1, 15),
            16, 10).cast("long")
        return (h % m).cast("int")
    return F.array(*[pos(i) for i in range(k)])


def bloom_build(df: DataFrame, group_cols: list[str], value_col: str,
                m: int = 1024, k: int = 4, seed: int = 1) -> DataFrame:
    """Per-group filter: (group..., bits) with ``bits`` the sorted
    distinct set positions. One combinable aggregation — collect_set
    state is bounded by m per group, so a 10^12-row group costs m ints
    in the shuffle, not its row count. NULL values are skipped (they
    carry no membership question)."""
    rows = (df.filter(F.col(value_col).isNotNull())
            .select(*group_cols,
                    F.explode(bloom_positions(F.col(value_col), m, k,
                                              seed)).alias("_pos")))
    return (rows.groupBy(*group_cols)
            .agg(F.array_sort(F.collect_set("_pos")).alias("bits")))


def bloom_might_contain(probes: DataFrame, bloom: DataFrame,
                        value_col: str, group_cols: list[str],
                        m: int = 1024, k: int = 4, seed: int = 1,
                        out: str = "maybe_seen") -> DataFrame:
    """Probe verdicts: ``out`` is true iff every one of the value's k
    positions is set in its group's filter — i.e. NOT new-for-sure.
    Probes in a group with no filter row are definitely new (false).

    The filter side is one row per group key (broadcast); the probe
    side never shuffles — the verdict is a map-side hash join plus
    array arithmetic, so pre-filtering a 10^12-row batch costs one scan.
    """
    pos = F.array_distinct(
        bloom_positions(F.col(value_col), m, k, seed))
    probed = probes.withColumn("_probe_pos", pos)
    joined = probed.join(F.broadcast(bloom), group_cols, "left")
    verdict = F.when(F.col("bits").isNull(), F.lit(False)).otherwise(
        F.size(F.array_except(F.col("_probe_pos"), F.col("bits"))) == 0)
    return joined.withColumn(out, verdict).drop("_probe_pos", "bits")


def bloom_stats(bloom: DataFrame, m: int = 1024, k: int = 4) -> DataFrame:
    """Per-group fill and false-positive estimate: (group..., n_set,
    fill, fpp_est) with fpp_est = (n_set/m)^k computed as the exact
    int64 numerator n_set^k over m^k in one pinned division (n_set <= m,
    so m^k <= 2^63 must hold — enforced)."""
    if m ** k >= 1 << 63:
        raise ValueError(f"m^k = {m}^{k} overflows int64; shrink m or k")
    group_cols = [c for c in bloom.columns if c != "bits"]
    n_set = F.size("bits").cast("long")
    num = reduce(lambda a, b: a * b, [n_set] * k)
    return bloom.select(
        *group_cols, n_set.alias("n_set"),
        F.round(n_set / F.lit(m), 6).alias("fill"),
        F.round(num / F.lit(m ** k), 6).alias("fpp_est"))
