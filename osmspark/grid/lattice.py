"""Square-lattice neighbourhoods: the offset sets as data, and the one
scatter every per-cell neighbour operator builds on.

A neighbour operator over integer cell keys (tile statistics, hot
spots, hydrology, space-time windows, bucketed distance joins) is one
shape: each row scatters to its neighbour offsets, then an equi-join on
the shifted key meets the neighbour. :func:`scatter` is that scatter —
a literal offset array exploded in whole-stage codegen, so the fan-out
is a constant |offsets|×, never a range or cross join. Which cells are
neighbours is the caller's choice of offset set, passed as data.
"""

from __future__ import annotations

from collections.abc import Sequence
from itertools import product

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["ROOK", "D8", "SPACETIME", "block", "scatter"]


def block(r: int, centre: bool = True, dims: int = 2) -> tuple:
    """The Chebyshev block of radius ``r``: every offset with all
    |d| ≤ r, first axis major ((2r+1)^dims offsets, one fewer without
    the centre)."""
    return tuple(o for o in product(range(-r, r + 1), repeat=dims)
                 if centre or any(o))


# rook adjacency: the 4 cardinal neighbours
ROOK = ((1, 0), (-1, 0), (0, 1), (0, -1))
# the 8-neighbourhood in dx-major order; d8_flow breaks steepness ties
# by this index, as its DuckDB oracle does
D8 = block(1, centre=False)
# queen ring 1 in space × ±1 time step, centre included
SPACETIME = block(1, dims=3)


def scatter(df: DataFrame, keys: Sequence[str],
            offsets: Sequence[tuple[int, ...]],
            *carry: str | Column) -> DataFrame:
    """One row per (row of ``df``, offset): the ``keys`` columns shifted
    by the offset under their own names, the origin keys as
    ``o_<key>``, and the ``carry`` columns (names or aliased
    expressions, none named like a key).

    Offsets are integer literals, so a key keeps its own integer type.
    Joining the result to another frame on ``keys`` meets every
    neighbour at the offsets; grouping by ``o_<key>`` gathers them back
    to the origin.
    """
    offs = F.array(*[
        F.struct(*[F.lit(d).alias(f"d{i}") for i, d in enumerate(o)])
        for o in offsets])
    return (df.select(*[F.col(k).alias(f"o_{k}") for k in keys], *carry,
                      F.explode(offs).alias("_off"))
            .withColumns({k: F.col(f"o_{k}") + F.col(f"_off.d{i}")
                          for i, k in enumerate(keys)})
            .drop("_off"))
