"""Tile-set compaction — osmspark/spatial/compact.py.

Pins: hand-computed compaction of a known blob, the round-trip identity
uncompact(compact(S), z) == S on random dense regions (``_uncompact``
expands a cell to its leaves in Python), minimality (no
complete sibling quad survives, no ancestor/descendant pair), duplicate
tolerance, and full-square collapse to a single ancestor cell.
"""

from __future__ import annotations

import numpy as np

from osmspark.spatial.compact import compact_tiles


def _df(spark, cells, zoom=None):
    return spark.createDataFrame(
        [(int(x), int(y)) for x, y in cells], "tile_x long, tile_y long")


def _uncompact(cells, zoom):
    """{(x, y)} at ``zoom``: every (z, x, y) cell's 4^(zoom−z) leaves."""
    out = set()
    for z, x, y in cells:
        s = 1 << (zoom - z)
        out |= {(x * s + dx, y * s + dy) for dx in range(s) for dy in range(s)}
    return out


def test_hand_example(spark):
    # z2: full quadrant (0,0)-(1,1) collapses to z1 (0,0);
    # plus a lone cell (3, 3) stays at z2
    cells = [(0, 0), (0, 1), (1, 0), (1, 1), (3, 3)]
    got = {(r.zoom, r.tile_x, r.tile_y)
           for r in compact_tiles(_df(spark, cells), 2).collect()}
    assert got == {(1, 0, 0), (2, 3, 3)}


def test_full_square_collapses_to_root(spark):
    z = 3
    cells = [(x, y) for x in range(8) for y in range(8)]
    got = compact_tiles(_df(spark, cells), z).collect()
    assert [(r.zoom, r.tile_x, r.tile_y) for r in got] == [(0, 0, 0)]


def test_roundtrip_and_minimality(spark):
    rng = np.random.default_rng(5)
    z = 6
    # dense blob with holes: a 20x20 square minus random punctures
    cells = {(x, y) for x in range(8, 28) for y in range(10, 30)}
    holes = {(int(rng.integers(8, 28)), int(rng.integers(10, 30)))
             for _ in range(25)}
    cells -= holes
    compact = compact_tiles(_df(spark, cells), z)
    comp = [(r.zoom, r.tile_x, r.tile_y) for r in compact.collect()]
    # strictly smaller than the leaf set (compaction actually fired)
    assert len(comp) < len(cells)
    assert any(zz < z for zz, _, _ in comp)
    # round-trip identity
    assert _uncompact(comp, z) == cells
    # minimality: no 4 siblings at one zoom share a parent
    from collections import Counter
    sib = Counter((zz, x >> 1, y >> 1) for zz, x, y in comp)
    assert all(v < 4 for v in sib.values())
    # disjointness: no output cell is an ancestor of another
    cs = set(comp)
    for zz, x, y in comp:
        for za, xx, yy in ((a, x >> (zz - a), y >> (zz - a))
                           for a in range(zz)):
            assert (za, xx, yy) not in cs


def test_duplicates_tolerated(spark):
    cells = [(0, 0), (0, 0), (0, 1), (1, 0), (1, 1)]
    got = {(r.zoom, r.tile_x, r.tile_y)
           for r in compact_tiles(_df(spark, cells), 2).collect()}
    assert got == {(1, 0, 0)}
