"""d8_flow / flow_accumulation: Python oracle (same exact-integer
steepness ranking), basin mass conservation, sink structure."""

from __future__ import annotations

from collections import defaultdict

import pytest

from osmspark.grid.lattice import D8
from osmspark.spatial.hydro import d8_flow, flow_accumulation

# a 7x5 "valley": elevation falls toward (3, 2) with a deterministic
# ripple so diagonal-vs-cardinal ranking and ties both exercise
CELLS = {(x, y): (abs(x - 3) + abs(y - 2)) * 10
         + (x * 7 + y * 13) % 4
         for x in range(7) for y in range(5)}


def _py_d8():
    out = {}
    for (x, y), e in CELLS.items():
        best = None
        for oi, (dx, dy) in enumerate(D8):
            ne = CELLS.get((x + dx, y + dy))
            if ne is None or ne >= e:
                continue
            drop = e - ne
            d2 = dx * dx + dy * dy
            rank = drop * drop * (2 if d2 == 1 else 1)
            key = (-rank, oi)
            if best is None or key < best[0]:
                best = (key, (x + dx, y + dy), drop)
        if best is not None:
            out[(x, y)] = (best[1], best[2])
    return out


def _py_acc():
    flows = _py_d8()
    children = defaultdict(list)
    for u, (v, _) in flows.items():
        children[v].append(u)
    acc = {}

    def size(v):
        if v not in acc:
            acc[v] = 1 + sum(size(u) for u in children[v])
        return acc[v]

    for c in CELLS:
        size(c)
    return acc


@pytest.fixture(scope="module")
def frames(spark):
    rows = [(x, y, e) for (x, y), e in CELLS.items()]
    cells = spark.createDataFrame(rows, "cell_x long, cell_y long, "
                                        "elev long")
    flows = d8_flow(cells)
    return cells, flows


def test_d8_matches_python(frames):
    _, flows = frames
    got = {(int(r.cell_x), int(r.cell_y)):
           ((int(r.to_x), int(r.to_y)), int(r.drop))
           for r in flows.collect()}
    assert got == _py_d8()


def test_sinks_have_no_outflow(frames):
    _, flows = frames
    got = {(int(r.cell_x), int(r.cell_y)) for r in flows.collect()}
    sinks = set(CELLS) - set(_py_d8())
    assert (3, 2) in sinks                   # the valley bottom
    assert not (got & sinks)


def test_accumulation_matches_python(frames):
    cells, flows = frames
    got = {(int(r.cell_x), int(r.cell_y)): int(r.acc)
           for r in flow_accumulation(cells, flows).collect()}
    assert got == _py_acc()
    # mass conservation: summing acc over SINKS counts every cell of
    # every basin exactly once
    sinks = set(CELLS) - set(_py_d8())
    assert sum(got[s] for s in sinks) == len(CELLS)


def test_flow_strictly_descends(frames):
    _, flows = frames
    for r in flows.collect():
        assert CELLS[(int(r.to_x), int(r.to_y))] \
            < CELLS[(int(r.cell_x), int(r.cell_y))]


def test_watershed_matches_python(frames):
    from osmspark.spatial.hydro import watershed_labels
    cells, flows = frames
    got = {(int(r.cell_x), int(r.cell_y)): (int(r.sink_x), int(r.sink_y))
           for r in watershed_labels(cells, flows).collect()}
    fl = _py_d8()

    def sink(c):
        while c in fl:
            c = fl[c][0]
        return c

    exp = {c: sink(c) for c in CELLS}
    assert got == exp
    # every sink labels itself; basin sizes agree with accumulation
    sinks = set(CELLS) - set(fl)
    assert all(got[s] == s for s in sinks)
    from collections import Counter
    basin = Counter(got.values())
    acc = _py_acc()
    assert all(basin[s] == acc[s] for s in sinks)


def _py_fill():
    # INDEPENDENT oracle: priority-flood (Barnes et al.) — different
    # algorithm family from the engine's Planchon-Darboux iteration
    import heapq
    interior = {c for c in CELLS
                if sum((c[0] + dx, c[1] + dy) in CELLS
                       for dx, dy in D8) == 8}
    w = {}
    heap = []
    for c, e in CELLS.items():
        if c not in interior:
            w[c] = e
            heapq.heappush(heap, (e, c))
    while heap:
        lv, (x, y) = heapq.heappop(heap)
        if w.get((x, y), 1 << 62) < lv:
            continue
        for dx, dy in D8:
            n = (x + dx, y + dy)
            if n in CELLS and n not in w:
                w[n] = max(CELLS[n], lv)
                heapq.heappush(heap, (w[n], n))
    return {c: w[c] - CELLS[c] for c in CELLS}


def test_fill_matches_priority_flood(frames):
    from osmspark.spatial.hydro import fill_depressions
    cells, _ = frames
    got = {(int(r.cell_x), int(r.cell_y)): int(r.filled)
           for r in fill_depressions(cells).collect()}
    exp = _py_fill()
    assert got == exp
    # the valley bottom is an interior pit → genuinely filled
    assert got[(3, 2)] > 0
    # border cells never fill
    assert all(got[c] == 0 for c in CELLS
               if not (1 <= c[0] <= 5 and 1 <= c[1] <= 3))


def test_filled_dem_has_no_strict_interior_pits(frames):
    # after filling, rerun D8 on the filled surface: no interior cell
    # is a STRICT pit anymore — any remaining interior sink sits on a
    # flat (has a neighbor at exactly its own filled elevation, the
    # documented strict-descent limitation on spill plateaus)
    from osmspark.spatial.hydro import d8_flow, fill_depressions
    cells, _ = frames
    fillmap = _py_fill()
    felev = {c: CELLS[c] + fillmap[c] for c in CELLS}
    filled = (fill_depressions(cells)
              .selectExpr("cell_x", "cell_y", "elev + filled AS elev"))
    flows2 = d8_flow(filled)
    sinks2 = ({(x, y) for x, y in CELLS}
              - {(int(r.cell_x), int(r.cell_y)) for r in flows2.collect()})
    interior = {c for c in CELLS
                if sum((c[0] + dx, c[1] + dy) in CELLS
                       for dx, dy in D8) == 8}
    for (x, y) in sinks2 & interior:
        nbrs = [felev[(x + dx, y + dy)] for dx, dy in D8
                if (x + dx, y + dy) in felev]
        assert min(nbrs) == felev[(x, y)]     # flat, never a strict pit


def test_slope_aspect_matches_python(frames):
    import math

    from osmspark.spatial.hydro import slope_aspect
    cells, _ = frames
    got = {(int(r.cell_x), int(r.cell_y)):
           (int(r.gx), int(r.gy), r.slope, r.aspect_deg)
           for r in slope_aspect(cells).collect()}
    exp = {}
    for (x, y) in CELLS:
        nb = {(dx, dy): CELLS.get((x + dx, y + dy))
              for dx, dy in D8}
        if any(v is None for v in nb.values()):
            continue
        gx = sum(dx * (2 if dy == 0 else 1) * nb[(dx, dy)]
                 for dx, dy in D8)
        gy = sum(dy * (2 if dx == 0 else 1) * nb[(dx, dy)]
                 for dx, dy in D8)
        exp[(x, y)] = (gx, gy,
                       round(math.sqrt(gx * gx + gy * gy), 9),
                       round(math.degrees(math.atan2(gy, gx)), 9))
    assert got == exp
    assert len(got) == 5 * 3             # interior of the 7x5 raster
    # at (4, 2), just east of the valley bottom, the surface rises
    # with x (east neighbors higher than west) → gx strictly positive
    assert got[(4, 2)][0] > 0


def test_tri_matches_python(frames):
    import math

    from osmspark.spatial.hydro import ruggedness_index
    cells, _ = frames
    got = {(int(r.cell_x), int(r.cell_y)):
           (int(r.n_nbrs), int(r.sq_sum), r.tri)
           for r in ruggedness_index(cells).collect()}
    exp = {}
    for (x, y), e in CELLS.items():
        ds = [CELLS[(x + dx, y + dy)] - e for dx, dy in D8
              if (x + dx, y + dy) in CELLS]
        sq = sum(d * d for d in ds)
        exp[(x, y)] = (len(ds), sq, round(math.sqrt(sq), 9))
    assert got == exp
    # corners see 3 neighbors, edges 5, interior 8
    assert got[(0, 0)][0] == 3 and got[(3, 0)][0] == 5 \
        and got[(3, 2)][0] == 8


def _two_cell_drop(spark, drop):
    cells = spark.createDataFrame([(0, 0, drop), (1, 0, 0)],
                                  "cell_x long, cell_y long, elev long")
    return [(int(r.cell_x), int(r.cell_y), int(r.to_x), int(r.to_y),
             int(r.drop)) for r in d8_flow(cells).collect()]


def test_d8_drop_at_envelope_edge_is_exact(spark):
    # |drop| = 2^31 − 1: the cardinal rank drop²·2 = 2^63 − 2^33 + 2
    # still fits int64
    assert _two_cell_drop(spark, 2 ** 31 - 1) == [(0, 0, 1, 0, 2 ** 31 - 1)]


def test_d8_drop_past_envelope_raises(spark):
    # |drop| = 2^31: drop²·2 = 2^63 overflows int64, and ANSI mode
    # raises instead of wrapping into a wrong steepness order
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        _two_cell_drop(spark, 2 ** 31)
