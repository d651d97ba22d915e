"""The benchmark's two workloads: seeded inputs and the operations of a pass.

Each workload has ``make`` (synthesize the inputs from the seed and write
them to parquet: the set-up work), ``load`` (read them back into a session)
and ``ops``, the operations of one pass in order. An operation is one call
into a public osmspark function plus the single action that materializes
its output as a fingerprint: the row count, the sums the checks need, and
an order-insensitive xxhash64 sum over the output's exact columns (floats
whose bits depend on aggregation order are left out). An operation raises
``Mismatch`` when its fingerprint breaks an invariant known from the
generator; the runner also compares every fingerprint with the pinned or
first-seen one for the seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F

from osmspark.graph.cc import cc_labels
from osmspark.graph.kcore import kcore_hindex
from osmspark.pages import CITIES, golden_pbf_bytes, many_nodes_pbf_bytes, read_pages, write_pages
from osmspark.pbf.source import decode_page, extracted_text_from_pages, nodes_from_pages, render_text
from osmspark.pipeline.ann import ann_bruteforce_topk_np
from osmspark.pipeline.dedup import dedup_clusters, lsh_candidate_pairs, minhash_signatures
from osmspark.spatial import (assemble_way_geometries, knn_join, nearest_segment_join, pip_join,
                              raster_tile_counts, rollup, tile_counts)
from osmspark.spatial.hydro import d8_flow, fill_depressions, flow_accumulation, watershed_labels
from osmspark.state import StateStore, run_stage


class Mismatch(Exception):
    """An operation's output broke an invariant of its inputs."""


@dataclass(frozen=True)
class Size:
    pages: int            # pages table rows (ingest, spatial_join)
    nodes_per_page: int
    buckets: int          # run_stage units
    dem: int              # DEM side, cells
    bowl: int             # bowl side, cells
    path_nodes: int       # graph: one long path ...
    hub_leaves: int       # ... one star ...
    triangles: int        # ... and disjoint triangles
    kcore_iters: int
    docs: int
    vectors: int


FULL = Size(pages=8, nodes_per_page=2000, buckets=1, dem=6, bowl=3,
            path_nodes=4, hub_leaves=4, triangles=1,
            kcore_iters=2, docs=60, vectors=1000)
TINY = Size(pages=6, nodes_per_page=200, buckets=1, dem=6, bowl=3,
            path_nodes=4, hub_leaves=4, triangles=1,
            kcore_iters=2, docs=30, vectors=80)


class Ctx:
    """One workload instance: session, seed, input dir and loaded inputs."""

    def __init__(self, spark, rec, data: Path, seed: int, size: Size, nproc: int):
        self.spark, self.rec, self.data = spark, rec, data
        self.seed, self.size, self.nproc = seed, size, nproc
        self.inputs: dict = {}   # DataFrames / pandas frames, from load()
        self.expect: dict = {}   # invariants known from the generator
        self.out: dict = {}      # outputs one op hands to the next
        self.rows = 0            # input rows of the workload (rows_per_s)
        self.sizes: dict = {}    # input sizes for the provenance block
        self._n = 0

    def fresh_dir(self, name: str) -> str:
        self._n += 1
        return str(self.data / "passes" / f"{name}-{self._n}")


def dir_bytes(path) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def write_parquet(pdf: pd.DataFrame, path: Path, schema: pa.Schema | None = None) -> None:
    """Write a generated table as one parquet file, with no Spark job: the
    set-up time then goes to the library's own writes, not the harness's."""
    path.mkdir(parents=True)
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
                   str(path / "part-0.parquet"))


def fingerprint(df: DataFrame, cols: list[str], **extra) -> dict:
    """One action: count, order-insensitive hash of ``cols``, extra aggs."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        *[agg.alias(k) for k, agg in extra.items()]).collect()[0]
    return {k: (int(v) if v is not None else 0) for k, v in row.asDict().items()}


def need(cond: bool, what: str) -> None:
    if not cond:
        raise Mismatch(what)


# ---------------------------------------------------------------- ingest

def _fixture_node_ids(payload: bytes) -> list[int]:
    text = render_text(decode_page(payload))
    return [int(line.split()[1]) for line in text.splitlines() if line.startswith("N ")]


def _expect_nodes(size: Size) -> tuple[int, int]:
    """(count, id sum) of every node in the pages table, from the generator:
    pages 0/1 are the shipped fixtures, page i ≥ 2 holds ids i·10^7 + 1..n."""
    ids = _fixture_node_ids(golden_pbf_bytes()) + _fixture_node_ids(many_nodes_pbf_bytes())
    n = size.nodes_per_page
    synth = range(2, size.pages)
    return (len(ids) + n * len(synth),
            sum(ids) + sum(i * 10_000_000 * n + n * (n + 1) // 2 for i in synth))


def _make_pages(ctx: Ctx) -> None:
    path = str(ctx.data / "pages")
    with ctx.rec.span("pages.write_pages") as sp:
        write_pages(ctx.spark, path, ctx.size.pages,
                    nodes_per_page=ctx.size.nodes_per_page, seed=ctx.seed)
    sp.fields["bytes"] = dir_bytes(path)


def _load_pages(ctx: Ctx) -> None:
    ctx.inputs["pages"] = read_pages(ctx.spark, str(ctx.data / "pages"))
    n_nodes, id_sum = _expect_nodes(ctx.size)
    ctx.expect.update(n_nodes=n_nodes, id_sum=id_sum)
    ctx.sizes.update(pages=ctx.size.pages, nodes=n_nodes)


def ingest_make(ctx: Ctx) -> None:
    _make_pages(ctx)
    _make_graph_docs(ctx)


def ingest_load(ctx: Ctx) -> None:
    _load_pages(ctx)
    _load_graph_docs(ctx)
    ctx.rows = ctx.expect["n_nodes"] + ctx.sizes["edges"] + ctx.size.docs


def _op_nodes(ctx: Ctx, sp) -> dict:
    fp = fingerprint(nodes_from_pages(ctx.inputs["pages"]), ["id", "lat", "lon"],
                     id_sum=F.sum("id"))
    need(fp["n"] == ctx.expect["n_nodes"], f"decoded {fp['n']} nodes, want {ctx.expect['n_nodes']}")
    need(fp["id_sum"] == ctx.expect["id_sum"], "decoded node ids differ from the generator's")
    return fp


def _op_text(ctx: Ctx, sp) -> dict:
    pages = ctx.inputs["pages"]
    n = (extracted_text_from_pages(pages)
         .join(pages.select("url", "text"), "url")
         .filter(F.col("extracted_text") == F.col("text")).count())
    need(n == ctx.size.pages, f"text parity {n}/{ctx.size.pages}")
    return {"n": n}


def _bucket_fn(ctx: Ctx):
    pages, b = ctx.inputs["pages"], ctx.size.buckets

    def compute_bucket(unit: str) -> DataFrame:
        shard = pages.filter(F.pmod(F.xxhash64("url"), F.lit(b)) == int(unit))
        return tile_counts(nodes_from_pages(shard), 7, grid="hex")
    return compute_bucket


def _units(ctx: Ctx) -> list[str]:
    return [str(b) for b in range(ctx.size.buckets)]


def _op_run_stage(ctx: Ctx, sp) -> dict:
    """The tiling_job shape: hex-r7 counts per url-hash bucket, then the merge."""
    store = StateStore(ctx.spark, ctx.fresh_dir("state"))
    res = run_stage(store, "tiles_r7", _units(ctx), _bucket_fn(ctx),
                    max_workers=ctx.nproc)
    merged = (ctx.spark.read.parquet(os.path.join(store.root, "tiles_r7"))
              .groupBy("cell").agg(F.sum("n_points").alias("n_points")))
    fp = fingerprint(merged, ["cell", "n_points"], total=F.sum("n_points"))
    need(len(res["computed"]) == ctx.size.buckets, f"computed {len(res['computed'])} units")
    need(fp["total"] == ctx.expect["n_nodes"], f"merged counts {fp['total']} != nodes")
    sp.fields["bytes_written"] = dir_bytes(store.root)
    ctx.out["store"] = store
    return fp


def _op_resume(ctx: Ctx, sp) -> dict:
    def must_skip(unit: str) -> DataFrame:
        raise Mismatch(f"resume recomputed unit {unit}")
    res = run_stage(ctx.out["store"], "tiles_r7", _units(ctx), must_skip,
                    max_workers=ctx.nproc)
    sp.fields["skip_ratio"] = len(res["skipped"]) / ctx.size.buckets
    need(sp.fields["skip_ratio"] == 1.0, f"resume skipped {len(res['skipped'])} units")
    return {"skipped": len(res["skipped"])}


# ---------------------------------------------------------- spatial_join

def _polygons() -> pd.DataFrame:
    """bench.py's admin layer: four 0.08° squares around each city."""
    rows = []
    for name, clat, clon, _w in CITIES:
        for dla, dlo in ((-0.08, -0.08), (-0.08, 0.0), (0.0, -0.08), (0.0, 0.0)):
            la, lo = clat + dla, clon + dlo
            rows.append({"poly_id": len(rows), "name": f"{name}-{len(rows)}",
                         "min_lat": la, "max_lat": la + 0.08,
                         "min_lon": lo, "max_lon": lo + 0.08,
                         "ring_lat": [la, la, la + 0.08, la + 0.08],
                         "ring_lon": [lo, lo + 0.08, lo + 0.08, lo]})
    return pd.DataFrame(rows)


def _knn_queries() -> pd.DataFrame:
    """bench.py's 256 kNN queries: 128 around London, 128 around Paris."""
    rng = np.random.default_rng(7)
    return pd.DataFrame({
        "q_id": np.arange(256),
        "lat": np.concatenate([51.5 + rng.normal(0, 0.03, 128),
                               48.85 + rng.normal(0, 0.03, 128)]),
        "lon": np.concatenate([-0.12 + rng.normal(0, 0.03, 128),
                               2.35 + rng.normal(0, 0.03, 128)])})


def _segments() -> pd.DataFrame:
    """bench.py's street grid: 12 cities × 34 streets × 16 segments."""
    rows = []
    for ci, (_name, clat, clon, _w) in enumerate(CITIES):
        for k in range(17):
            off = -0.4 + k * 0.05
            for j in range(16):
                a, b = -0.4 + j * 0.05, -0.4 + (j + 1) * 0.05
                rows.append((ci * 100 + k, j, clon + a, clat + off, clon + b, clat + off))
                rows.append((ci * 100 + 50 + k, j, clon + off, clat + a, clon + off, clat + b))
    return pd.DataFrame(rows, columns=["way_id", "pos", "ax", "ay", "bx", "by"])


def _embeddings(seed: int, n: int, dim: int = 64) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(0, 1, (16, dim))
    vecs = centers[rng.integers(0, 16, n)] + rng.normal(0, 0.5, (n, dim))
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs)})


def spatial_make(ctx: Ctx) -> None:
    _make_pages(ctx)
    spark, d = ctx.spark, ctx.data
    points = nodes_from_pages(read_pages(spark, str(d / "pages"))).select("id", "lat", "lon")
    points.write.parquet(str(d / "points"))
    points = spark.read.parquet(str(d / "points"))
    (points.groupBy(F.expr("id DIV 8").alias("id"))
     .agg(F.sort_array(F.collect_list("id")).alias("node_refs"))
     .write.parquet(str(d / "ways")))
    write_parquet(_segments(), d / "segments")
    write_parquet(_embeddings(ctx.seed, ctx.size.vectors), d / "embeddings",
                  pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float64()))]))
    _make_dem(ctx)


def spatial_load(ctx: Ctx) -> None:
    _load_pages(ctx)
    spark, d = ctx.spark, ctx.data
    emb = spark.read.parquet(str(d / "embeddings"))
    ctx.inputs.update(
        points=spark.read.parquet(str(d / "points")),
        ways=spark.read.parquet(str(d / "ways")),
        segments=spark.read.parquet(str(d / "segments")),
        embeddings=emb, polygons=_polygons(), knn_queries=_knn_queries(),
        ann_queries=_embeddings(ctx.seed, ctx.size.vectors).head(64))
    ctx.sizes.update(points=ctx.expect["n_nodes"], polygons=len(ctx.inputs["polygons"]),
                     knn_queries=256, segments=len(_segments()),
                     vectors=ctx.size.vectors)
    _load_dem(ctx)
    ctx.rows = ctx.expect["n_nodes"] + ctx.expect["cells"]


def _tile_op(df: DataFrame, ctx: Ctx, cols: list[str]) -> dict:
    fp = fingerprint(df, cols, total=F.sum("n_points"))
    n = ctx.expect["n_nodes"]
    need(fp["total"] == n, f"tile counts sum to {fp['total']}, want {n}")
    return fp


def _op_hex(ctx: Ctx, sp) -> dict:
    return _tile_op(rollup(tile_counts(ctx.inputs["points"], 7, grid="hex"), 6, grid="hex"),
                    ctx, ["cell", "n_points"])


def _op_s2(ctx: Ctx, sp) -> dict:
    return _tile_op(tile_counts(ctx.inputs["points"], 10, grid="s2"), ctx, ["cell", "n_points"])


def _op_raster(ctx: Ctx, sp) -> dict:
    return _tile_op(raster_tile_counts(ctx.inputs["points"], 8), ctx,
                    ["tile_x", "tile_y", "n_points"])


def _op_pip(ctx: Ctx, sp) -> dict:
    fp = fingerprint(pip_join(ctx.inputs["points"], ctx.inputs["polygons"], res=6),
                     ["id", "poly_id"])
    need(0 < fp["n"] < ctx.expect["n_nodes"], f"{fp['n']} PIP matches")
    return fp


def _op_knn(ctx: Ctx, sp) -> dict:
    fp = fingerprint(knn_join(ctx.inputs["points"], ctx.inputs["knn_queries"], 10),
                     ["q_id", "p_id"])
    need(fp["n"] == 256 * 10, f"kNN rows {fp['n']}")
    return fp


def _op_geometry(ctx: Ctx, sp) -> dict:
    fp = fingerprint(assemble_way_geometries(ctx.inputs["ways"], ctx.inputs["points"]),
                     ["way_id", "n_refs", "lats", "lons"],
                     refs=F.sum("n_refs"), missing=F.sum("n_missing"))
    need(fp["refs"] == ctx.expect["n_nodes"] and fp["missing"] == 0,
         f"ways hold {fp['refs']} refs, {fp['missing']} missing")
    return fp


def _op_mapmatch(ctx: Ctx, sp) -> dict:
    fp = fingerprint(nearest_segment_join(ctx.inputs["points"], ctx.inputs["segments"], 0.05),
                     ["id", "way_id", "seg_pos"])
    n = ctx.expect["n_nodes"]
    need(fp["n"] == n, f"map-match kept {fp['n']} of {n} points")
    return fp


def _op_ann(ctx: Ctx, sp) -> dict:
    fp = fingerprint(ann_bruteforce_topk_np(ctx.inputs["embeddings"], ctx.inputs["ann_queries"], 10),
                     ["q_id", "p_id", "rank"])
    need(fp["n"] == 64 * 10, f"ANN rows {fp['n']}")
    return fp


# ------------------------------------------------- round-bound operators

def _dem(seed: int, side: int, bowl: int) -> np.ndarray:
    """Integer DEM of repeated bowls; seeded noise moves the pits."""
    rng = np.random.default_rng([seed, 1])
    x = np.arange(side) % bowl - (bowl - 1) / 2
    base = 4 * (x[:, None] ** 2 + x[None, :] ** 2)
    return (base + rng.integers(0, 3, (side, side))).astype(np.int64)


def _n_sinks(elev: np.ndarray) -> int:
    """Cells with no strictly lower 8-neighbor (d8_flow emits no row)."""
    pad = np.pad(elev, 1, constant_values=np.iinfo(np.int64).max)
    h, w = elev.shape
    lowest = np.min([pad[1 + dy:1 + dy + h, 1 + dx:1 + dx + w]
                     for dy in (-1, 0, 1) for dx in (-1, 0, 1) if dx or dy], axis=0)
    return int((lowest >= elev).sum())


def _graph(seed: int, size: Size) -> tuple[np.ndarray, np.ndarray]:
    """(node ids, edges): a long path, a hub star and disjoint triangles
    (core 2). The shape is fixed; the seed only permutes the ids, so labels
    are not in path order and the work per pass does not depend on the seed."""
    rng = np.random.default_rng([seed, 2])
    p, s, t = size.path_nodes, size.hub_leaves, size.triangles
    path = np.stack([np.arange(p - 1), np.arange(1, p)], 1)
    star = np.stack([np.full(s, p), np.arange(p + 1, p + 1 + s)], 1)
    tri = p + 1 + s + 3 * np.arange(t)[:, None] + np.array([[0, 1], [1, 2], [2, 0]])[:, None, :]
    edges = np.concatenate([path, star, tri.transpose(1, 0, 2).reshape(-1, 2)])
    perm = rng.permutation(p + 1 + s + 3 * t).astype(np.int64)
    return perm, perm[edges]


def _components(ids: np.ndarray, edges: np.ndarray) -> int:
    parent = {int(i): int(i) for i in ids}

    def find(u: int) -> int:
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u
    for a, b in edges.tolist():
        parent[find(a)] = find(b)
    return len({find(int(i)) for i in ids})


# distinct enough that unrelated documents share almost no 3-gram shingle,
# so LSH links only the planted near-duplicate chains
_VOCAB = [f"{a}{b}" for a in ("map", "tile", "node", "way", "road", "cell", "grid", "page",
                              "spark", "join", "scan", "hash", "key", "sort", "core", "edge")
          for b in ("", "s", "er", "ing", "ed", "ly", "ion", "al", "ist", "ous",
                    "ure", "ish", "ive", "ward", "ster", "dom")]


def _documents(seed: int, n: int) -> pd.DataFrame:
    """Base docs, each followed by a chain of two near-duplicate edits (each
    an edit of the last): the cluster shape is fixed, the tokens are seeded."""
    rng = np.random.default_rng([seed, 4])
    texts = []
    while len(texts) < n:
        toks = list(rng.choice(_VOCAB, int(rng.integers(20, 60))))
        texts.append(" ".join(toks))
        for _ in range(2):
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(_VOCAB))
            texts.append(" ".join(toks))
    ids = rng.permutation(n).astype(np.int64)
    return pd.DataFrame({"doc_id": ids, "text": texts[:n]})


def _make_dem(ctx: Ctx) -> None:
    elev = _dem(ctx.seed, ctx.size.dem, ctx.size.bowl)
    ys, xs = np.indices(elev.shape)
    write_parquet(pd.DataFrame({"cell_x": xs.ravel(), "cell_y": ys.ravel(), "elev": elev.ravel()}),
                  ctx.data / "dem")


def _load_dem(ctx: Ctx) -> None:
    ctx.inputs["dem"] = ctx.spark.read.parquet(str(ctx.data / "dem"))
    elev = _dem(ctx.seed, ctx.size.dem, ctx.size.bowl)
    ctx.expect.update(cells=elev.size, sinks=_n_sinks(elev))
    ctx.sizes.update(cells=elev.size)


def _make_graph_docs(ctx: Ctx) -> None:
    d = ctx.data
    ids, edges = _graph(ctx.seed, ctx.size)
    write_parquet(pd.DataFrame({"id": ids}), d / "nodes")
    write_parquet(pd.DataFrame(edges, columns=["a", "b"]), d / "edges")
    write_parquet(_documents(ctx.seed, ctx.size.docs), d / "documents")


def _load_graph_docs(ctx: Ctx) -> None:
    spark, d = ctx.spark, ctx.data
    ctx.inputs.update(nodes=spark.read.parquet(str(d / "nodes")),
                      edges=spark.read.parquet(str(d / "edges")),
                      documents=spark.read.parquet(str(d / "documents")))
    ids, edges = _graph(ctx.seed, ctx.size)
    ctx.expect.update(graph_nodes=len(ids), components=_components(ids, edges),
                      linked_nodes=len(np.unique(edges)))
    ctx.sizes.update(graph_nodes=len(ids), edges=len(edges), docs=ctx.size.docs)


def _op_fill(ctx: Ctx, sp) -> dict:
    fp = fingerprint(fill_depressions(ctx.inputs["dem"]), ["cell_x", "cell_y", "filled"],
                     poured=F.sum("filled"), lowest=F.min("filled"))
    need(fp["n"] == ctx.expect["cells"] and fp["lowest"] >= 0,
         f"fill returned {fp['n']} cells, min fill {fp['lowest']}")
    return fp


def _op_d8(ctx: Ctx, sp) -> dict:
    flows = d8_flow(ctx.inputs["dem"]).localCheckpoint()
    fp = fingerprint(flows, ["cell_x", "cell_y", "to_x", "to_y"])
    want = ctx.expect["cells"] - ctx.expect["sinks"]
    need(fp["n"] == want, f"d8 gave {fp['n']} flow edges, want {want}")
    ctx.out["flows"] = flows
    return fp


def _op_accumulation(ctx: Ctx, sp) -> dict:
    fp = fingerprint(flow_accumulation(ctx.inputs["dem"], ctx.out["flows"]),
                     ["cell_x", "cell_y", "acc"], top=F.max("acc"))
    need(fp["n"] == ctx.expect["cells"] and fp["top"] <= ctx.expect["cells"],
         f"accumulation gave {fp['n']} cells, max {fp['top']}")
    return fp


def _op_watershed(ctx: Ctx, sp) -> dict:
    fp = fingerprint(watershed_labels(ctx.inputs["dem"], ctx.out["flows"]),
                     ["cell_x", "cell_y", "sink_x", "sink_y"],
                     basins=F.countDistinct("sink_x", "sink_y"))
    need(fp["n"] == ctx.expect["cells"] and fp["basins"] == ctx.expect["sinks"],
         f"{fp['basins']} basins, want {ctx.expect['sinks']}")
    return fp


def _op_cc(ctx: Ctx, sp) -> dict:
    fp = fingerprint(cc_labels(ctx.inputs["nodes"], ctx.inputs["edges"]), ["id", "label"],
                     comps=F.countDistinct("label"))
    need(fp["n"] == ctx.expect["graph_nodes"] and fp["comps"] == ctx.expect["components"],
         f"{fp['comps']} components, want {ctx.expect['components']}")
    return fp


def _op_kcore(ctx: Ctx, sp) -> dict:
    fp = fingerprint(kcore_hindex(ctx.inputs["edges"], n_iter=ctx.size.kcore_iters,
                                  src="a", dst="b"),
                     ["node", "core"], lowest=F.min("core"))
    need(fp["n"] == ctx.expect["linked_nodes"] and fp["lowest"] >= 1,
         f"k-core covers {fp['n']} nodes, want {ctx.expect['linked_nodes']}")
    return fp


def _op_minhash(ctx: Ctx, sp) -> dict:
    sigs = minhash_signatures(ctx.inputs["documents"]).localCheckpoint()
    fp = fingerprint(sigs, ["id", "signature"])
    need(fp["n"] == ctx.size.docs, f"{fp['n']} signatures")
    ctx.out["signatures"] = sigs
    return fp


def _op_lsh(ctx: Ctx, sp) -> dict:
    pairs = lsh_candidate_pairs(ctx.out["signatures"], bands=16,
                                materialize=False).localCheckpoint()
    fp = fingerprint(pairs, ["a", "b"])
    need(fp["n"] > 0, "no LSH candidate pairs")
    ctx.out["pairs"] = pairs
    return fp


def _op_clusters(ctx: Ctx, sp) -> dict:
    fp = fingerprint(dedup_clusters(ctx.inputs["documents"], ctx.out["pairs"]),
                     ["doc_id", "cluster_id"], clusters=F.countDistinct("cluster_id"))
    need(fp["n"] == ctx.size.docs and fp["clusters"] < ctx.size.docs,
         f"{fp['clusters']} clusters over {fp['n']} docs")
    return fp


@dataclass(frozen=True)
class Workload:
    make: object
    load: object
    ops: tuple


WORKLOADS = {
    "ingest": Workload(ingest_make, ingest_load, (
        ("pbf.nodes_from_pages", _op_nodes),
        ("pbf.extracted_text_from_pages", _op_text),
        ("state.run_stage", _op_run_stage),
        ("state.resume", _op_resume),
        ("graph.cc", _op_cc),
        ("graph.kcore", _op_kcore),
        ("pipeline.dedup.minhash", _op_minhash),
        ("pipeline.dedup.lsh", _op_lsh),
        ("pipeline.dedup.clusters", _op_clusters))),
    "spatial_join": Workload(spatial_make, spatial_load, (
        ("spatial.tiles.hex", _op_hex),
        ("spatial.tiles.s2", _op_s2),
        ("spatial.tiles.raster", _op_raster),
        ("spatial.pip", _op_pip),
        ("spatial.knn", _op_knn),
        ("spatial.geometry", _op_geometry),
        ("spatial.mapmatch", _op_mapmatch),
        ("pipeline.ann", _op_ann),
        ("spatial.hydro.fill", _op_fill),
        ("spatial.hydro.d8", _op_d8),
        ("spatial.hydro.accumulation", _op_accumulation),
        ("spatial.hydro.watershed", _op_watershed))),
}
