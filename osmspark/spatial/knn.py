"""kNN join: one mixed-resolution hex k-ring candidate pass, exact via
guarantee balls + a map-only broadcast fallback.

North-rule operator "grid-partitioned kNN via H3 k-ring expansion with a
sort-merge refine step". Scale-first construction (SURVEY.md §7.3):

``knn_join`` (the 10^12-point path) — ONE candidate pass, no driver loop:

1. A density sketch picks each query's resolution up front: the distance
   from the query to its m-th nearest point in a hash-sampled subset
   (``density_sample``; prebuilt and reused at warehouse scale, like any
   spatial index) estimates the radius that holds ~3k points, and the
   query is assigned the finest resolution whose guarantee ball covers
   that radius. Resolutions are quantized to ≤ ``MAX_GROUPS`` levels by
   a cheapest-merge rule (each level is one scan branch; merging moves
   queries coarser, never finer, so completeness holds).
2. Ring cells for every query are computed ON THE DRIVER (NumPy k_ring
   over ≤ |Q| rows) and **broadcast** — each level's candidate join is a
   BroadcastHashJoin on the cell id, so the big (point) side never
   shuffles. The levels run as UNION branches over per-level scans
   (G ≤ MAX_GROUPS scans; the single-scan explode alternative knocked
   the stage out of whole-stage codegen and ran ~20× slower).
3. Distance is a SQL expression; an in-scan guarantee-ball filter
   (``dist2 ≤ g²``, g carried per-query on the broadcast side) cuts
   candidates to the provably-complete neighborhood before the
   ``row_number() over (partition by q_id order by dist2, p_id)``
   refine. The per-query completeness count rides the SAME window job
   (``count(*) over (partition by q_id)``) — no second action over the
   candidates.
4. EXACTNESS: the k-ring at hex edge ``e`` contains every point within
   planar distance (1.5·ring − 0.5)·e of the query, so the filtered
   candidates are a complete ball — a query with ≥ k of them retires
   with the provably-global top-k. Misestimated or empty-region queries
   (the density sketch undershoots, or no ladder step is coarse enough)
   fall back to the exact ``knn_broadcast``; the result always equals
   the brute-force join, which the DuckDB oracle checks.

The pass result is ``localCheckpoint``-ed (≤ |Q|·k rows): the single
expensive job runs once, the tiny resolved/failed summary and the
caller's own actions read the materialized partitions, and cleanup is
automatic when the DataFrame is garbage-collected (no leaked ``.cache()``).

At warehouse scale, pass a prebuilt ``density_sample``: the only
full-table cost is then the one candidate scan.

``knn_broadcast`` (exact, O(|P|·|Q|) work but map-only): queries ride to
every partition in the UDF closure; each Arrow batch emits a superset of
its local top-k (ties at the k-th distance kept, so the global merge is
exact); a final window over the tiny union picks the true top-k. No
shuffle of points, near-perfect scaling — the right tool when |Q| is
small or the density sketch can't place a query.

Distance = squared planar degrees, written with identical expression
shape in Spark SQL and the oracle SQL so float64 results agree
bit-for-bit.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..grid import hexgrid
from ..grid.hexgrid_sql import hex_cell_col

__all__ = ["knn_join", "knn_broadcast", "density_sample"]

_OUT_SCHEMA = "q_id long, p_id long, dist2 double"

# density sketch size and hash seed
TARGET_SAMPLE = 100_000
SEED = 42
# radius margin over the sketch's 3k-point estimate
SAFETY = 2.0
# cap on scan branches (resolution levels) in one candidate pass
MAX_GROUPS = 4
# knn_broadcast distance-matrix tile: queries × points per batch chunk
_Q_CHUNK = 256
_P_CHUNK = 16384
# _nearest_sample_d2 radius estimate: queries per float32 distance block
_SAMPLE_Q_CHUNK = 128


def _dist2(qlat, qlon, plat, plon):
    # (qlat-plat)² + (qlon-plon)² — keep this exact shape in oracle SQL
    return (qlat - plat) * (qlat - plat) + (qlon - plon) * (qlon - plon)


def _topk_window(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.col("dist2").asc(), F.col("p_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "p_id", "dist2", "rank"))


def _empty_result(spark) -> DataFrame:
    return spark.createDataFrame(spark.sparkContext.emptyRDD(),
                                 _OUT_SCHEMA + ", rank int")


def knn_broadcast(points: DataFrame, queries_pdf: pd.DataFrame, k: int,
                  point_id: str = "id") -> DataFrame:
    """Exact kNN, queries broadcast in-closure, map-side partial top-k.

    ``queries_pdf`` is a driver-side pandas frame (q_id, lat, lon) — the
    documented small side (≤ ~10^5 queries). Each Arrow batch of points
    computes a chunked distance matrix and emits every row whose distance
    is ≤ its query's local k-th smallest (ties kept → exact superset);
    the final window over ~batches·|Q|·k rows picks the true top-k.
    """
    if len(queries_pdf) == 0:
        return _empty_result(points.sparkSession)
    q_id = queries_pdf["q_id"].to_numpy()
    q_lat = queries_pdf["lat"].to_numpy(dtype=np.float64)
    q_lon = queries_pdf["lon"].to_numpy(dtype=np.float64)

    def local_topk(batches):
        for pdf in batches:
            p_id = pdf["p_id"].to_numpy()
            p_lat = pdf["p_lat"].to_numpy(dtype=np.float64)
            p_lon = pdf["p_lon"].to_numpy(dtype=np.float64)
            n = len(p_id)
            if n == 0:
                continue
            out_q, out_p, out_d = [], [], []
            for ps in range(0, n, _P_CHUNK):
                pe = min(ps + _P_CHUNK, n)
                pla, plo = p_lat[ps:pe], p_lon[ps:pe]
                for qs in range(0, len(q_id), _Q_CHUNK):
                    qe = min(qs + _Q_CHUNK, len(q_id))
                    dla = q_lat[qs:qe][None, :] - pla[:, None]
                    dlo = q_lon[qs:qe][None, :] - plo[:, None]
                    d2 = dla * dla + dlo * dlo
                    kk = min(k, d2.shape[0])
                    kth = np.partition(d2, kk - 1, axis=0)[kk - 1]
                    rows, cols = np.nonzero(d2 <= kth[None, :])
                    out_q.append(q_id[qs + cols])
                    out_p.append(p_id[ps + rows])
                    out_d.append(d2[rows, cols])
            yield pd.DataFrame({
                "q_id": np.concatenate(out_q),
                "p_id": np.concatenate(out_p),
                "dist2": np.concatenate(out_d)})

    pts = points.select(F.col(point_id).alias("p_id"),
                        F.col("lat").alias("p_lat"),
                        F.col("lon").alias("p_lon"))
    local = pts.mapInPandas(local_topk, _OUT_SCHEMA)
    return _topk_window(local, k)


def density_sample(points: DataFrame, point_id: str = "id",
                   target: int = TARGET_SAMPLE, seed: int = SEED
                   ) -> tuple[pd.DataFrame, float]:
    """Hash-sampled (lat, lon) subset + realized sample rate — ONE scan.

    The kNN density sketch: deterministic (xxhash64 bucket, no RNG
    state), JVM-only. The keep threshold is sized from the optimizer's
    size-in-bytes statistic (parquet footer metadata — no job) and the
    exact row count rides the SAME scan via an ``Observation``
    (CollectMetrics is a pushdown barrier, so the count sees every row —
    pinned by tests), so the realized rate is exact without the separate
    full ``count()`` the r3 convenience path paid. Estimate repair stays
    driver-side and cheap: an overshot sample is bottom-k'd on its hash
    (a uniform k-subset of a uniform sample is uniform); only a badly
    undershot estimate (>8× off — a non-file plan with garbage stats)
    falls back to one exact-keep rescan, the old two-scan cost. At
    warehouse scale build the sketch once alongside the point table and
    pass it to every ``knn_join`` call — it plays the role of a spatial
    index's statistics, amortized across queries."""
    from pyspark.sql import Observation

    buckets = 1 << 20
    # rows estimate from plan stats: file bytes over an 8 B/row floor —
    # deliberately conservative: underestimating bytes/row OVERestimates
    # rows, which only undershoots the sample size; the realized rate is
    # exact either way (measured n_total from the same scan)
    try:
        sz = (points._jdf.queryExecution().optimizedPlan()
              .stats().sizeInBytes())
        # py4j hands small BigInts back as Python ints, big ones as refs
        est_bytes = int(sz) if isinstance(sz, int) else int(sz.toString())
    except Exception:
        est_bytes = 0
    # unknown stats: assume BIG (10^9 rows) — an undershot sample falls
    # through to the exact-keep rescan below (bounded, old two-scan
    # cost), while assuming small would collect the whole table
    est_rows = max(1, est_bytes // 8) if est_bytes > 0 else 1_000_000_000
    h = F.pmod(F.xxhash64(F.col(point_id), F.lit(seed)), F.lit(buckets))

    def scan(keep: int) -> tuple[pd.DataFrame, int]:
        obs = Observation()
        pdf = (points
               .observe(obs, F.count(F.lit(1)).alias("n_total"))
               .withColumn("_h", h)
               .filter(F.col("_h") < keep)
               .select("lat", "lon", "_h").toPandas())
        return pdf, int(obs.get["n_total"])

    keep = min(buckets, max(1, round(target / est_rows * buckets)))
    pdf, n_total = scan(keep)
    if n_total == 0:
        return pdf[["lat", "lon"]], 1.0
    want = min(target, n_total)
    if len(pdf) < max(1, want // 8) and keep < buckets:
        # stats were garbage (non-file plan): one exact-keep rescan
        keep = min(buckets, max(1, round(target / n_total * buckets)))
        pdf, n_total = scan(keep)
    rate = len(pdf) / n_total
    if len(pdf) > 4 * target:
        pdf = pdf.nsmallest(target, "_h")
        rate = target / n_total
    pdf = pdf[["lat", "lon"]].reset_index(drop=True)
    return pdf, max(min(rate, 1.0), 1e-12)


def _nearest_sample_d2(q_lat: np.ndarray, q_lon: np.ndarray,
                       s_lat: np.ndarray, s_lon: np.ndarray,
                       m: int) -> np.ndarray:
    """Squared distance from each query to its m-th nearest sample point.

    float32 + small chunks: the |chunk|×|S| temporaries are the cost —
    float64/512-row chunks thrashed memory bandwidth (~400 MB × 4
    temporaries per concurrent task); a radius ESTIMATE doesn't need 53
    bits. Result returns as float64 for the downstream log/sqrt math."""
    q_lat32 = q_lat.astype(np.float32)
    q_lon32 = q_lon.astype(np.float32)
    s_lat32 = s_lat.astype(np.float32)
    s_lon32 = s_lon.astype(np.float32)
    out = np.empty(len(q_lat), dtype=np.float64)
    for qs in range(0, len(q_lat), _SAMPLE_Q_CHUNK):
        qe = min(qs + _SAMPLE_Q_CHUNK, len(q_lat))
        d2 = ((q_lat32[qs:qe, None] - s_lat32[None, :]) ** 2
              + (q_lon32[qs:qe, None] - s_lon32[None, :]) ** 2)
        out[qs:qe] = np.partition(d2, m - 1, axis=1)[:, m - 1]
    return out


def _nearest_sample_d2_spark(spark, q_pdf: pd.DataFrame,
                             s_lat: np.ndarray, s_lon: np.ndarray,
                             m: int) -> np.ndarray:
    """The same m-th-nearest-sample estimate, run as one small Spark job:
    the sample rides to executors in the UDF closure (~1.6 MB for 100k
    points) and the |Q|×|S| distance work parallelizes across cores —
    at 8192 queries × 100k sample this is ~8×10^9 flops, 30+ s of SERIAL
    driver time but ~2 s across 16 cores (and it scales with the
    cluster, which the driver loop never would)."""
    n_parts = max(1, spark.sparkContext.defaultParallelism)

    def est(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            d2m = _nearest_sample_d2(pdf["lat"].to_numpy(dtype=np.float64),
                                     pdf["lon"].to_numpy(dtype=np.float64),
                                     s_lat, s_lon, m)
            yield pd.DataFrame({"q_id": pdf["q_id"], "d2m": d2m})

    out = (spark.createDataFrame(q_pdf[["q_id", "lat", "lon"]])
           .repartition(n_parts)
           .mapInPandas(est, "q_id long, d2m double")
           .toPandas())
    return (out.set_index("q_id")["d2m"]
            .reindex(q_pdf["q_id"].to_numpy()).to_numpy())


def knn_join(points: DataFrame, queries: DataFrame | pd.DataFrame,
             k: int,
             res: int = 9, ring: int = 1, point_id: str = "id",
             sample: pd.DataFrame | None = None, sample_rate: float = 1.0
             ) -> DataFrame:
    """Exact kNN via one mixed-resolution k-ring candidate pass.

    ``res`` is the FINEST resolution considered (pick it near your
    densest region's k-neighbor scale); each query is assigned the
    finest quantized level whose guarantee ball
    (1.5·ring − 0.5)·edge_deg(level) should hold ≥ 3k points per the
    density sketch, with ``SAFETY``× radius margin. ``sample``/
    ``sample_rate`` inject a prebuilt ``density_sample`` (skips the
    sketch scan). See the module docstring for the full design and the
    exactness argument.
    """
    spark = points.sparkSession
    if isinstance(queries, pd.DataFrame):
        # driver-resident query sets skip a collect job — the common
        # shape for benchmark/API callers that built the frame locally
        q_pdf = queries[["q_id", "lat", "lon"]]
    else:
        q_pdf = queries.select("q_id", "lat", "lon").toPandas()
    if len(q_pdf) == 0:
        return _empty_result(spark)

    if sample is None:
        sample, sample_rate = density_sample(points, point_id)
    if len(sample) == 0:
        return _empty_result(spark)
    # table row count recovered from the realized sample rate (no job);
    # feeds the scan-vs-candidates merge trade in _quantize_levels
    scan_rows = len(sample) / max(sample_rate, 1e-12)

    factor = 1.5 * ring - 0.5
    q_lat = q_pdf["lat"].to_numpy(dtype=np.float64)
    q_lon = q_pdf["lon"].to_numpy(dtype=np.float64)
    s_lat = sample["lat"].to_numpy(dtype=np.float64)
    s_lon = sample["lon"].to_numpy(dtype=np.float64)

    # radius that should hold 3k points, estimated DIRECTLY when the
    # sample supports it: 3k true points ≈ 3k·rate sample points, so the
    # (3k·rate)-th nearest sample distance is the target radius measured,
    # not modeled — tight even at cluster edges, where a symmetric
    # local-density extrapolation badly overshoots (the k-ball of an
    # edge query extends toward the cluster). Only when the sample is
    # too thin (3k·rate < 2) interpolate with the sqrt law from the
    # m-th nearest sample point: r(c·k) ≈ r(m/rate)·sqrt(c·k·rate/m).
    # SAFETY× covers residual error; misestimates are caught by the
    # in-pass completeness count and repaired exactly, never silently.
    # the radius estimate only needs a coarse sketch: cap the estimation
    # subsample (the FULL sample stays whatever the caller built) and
    # scale the rate accordingly — |Q|×|S| work is the driver's one
    # superlinear term, so bound |S| rather than hope
    est_cap = 16384
    if len(sample) > est_cap:
        idx = np.linspace(0, len(sample) - 1, est_cap).astype(np.int64)
        s_lat_e, s_lon_e = s_lat[idx], s_lon[idx]
        rate_e = sample_rate * est_cap / len(sample)
    else:
        s_lat_e, s_lon_e, rate_e = s_lat, s_lon, sample_rate
    m = int(np.clip(round(3.0 * k * rate_e), 2, len(s_lat_e)))
    # driver-side NumPy only for genuinely tiny estimates: serial driver
    # work is a non-scaling term (same seconds at every cluster size), so
    # it directly eats the N→4N efficiency ratio — route anything
    # non-trivial through the executors
    if len(q_pdf) * len(s_lat_e) > 5e7:
        d2_m = _nearest_sample_d2_spark(spark, q_pdf, s_lat_e, s_lon_e, m)
    else:
        d2_m = _nearest_sample_d2(q_lat, q_lon, s_lat_e, s_lon_e, m)
    sample_rate = rate_e
    est_in_dm = m / sample_rate
    r_target = np.sqrt(d2_m) * np.sqrt(3.0 * k / est_in_dm) * SAFETY
    r_target = np.maximum(r_target, 1e-12)
    # finest r with factor·edge(r) ≥ r_target; edge(r) = BASE/√7^r
    with np.errstate(divide="ignore"):
        r_ideal = np.floor(
            np.log(factor * hexgrid.BASE_EDGE_DEG / r_target)
            / math.log(math.sqrt(7.0)))
    r_ideal = np.clip(np.nan_to_num(r_ideal, posinf=res), -1, res).astype(np.int64)

    parts: list[DataFrame] = []
    # per-query ball clamp: the exactness argument only needs ≥ k
    # candidates inside ANY complete ball, and every ball ≤ the level's
    # guarantee radius is complete (k-ring containment) — so cap each
    # query's candidate ball at √7·r_target, the largest slack a query
    # gets from its own ideal level (g_ideal ∈ [r_target, √7·r_target]).
    # Unmerged queries see the same or a smaller ball (identical
    # resolution behavior); queries merged to a COARSER branch keep
    # design-occupancy candidates instead of inheriting the coarse
    # level's full ball (up to 7^gap× the rows through the window) —
    # this is what makes scan-merging near-free (see _quantize_levels)
    pending = q_pdf.assign(r_est=r_ideal,
                           r_clamp=np.sqrt(7.0) * r_target)
    # empty-region queries (r_ideal < 0): even a res-0 ball can't hold k
    # points — the map-only broadcast scan is the right tool directly
    to_broadcast = pending[pending["r_est"] < 0]
    pending = pending[pending["r_est"] >= 0]

    # ≤ 2 candidate passes: pass 1 carries the whole query set at the
    # estimated resolutions; pass 2 retries ONLY misestimated queries two
    # steps coarser (7²× candidate area). Even for a tiny straggler set
    # the SQL pass beats ``knn_broadcast``: the broadcast path moves the
    # whole point table through Arrow into Python (~60 s at 160M rows)
    # while a candidate pass stays in JVM codegen (~17 s for 81
    # stragglers, scans only). Brute force remains the LAST resort for
    # queries even pass 2 can't place (sparser than the coarsest ring).
    cand_per_query = 3.0 * k * SAFETY * SAFETY
    for _attempt in range(2):
        if not len(pending):
            break
        # retries carry few queries: cap them to 2 scan branches — and
        # NEVER scan-merge them: the merge cost model prices candidates
        # at design occupancy, which only the clamp guarantees; retries
        # run unclamped (full level ball), where merging a dense-core
        # straggler 4 levels coarser once put 31M candidates/query
        # through the window (measured 190 s vs 6 s at local[16])
        if _attempt == 0:
            assigned = _quantize_levels(pending["r_est"].to_numpy(),
                                        MAX_GROUPS, scan_rows,
                                        cand_per_query)
        else:
            assigned = _quantize_levels(pending["r_est"].to_numpy(),
                                        min(MAX_GROUPS, 2))

        # (a bbox-union pre-filter for tiny retry sets was tried here —
        # the pushed-down OR-chain knocked the parquet reader out of its
        # vectorized path and ran slower than the plain scans)
        topk, resolved_set = _candidate_pass(
            points, pending, assigned, k, ring, factor, point_id)
        if resolved_set:
            parts.append(topk.filter(F.col("n_cand") >= k)
                         .select("q_id", "p_id", "dist2", "rank"))
        failed_mask = ~pending["q_id"].isin(resolved_set).to_numpy()
        # retries mean the estimate was wrong: drop the clamp so the
        # retry level's FULL guarantee ball decides
        pending = pending[failed_mask].assign(
            r_est=assigned[failed_mask] - 2, r_clamp=np.inf)
        to_broadcast = pd.concat(
            [to_broadcast, pending[pending["r_est"] < 0]])
        pending = pending[pending["r_est"] >= 0]

    to_broadcast = pd.concat([to_broadcast, pending])
    if len(to_broadcast):
        parts.append(knn_broadcast(
            points, to_broadcast[["q_id", "lat", "lon"]], k, point_id))

    if not parts:
        return _empty_result(spark)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _quantize_levels(r_est: np.ndarray, max_groups: int,
                     scan_rows: float | None = None,
                     cand_per_query: float = 0.0) -> np.ndarray:
    """Reduce the ideal-resolution set to ≤ max_groups levels — then
    keep merging while a merge is CHEAPER THAN THE SCAN IT DELETES.

    Each union branch in the candidate pass costs one full table scan,
    so the level count is capped; a query may only move COARSER (its
    guarantee ball stays complete). Greedy: repeatedly merge the level
    whose move to the next-coarser level adds the fewest expected
    candidate rows (candidate mass · 7^gap — aperture-7 area growth;
    ``mass`` tracks inflation already accrued by earlier merges). This
    keeps dense-core queries near their ideal res (a blanket clamp once
    routed ~450 sparse-city queries into balls holding < k points →
    mass brute-force fallback, the dominant cost of the whole join).

    The adaptive phase is the scan-vs-candidates trade measured on the
    320M-point scaling table: one branch = one full scan (~3 s at
    local[16]; the stage was 4 scans = 12 s of its 19 s wall), while a
    merged level only adds candidate rows to the shared window. With
    ``scan_rows`` (from the table's plan stats / density sample) and
    ``cand_per_query`` (≈ 3k·SAFETY², the ball's design occupancy), a
    merge that adds fewer candidate rows than ``scan_rows/8`` — a
    candidate row through shuffle+window costs roughly 8 scanned
    fixed-point rows — deletes a scan for less than its price. Small
    tables merge toward 1 branch (scans are cheap but so is
    everything); huge tables merge aggressively because full scans are
    the dominant term. Completeness is untouched: merging only ever
    moves queries coarser."""
    vals, counts = np.unique(r_est, return_counts=True)  # ascending
    levels = [int(v) for v in vals]
    cnts = [int(c) for c in counts]
    # expected candidate mass per level (query count × accrued ball
    # inflation): merging level i into i-1 multiplies its mass by the
    # 7^gap area growth
    mass = [float(c) * max(cand_per_query, 1.0) for c in cnts]
    while len(levels) > 1:
        costs = [mass[i] * 7.0 ** (levels[i] - levels[i - 1])
                 for i in range(1, len(levels))]
        i = int(np.argmin(costs)) + 1
        if len(levels) <= max_groups:
            if scan_rows is None:
                break
            if costs[i - 1] > scan_rows / 8.0:
                break
        mass[i - 1] += costs[i - 1]
        cnts[i - 1] += cnts[i]
        del levels[i], cnts[i], mass[i]
    out = np.full(len(r_est), levels[0], dtype=np.int64)
    for lv in levels:  # ascending: ends at the finest level ≤ r_est
        out = np.where(r_est >= lv, lv, out)
    return out


def _candidate_pass(points: DataFrame, q_pdf: pd.DataFrame,
                    assigned: np.ndarray, k: int, ring: int, factor: float,
                    point_id: str) -> tuple[DataFrame, set]:
    """One mixed-resolution candidate join + fused top-k/completeness
    window. Returns (checkpointed topk with n_cand, resolved q_id set)."""
    spark = points.sparkSession
    q_lat = q_pdf["lat"].to_numpy(dtype=np.float64)
    q_lon = q_pdf["lon"].to_numpy(dtype=np.float64)
    res_used = sorted({int(r) for r in assigned}, reverse=True)

    # one UNION branch per resolution level: each branch scans the point
    # table with its fixed-res pure-SQL encode and broadcast-joins that
    # level's ring cells. The point side never shuffles in any branch.
    # G branches = G scans; the single-scan alternative (explode the
    # point row to its G cell ids, one mixed-res encode, one join)
    # measured MINUTES instead of seconds at 160M rows — the Generate
    # feeding a BroadcastHashJoin falls out of whole-stage codegen — so
    # G scans of a columnar source is the faster plan in practice, and
    # G ≤ MAX_GROUPS keeps it bounded.
    pts = points.select(F.col(point_id).alias("p_id"),
                        F.col("lat").alias("p_lat"),
                        F.col("lon").alias("p_lon"))
    branches = []
    for r in res_used:
        mask = assigned == r
        cells = hexgrid.k_ring(hexgrid.cell_id(q_lat[mask], q_lon[mask], r),
                               ring)
        n_ring = cells.shape[1]
        g = factor * hexgrid.edge_deg(r)
        # per-query candidate ball: the level's guarantee radius, capped
        # by the query's own clamp (completeness holds for ANY radius ≤
        # the guarantee radius — see knn_join's clamp comment)
        if "r_clamp" in q_pdf.columns:
            g_q = np.minimum(g, q_pdf["r_clamp"].to_numpy()[mask])
        else:
            g_q = np.full(mask.sum(), g)
        # ring cells per query, computed on the driver (|Q|·ring_size
        # rows) and broadcast
        q_cells = spark.createDataFrame(pd.DataFrame({
            "cell": cells.ravel(),
            "q_id": np.repeat(q_pdf["q_id"].to_numpy()[mask], n_ring),
            "q_lat": np.repeat(q_lat[mask], n_ring),
            "q_lon": np.repeat(q_lon[mask], n_ring),
            "g2": np.repeat(g_q * g_q, n_ring)}))
        branches.append(
            pts
            .withColumn("cell",
                        hex_cell_col(F.col("p_lat"), F.col("p_lon"), r))
            .join(F.broadcast(q_cells), "cell", "inner"))
    joined = branches[0]
    for b in branches[1:]:
        joined = joined.unionByName(b)

    cand = (joined
            .withColumn("dist2", _dist2(F.col("q_lat"), F.col("q_lon"),
                                        F.col("p_lat"), F.col("p_lon")))
            # candidates ≤ g² are a complete ball (ring-containment
            # guarantee) — the filter runs map-side inside the scan
            .filter(F.col("dist2") <= F.col("g2"))
            .select("q_id", "p_id", "dist2"))

    # completeness count fused into the top-k job: same partition key
    # → one shuffle, two in-memory window passes, ONE action
    w_part = Window.partitionBy("q_id")
    w_rank = w_part.orderBy(F.col("dist2").asc(), F.col("p_id").asc())
    topk = (cand
            .withColumn("n_cand", F.count("*").over(w_part))
            .withColumn("rank", F.row_number().over(w_rank))
            .filter(F.col("rank") <= k))
    # materialize the ≤ |Q|·k survivors once; the summary below and the
    # caller's actions read these partitions. localCheckpoint blocks are
    # released by the ContextCleaner when this DataFrame is garbage-
    # collected — nothing leaks across calls. Planning happens here, so
    # this is where the inferred isnotnull(cell-expr) clone must be
    # suppressed (see session.without_inferred_join_key_filters: the
    # clone pushed the stage past the JIT huge-method limit — 75×).
    from ..session import without_inferred_join_key_filters

    with without_inferred_join_key_filters(spark):
        topk = topk.localCheckpoint(eager=True)
        resolved = (topk.filter(F.col("n_cand") >= k)
                    .select("q_id").distinct().toPandas()["q_id"])
    return topk, set(resolved.tolist())
