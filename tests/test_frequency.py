"""Count-min sketch — osmspark/pipeline/frequency.py.

Pins the CMS contract: estimates NEVER underestimate, exact-match on a
collision-free width, weighted build == exploded build, NULLs skipped.
"""

from pyspark.sql import functions as F

from osmspark.pipeline.frequency import cms_build, cms_point_query


def _corpus(spark):
    rows = []
    for i in range(200):
        rows.append(("g1", ["alpha", "beta", "gamma", "delta"][i % 4]))
    for i in range(50):
        rows.append(("g2", ["alpha", "omega"][i % 2]))
    return spark.createDataFrame(rows, "grp string, v string")


def _probe(spark):
    vals = ["alpha", "beta", "gamma", "delta", "omega", "missing"]
    return (spark.createDataFrame([("g1",), ("g2",)], "grp string")
            .crossJoin(F.broadcast(
                spark.createDataFrame([(v,) for v in vals], "v string"))))


def test_estimate_never_underestimates(spark):
    df = _corpus(spark)
    sk = cms_build(df, ["grp"], "v", depth=4, width=8)   # tiny: collisions
    est = {(r["grp"], r["v"]): r["est"]
           for r in cms_point_query(_probe(spark), sk, "v", ["grp"],
                                    depth=4, width=8).collect()}
    true = {(r["grp"], r["v"]): r["n"]
            for r in df.groupBy("grp", "v").agg(
                F.count(F.lit(1)).alias("n")).collect()}
    for k, e in est.items():
        assert e >= true.get(k, 0)


def test_wide_sketch_is_exact(spark):
    # 6 distinct values, width 512: P(any collision) is 0 for this
    # pinned seed — assert exactness outright (deterministic hashes)
    df = _corpus(spark)
    sk = cms_build(df, ["grp"], "v", depth=4, width=512)
    est = {(r["grp"], r["v"]): r["est"]
           for r in cms_point_query(_probe(spark), sk, "v", ["grp"],
                                    depth=4, width=512).collect()}
    assert est[("g1", "alpha")] == 50
    assert est[("g1", "beta")] == 50
    assert est[("g2", "alpha")] == 25
    assert est[("g2", "omega")] == 25
    assert est[("g2", "beta")] == 0
    assert est[("g1", "missing")] == 0


def test_weighted_build_equals_exploded(spark):
    df = _corpus(spark)
    census = df.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("n"))
    sk_w = cms_build(census, ["grp"], "v", depth=4, width=64,
                     weight_col="n")
    sk_e = cms_build(df, ["grp"], "v", depth=4, width=64)
    w = {(r["grp"], r["r"], r["j"]): r["c"] for r in sk_w.collect()}
    e = {(r["grp"], r["r"], r["j"]): r["c"] for r in sk_e.collect()}
    assert w == e


def test_nulls_skipped(spark):
    df = spark.createDataFrame(
        [("g1", "x"), ("g1", None), ("g1", "x")], "grp string, v string")
    sk = cms_build(df, ["grp"], "v", depth=2, width=16)
    total = sum(r["c"] for r in sk.collect())
    assert total == 2 * 2     # 2 non-null rows x depth 2
