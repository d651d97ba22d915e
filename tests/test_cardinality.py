"""HLL distinct sketch: accuracy envelope, partitioning invariance,
NumPy register parity."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from osmspark.pipeline.cardinality import (
    ALPHA_M2_P55, M_REGS, RHO_MAX, hll_distinct, hll_registers)


def _py_registers(values, seed=1):
    regs = {}
    for v in values:
        h = int(hashlib.md5(f"{v}:hll{seed}".encode()).hexdigest()[:15], 16)
        j, w = h % M_REGS, h >> 6
        rho = RHO_MAX - w.bit_length()
        regs[j] = max(regs.get(j, 0), rho)
    return regs


def _py_estimate(regs):
    s = sum(1 << (RHO_MAX - m) for m in regs.values())
    s += (M_REGS - len(regs)) * (1 << RHO_MAX)
    return ALPHA_M2_P55 / float(s)


def _df(spark, vals, group="g"):
    return spark.createDataFrame(
        pd.DataFrame({"g": [group] * len(vals), "v": vals}))


def test_registers_match_python(spark):
    vals = [f"doc-{i}" for i in range(500)]
    got = {r["j"]: r["m"]
           for r in hll_registers(_df(spark, vals), ["g"], "v").collect()}
    assert got == _py_registers(vals)


def test_estimate_error_envelope(spark):
    # m=64 standard error ~13%; allow 3 sigma on seeded inputs
    for n in (60, 600, 6000):
        vals = [f"item-{n}-{i}" for i in range(n)]
        out = hll_distinct(_df(spark, vals), ["g"], "v").collect()
        assert len(out) == 1
        est = out[0]["est"]
        assert abs(est - n) / n < 0.40, (n, est)
        assert est == _py_estimate(_py_registers(vals))


def test_duplicates_do_not_move_registers(spark):
    vals = [f"x-{i}" for i in range(300)]
    once = hll_distinct(_df(spark, vals), ["g"], "v").collect()[0]
    many = hll_distinct(_df(spark, vals * 7), ["g"], "v").collect()[0]
    assert once["s_num"] == many["s_num"] and once["est"] == many["est"]


def test_partitioning_invariance(spark):
    rng = np.random.default_rng(44)
    vals = [f"p-{int(v)}" for v in rng.integers(0, 2000, 5000)]
    df = _df(spark, vals)
    a = hll_distinct(df, ["g"], "v").collect()[0]
    b = hll_distinct(df.repartition(13), ["g"], "v").collect()[0]
    assert (a["v_zero"], a["s_num"], a["est"]) == \
           (b["v_zero"], b["s_num"], b["est"])


def test_multiple_groups(spark):
    rows = [("a", f"u{i}") for i in range(100)] + \
           [("b", f"u{i}") for i in range(40)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["g", "v"]))
    out = {r["g"]: r for r in hll_distinct(df, ["g"], "v").collect()}
    assert out["a"]["est"] == _py_estimate(
        _py_registers([f"u{i}" for i in range(100)]))
    assert out["b"]["est"] == _py_estimate(
        _py_registers([f"u{i}" for i in range(40)]))


def test_null_values_are_ignored(spark):
    vals = [f"n-{i}" for i in range(200)]
    clean = hll_distinct(_df(spark, vals), ["g"], "v").collect()[0]
    noisy_df = spark.createDataFrame(
        pd.DataFrame({"g": ["g"] * (len(vals) + 5),
                      "v": vals + [None] * 5}))
    noisy = hll_distinct(noisy_df, ["g"], "v").collect()[0]
    assert (clean["v_zero"], clean["s_num"], clean["est"]) == \
           (noisy["v_zero"], noisy["s_num"], noisy["est"])
    # an all-NULL group produces no register rows at all
    null_df = spark.createDataFrame(
        pd.DataFrame({"g": ["z"] * 3, "v": [None] * 3}))
    assert hll_registers(null_df, ["g"], "v").count() == 0
