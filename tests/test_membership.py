"""Bloom membership sketch: Python position parity, no-false-negatives,
FPP envelope, partitioning invariance, NULLs."""

from __future__ import annotations

import hashlib

import pandas as pd

from osmspark.pipeline.membership import (
    bloom_build, bloom_might_contain, bloom_stats)

M, K = 256, 3


def _py_positions(v, m=M, k=K, seed=1):
    return [int(hashlib.md5(f"{v}:bloom{seed}:{i}".encode())
                .hexdigest()[:15], 16) % m for i in range(k)]


def _py_bits(values, m=M, k=K):
    bits = set()
    for v in values:
        bits.update(_py_positions(v, m, k))
    return sorted(bits)


def _df(spark, vals, group="g"):
    return spark.createDataFrame(
        pd.DataFrame({"g": [group] * len(vals), "v": vals}))


def test_bits_match_python(spark):
    vals = [f"url-{i}" for i in range(300)]
    got = bloom_build(_df(spark, vals), ["g"], "v", m=M, k=K).collect()
    assert len(got) == 1
    assert list(got[0]["bits"]) == _py_bits(vals)


def test_no_false_negatives_and_fpp_envelope(spark):
    seen = [f"seen-{i}" for i in range(200)]
    flt = bloom_build(_df(spark, seen), ["g"], "v", m=1024, k=4)
    probes = _df(spark, seen + [f"new-{i}" for i in range(2000)])
    out = bloom_might_contain(probes, flt, "v", ["g"], m=1024, k=4) \
        .collect()
    verdict = {r["v"]: r["maybe_seen"] for r in out}
    assert all(verdict[v] for v in seen)  # never a false negative
    fp = sum(verdict[f"new-{i}"] for i in range(2000)) / 2000
    n_set = len(_py_bits(seen, 1024, 4))
    assert fp <= 3 * (n_set / 1024) ** 4 + 0.01


def test_probe_missing_group_is_false_and_stats(spark):
    flt = bloom_build(_df(spark, ["x"], group="g1"), ["g"], "v",
                      m=M, k=K)
    probes = _df(spark, ["x"], group="g2")
    out = bloom_might_contain(probes, flt, "v", ["g"], m=M, k=K).collect()
    assert out[0]["maybe_seen"] is False
    st = bloom_stats(flt, m=M, k=K).collect()[0]
    n = len(_py_bits(["x"]))
    assert st["n_set"] == n
    assert st["fill"] == round(n / M, 6)
    assert st["fpp_est"] == round(n ** K / M ** K, 6)


def test_partitioning_invariance_and_nulls(spark):
    vals = [f"p-{i}" for i in range(100)]
    df = _df(spark, vals + [None, None])
    one = bloom_build(df.coalesce(1), ["g"], "v", m=M, k=K) \
        .collect()[0]["bits"]
    many = bloom_build(df.repartition(7), ["g"], "v", m=M, k=K) \
        .collect()[0]["bits"]
    assert list(one) == list(many) == _py_bits(vals)
