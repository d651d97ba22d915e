"""The shared fixpoint driver: round budget (k changing steps + one
confirming step) and the non-convergence error naming the loop."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osmspark.fixpoint import iterate


def _counter(spark, k):
    """(i, x) one row starting at x = 0; each step moves x one closer
    to k, so the state changes in exactly k steps."""
    state = spark.range(1).select(F.col("id").alias("i"),
                                  F.lit(0).cast("long").alias("x"))

    def step(df):
        return df.select("i", F.least(F.col("x") + 1, F.lit(k)).alias("x"))

    return state, step


@pytest.mark.parametrize("k", [0, 3])
def test_converges_with_k_plus_one_rounds(spark, k):
    state, step = _counter(spark, k)
    out = iterate("counter", state, step, ("i", "x"), max_rounds=k + 1)
    assert [tuple(r) for r in out.collect()] == [(0, k)]


def test_raises_with_name_at_k_rounds(spark):
    state, step = _counter(spark, 3)
    with pytest.raises(RuntimeError,
                       match="counter did not converge in 3 rounds"):
        iterate("counter", state, step, ("i", "x"), max_rounds=3)

