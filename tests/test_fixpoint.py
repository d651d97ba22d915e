"""The shared fixpoint driver: round budget (k changing steps + one
confirming step), one Spark job per round, the non-convergence and
schema-change errors naming the loop, and the rule that no other module
runs a ``max_rounds`` loop of its own."""

from __future__ import annotations

import ast
import pathlib

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


@pytest.mark.parametrize("k", [0, 3])
def test_one_job_per_round(spark, k):
    # the initial checkpoint plus k + 1 rounds, each one observed eager
    # checkpoint; a separate signature query would double the count
    sc = spark.sparkContext
    group = f"test_fixpoint_jobs_{k}"
    state, step = _counter(spark, k)
    sc.setJobGroup(group, "iterate job count")
    try:
        iterate("counter", state, step, ("i", "x"), max_rounds=k + 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == k + 2


def test_step_that_changes_the_schema_raises(spark):
    # xxhash64 of an int differs from that of the same long: a widening
    # step would make an unchanged state look changed
    state = spark.range(1).select(F.col("id").alias("i"),
                                  F.lit(0).cast("int").alias("x"))

    def widen(df):
        return df.select("i", F.col("x").cast("long").alias("x"))

    with pytest.raises(TypeError, match=r"widen: .*x int.*x bigint"):
        iterate("widen", state, widen, ("i", "x"), max_rounds=3)


def _max_rounds_loops(path: pathlib.Path) -> list[int]:
    """Lines of ``for ... in range(... max_rounds ...)`` loops."""
    lines = []
    for node in ast.walk(ast.parse(path.read_text())):
        it = getattr(node, "iter", None)
        if (isinstance(node, (ast.For, ast.comprehension))
                and isinstance(it, ast.Call)
                and isinstance(it.func, ast.Name) and it.func.id == "range"
                and any(isinstance(n, ast.Name) and n.id == "max_rounds"
                        for a in it.args for n in ast.walk(a))):
            lines.append(it.lineno)
    return lines


def test_no_round_loop_outside_fixpoint():
    # every operator with a ``max_rounds`` budget runs on iterate; a
    # hand-rolled round loop would bring back its own probe and raise
    pkg = pathlib.Path(__file__).resolve().parent.parent / "osmspark"
    found = [f"{p.relative_to(pkg.parent)}:{line}"
             for p in sorted(pkg.rglob("*.py")) if p.name != "fixpoint.py"
             for line in _max_rounds_loops(p)]
    assert not found, f"round loops outside fixpoint.py: {found}"
