"""Session utilities: pinned configs and scoped optimizer-rule
exclusion."""

from __future__ import annotations

import os

import pytest

from osmspark.session import (INFER_FILTERS_RULE, _default_driver_memory,
                              without_inferred_join_key_filters)


def _get(spark, key):
    try:
        return spark.conf.get(key)
    except Exception:
        return None


def test_ansi_mode_pinned(spark):
    """Integer overflow must raise, whatever the deployment default."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_call_site_capture_pinned_off(spark):
    """No py4j round trips per Column call to record the Python call site."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


@pytest.mark.parametrize("phys_gib, want", [
    (15, "3840m"),       # a quarter of the host
    (256, "24576m"),     # capped at 24g
    (2, "512m"),
])
def test_default_driver_memory_fits_host(monkeypatch, phys_gib, want):
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gib << 18}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)
    assert _default_driver_memory() == want


def test_rule_excluded_inside_scope_and_restored(spark):
    key = "spark.sql.optimizer.excludedRules"
    before = _get(spark, key)
    with without_inferred_join_key_filters(spark):
        assert INFER_FILTERS_RULE in (spark.conf.get(key) or "")
    assert _get(spark, key) == before


def test_scope_merges_with_existing_exclusions(spark):
    key = "spark.sql.optimizer.excludedRules"
    other = "org.apache.spark.sql.catalyst.optimizer.ConstantFolding"
    before = _get(spark, key)
    spark.conf.set(key, other)
    try:
        with without_inferred_join_key_filters(spark):
            val = spark.conf.get(key)
            assert other in val and INFER_FILTERS_RULE in val
        assert spark.conf.get(key) == other
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_overlapping_scopes_keep_rule_excluded(spark):
    """Concurrent scopes (run_stage units planning in parallel): the rule
    stays excluded while ANY scope is active; the last exit restores the
    pre-existing value. A naive set/restore pair races — one thread's
    restore would re-enable the rule mid-action for another."""
    import threading
    import time

    key = "spark.sql.optimizer.excludedRules"
    before = _get(spark, key)
    excluded_during_overlap = []
    barrier = threading.Barrier(2)
    release = threading.Event()

    def hold():
        with without_inferred_join_key_filters(spark):
            barrier.wait(timeout=10)
            release.wait(timeout=10)

    t = threading.Thread(target=hold)
    t.start()
    barrier.wait(timeout=10)  # inner scope is active
    with without_inferred_join_key_filters(spark):
        pass  # this exit must NOT re-enable the rule: t still holds it
    excluded_during_overlap.append(INFER_FILTERS_RULE in (_get(spark, key) or ""))
    release.set()
    t.join(timeout=10)
    assert excluded_during_overlap == [True]
    assert _get(spark, key) == before


def test_restores_on_exception(spark):
    key = "spark.sql.optimizer.excludedRules"
    before = _get(spark, key)
    try:
        with without_inferred_join_key_filters(spark):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert _get(spark, key) == before
