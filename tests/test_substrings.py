"""Exact substring (token-window) dedup — osmspark/pipeline/substrings.py.

Pins: window enumeration (count, positions, hash = md5 of the joined
span), census counts + keeper under within-doc repeats, per-doc stats vs
a brute-force Python recomputation, the never-drop contract for short
docs, and the skew-safe census plan (partial min/count BELOW the
exchange — map-side combine, same pin as lines.py's census).
"""

import hashlib

import pytest

from osmspark.pipeline.substrings import (dup_span_stats,
                                          explode_token_windows,
                                          window_census)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # doc 1: the span "one two three" also opens doc 2
        (1, "one two three four"),
        # doc 2: shares 3-token prefix with doc 1
        (2, "one two three five"),
        # doc 3: within-doc repeat ("x x x x" emits "x x x" twice)
        (3, "x x x x"),
        # doc 4: shorter than k → zero windows, must still get a stats row
        (4, "tiny doc"),
        # doc 5: entirely unique
        (5, "alpha beta gamma delta"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_window_enumeration(docs):
    wins = explode_token_windows(docs, k=3).collect()
    got = {(r.doc_id, r.win_no): r.win_hash for r in wins}
    # doc 1: 4 tokens → 2 windows at positions 1, 2
    assert got[(1, 1)] == _md5("one two three")
    assert got[(1, 2)] == _md5("two three four")
    # doc 3: within-doc repeat — same hash at positions 1 and 2
    assert got[(3, 1)] == got[(3, 2)] == _md5("x x x")
    # doc 4 (2 tokens < k) emits nothing
    assert not any(d == 4 for d, _ in got)
    assert len(wins) == 2 + 2 + 2 + 0 + 2


def test_census_counts_and_keeper(docs):
    census = {r.win_hash: r for r in
              window_census(explode_token_windows(docs, k=3)).collect()}
    shared = census[_md5("one two three")]
    assert shared.n_copies == 2
    assert (shared.keep_doc, shared.keep_win) == (1, 1)
    rep = census[_md5("x x x")]
    assert rep.n_copies == 2          # within-doc occurrences both count
    assert (rep.keep_doc, rep.keep_win) == (3, 1)
    assert census[_md5("alpha beta gamma")].n_copies == 1


def test_dup_span_stats(docs):
    stats = {r.doc_id: r for r in dup_span_stats(docs, k=3).collect()}
    assert len(stats) == 5                      # never-drop: all docs
    assert stats[4].n_windows == 0 and stats[4].dup_ratio == 0.0
    # doc 1 holds the keeper: span is dup (n_copies 2) but not removable
    assert (stats[1].n_windows, stats[1].n_dup, stats[1].n_removable) \
        == (2, 1, 0)
    # doc 2's copy is the removable one
    assert (stats[2].n_dup, stats[2].n_removable) == (1, 1)
    assert stats[2].dup_ratio == 0.5
    # doc 3: both occurrences dup, second removable
    assert (stats[3].n_dup, stats[3].n_removable) == (2, 1)
    assert stats[5].n_dup == 0 and stats[5].dup_ratio == 0.0


def test_census_plan_is_partial_aggregate(docs):
    """The skew-safety claim: the census must plan as a two-phase
    aggregate — map-side partial_min/partial_count BELOW the exchange
    (same pin as lines.line_census) and never a window over the hash."""
    plan = window_census(explode_token_windows(docs, k=3)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min" in plan and "partial_count" in plan
    assert plan.index("partial_min") > plan.index("Exchange")  # below it


def test_brute_force_parity(spark):
    """Random-ish corpus vs a pure-Python recomputation of the stats."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30)))
             for _ in range(40)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    k, min_dup = 4, 2

    # python brute force
    from collections import Counter, defaultdict
    occ = defaultdict(list)
    per_doc_wins = {}
    for i, t in enumerate(texts):
        toks = t.split()
        wins = [" ".join(toks[j:j + k]) for j in range(len(toks) - k + 1)]
        per_doc_wins[i] = wins
        for j, w in enumerate(wins):
            occ[w].append((i, j + 1))
    counts = Counter({w: len(v) for w, v in occ.items()})
    expect = {}
    for i, wins in per_doc_wins.items():
        n_dup = sum(1 for w in wins if counts[w] >= min_dup)
        n_rm = sum(1 for j, w in enumerate(wins)
                   if counts[w] >= min_dup and min(occ[w]) != (i, j + 1))
        expect[i] = (len(wins), n_dup, n_rm,
                     round(n_dup / len(wins), 6) if wins else 0.0)

    got = {r.doc_id: (r.n_windows, r.n_dup, r.n_removable, r.dup_ratio)
           for r in dup_span_stats(docs, k=k, min_dup=min_dup).collect()}
    assert got == expect


def test_decontaminate_flags(spark):
    """Corpus docs sharing any k-gram with the bench set flag; others
    don't; short docs keep a zero-window row; the bench-span join is a
    broadcast (no shuffle on win_hash)."""
    from osmspark.pipeline.substrings import decontaminate_flags
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            # shares "the quick brown" and "quick brown fox" → 2 hits
            (1, "so the quick brown fox ran"),
            # clean
            (2, "entirely different words here now"),
            # short (< k tokens) → 0 windows, still present
            (3, "tiny"),
        ],
        "doc_id long, text string")
    out = decontaminate_flags(corpus, bench, k=3)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].n_hits == 2 and rows[1].contaminated
    assert rows[1].n_windows == 4
    assert rows[1].hit_frac == 0.5
    assert rows[2].n_hits == 0 and not rows[2].contaminated
    assert rows[3].n_windows == 0 and rows[3].hit_frac == 0.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
