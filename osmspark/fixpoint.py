"""The fixpoint driver shared by the signature-checked iterative operators.

Connected components, SCC min-reach propagation, DAG layering, the
raster hydrology loops and the frontier relaxations all have the same
outer shape: apply one DataFrame-to-DataFrame round until the state
stops changing, and fail loudly when a round budget runs out.
:func:`iterate` owns that shape once; each operator supplies only its
round body. Callers: ``graph/cc.py:cc_labels`` (and ``dedup_clusters``
through it), ``graph/scc.py`` (min-reach and topo levels),
``spatial/hydro.py`` (fill, accumulation, watershed) and
``graph/sssp.py:_relax`` — weighted SSSP, and with unit weights the
BFS behind ``shortest_hops``, ``multi_source_hops``,
``closeness_centrality`` and ``harmonic_centrality``.

Two loops stay outside on purpose. The peel loop of ``scc_labels``
(one phase per peeled SCC batch, each running two ``iterate`` calls)
would pay a confirming phase on ``iterate``: a prototype of it took
283 Spark jobs against 215 on the ``tests/test_scc.py`` fixture
(local[4]). The kcore, hits and pagerank loops run a fixed ``n_iter``
count, so both engines stay bit-identical even before convergence; a
convergence stop would change their output.

Each round is ONE Spark query: the step's output carries an
``Observation`` of the convergence signature and is checkpointed
eagerly (``observe(...).localCheckpoint(eager=True)``), so lineage
never grows with the round number and the signature is collected by
the job that materializes the checkpoint. The signature is the row
count plus two independent order-insensitive xxhash64 sums over the
state's key columns. A false "stable" needs a simultaneous collision of
both 64-bit sums AND the count (~2^-128, vs ~2^-64 for a single sum).
An exact symmetric-difference check would cost two extra anti-join
jobs per round, which dominated wall time on small graphs. The sums
are taken as ``decimal(38,0)`` so they cannot overflow.

The checkpoint is eager because under AQE a lazy ``localCheckpoint``
call already runs the round's shuffle map stages, so a lazy checkpoint
plus a separate signature aggregation is two queries per round, not
one: 2k + 4 jobs for a shuffle-free state that changes in k steps,
against k + 2 here (pinned by ``tests/test_fixpoint.py``).

Because the sums hash typed values, an ``int`` and the same ``long``
hash differently. A step whose output changes a column's type would
make an unchanged state look changed, so :func:`iterate` raises
``TypeError`` when a step's output schema differs from the state's
(names and types; nullability is ignored).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Observation, functions as F

__all__ = ["iterate"]


def _observed(df: DataFrame, cols: Sequence[str]) -> tuple[DataFrame, tuple]:
    """``df`` checkpointed by one job that also returns its signature."""
    rev = tuple(reversed(cols))
    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h1"),
        F.sum(F.xxhash64(*rev, F.lit(7))
              .cast("decimal(38,0)")).alias("h2")).localCheckpoint(eager=True)
    got = obs.get
    return out, (got["n"], got["h1"], got["h2"])


def _fields(df: DataFrame) -> str:
    """Column names and types in order; ``simpleString`` drops nullability."""
    return ", ".join(f"{f.name} {f.dataType.simpleString()}"
                     for f in df.schema)


def iterate(name: str, state: DataFrame,
            step: Callable[[DataFrame], DataFrame],
            cols: Sequence[str], max_rounds: int) -> DataFrame:
    """Apply ``step`` to ``state`` until a round leaves it unchanged.

    ``cols`` are the state columns the signature hashes (they must
    determine the row set). The signature of the initial state is
    taken first; then at most ``max_rounds`` steps run, and the state
    of the first step whose signature equals its predecessor's is
    returned. So a state that changes in k steps needs
    ``max_rounds >= k + 1`` (k changing steps plus one confirming
    step). Raises ``RuntimeError("<name> did not converge in
    <max_rounds> rounds")`` when the budget runs out first, and
    ``TypeError`` when a step changes a column's name or type.
    """
    state, sig = _observed(state, cols)
    fields = _fields(state)
    for _ in range(max_rounds):
        new = step(state)
        if (got := _fields(new)) != fields:
            raise TypeError(f"{name}: a step changed the state schema "
                            f"from ({fields}) to ({got})")
        new, new_sig = _observed(new, cols)
        if new_sig == sig:
            return new
        state, sig = new, new_sig
    raise RuntimeError(f"{name} did not converge in {max_rounds} rounds")
