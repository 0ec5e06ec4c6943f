"""Iteration over pinned state: the observed pin and the fixpoint driver.

Every iterative query pins its state once per round (lineage stays flat,
plan size stays O(1) in the round count) and decides termination from a
scalar computed on that pin's own job, so a round costs the jobs its
step and its pin run and nothing more.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from beam_pyspark_runner_spark.plans.audit import checkpoint_audited


def checkpoint_observed(df: DataFrame, metric: Column, **kw) -> tuple[DataFrame, object]:
    """``checkpoint_audited(df, **kw)`` plus the value of ``metric`` over
    the pinned rows, computed on the pin's own materialization job.

    ``metric`` must be grouping-free and order-insensitive (Spark's
    ``observe`` contract): a count, or a sum of exact integers or
    decimals — never a float fold."""
    obs = Observation()
    pinned = checkpoint_audited(df.observe(obs, metric.alias("m")), **kw)
    return pinned, obs.get["m"]


def fixpoint(
    name: str,
    init: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    *,
    added: Callable[[int], Column] | None = None,
    total: str | None = None,
    depth: int | None = None,
    cap: int | None = None,
    **pin_kw,
) -> DataFrame:
    """Iterate ``state = pin(step(state, r))`` for rounds r = 1, 2, …
    from ``init`` and return the last pinned state.

    Stop test, observed on each round's pin:

    - ``total``: an exact-integer column whose sum changes every round
      until the fixpoint (a monotone relaxation); the loop stops at the
      first round that leaves the sum where the previous round left it.
    - otherwise the loop stops at the first round that adds no rows:
      rows matching ``added(r)`` (a visited set that marks each round's
      layer), or every pinned row when ``added`` is None (the state is
      the round's frontier).

    Round limit, exactly one of:

    - ``depth``: a declared depth — the answer is defined as the state
      after at most ``depth`` rounds, so reaching it is a normal exit;
    - ``cap``: a safety cap on a loop that must reach its fixpoint;
      reaching it raises ``RuntimeError``.

    ``pin_kw`` goes to ``checkpoint_audited``. The driver changes no
    session state: callers hold any conf scope (``_narrow_shuffle``)
    around the call, so concurrent loops can share one scope."""
    if (depth is None) == (cap is None):
        raise TypeError(f"{name}: pass exactly one of depth= or cap=")
    state, last = init, None
    for rnd in range(1, (cap if depth is None else depth) + 1):
        if total is not None:
            metric = F.sum(total)
        elif added is not None:
            metric = F.count(F.when(added(rnd), 1))
        else:
            metric = F.count(F.lit(1))
        state, m = checkpoint_observed(step(state, rnd), metric, **pin_kw)
        if m == (last if total is not None else 0):
            return state
        last = m
    if cap is None:
        return state
    raise RuntimeError(f"{name} did not converge in {cap} rounds")
