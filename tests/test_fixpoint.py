"""The fixpoint driver (plans/fixpoint.py) and the loops built on it:
stop tests, round limits, session-conf scoping, and jobs per query."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from beam_pyspark_runner_spark.plans.fixpoint import fixpoint
from beam_pyspark_runner_spark.queries import REGISTRY
from tests.conftest import SF_SMOKE

_NARROWED = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")


def _one(spark):
    return spark.range(1).select(F.lit(0).cast("long").alias("x"))


def test_fixpoint_safety_cap_raises(spark):
    """A loop that never converges raises at its safety cap, for both
    stop tests."""
    def grow(state, rnd):
        return state.unionAll(state.select(F.lit(rnd).cast("long")))

    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        fixpoint("grows", _one(spark), grow, added=lambda r: F.col("x") == r, cap=3)
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        fixpoint(
            "climbs", _one(spark), lambda s, r: s.select((F.col("x") + 1).alias("x")),
            total="x", cap=3,
        )


def test_fixpoint_declared_depth_returns(spark):
    """A loop that is still adding rows at its declared depth returns
    the state after exactly that many rounds."""
    rounds = []

    def grow(state, rnd):
        rounds.append(rnd)
        return state.unionAll(state.select(F.lit(rnd).cast("long")))

    out = fixpoint("grows", _one(spark), grow, added=lambda r: F.col("x") == r, depth=3)
    assert rounds == [1, 2, 3]
    assert sorted(r.x for r in out.collect()) == [0, 1, 2, 2, 3, 3, 3, 3]


def test_fixpoint_stops_at_first_unchanged_round(spark):
    """Each stop test ends the loop at the first round that changes
    nothing, well before the cap."""
    rounds = []

    def capped(state, rnd):
        rounds.append(rnd)
        return state.select(F.least(F.col("x") + 1, F.lit(2)).alias("x"))

    out = fixpoint("capped", _one(spark), capped, total="x", cap=10)
    assert rounds == [1, 2, 3] and out.first().x == 2

    def frontier(state, rnd):  # the state is the frontier; empty at round 2
        return state.filter(F.lit(rnd) < 2)

    assert fixpoint("empties", _one(spark), frontier, cap=10).count() == 0


@pytest.mark.parametrize("name", ["bfs_shortest_hops", "scc_pivot_fwbw"])
def test_narrowed_loop_restores_conf_on_midloop_failure(spark, monkeypatch, name):
    """A failure inside the loop (the first pin after the edge list and
    the five jump-table levels) leaves the narrowed keys as they were;
    scc's two concurrent passes share one scope."""
    from pyspark.sql.classic.dataframe import DataFrame

    before = {k: spark.conf.get(k) for k in _NARROWED}
    real_lcp = DataFrame.localCheckpoint
    calls = {"n": 0}

    def exploding_lcp(self, *a, **kw):
        calls["n"] += 1
        if calls["n"] >= 7:
            raise RuntimeError("injected mid-loop failure")
        return real_lcp(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "localCheckpoint", exploding_lcp)
    with pytest.raises(RuntimeError, match="injected"):
        REGISTRY[name].fn(spark, SF_SMOKE)
    monkeypatch.undo()
    assert calls["n"] >= 7, "injection never reached the loop"
    assert {k: spark.conf.get(k) for k in _NARROWED} == before


# (build jobs, exec jobs) per query at sf0.001, the exec side through
# the noop sink. Measured warm: the first run of betweenness in a JVM
# launches two more AQE jobs.
_JOBS = {
    "bfs_shortest_hops": (10, 1),
    "closeness_centrality_sampled": (9, 2),
    "scc_pivot_fwbw": (17, 4),
    "dag_longest_path_layers": (10, 2),
    "bellman_ford_weighted_paths": (16, 1),
    "betweenness_centrality_sampled": (25, 55),
}


@pytest.mark.parametrize("name", sorted(_JOBS))
def test_graph_loop_job_counts(spark, name):
    """Each fixpoint-driven graph query runs a pinned number of jobs.
    Jobs are counted with no job group set, so scc's pool threads are
    counted too; the narrowed keys are back at their values after."""
    tracker = spark.sparkContext.statusTracker()
    before = {k: spark.conf.get(k) for k in _NARROWED}
    for _ in range(2):
        ids = set(tracker.getJobIdsForGroup(None))
        df = REGISTRY[name].fn(spark, SF_SMOKE)
        built = set(tracker.getJobIdsForGroup(None))
        df.write.format("noop").mode("overwrite").save()
        done = set(tracker.getJobIdsForGroup(None))
        assert len(built - ids) == _JOBS[name][0], name
    assert len(done - built) == _JOBS[name][1], name
    assert {k: spark.conf.get(k) for k in _NARROWED} == before
