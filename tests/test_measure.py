"""pyanamo_spark.measure: the one timing loop every measurement script
runs. A raising rep is counted and never aborts the run, the cache is
cleared after every rep, every rep's jobs carry the query's job group,
and a query's time is its fastest rep."""

from __future__ import annotations

import importlib.util
import sys
import time
from pathlib import Path

import pytest

from pyanamo_spark.measure import best_of, scale_factor
from pyanamo_spark.registry import QUERIES


@pytest.mark.parametrize(
    "sf_dir, sf",
    [
        ("/data/testdata/sf0.1", 0.1),
        (".fixtures/sf10/", 10.0),
        ("/tmp/sfdata", -1.0),
        ("perfbench/data", -1.0),
    ],
)
def test_scale_factor_parses_the_basename_only(sf_dir, sf):
    assert scale_factor(sf_dir) == sf


def test_raising_query_is_counted_per_rep_and_the_loop_goes_on(
    spark, sf_dir, monkeypatch
):
    def boom(spark, sf_dir):
        raise RuntimeError("planted failure")

    monkeypatch.setitem(QUERIES, "q_measure_boom", boom)
    run = best_of(spark, sf_dir, ["q_measure_boom", "q_state_counts"], reps=2)
    assert run.rep_errors == {"q_measure_boom": 2}
    assert run.errors == {"q_measure_boom": "RuntimeError: planted failure"}
    assert set(run.best) == {"q_state_counts"}
    assert len(run.times["q_state_counts"]) == 2


@pytest.mark.parametrize("raises", [False, True])
def test_persisted_frames_are_released_after_every_rep(
    spark, sf_dir, monkeypatch, raises
):
    jsc = spark.sparkContext._jsc

    def persists(spark, sf_dir):
        df = spark.range(1000).persist()
        df.count()
        if raises:
            raise RuntimeError("fails after persisting")
        return df

    monkeypatch.setitem(QUERIES, "q_measure_persist", persists)
    before = jsc.getPersistentRDDs().size()
    run = best_of(spark, sf_dir, ["q_measure_persist"], reps=2)
    assert run.rep_errors == ({"q_measure_persist": 2} if raises else {})
    assert jsc.getPersistentRDDs().size() == before


def test_each_rep_runs_under_a_job_group_named_after_the_query(
    spark, sf_dir, monkeypatch
):
    monkeypatch.setitem(QUERIES, "q_measure_grouped", lambda s, d: s.range(10))
    best_of(spark, sf_dir, ["q_measure_grouped"], reps=1)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("q_measure_grouped"))
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_reported_time_is_the_fastest_rep(spark, sf_dir, monkeypatch):
    sleeps = iter([0.4, 0.05, 0.2])

    def slow_build(spark, sf_dir):
        time.sleep(next(sleeps))
        return spark.range(10)

    monkeypatch.setitem(QUERIES, "q_measure_slow", slow_build)
    run = best_of(spark, sf_dir, ["q_measure_slow"], reps=3)
    times = run.times["q_measure_slow"]
    assert run.best["q_measure_slow"] == min(times)
    assert times.index(min(times)) == 1
    assert times[1] < 0.4 <= times[0]


def test_warm_reps_compile_no_new_classes(spark, sf_dir, monkeypatch):
    """Spark's generated-class cache holds every class the perfbench
    queries compile, so their warm reps reuse them instead of running
    Janino (and then the JIT) again. At Spark's default cache of 100
    entries every rep recompiles about as much as the first."""
    bench = Path(__file__).resolve().parent.parent / "perfbench" / "run.py"
    monkeypatch.setattr(sys, "path", sys.path[:])  # run.py prepends to it
    spec = importlib.util.spec_from_file_location("perfbench_run", bench)
    perfbench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(perfbench)
    names = sorted(
        {n for ops in perfbench.WORKLOADS.values() for n in ops} - {perfbench.ENGINE_OP}
    )
    run = best_of(spark, sf_dir, names, reps=3)
    assert run.rep_errors == {}
    first, last = (sum(c[rep] for c in run.compiles.values()) for rep in (0, -1))
    assert last <= 0.05 * first, run.compiles
