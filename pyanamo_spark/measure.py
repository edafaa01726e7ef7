"""The one timing loop behind every measurement script.

``bench.py``, ``scripts/scale_gate.py``, ``scripts/bench_scale.py``
and ``scripts/profile_suite.py`` all time declared queries the same
way:

- one warm-up (``q_state_counts`` collected) before any timed rep, so
  JVM start and parquet footer reads fall outside the timings. A
  query's generated classes are compiled in its first rep; later reps
  find most of them in Spark's generated-class cache (sized by
  ``session.CODEGEN_CACHE_ENTRIES``). Every rep's Janino compiles are
  counted, outside the timed window, in ``Timings.compiles``;
- each rep builds the query and runs it to completion into the
  ``noop`` sink, so every row materializes but none is shipped to the
  driver;
- each rep runs under a job group named after the query (description
  ``<name>#r<rep>``), set outside the timed window, so its jobs can be
  found through ``statusTracker().getJobIdsForGroup`` or the event log;
- ``clearCache()`` runs after every rep, a failed one included, so one
  query's persisted frames neither occupy executor storage for the rest
  of the suite nor serve the next rep from cache;
- reps run pass-major (every name once, then every name again), so a
  burst of host load spreads over many queries instead of all reps of
  one; a query's time is its best rep;
- a raising rep is counted and the loop goes on. A query with no
  successful rep is reported as an error, never aborts the run.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyanamo_spark.registry import QUERIES


def scale_factor(sf_dir: str | Path) -> float:
    """The ``<number>`` of an ``sf<number>`` directory basename, else -1.0."""
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", Path(sf_dir).name)
    return float(m.group(1)) if m else -1.0


@dataclass
class Timings:
    """What one ``best_of`` run measured."""

    #: name -> seconds of each pass's rep, None where that rep raised
    times: dict[str, list[float | None]]
    #: name -> text of its last raising rep
    last_error: dict[str, str] = field(default_factory=dict)
    #: name -> Janino compiles during each pass's rep
    compiles: dict[str, list[int]] = field(default_factory=dict)

    @property
    def best(self) -> dict[str, float]:
        """Each query's fastest rep, for queries with a successful one."""
        return {
            n: min(t for t in ts if t is not None)
            for n, ts in self.times.items()
            if any(t is not None for t in ts)
        }

    @property
    def errors(self) -> dict[str, str]:
        """Queries whose every rep raised, with the last error text."""
        best = self.best
        return {n: e for n, e in self.last_error.items() if n not in best}

    @property
    def rep_errors(self) -> dict[str, int]:
        """Number of raising reps per query, for queries with any."""
        return {n: ts.count(None) for n, ts in self.times.items() if None in ts}


def _compile_count(spark) -> int:
    """Janino compiles of generated code so far in this JVM (a
    generated-class cache hit does not count)."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


def best_of(spark, sf_dir: str, names, reps: int) -> Timings:
    """Time every name ``reps`` times, pass-major, after one warm-up."""
    names = list(names)
    out = Timings({n: [] for n in names}, compiles={n: [] for n in names})
    QUERIES["q_state_counts"](spark, sf_dir).collect()  # warm-up
    sc = spark.sparkContext
    for rep in range(reps):
        for name in names:
            sc.setJobGroup(name, f"{name}#r{rep}")
            compiled = _compile_count(spark)
            t0 = time.perf_counter()
            try:
                df = QUERIES[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 — a rep may hit a
                # transient executor fault (e.g. the Spark 4.1.2
                # "SparkPlan.session() is null" NPE seen once on a
                # cached-plan re-execution); the other reps still time
                # the query, and every fault is counted so a query that
                # fails cold but succeeds warm cannot record a silently
                # clean timing
                out.last_error[name] = f"{type(exc).__name__}: {exc}"[:200]
                dt = None
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                spark.catalog.clearCache()
            out.times[name].append(dt)
            out.compiles[name].append(_compile_count(spark) - compiled)
    return out
