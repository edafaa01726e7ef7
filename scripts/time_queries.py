"""Time declared queries in isolation, for iterating on the slow tail.

Each query is timed best-of-N by ``pyanamo_spark.measure.best_of``
(noop sink, clearCache after every rep); one line per query gives the
best rep and every rep.

Run: python scripts/time_queries.py [q_a q_b ...]   (default: every query)
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS, N_REPS (default 2).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyanamo_spark.measure import best_of
from pyanamo_spark.registry import QUERIES, load_all
from pyanamo_spark.session import get_spark


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("N_REPS", "2"))
    load_all()
    names = sys.argv[1:] or sorted(QUERIES)
    spark = get_spark("pyanamo-spark-timeq")
    try:
        run = best_of(spark, sf_dir, names, reps)
    finally:
        spark.stop()
    best = run.best
    for name in names:
        took = f"{best[name]:.3f}s" if name in best else run.errors[name]
        reps_s = " ".join("err" if t is None else f"{t:.3f}" for t in run.times[name])
        print(f"{name:24s} {took}  reps {reps_s}")
    return 1 if run.errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
