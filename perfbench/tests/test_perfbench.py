"""Tests of the benchmark's own machinery (not of the engine).

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import run  # noqa: E402
import stats  # noqa: E402


def test_same_seed_same_order_and_slice():
    names = run.WORKLOADS["ops_control"]
    work = {f"task_{i}": 200 + (i * 37) % 300 for i in range(100)}

    def draw(seed):
        rng = random.Random(seed)
        return run.pass_order(names, rng), run.choose_slice(work, rng, 400)

    assert draw(7) == draw(7)
    assert draw(7)[0] != draw(8)[0]
    assert sorted(draw(7)[0]) == sorted(names)
    slices = {tuple(draw(seed)[1]) for seed in range(20)}
    assert len(slices) > 1
    assert all(len(s) == 1 and abs(work[s[0]] - 400) <= 10 for s in slices)
    assert run.choose_slice({"a": 100, "b": 300}, random.Random(0), 400) == ["b"]


def test_oracle_file_is_current():
    assert json.loads(run.ORACLES.read_text()) == run.compute_oracles()


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_tail_reports_sample_count():
    samples = [float(i) for i in range(1, 101)]
    assert stats.tail(samples) == (90.0, 90.0, 100)
    pct, value, n = stats.tail(samples[:13])
    assert (pct, n) == (50.0, 13)
    assert value == statistics.median(samples[:13])
    with pytest.raises(ValueError):
        stats.tail([])


def test_digest_ignores_row_order():
    canon_hash = run.load_canon_hash()
    pdf = pd.DataFrame(
        {"b": [3, 1, 2, 2], "a": ["x", "y", None, "z"], "c": [0.5, 1.25, 2.0, 1e-7]}
    )
    shuffled = pdf.sample(frac=1.0, random_state=3)[["c", "a", "b"]]
    assert canon_hash(pdf) == canon_hash(shuffled)
    assert canon_hash(pdf) != canon_hash(pdf.iloc[:3])


def test_cpu_between_counts_live_processes_only():
    before = {1: 10.0, 2: 5.0, 3: 7.0, 9: 4.0}
    after = {1: 12.5, 2: 5.0, 3: 0.5, 4: 1.5}  # 3 is a reused pid, 9 exited
    assert stats.cpu_between(before, after) == pytest.approx(2.5 + 0.5 + 1.5)
    assert os.getpid() in stats.tree_cpu(os.getpid())


def test_union_length():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0


def test_status_store_totals_on_a_tiny_job(tmp_path):
    from operator import add

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", str(tmp_path / "warehouse"))
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        sc.setJobGroup("tiny", "tiny")
        counts = sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1)).reduceByKey(add, 2)
        assert dict(counts.collect()) == {0: 34, 1: 33, 2: 33}
        counts.collect()  # reuses the shuffle: its map stage is skipped
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup("tiny")
        got = stats.job_totals(sc._jsc.sc().statusStore(), jobs)
    finally:
        spark.stop()
    assert got["jobs"] == 2
    assert got["stages"] == 3 and got["skipped_stages"] == 1
    assert got["tasks"] == 4 + 2 + 2
    assert got["shuffle_write_mb"] > 0 and got["shuffle_read_mb"] > 0
    assert got["task_run_s"] >= 0 and got["spill_mb"] == 0
    assert len(got["intervals"]) == 2
    assert all(end >= start for start, end in got["intervals"])
