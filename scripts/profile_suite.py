"""Per-query overhead profile: run selected declared queries once in a
single session with Spark event logging, then decompose each query's
wall-clock into scheduled task time vs gaps (driver/planning/scheduling
overhead).

Usage:
  python scripts/profile_suite.py [sf_dir] [query ...]

Prints, per query:
  wall        wall-clock of the noop action(s)
  njobs       Spark jobs launched
  nstages     stages
  ntasks      tasks
  task_sum    sum of task run times (executor compute incl. fetch)
  task_crit   sum over stages of max task time (critical path lower
              bound through the stage DAG, ignoring overlap)
  gap         wall - task_crit: planning + scheduling + driver work

This is a measurement tool (guide §1); it changes nothing.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyanamo_spark.registry import QUERIES, load_all  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or [
        "q_index_lifecycle",
        "q_dedup_clusters",
        "q_contrastive_pairs",
        "q_dedup_ngram",
        "q_dedup_simhash",
        "q_dedup_contain",
        "q_hybrid_search",
        "q_pagerank",
        "q_semantic_prune",
        "q_crossval",
        "q_curation_funnel",
        "q_bm25",
        "q_outliers",
        "q_knn_ivf",
        "q_equidepth",
        "q_log_mine",
        "q_basket_rules",
        "q_overlap_estimate",
        "q_dedup_near",
        "q_min_cost_supplier",
    ]
    load_all()

    evdir = tempfile.mkdtemp(prefix="spark-events-")
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", sf_dir)
    # build the session EXACTLY like bench.py but with event logging on
    from pyanamo_spark.session import get_spark as _get

    import pyanamo_spark.session as sess

    orig_get = sess.get_spark

    def get_spark(app_name="profile", cpus=None):
        from pyspark.sql import SparkSession

        cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        sess._activate_protobuf_shim()
        b = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName(app_name)
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.adaptive.skewJoin.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
            .config("spark.sql.python.filterPushdown.enabled", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", evdir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        )
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        return spark

    sess.get_spark = get_spark
    spark = get_spark("profile-suite")

    # warm like bench.py
    QUERIES["q_state_counts"](spark, sf_dir).collect()

    reps = int(os.environ.get("PROFILE_REPS", "2"))
    sc = spark.sparkContext
    windows: dict[str, tuple[float, float]] = {}
    for rep in range(reps):
        for name in names:
            label = f"{name}#r{rep}"
            sc.setJobDescription(label)
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            t1 = time.time()
            windows[label] = (t0 * 1000, t1 * 1000)
            spark.catalog.clearCache()
            sc.setJobDescription(None)
    app_id = sc.applicationId
    spark.stop()
    sess.get_spark = orig_get

    # parse the event log
    evfile = None
    for p in Path(evdir).iterdir():
        if app_id in p.name:
            evfile = p
    assert evfile, f"no event log for {app_id} in {evdir}"
    if evfile.is_dir():  # Spark 4 rolling event log directory
        parts = sorted(
            p for p in evfile.iterdir() if p.name.startswith("events_")
        )
        assert parts, f"no events_* files in {evfile}"
        evfile = parts

    jobs_by_q = defaultdict(list)  # name -> [job_id]
    job_window = {}
    stage_tasks = defaultdict(list)  # stage_id -> [task runtime ms]
    stage_window = {}
    stage_name = {}
    stage_to_job = {}
    job_submit = {}
    import itertools

    files = evfile if isinstance(evfile, list) else [evfile]
    with __import__("contextlib").ExitStack() as stack:
        lines = itertools.chain.from_iterable(
            stack.enter_context(open(p)) for p in files
        )
        for line in lines:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_submit[jid] = ev["Submission Time"]
                for sid in [s["Stage ID"] for s in ev.get("Stage Infos", [])]:
                    stage_to_job[sid] = jid
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                job_window[jid] = (job_submit.get(jid, 0), ev["Completion Time"])
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                ti = ev.get("Task Info", {})
                rt = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                stage_tasks[sid].append(rt)
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                stage_name[sid] = si.get("Stage Name", "")
                if "Submission Time" in si and "Completion Time" in si:
                    stage_window[sid] = (
                        si["Submission Time"],
                        si["Completion Time"],
                    )

    # assign jobs to query windows by submit time
    for jid, (sub, _end) in job_window.items():
        for name, (w0, w1) in windows.items():
            if w0 <= sub <= w1:
                jobs_by_q[name].append(jid)
                break

    topn = int(os.environ.get("PROFILE_TOP_STAGES", "0"))
    print(
        f"{'query':32s} {'wall':>7s} {'njob':>5s} {'nstg':>5s} {'ntsk':>6s}"
        f" {'task_sum':>9s} {'crit':>7s} {'gap':>7s}"
    )
    for label in windows:
        w0, w1 = windows[label]
        wall = (w1 - w0) / 1000
        jids = set(jobs_by_q[label])
        sids = [s for s, j in stage_to_job.items() if j in jids and s in stage_tasks]
        ntasks = sum(len(stage_tasks[s]) for s in sids)
        task_sum = sum(sum(stage_tasks[s]) for s in sids) / 1000
        crit = sum(max(stage_tasks[s]) for s in sids) / 1000
        print(
            f"{label:32s} {wall:7.2f} {len(jids):5d} {len(sids):5d} {ntasks:6d}"
            f" {task_sum:9.2f} {crit:7.2f} {wall - crit:7.2f}"
        )
        if topn:
            by_cost = sorted(
                sids, key=lambda s: -sum(stage_tasks[s])
            )[:topn]
            for s in by_cost:
                ts = stage_tasks[s]
                nm = stage_name.get(s, "?")[:90]
                print(
                    f"    stage {s:5d} ntask={len(ts):4d}"
                    f" sum={sum(ts)/1000:7.2f} max={max(ts)/1000:6.2f} {nm}"
                )
    print(f"\nevent log: {files}")


if __name__ == "__main__":
    main()
