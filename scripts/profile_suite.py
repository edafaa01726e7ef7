"""Per-query overhead profile: time selected declared queries with
``pyanamo_spark.measure.best_of`` in a session with Spark event
logging, then decompose each rep's wall-clock into scheduled task time
vs gaps (driver/planning/scheduling overhead). A job belongs to the rep
whose job group (the query) and description (``<query>#r<rep>``) it
was submitted under.

Usage:
  python scripts/profile_suite.py [sf_dir] [query ...]
Env: SPARK_GRAFT_CPUS, N_REPS (default 2), PROFILE_TOP_STAGES (default
0: the number of costliest stages listed under each rep).

Prints, per query and rep:
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
import shlex
import sys
import tempfile
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyanamo_spark.measure import best_of  # noqa: E402
from pyanamo_spark.registry import load_all  # noqa: E402
from pyanamo_spark.session import get_spark  # noqa: E402


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
    evdir = tempfile.mkdtemp(prefix="spark-events-")
    # event logging through spark-submit's --conf, read when get_spark
    # launches the JVM, so the session is otherwise exactly bench.py's
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf spark.eventLog.{k}"
        for k in (
            "enabled=true",
            f"dir={shlex.quote(evdir)}",
            "compress=false",
            "rolling.enabled=false",
        )
    ) + " pyspark-shell"
    reps = int(os.environ.get("N_REPS", "2"))
    load_all()
    spark = get_spark("profile-suite")
    sc = spark.sparkContext
    try:
        run = best_of(spark, sf_dir, names, reps)
        app_id = sc.applicationId
    finally:
        spark.stop()

    evfile = Path(evdir) / app_id
    # job id -> label (<query>#r<rep>: the job group names the query
    # and its description the rep, see pyanamo_spark.measure)
    job_label = {}
    stage_to_job = {}
    stage_tasks = defaultdict(list)  # stage_id -> [task runtime ms]
    stage_name = {}
    with open(evfile) as lines:
        for line in lines:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if props.get("spark.jobGroup.id") in run.times:
                    jid = ev["Job ID"]
                    job_label[jid] = props["spark.job.description"]
                    for si in ev.get("Stage Infos", []):
                        stage_to_job[si["Stage ID"]] = jid
            elif e == "SparkListenerTaskEnd":
                ti = ev.get("Task Info", {})
                rt = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                stage_tasks[ev["Stage ID"]].append(rt)
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stage_name[si["Stage ID"]] = si.get("Stage Name", "")

    topn = int(os.environ.get("PROFILE_TOP_STAGES", "0"))
    print(
        f"{'query':32s} {'wall':>7s} {'njob':>5s} {'nstg':>5s} {'ntsk':>6s}"
        f" {'task_sum':>9s} {'crit':>7s} {'gap':>7s}"
    )
    for rep in range(reps):
        for name in names:
            label = f"{name}#r{rep}"
            wall = run.times[name][rep]
            if wall is None:
                print(f"{label:32s} raised: {run.last_error[name]}")
                continue
            jids = {j for j, lb in job_label.items() if lb == label}
            sids = [
                s for s, j in stage_to_job.items() if j in jids and s in stage_tasks
            ]
            ntasks = sum(len(stage_tasks[s]) for s in sids)
            task_sum = sum(sum(stage_tasks[s]) for s in sids) / 1000
            crit = sum(max(stage_tasks[s]) for s in sids) / 1000
            print(
                f"{label:32s} {wall:7.2f} {len(jids):5d} {len(sids):5d} {ntasks:6d}"
                f" {task_sum:9.2f} {crit:7.2f} {wall - crit:7.2f}"
            )
            if topn:
                by_cost = sorted(sids, key=lambda s: -sum(stage_tasks[s]))[:topn]
                for s in by_cost:
                    ts = stage_tasks[s]
                    nm = stage_name.get(s, "?")[:90]
                    print(
                        f"    stage {s:5d} ntask={len(ts):4d}"
                        f" sum={sum(ts)/1000:7.2f} max={max(ts)/1000:6.2f} {nm}"
                    )
    print(f"\nevent log: {evfile}")


if __name__ == "__main__":
    main()
