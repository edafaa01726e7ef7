"""Measurement helpers: percentiles, interval unions, Spark status-store
totals for a set of job ids, process peak memory, and the CPU time of a
process tree."""

from __future__ import annotations

import math
import os
from pathlib import Path


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it.

    Returns ``(percentile, value, n)``. With fewer than twenty samples no
    percentile above the median qualifies, so the median is returned.
    Values use the nearest-rank rule on the sorted samples.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    pct = max(50.0, 100.0 * (n - 10) / n)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return pct, sorted(samples)[rank - 1], n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _opt_ms(opt) -> float | None:
    return None if opt.isEmpty() else opt.get().getTime() / 1000.0


def job_totals(store, job_ids) -> dict:
    """Sum Spark's own bookkeeping over ``job_ids``.

    ``store`` is the JVM ``AppStatusStore`` (``sc._jsc.sc().statusStore()``,
    readable with the UI disabled). Returns job and stage counts, task
    run and CPU seconds, shuffle and spill MiB, and each job's
    ``(submitted, completed)`` interval in epoch seconds.
    """
    out = dict(
        jobs=0, stages=0, skipped_stages=0, tasks=0, task_run_s=0.0,
        task_cpu_s=0.0, shuffle_write_mb=0.0, shuffle_read_mb=0.0,
        spill_mb=0.0, intervals=[],
    )
    mib = 1024.0 * 1024.0
    for job_id in job_ids:
        job = store.job(job_id)
        out["jobs"] += 1
        start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
        if start is not None and end is not None:
            out["intervals"].append((start, end))
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            stage = store.lastStageAttempt(stage_ids.apply(i))
            if stage.status().toString() == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["stages"] += 1
            out["tasks"] += stage.numCompleteTasks()
            out["task_run_s"] += stage.executorRunTime() / 1e3
            out["task_cpu_s"] += stage.executorCpuTime() / 1e9
            out["shuffle_write_mb"] += stage.shuffleWriteBytes() / mib
            out["shuffle_read_mb"] += stage.shuffleReadBytes() / mib
            out["spill_mb"] += (stage.memoryBytesSpilled() + stage.diskBytesSpilled()) / mib
    return out


def peak_rss_mb(pids) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024.0



_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu(root: int) -> dict[int, float]:
    """CPU seconds used so far by ``root`` and by each of its live
    descendants, reaped children included, per pid. The kernel charges
    processes no time stolen by the hypervisor, so neither does this."""
    parent, seconds = {}, {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            f = (d / "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        pid = int(d.name)
        parent[pid] = int(f[1])
        seconds[pid] = sum(int(x) for x in f[11:15]) / _TICK  # utime stime cutime cstime
    tree = {}
    for pid in seconds:
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            tree[pid] = seconds[pid]
    return tree


def cpu_between(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds a process tree used between two ``tree_cpu`` readings.

    Only the processes alive at the end count. Spark's Python daemon
    ignores SIGCHLD, so a worker that exits takes its time with it; the
    workers Spark stops are the idle ones, which used nothing meanwhile.
    A pid reused by a new process counts from zero."""
    total = 0.0
    for pid, t in after.items():
        t0 = before.get(pid, 0.0)
        total += t - t0 if t >= t0 else t
    return total


def host_ticks() -> list[int]:
    """The host's summed CPU time counters (``cpu`` line of /proc/stat)."""
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]


def steal_share(before: list[int]) -> float:
    """Share of the host's CPU time since ``before`` that the hypervisor
    stole: how much the machine around the benchmark got in its way."""
    d = [b - a for a, b in zip(before, host_ticks())]
    return d[7] / max(1, sum(d))
