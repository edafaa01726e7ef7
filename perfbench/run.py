"""End-to-end and per-layer benchmark for pyanamo_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload ops_control --seed 1 --seconds 5 --trace 0

One process, one closed-loop client: every Spark action runs in
sequence on ``local[nproc]``. A run reads the repository's seeded sf0.01
fixture tables (a copy in ``perfbench/data``), sets the engine up once,
runs one untimed pass that checks every output (queries against their
DuckDB oracle digests in ``perfbench/oracles.json``, the engine run
against the counts derived from the fixture) and doubles as warm-up, and
one more untimed warm-up pass, then times whole passes until
``--seconds`` have elapsed. ``setup_s`` runs from process start to the
first timed operation. ``cpu_s`` is the CPU time of
the process tree (this process, the JVM, Python workers and the engine's
subprocesses) per timed pass, averaged over the timed passes. The seed
sets the operation order of every pass and the engine run's taskID; the
inputs themselves are fixed.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. The line before
it records the host, the per-operation timings and, when tracing, the
build time per engine module. A traced run groups each operation's Spark
jobs per phase (build, execute) with job groups, reads them back from
Spark's status store, and reports the ratio of a traced to an untraced
pass as the tracing overhead.

Everything a run writes (engine output, Spark and JVM scratch) lives
under ``.perfbench_tmp/`` in the checkout and is removed on exit.
The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import time

_PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import stats  # noqa: E402

#: the repository's seeded sf0.01 fixtures, byte for byte: 15k orders,
#: 60k line items, 500 documents, 500 embeddings. sf0.1 costs ~30 s of
#: set-up and ~27 s per control-plane pass on 4 cores, more than one
#: run of the benchmark can hold.
DATA = HERE / "data"
#: expected outputs over DATA, from ``compute_oracles``; rewrite it with
#: ``python3 perfbench/run.py --write-oracles`` when DATA or an oracle
#: changes (the benchmark's tests check that it is current)
ORACLES = HERE / "oracles.json"
#: timed passes per run, at the least; more run until --seconds elapse.
#: The JIT is still warming for several passes after the verify pass:
#: CPU per pass falls by up to a third from one pass to the next for
#: four passes or more, and the first pass after the verify pass varies
#: most (by up to 80% between runs), so it runs untimed. ``cpu_s``
#: averages the timed passes, so where along that curve the compiler's
#: work lands matters less than in any one pass; more passes would not
#: fit the time a run has.
MIN_PASSES = 2
#: todo work items (nests plus single items) in the engine run's slice,
#: give or take SLICE_TOLERANCE of it; at sf0.01 nine taskIDs qualify
ENGINE_NESTS = 400
SLICE_TOLERANCE = 0.025
#: the pseudo-query name of the engine run inside a pass
ENGINE_OP = "run_engine"
#: operations per workload. ``ops_control`` is the task table's control
#: plane: at least one query of each of read_path, aggregates, joins,
#: mutation, locking, ingest and logs, the streaming twin's batch query,
#: and one flagship engine run (subprocess pipe + partitioned write).
#: ``llm_dedup`` is the LLM-corpus path: near-duplicate clusters, i.e.
#: grouped n-gram pair emission iterated to a connected-components
#: fixpoint, most of whose jobs run while the plan is built, and exact
#: top-k vector search, the cheapest query of the similarity module.
#: Two queries keep a run within the time the benchmark has.
WORKLOADS = {
    "ops_control": (
        "q_point_lookup", "q_state_counts", "q_progress_histogram",
        "q_state_join", "q_nest_build", "q_bulk_update", "q_lock_protocol",
        "q_ingest_csv", "q_log_route", "q_error_context", ENGINE_OP,
    ),
    "llm_dedup": ("q_dedup_clusters", "q_knn_topk"),
}

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}
PER_LAYER = {
    "pass.wall_s": "s",
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "semantics.ensure_views_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.driver_gap_s": "s",
    "exec.stages": "count",
    "exec.skipped_stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "pipe.execute_s": "s",
    "pipe.nests_per_s": "1/s",
    "engine.jobs": "count",
    "engine.bytes_written_mb": "MB",
    "engine.files_written": "count",
    "storage.persisted_rdds_left": "count",
    "storage.clear_cache_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.overhead": "ratio",
}
#: per-layer metrics summed over the operations of one pass
PASS_LAYERS = tuple(k for k in PER_LAYER if k.split(".")[0] in ("build", "exec", "engine", "storage"))
MIB = 1024.0 * 1024.0


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--write-oracles", action="store_true",
        help=f"recompute {ORACLES.name} with DuckDB and exit",
    )
    args = p.parse_args(argv)
    if not args.write_oracles and None in (args.workload, args.seed, args.seconds):
        p.error("--workload, --seed and --seconds are required")
    return args


def pass_order(names, rng: random.Random) -> list[str]:
    """One pass's operation order, drawn from the run's seeded generator."""
    order = sorted(names)
    rng.shuffle(order)
    return order


def choose_slice(work: dict[str, int], rng: random.Random, target: int) -> list[str]:
    """The engine run's slice: one taskID, drawn by the seeded generator
    from those whose todo work lies within SLICE_TOLERANCE of ``target``
    (the closest one when none does)."""
    near = sorted(t for t, w in work.items() if abs(w - target) <= SLICE_TOLERANCE * target)
    return [rng.choice(near or [min(sorted(work), key=lambda t: abs(work[t] - target))])]


def isolate(scratch: Path) -> None:
    """Point the temp and scratch locations of Python, Spark and every JVM
    inside ``scratch``, and make the checkout importable by Spark's
    Python workers."""
    tmp, local = scratch / "tmp", scratch / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    warehouse = shlex.quote(f"spark.sql.warehouse.dir={scratch / 'warehouse'}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false --conf {warehouse} pyspark-shell"
    )


def _add(acc: dict, key: str, value) -> None:
    acc[key] = acc.get(key, 0) + value


class Bench:
    def __init__(self, args: argparse.Namespace, scratch: Path):
        self.args = args
        self.scratch = scratch
        self.names = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.expect: dict[str, tuple] = {}
        self.op_times: dict[str, list[float]] = defaultdict(list)
        self.pass_walls: list[float] = []
        self.pass_cpus: list[float] = []
        self.layers: dict[str, list[float]] = defaultdict(list)
        self.modules: dict[str, list[float]] = defaultdict(list)
        self.detail: dict = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what[:300])

    # ---- set-up and tear-down ------------------------------------------
    def setup(self) -> None:
        """Start the JVM and the session, import every query module,
        register the fixture views and materialize the task tables."""
        from pyanamo_spark import registry, semantics
        from pyanamo_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        t1 = time.perf_counter()
        registry.load_all()
        t2 = time.perf_counter()
        semantics.ensure_views(self.spark, self.data)
        t3 = time.perf_counter()
        self.layers["session.get_spark_s"].append(t1 - t0)
        self.layers["registry.load_all_s"].append(t2 - t1)
        self.layers["semantics.ensure_views_s"].append(t3 - t2)
        self.detail["setup_end_s"] = t3 - _PROCESS_T0

    def shutdown(self) -> None:
        """Stop Spark, then its JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    # ---- expected outputs ----------------------------------------------
    def prepare(self) -> None:
        """Expected outputs from the oracle file, and the seeded engine
        slice with the counts a complete run over it must give."""
        oracles = json.loads(ORACLES.read_text())
        self.canon_hash = load_canon_hash()
        for name in self.names:
            if name != ENGINE_OP:
                q = oracles["queries"][name]
                self.expect[name] = (q["columns"], q["rows"], q["digest"])
        per_task = oracles["tasks"]
        tasks = choose_slice({k: v[2] for k, v in per_task.items()}, self.rng, ENGINE_NESTS)
        self.slice_filter = "taskID IN ({})".format(", ".join(f"'{t}'" for t in tasks))
        todo, done, work = (sum(per_task[t][i] for t in tasks) for i in range(3))
        self.expect[ENGINE_OP] = (todo, done, work)
        self.detail["engine_slice"] = {"tasks": tasks, "todo_items": todo, "work_items": work}

    def check(self, name: str, out, holder: dict) -> str | None:
        if name == ENGINE_OP:
            todo, done, work = self.expect[ENGINE_OP]
            states = {r["ItemState"]: r["n_items"] for r in out}
            n_results = holder["results"].count()
            if states.get("todo", 0):
                return f"{name}: {states['todo']} todo items left"
            if states.get("done", 0) != todo + done:
                return f"{name}: {states.get('done', 0)} done items, expected {todo} + {done}"
            if n_results != work:
                return f"{name}: {n_results} result rows, expected {work}"
            return None
        got = (sorted(out.columns), len(out), self.canon_hash(out))
        if got != self.expect[name]:
            return f"{name}: rows/digest {got[1:]} != oracle {self.expect[name][1:]}"
        return None

    # ---- one operation -------------------------------------------------
    def run_op(self, name: str, verify: bool, acc: dict | None) -> float | None:
        """Build and execute one operation; return its seconds, or None
        when it raised or (on the verify pass, and always for the engine
        run) its output was wrong. ``acc`` collects per-layer numbers."""
        from pyanamo_spark.engine import run_engine
        from pyanamo_spark.registry import QUERIES

        self.attempted += 1
        engine = name == ENGINE_OP
        out_dir = self.scratch / "engine_out"
        holder: dict = {}

        def build():
            if engine:
                holder.update(
                    run_engine(
                        self.spark, self.data, str(out_dir),
                        item_filter=self.slice_filter, parallelism=self.cpus,
                    )
                )
                return holder["summary"]
            return QUERIES[name](self.spark, self.data)

        def action(df):
            if engine:
                return df.collect()
            if verify:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
            return None

        t0 = time.perf_counter()
        try:
            out = self.trace_op(name, build, action, acc) if acc is not None else action(build())
            seconds = time.perf_counter() - t0
            if engine and acc is not None:
                files = [p for p in out_dir.rglob("*") if p.is_file()]
                _add(acc, "engine.files_written", len(files))
                _add(acc, "engine.bytes_written_mb", sum(p.stat().st_size for p in files) / MIB)
            problem = self.check(name, out, holder) if (verify or engine) else None
        except Exception as exc:  # noqa: BLE001 — a failing operation is a result
            problem = f"{name}: {type(exc).__name__}: {exc}"
        finally:
            t1 = time.perf_counter()
            self.spark.catalog.clearCache()
            if acc is not None:
                _add(acc, "storage.clear_cache_s", time.perf_counter() - t1)
            shutil.rmtree(out_dir, ignore_errors=True)
        if problem:
            self.fail(problem)
            return None
        return seconds

    def trace_op(self, name: str, build, action, acc: dict):
        """Run build and action under separate job groups and add Spark's
        own bookkeeping for each phase into ``acc``."""
        from pyanamo_spark.registry import QUERIES

        sc = self.spark.sparkContext
        df, b0, b1, build_jobs = self._grouped("build", build)
        out, e0, e1, exec_jobs = self._grouped("exec", lambda: action(df))
        ex = stats.job_totals(sc._jsc.sc().statusStore(), exec_jobs)
        spans = [(max(s, e0), min(e, e1)) for s, e in ex.pop("intervals") if e > e0 and s < e1]
        _add(acc, "build.s", b1 - b0)
        _add(acc, "build.jobs", len(build_jobs))
        _add(acc, "exec.s", e1 - e0)
        _add(acc, "exec.driver_gap_s", max(0.0, (e1 - e0) - stats.union_length(spans)))
        for k, v in ex.items():
            _add(acc, f"exec.{k}", v)
        _add(acc, "storage.persisted_rdds_left", len(sc._jsc.getPersistentRDDs()))
        if name == ENGINE_OP:
            _add(acc, "engine.jobs", len(build_jobs) + ex["jobs"])
            module = "engine"
        else:
            module = QUERIES[name].__wrapped__.__module__.split(".")[1]
        _add(acc, f"module.{module}", b1 - b0)
        return out

    def _grouped(self, phase: str, fn):
        """Run ``fn`` under a fresh job group; return (result, start,
        end, job ids) with epoch-second bounds."""
        sc = self.spark.sparkContext
        group = f"perfbench-{phase}-{self.attempted}"
        sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            out = fn()
        finally:
            t1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, t0, t1, sorted(sc.statusTracker().getJobIdsForGroup(group))

    # ---- passes --------------------------------------------------------
    def run_pass(self, verify: bool = False, warm: bool = False, trace: bool = False) -> None:
        """One pass over the workload's operations in seeded order: the
        verify pass checks every output, a warm pass only runs them, and
        a timed pass records its times (traced when ``trace``)."""
        acc = {} if trace else None
        host0 = stats.host_ticks()
        cpu0 = stats.tree_cpu(os.getpid())
        t0 = time.perf_counter()
        for name in pass_order(self.names, self.rng):
            seconds = self.run_op(name, verify, acc)
            if seconds is not None and not (verify or warm):
                self.op_times[name].append(seconds)
        wall = time.perf_counter() - t0
        cpu = stats.cpu_between(cpu0, stats.tree_cpu(os.getpid()))
        self.detail.setdefault("pass_steal_share", []).append(stats.steal_share(host0))
        if verify:
            self.detail.update(verify_pass_s=wall, verify_pass_cpu_s=cpu)
            return
        if warm:
            self.detail.update(warm_pass_s=wall, warm_pass_cpu_s=cpu)
            return
        self.pass_walls.append(wall)
        self.pass_cpus.append(cpu)
        if trace:
            for key in PASS_LAYERS:
                self.layers[key].append(acc.get(key, 0))
            for key, v in acc.items():
                if key.startswith("module."):
                    self.modules[key[len("module."):]].append(v)

    def pipe_probe(self) -> None:
        """``execute_nests`` alone over the slice's todo work, noop sink;
        the first of two reps warms the Python workers."""
        from pyspark.sql import functions as F

        from pyanamo_spark.executor.pipe import execute_nests

        todo = self.spark.table("tasks").filter(self.slice_filter).filter("ItemState = 'todo'")
        work = (
            self.spark.table("nests")
            .join(todo.select("itemID"), "itemID", "left_semi")
            .filter("status = 'todo'")
            .select("itemID", "nestID", "script")
            .unionByName(
                todo.filter(~F.col("is_nested")).select(
                    "itemID", F.lit("Task_0").alias("nestID"), F.col("task_script").alias("script")
                )
            )
        )
        for _ in range(2):
            t0 = time.perf_counter()
            execute_nests(work, parallelism=self.cpus).write.format("noop").mode("overwrite").save()
            seconds = time.perf_counter() - t0
        self.layers["pipe.execute_s"].append(seconds)
        self.layers["pipe.nests_per_s"].append(self.expect[ENGINE_OP][2] / seconds)

    def measure(self) -> float:
        """The verify pass, a warm pass, then timed passes until the
        deadline; returns the seconds from process start to the first
        timed operation. A traced run follows each traced pass with an
        untraced one, the base of the tracing overhead."""
        self.run_pass(verify=True)
        self.run_pass(warm=True)
        setup_s = time.perf_counter() - _PROCESS_T0
        trace = bool(self.args.trace)
        untraced: list[float] = []
        deadline = time.perf_counter() + self.args.seconds
        while True:
            self.run_pass(trace=trace)
            if trace:
                self.run_pass()
                untraced.append(self.pass_walls.pop())
                self.pass_cpus.pop()
            done = len(self.pass_walls) + len(untraced)
            if done >= MIN_PASSES and time.perf_counter() >= deadline:
                break
        if trace:
            self.layers["trace.overhead"].append(
                statistics.median(self.pass_walls) / statistics.median(untraced)
            )
            self.layers["pass.wall_s"] = untraced
            self.pipe_probe()
        return setup_s

    # ---- the run ---------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        import pyspark

        self.data = str(DATA)
        load_before = os.getloadavg()
        try:
            self.setup()
            self.prepare()
            setup_s = self.measure()
            self.layers["process.peak_rss_mb"].append(
                stats.peak_rss_mb([os.getpid(), self.spark.sparkContext._gateway.proc.pid])
            )
        finally:
            self.shutdown()
        self.detail["host"] = {
            "cpus": self.cpus,
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
        }
        samples = [t for ts in self.op_times.values() for t in ts]
        if not samples:
            self.fail("no timed operation completed")
            samples = [0.0]
        pct, tail_value, n = stats.tail(samples)
        if self.args.trace:
            values = {k: statistics.median(self.layers[k]) for k in PER_LAYER}
            units = PER_LAYER
            self.detail["build_s_by_module"] = {m: statistics.median(v) for m, v in self.modules.items()}
        else:
            values = {
                "setup_s": setup_s,
                "cpu_s": statistics.fmean(self.pass_cpus),
            }
            units = END_TO_END
        self.detail.update(
            workload=self.args.workload,
            seed=self.args.seed,
            setup_s=setup_s,
            pass_walls_s=self.pass_walls,
            pass_cpus_s=self.pass_cpus,
            op_times_s=dict(self.op_times),
            op_p50_s=statistics.median(samples),
            op_tail={"percentile": pct, "seconds": tail_value, "samples": n},
            peak_rss_mb=self.layers["process.peak_rss_mb"][0],
            problems=self.problems,
        )
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": values[k], "unit": unit} for k, unit in units.items()},
        }
        return result, self.detail


DRIVER_SIM = ROOT / "scripts" / "driver_sim.py"


def load_canon_hash():
    """``canon_hash`` of ``scripts/driver_sim.py``: the driver's
    row-order-insensitive digest of a pandas result frame. Importing the
    script imports every query module, so call this after set-up."""
    spec = importlib.util.spec_from_file_location("driver_sim", DRIVER_SIM)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.canon_hash


#: per taskID: todo items, done items, and todo work (todo nests of todo
#: nested items plus todo single items), over the oracle-side views
_SLICE_SQL = """
SELECT t.taskID,
       count(*) FILTER (WHERE t.ItemState = 'todo') AS todo,
       count(*) FILTER (WHERE t.ItemState = 'done') AS done,
       count(*) FILTER (WHERE t.ItemState = 'todo' AND NOT t.is_nested)
         + coalesce(max(n.todo_nests), 0) AS work
FROM tasks t
LEFT JOIN (SELECT taskID, count(*) AS todo_nests FROM nests
           WHERE status = 'todo' AND ItemState = 'todo' GROUP BY taskID) n
  ON n.taskID = t.taskID
GROUP BY t.taskID
"""


def compute_oracles() -> dict:
    """What ``perfbench/oracles.json`` holds, computed afresh with DuckDB
    over ``perfbench/data``: each benchmarked query's sorted columns, row
    count and ``canon_hash`` under its ``registry.ORACLES`` SQL, and the
    per-taskID counts the engine slice is drawn from."""
    import duckdb

    from pyanamo_spark import registry, semantics
    from pyanamo_spark.catalog import TABLES

    registry.load_all()
    canon_hash = load_canon_hash()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
        queries = {}
        for name in sorted({n for ns in WORKLOADS.values() for n in ns} - {ENGINE_OP}):
            pdf = con.execute(registry.ORACLES[name]).fetchdf()
            queries[name] = {
                "columns": sorted(pdf.columns), "rows": len(pdf), "digest": canon_hash(pdf),
            }
        rows = con.execute(semantics.oracle_with_views(_SLICE_SQL, ("tasks", "nests"))).fetchall()
    finally:
        con.close()
    return {"queries": queries, "tasks": {r[0]: list(r[1:]) for r in sorted(rows)}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "pyanamo_spark" / "__init__.py").is_file():
        print(f"perfbench: no pyanamo_spark package in {ROOT}", file=sys.stderr)
        return 2
    if not DRIVER_SIM.is_file():
        print(f"perfbench: no {DRIVER_SIM.relative_to(ROOT)} in {ROOT}", file=sys.stderr)
        return 2
    if args.write_oracles:
        ORACLES.write_text(json.dumps(compute_oracles(), indent=1, sort_keys=True) + "\n")
        return 0
    base = ROOT / ".perfbench_tmp"
    scratch = base / f"run-{os.getpid()}"
    scratch.mkdir(parents=True)
    try:
        isolate(scratch)
        result, detail = Bench(args, scratch).run()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            base.rmdir()
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
