"""SparkSession factory tuned for the target workload.

Local testing runs on local[N] (one JVM); the config is nonetheless
written for a multi-executor cluster at ~100 TB:
  - AQE on (runtime coalesce, skew-join splitting, dynamic join strategy)
  - shuffle partitions sized to cores locally; on a real cluster AQE
    coalesces from a deliberately-high initial number
  - Arrow enabled so the few Pandas-UDF stages batch-transfer
  - UTC session timezone so timestamp semantics match the DuckDB oracle
  - a generated-class cache big enough for the whole declared suite, so
    a warm query reuses its compiled classes instead of recompiling them
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries``: Spark's LRU cache of compiled
#: generated classes. Spark's default of 100 is smaller than one
#: ``q_dedup_clusters`` call (114 classes), so every class is evicted
#: before its next use and each warm call runs Janino and then the JIT
#: again on fresh bytecode. Measured with an unbounded cache (4 cores,
#: Spark 4.1): a cold pass over all 196 declared queries compiles 2563
#: distinct classes at sf0.01 and 2573 at sf0.1, a second pass 88 and 94
#: more. This is the next power of two above 1.5x the larger working set;
#: Metaspace ends at 216 MB, against 205 MB at the default.
CODEGEN_CACHE_ENTRIES = 4096


def _activate_protobuf_shim() -> None:
    """Make ``google.protobuf`` importable when no real wheel exists.

    The v2 stateful operator (``transformWithStateInPandas``) speaks a
    protobuf channel from the PYTHON WORKER process, so the vendored
    shim (vendor/google/protobuf — a minimal pure-Python wire runtime)
    must be visible both on this interpreter's sys.path and on the
    PYTHONPATH the JVM hands its python workers. A real installed
    protobuf always wins: we only append when the import fails.
    """
    import importlib.util

    vendor = str(Path(__file__).resolve().parent.parent / "vendor")
    try:
        spec = importlib.util.find_spec("google.protobuf")
    except ModuleNotFoundError:  # no `google` namespace at all
        spec = None
    if spec is not None and spec.origin and not spec.origin.startswith(vendor):
        return  # a real wheel is installed — it wins everywhere
    # Either protobuf is absent or it already resolves to the shim
    # (e.g. a test put vendor on sys.path before the session started).
    # Both interpreter path AND the exported PYTHONPATH must carry the
    # vendor dir: the JVM hands PYTHONPATH to every python worker it
    # spawns, and skipping the export because the DRIVER could already
    # import the shim leaves those workers unable to (the exact
    # collection-order bug that broke the v2 drain mid-suite in r05).
    if vendor not in sys.path:
        sys.path.append(vendor)
    existing = os.environ.get("PYTHONPATH", "")
    if vendor not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{existing}{os.pathsep}{vendor}" if existing else vendor
        )


def get_spark(app_name: str = "pyanamo_spark", cpus: int | str | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    _activate_protobuf_shim()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at its default
        # (true): the r12 A/B of size-based coalescing
        # (parallelismFirst=false) measured mixed at sf0.1 (hybrid
        # −20%, crossval +17%, equidepth +12% — inside noise), and the
        # engine's hot stages (grouped pair emission, bucket
        # explodes) are CPU-heavy over tiny 20-byte rows, exactly the
        # shape where coalescing to the 64 MB advisory size would
        # collapse real parallelism at sf10 and beyond.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # fixture parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in catalog.load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # let Python data sources (sources/item_store.py) accept pushed
        # filters — the GSI-seek semantics at the source boundary
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # a static SQL conf: only the builder can set it
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread(df, *cols: str):
    """Repartition a narrow projection before a CPU-heavy per-row stage
    (tokenize/explode/decode UDF): the local fixture corpus is a few
    large parquet splits, so such stages otherwise inherit 2-4-split
    parallelism and strand the remaining cores. On a real
    multi-thousand-split corpus the exchange is a no-op-sized
    rebalance. One definition so the tuning decision (count, keying,
    gating) lives in one place; NOT applied where a join dominates the
    plan — see the reverted experiment recorded in operators/market.py
    (dedup/minhash.py was such a site until r09's grouped pair
    emission removed its self-join, after which spread won there too).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.select(*cols).repartition(par)
