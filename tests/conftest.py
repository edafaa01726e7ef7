from __future__ import annotations

import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# register every declared query up front so each test FILE is runnable
# standalone (several pull from registry.QUERIES and previously relied
# on a sibling module's import side effect)
from pyanamo_spark.registry import load_all  # noqa: E402

load_all()


@pytest.fixture(scope="session")
def spark():
    from pyanamo_spark.session import get_spark

    spark = get_spark("pyanamo-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the same base views the driver registers."""
    from pyanamo_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture()
def no_nodata_batches(spark):
    """Work around a Spark 4.1.2 defect hit by Python stateful
    operators with processing-time timeouts: the NO-DATA cleanup
    micro-batch scheduled after an availableNow drain re-plans the
    operator without an active session (PythonSQLMetrics NPE,
    "SparkPlan.session() is null") and the stream retries it forever
    ("No new data but cleaning up state"). Timeout eviction still
    fires on every DATA batch, which is what the drain-and-compare
    tests exercise. Scoped to the modules that use
    applyInPandasWithState / transformWithStateInPandas with timeouts
    (streaming/stateful.py, streaming/funnel.py) — watermarked-window
    tests rely on no-data batches to flush final windows and must NOT
    inherit this."""
    old = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    yield
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", old)


@pytest.fixture()
def planted_views(spark):
    """For tests that REPLACE base fixture views (documents/orders/…)
    with small planted tables: ensure_views memoizes per sf_dir, so a
    later registered-query call in the same session would silently
    read the planted leftovers. Teardown invalidates the memo so the
    next ensure_views re-registers the real views (ordering-flake
    net: test_graph_governance poisoning test_hybrid's corpus)."""
    yield
    try:
        spark.conf.unset("pyanamo_spark.views.sf_dir")
    except Exception:  # noqa: BLE001 — conf key may not be set yet
        pass
