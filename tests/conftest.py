from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest
from py4j.protocol import Py4JError

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from sdg_data_catalog_spark import catalog  # noqa: E402
from sdg_data_catalog_spark.catalog import TABLES  # noqa: E402
from sdg_data_catalog_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_session = None


def _is_live(spark) -> bool:
    try:
        jsc = spark.sparkContext._jsc
        return jsc is not None and not jsc.sc().isStopped()
    except (Py4JError, ConnectionError):
        return False


def _drop_session(spark) -> None:
    """Forget a stopped or dead session so the next get_spark builds a new
    one. A stopped context on a live JVM keeps its gateway (the new context
    reuses the JVM); a JVM that no longer answers — a task OOM in local mode
    exits it — has its gateway shut and the singletons that point at it
    cleared, so get_spark launches a fresh JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession, SQLContext

    # the next context may get this one's id; it must ship the package again
    catalog._SHIPPED.discard(id(spark.sparkContext))
    try:
        spark.stop()
    except (Py4JError, ConnectionError, AssertionError):
        pass
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.jvm.java.lang.System.currentTimeMillis()
        except (Py4JError, ConnectionError):
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None and proc.poll() is None:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
    SparkContext._active_spark_context = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    SQLContext._instantiatedContext = None


def live_spark():
    """The shared test session, rebuilt if an earlier test stopped its
    context or killed its JVM, so one such test fails alone instead of
    handing a dead session to every test after it."""
    global _session
    if _session is not None and _is_live(_session):
        return _session
    if _session is not None:
        _drop_session(_session)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    _session = get_spark("sdg-tests")
    return _session


@pytest.fixture
def spark():
    return live_spark()


@pytest.fixture(scope="module")
def module_spark():
    """For module-scoped fixtures that build plans once per module."""
    return live_spark()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
