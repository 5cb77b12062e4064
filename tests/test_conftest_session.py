"""The `spark` fixture hands every test a live session: a test that stops
the SparkContext, or kills the JVM under it (what a task OOM does in local
mode), fails only itself — the next test gets a rebuilt session. The stop
reuses the running JVM; the kill costs one JVM start."""

from __future__ import annotations

from pyspark import SparkContext

from tests.conftest import _is_live


def test_stopping_the_context(spark):
    spark.stop()
    assert not _is_live(spark)


def test_next_test_after_stop_gets_live_session(spark):
    assert _is_live(spark)
    assert spark.range(5).selectExpr("sum(id)").first()[0] == 10


def test_killing_the_jvm(spark):
    proc = SparkContext._gateway.proc
    proc.kill()
    proc.wait()
    assert not _is_live(spark)


def test_next_test_after_kill_gets_live_session(spark):
    assert _is_live(spark)
    assert spark.range(5).selectExpr("sum(id)").first()[0] == 10
