"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import decimal
import os
import sys
import types
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[2]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import gen, oracle, probe, stats  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def test_tail_needs_forty_samples():
    assert stats.tail([1.0] * 39) is None
    samples = list(range(40))
    # the 11th largest value: exactly ten samples lie beyond it
    assert stats.tail(samples) == 29
    assert sum(s > stats.tail(samples) for s in samples) == 10


def test_tail_is_order_free_and_scales_with_count():
    samples = [float(x) for x in np.random.default_rng(0).permutation(100)]
    assert stats.tail(samples) == 89.0


def test_spread_is_iqr_over_median():
    # statistics.quantiles(n=4) of 1..9 is (2.5, 5, 7.5)
    assert stats.spread([float(x) for x in range(1, 10)]) == pytest.approx(1.0)


def test_worse_by_respects_direction():
    assert stats.worse_by(10.0, 11.0, "lower") == pytest.approx(0.1)
    assert stats.worse_by(10.0, 9.0, "higher") == pytest.approx(0.1)
    assert stats.worse_by(10.0, 12.0, "higher") == pytest.approx(-0.2)


def _frame():
    return pd.DataFrame({
        "k": [3, 1, 2],
        "x": [0.1 + 0.2, 2.5, None],
        "ts": pd.to_datetime(["2024-01-01 00:00:01", "2024-01-02 00:00:00", "2024-01-03 00:00:00"]),
        "arr": [np.array([1, 2]), np.array([3]), np.array([], dtype=int)],
        "s": ["c", "a", "b"],
    })


def test_compare_ignores_row_and_column_order():
    got = _frame()
    want = got.iloc[::-1][["s", "arr", "ts", "x", "k"]]
    assert oracle.compare(got, want) is None


def test_compare_canonicalizes_engine_types():
    got = _frame()
    want = pd.DataFrame({
        "k": [decimal.Decimal(1), decimal.Decimal(2), decimal.Decimal(3)],
        "x": [2.5, float("nan"), 0.3],
        "ts": [datetime.datetime(2024, 1, 2), datetime.datetime(2024, 1, 3),
               datetime.datetime(2024, 1, 1, 0, 0, 1)],
        "arr": [[3], [], [1, 2]],
        "s": ["a", "b", "c"],
    })
    assert oracle.compare(got, want) is None


def test_compare_rejects_a_dropped_row_and_a_changed_value():
    got = _frame()
    assert "row count" in oracle.compare(got.iloc[1:], got)
    changed = got.copy()
    changed.loc[1, "x"] = 2.5001
    assert "'x'" in oracle.compare(changed, got)


def test_checksum_is_order_insensitive():
    got = _frame()
    assert oracle.checksum(got) == oracle.checksum(got.iloc[[2, 0, 1]])
    assert oracle.checksum(got) != oracle.checksum(got.iloc[1:])


def test_parse_metric_forms():
    assert probe.parse_metric("1.3 s") == pytest.approx(1.3)
    assert probe.parse_metric("705 ms") == pytest.approx(0.705)
    assert probe.parse_metric("231.4 KiB") == pytest.approx(231.4 * 1024)
    total = "total (min, med, max (stageId: taskId))\n2.0 MiB (0.5 MiB, 1.0 MiB, 1.5 MiB (stage 3.0: task 7))"
    assert probe.parse_metric(total) == pytest.approx(2 * 1024 * 1024)
    assert probe.parse_metric(None) == 0.0


def test_self_time_subtracts_children(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 3.0, 4.0, 10.0])
    monkeypatch.setattr("perfbench.trace.time.perf_counter", lambda: next(clock))
    tr = Tracer("t", True)
    with tr.span("op"):
        with tr.span("queries.build"):
            pass
        with tr.span("queries.exec"):
            pass
    assert tr.self_times() == {"op": 10.0 - 2.0 - 1.0, "queries.build": 2.0, "queries.exec": 1.0}
    assert Tracer("t", False).spans == []


def test_generator_is_seeded(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    dirs = {p: gen.publish_batches(seed, p, 1, 200, 100, 50)[0][0] for p, seed in ((a, 7), (b, 7), (c, 8))}
    read = lambda d: pd.read_parquet(os.path.join(dirs[d], "documents.parquet"))  # noqa: E731
    assert read(a).equals(read(b))
    assert not read(a).equals(read(c))
    assert (read(a)["n_chars"] == read(a)["text"].str.len()).all()


def test_query_check_fails_a_result_missing_one_row(tmp_path):
    """The workload check, fed DuckDB's own oracle output, passes; the same
    output with one row dropped fails."""
    pytest.importorskip("duckdb")
    from perfbench.workloads import CatalogQueries, OpRec
    from sdg_data_catalog_spark.queries.registry import all_oracles

    ctx = types.SimpleNamespace(seed=5, data_root=str(tmp_path), seconds=8)
    wl = CatalogQueries(ctx)
    wl.make_inputs()
    con = oracle.duck(wl.in_dir, 2)
    want = con.execute(all_oracles()["q18_large_orders"]).df()
    con.close()
    good, bad = OpRec("q18_large_orders", 0), OpRec("q18_large_orders", 1)
    good.result = want.sample(frac=1.0, random_state=1)
    bad.result = want.iloc[1:]
    assert len(want) > 1
    failures = wl.check([good, bad], threads=2)
    assert list(failures) == ["q18_large_orders#1"]
    assert "row count" in failures["q18_large_orders#1"]
