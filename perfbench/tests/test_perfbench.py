"""Self-tests of the benchmark's pure parts (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import stats  # noqa: E402
from datagen import make_tables  # noqa: E402


# -- tail-percentile rule ----------------------------------------------------


@pytest.mark.parametrize(
    "n, p",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= stats.MIN_BEYOND - 1e-6


def test_hd_quantile():
    hd = stats.hd_quantile
    assert hd([1.0, 2.0, 3.0, 4.0, 5.0], 50) == pytest.approx(3.0)
    assert hd([7.0], 75) == 7.0
    # order does not matter; a percentile of n values lies between the
    # order statistics around it and rises with p
    assert hd([3.0, 1.0, 2.0], 75) == pytest.approx(hd([1.0, 2.0, 3.0], 75))
    xs = [float(i) for i in range(1, 13)]
    assert 6.0 < hd(xs, 50) < 7.0 < hd(xs, 75) < 10.0
    # one outlier moves it far less than it moves the mean
    assert hd([1.0, 1.1, 1.2, 1.3, 50.0], 50) < 5.0  # the mean is 10.9
    with pytest.raises(ValueError):
        hd([], 50)


# -- SQL metric strings --------------------------------------------------------


@pytest.mark.parametrize(
    "text, value",
    [
        ("total (min, med, max (stageId: taskId))\n2.8 s (0 ms, 10 ms, 1.2 s (stage 3.0: task 12))", 2.8),
        ("10.3 MiB", 10.3 * 1024 ** 2),
        ("1,497", 1497.0),
        ("18 ms", 0.018),
        ("0.0 B", 0.0),
        ("total (min, med, max (stageId: taskId))\n622.0 B (210.0 B, 412.0 B, 412.0 B (stage 12.0: task 192))", 622.0),
        ("total (min, med, max (stageId: taskId))\n1.5 m (1 ms, 2 ms, 1.4 m (stage 2.0: task 9))", 90.0),
        ("2.0 GiB", 2.0 * 1024 ** 3),
        ("3", 3.0),
    ],
)
def test_parse_metric(text, value):
    assert layers.parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_garbage():
    with pytest.raises(ValueError):
        layers.parse_metric("n/a")
    with pytest.raises(ValueError):
        layers.parse_metric("3 parsecs")


# -- roll-up -------------------------------------------------------------------


def _canned():
    """One query op (build span 100.0-100.5 with one job, serve span
    100.5-101.5 with two jobs) and one filetable append span, plus one
    SQL execution whose plan repeats a cached subtree."""
    S = layers.Span
    spans = [
        S("r/0", "q1", "op", 100.0, 101.5, None, "r"),
        S("r/1", "q1", "queries.build", 100.0, 100.5, "r/0", "r"),
        S("r/2", "q1", "queries.serve", 100.5, 101.5, "r/0", "r"),
        S("r/3", "append", "op", 102.0, 103.0, None, "r"),
        S("r/4", "append", "filetable.append", 102.0, 103.0, "r/3", "r"),
    ]
    jobs = [
        {"id": 0, "group": "r/1", "submit": 100.1, "complete": 100.3, "stage_ids": [0]},
        {"id": 1, "group": "r/2", "submit": 100.6, "complete": 101.0, "stage_ids": [1, 2]},
        {"id": 2, "group": "r/2", "submit": 100.9, "complete": 101.2, "stage_ids": [3]},
        {"id": 3, "group": "r/4", "submit": 102.5, "complete": 102.9, "stage_ids": [4]},
        {"id": 4, "group": "other-run", "submit": 50.0, "complete": 51.0, "stage_ids": [5]},
    ]
    stages = {
        i: {"tasks": 4, "cpu_s": 0.25, "gc_s": 0.01} for i in range(6)
    }
    scan = {"scan time": (11, "total (min, med, max (stageId: taskId))\n1.0 s (0 ms, 1 ms, 1 s (stage 1.0: task 3))"),
            "size of files read": (12, "2.0 MiB"),
            "number of output rows": (13, "1,000")}
    executions = [
        {"id": 0, "description": "r/2", "job_ids": [1, 2], "nodes": [
            {"name": "Scan parquet", "metrics": scan},
            {"name": "Exchange", "metrics": {"shuffle bytes written": (20, "1.0 KiB"),
                                             "shuffle write time": (21, "5 ms"),
                                             "data size": (22, "9.0 KiB")}},
            {"name": "BroadcastExchange", "metrics": {"data size": (30, "512.0 B"),
                                                      "time to collect": (31, "100 ms")}},
            {"name": "HashAggregate", "metrics": {"time in aggregation build": (40, "200 ms"),
                                                  "spill size": (41, "0.0 B")}},
            {"name": "Sort", "metrics": {"sort time": (50, "50 ms"), "spill size": (51, "1.0 KiB")}},
            {"name": "FlatMapGroupsInPandas", "metrics": {
                "time to start Python workers": (60, "1.0 s"),
                "time to initialize Python workers": (61, "0.5 s"),
                "time to run Python workers": (62, "2.0 s"),
                "data sent to Python workers": (63, "4.0 KiB")}},
            # the cached relation's plan is repeated under a second scan
            {"name": "Scan parquet", "metrics": scan},
        ]},
        {"id": 1, "description": "other-run", "job_ids": [4], "nodes": [
            {"name": "Scan parquet", "metrics": {"scan time": (99, "9.0 s")}}]},
    ]
    return spans, {"jobs": jobs, "stages": stages, "executions": executions}


def test_rollup_against_canned_execution():
    spans, store = _canned()
    out = layers.rollup(spans, store, n_ops=2, n_query_ops=1, result_rows=10)
    approx = pytest.approx
    assert out["queries.build_s"] == approx(0.5)
    assert out["queries.serve_s"] == approx(1.0)
    assert out["queries.build_jobs"] == 1 and out["queries.serve_jobs"] == 2
    # build: 0.5 - 0.2 covered; serve: 1.0 - (100.6..101.2 = 0.6) covered
    assert out["queries.driver_s"] == approx(0.3 + 0.4)
    assert out["queries.tasks"] == 4 * 4  # stages 0-3, not the append's or another run's
    assert out["queries.executor_cpu_s"] == approx(1.0)
    assert out["queries.gc_s"] == approx(0.04)
    assert out["filetable.append_s"] == approx(1.0)
    assert out["filetable.driver_s"] == approx(0.6)
    # node metrics: per op (n_ops=2), the repeated scan counted once, the
    # other run's execution ignored
    assert out["sources.scan_s"] == approx(0.5)
    assert out["sources.bytes_read"] == approx(1024 ** 2)
    assert out["sources.rows_scanned"] == approx(500)
    assert out["sources.rows_per_result"] == approx(100)
    assert out["operators.shuffle_bytes"] == approx(512)
    assert out["operators.shuffle_write_s"] == approx(0.0025)
    assert out["operators.exchanges"] == approx(0.5)
    assert out["operators.broadcast_bytes"] == approx(256)
    assert out["operators.broadcast_collect_s"] == approx(0.05)
    assert out["operators.agg_s"] == approx(0.125)
    assert out["operators.spill_bytes"] == approx(512)
    assert out["operators.python_start_s"] == approx(0.5)
    assert out["operators.python_init_s"] == approx(0.25)
    assert out["operators.python_run_s"] == approx(1.0)
    assert out["operators.python_bytes_sent"] == approx(2048)
    assert set(out) <= set(layers.LAYER_UNITS)


def test_covered_merges_overlapping_jobs():
    assert layers._covered(0.0, 10.0, [(1, 3), (2, 4), (8, 12), (-5, -1)]) == pytest.approx(5.0)
    assert layers._covered(0.0, 10.0, []) == 0.0


# -- inputs --------------------------------------------------------------------


def test_datagen_is_seeded():
    a, b, c = make_tables(5, 0.001), make_tables(5, 0.001), make_tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["orders"].num_rows == 1500
