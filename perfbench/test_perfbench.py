"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench -q

The event-log test starts a small Spark session; the others need none.
"""

from __future__ import annotations

import json
import os
import time

import pytest

import layers
from eventlog import rollup_by_job_group
from harness import Op, Tally, Tracer, run_job, tail_percentile, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))


def _raise(_t):
    raise RuntimeError("boom")


def test_raised_op_and_failed_check_each_count_as_failed_op():
    ran = []

    def ok(_t):
        ran.append(True)
        return True

    ops = [Op("a", ok), Op("raises", _raise), Op("bad_check", lambda _t: False), Op("b", ok)]
    tally = Tally()
    _, op_s = run_job(ops, Tracer(), tally)
    assert (tally.attempted, tally.failed) == (4, 2)
    assert len(ran) == 2  # the job went on after both failures
    assert set(op_s) == {"a", "raises", "bad_check", "b"}
    assert tally.errors[0].startswith("raises:") and "boom" in tally.errors[0]
    assert tally.errors[1] == "bad_check: output check failed"


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(30)]
    value, pct, beyond = tail_percentile(xs)
    assert (value, beyond) == (20.0, 10)
    assert pct == pytest.approx(100 * 20 / 30)
    # fewer than twenty samples: floored at the median
    assert tail_percentile([3.0, 1.0, 2.0]) == (2.0, 100 / 3, 2)


def test_tree_cpu_counts_a_child_that_has_ended():
    before = tree_cpu_s(os.getpid())
    pid = os.fork()
    if pid == 0:  # burn about 0.3 s of CPU, then exit
        t_end = time.process_time() + 0.3
        while time.process_time() < t_end:
            pass
        os._exit(0)
    os.waitpid(pid, 0)
    assert tree_cpu_s(os.getpid()) - before >= 0.25


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 6.0, "end": 9.0},
    ]
    assert layers._self_s(spans) == {0: 3.0, 1: 3.0, 2: 1.0, 3: 3.0}


def test_benchmark_json_names_the_metrics_the_run_prints():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    per_layer = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    assert per_layer == layers.per_layer_names()
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    e2e = [m["name"] for m in bench["end_to_end"]]
    assert e2e == ["setup_s", "job_cpu_s.p50", "peak_rss_mb"]


def test_eventlog_rolls_tasks_up_by_job_group(tmp_path):
    from pyspark.sql import functions as F

    from jpspark.session import get_spark

    logs = tmp_path / "logs"
    logs.mkdir()
    spark = get_spark(
        "perfbench-eventlog-test",
        master="local[2]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{logs}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        sc = spark.sparkContext
        app = sc.applicationId
        sc.setJobGroup("g1", "python + shuffle")
        df = spark.range(1000, numPartitions=2).mapInArrow(lambda it: it, "id long")
        n = df.groupBy((F.col("id") % 3).alias("k")).count().count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(10).count()
    finally:
        spark.stop()
    assert n == 3
    groups = rollup_by_job_group(str(logs / app))
    g1 = groups["g1"]
    assert g1.jobs >= 1 and g1.tasks >= 2
    assert g1.executor_run_s > 0 and g1.executor_cpu_s > 0
    assert g1.python_bytes > 8 * 1000  # 1000 longs sent to Python and back
    assert g1.python_s > 0
    assert g1.shuffle_write_bytes > 0
    assert groups[None].jobs >= 1
