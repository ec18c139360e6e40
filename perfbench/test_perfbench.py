"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import run  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    log_dir = tmp_path_factory.mktemp("eventlog")
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(log_dir))
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    s.log_dir = str(log_dir)
    yield s
    s.stop()


def test_parser_attributes_jobs_of_a_two_job_query(spark):
    sc = spark.sparkContext
    sc.setJobGroup("toy.0.sorted.action", "toy")
    # a global sort runs a sampling job for the range bounds, then the sort itself
    spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k", "id").orderBy("k").collect()
    sc.setJobGroup("toy.0.count.action", "toy")
    spark.range(0, 1000, 1, 4).count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(10).count()  # outside any group: dropped
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()

    groups = eventlog.group_stats(eventlog.read_events(spark.log_dir))

    assert set(groups) == {"toy.0.sorted.action", "toy.0.count.action"}
    for g, s in groups.items():
        assert sorted(s.jobs) == sorted(tracker.getJobIdsForGroup(g))
        assert s.tasks > 0 and s.failed_tasks == 0
        for a, b in s.jobs.values():
            assert a <= b
    assert len(groups["toy.0.sorted.action"].jobs) >= 2
    assert len(groups["toy.0.count.action"].jobs) >= 1
    assert not groups["toy.0.sorted.action"].stages & groups["toy.0.count.action"].stages
    assert groups["toy.0.sorted.action"].shuffle_write_mb > 0


def test_wrong_digest_fails_the_op_and_the_pass_continues(spark):
    good = spark.range(100)

    def boom():
        raise RuntimeError("op blew up")

    ops = [
        run.Op("wrong_digest", lambda: spark.range(10), "relational", True, [10, 12345]),
        run.Op("raises", boom, "relational", True, None),
        run.Op("good", lambda: good, "relational", True, run.digest(good)),
    ]
    runner = run.Runner(spark, "fake", ops)
    p = runner.run_pass("0", seed=3)

    by_name = {r.op.name: r for r in p.ops}
    assert len(p.ops) == 3
    assert by_name["wrong_digest"].error.startswith("digest mismatch")
    assert by_name["raises"].error.startswith("RuntimeError")
    assert by_name["good"].error == ""
    assert by_name["good"].action_jobs >= 1


def test_span_self_time_excludes_children():
    spans = eventlog.with_self_time([
        eventlog.Span("p", None, 0.0, 10.0),
        eventlog.Span("p.a", "p", 1.0, 4.0),
        eventlog.Span("p.b", "p", 3.0, 6.0),
    ])
    assert spans[0].self_s == pytest.approx(5.0)
    assert spans[1].self_s == pytest.approx(3.0)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER

    graph = run.OpRecord(run.Op("x", None, "graph", True), 0.0, 2.0, 1.5, build_jobs=3, action_jobs=1)
    # a module of a workload outside BENCHMARK.json has no metric of its own
    text = run.OpRecord(run.Op("y", None, "text", True), 2.0, 3.0, 2.5, build_jobs=1, action_jobs=1)
    traced = run.PassRecord("0", True, 0.0, 3.0, [graph, text])
    untraced = run.PassRecord("1", False, 3.0, 5.5, [graph, text])
    assert set(run.end_to_end_metrics([untraced], 1.0)) == set(run.END_TO_END)
    layers = run.traced_metrics(traced, untraced, "w", {}, 4)
    assert set(layers) | {"session.start_s", "session.peak_rss_mb", "tables.scan_s",
                          "tables.scan_mb_per_s"} == set(run.PER_LAYER)
    assert layers["trace.overhead"] == pytest.approx(3.0 / 2.5 - 1)
    assert layers["operators.graph.jobs"] == 4 and layers["queries.build_jobs"] == 4
