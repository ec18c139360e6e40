"""``session.materialize``: the one lineage cut labels the jobs it runs,
keeps the caller's job group, and restores the caller's description."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cascading_hive_spark import session
from cascading_hive_spark.operators import graph

_DESC = "spark.job.description"
_GROUP = "spark.jobGroup.id"


@pytest.fixture
def caller(spark):
    """Run the test under its own job group and description, and clear
    both afterwards."""
    sc = spark.sparkContext
    sc.setJobGroup("test-materialize", "caller")
    yield sc
    sc.setLocalProperty(_GROUP, None)
    sc.setLocalProperty(_DESC, None)


def test_pagerank_cut_jobs_carry_label_and_caller_group(spark, caller, status, monkeypatch):
    started: list[tuple[str, dict]] = []

    def recording(df, label, **kw):
        before = status.jobs()
        out = session.materialize(df, label, **kw)
        after = status.jobs()
        started.append((label, {k: v for k, v in after.items() if k not in before}))
        return out

    monkeypatch.setattr(graph, "materialize", recording)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
    )
    ranks = graph.pagerank(edges, iterations=3)

    labels = [label for label, _ in started]
    assert labels[-1] == "pagerank: ranks iter 3", labels
    assert all(label.startswith("pagerank: ") for label in labels), labels
    # with AQE on, a lazy cut of a shuffle still runs its upstream stages
    # inside the call, so the cuts start jobs of their own
    assert any(jobs for _, jobs in started), started
    for label, jobs in started:
        for job_id, (desc, group) in jobs.items():
            assert (desc, group) == (label, "test-materialize"), (job_id, label)
    assert caller.getLocalProperty(_DESC) == "caller"
    assert abs(sum(r["rank"] for r in ranks.collect()) - 1.0) < 1e-9


def test_prior_description_restored(spark, caller):
    df = spark.range(10).groupBy((F.col("id") % 3).alias("k")).count()
    session.materialize(df, "test: set")
    assert caller.getLocalProperty(_DESC) == "caller"

    caller.setLocalProperty(_DESC, None)
    session.materialize(df, "test: unset")
    assert caller.getLocalProperty(_DESC) is None

    caller.setLocalProperty(_DESC, "caller")
    boom = spark.range(1).select(F.raise_error(F.lit("boom")).alias("x"))
    with pytest.raises(Exception, match="boom"):
        session.materialize(boom, "test: raises", eager=True)
    assert caller.getLocalProperty(_DESC) == "caller"


def test_eager_runs_its_job_inside_the_call(spark, caller, status):
    # a plan without an exchange: a lazy cut starts no job, an eager one does
    before = status.jobs()
    session.materialize(spark.range(10), "test: lazy")
    lazy = status.jobs()
    session.materialize(spark.range(10), "test: eager", eager=True)
    eager = status.jobs()
    assert lazy.keys() == before.keys()
    new = [eager[k] for k in eager.keys() - lazy.keys()]
    assert new and all(v == ("test: eager", "test-materialize") for v in new), new
