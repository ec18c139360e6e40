from __future__ import annotations

import itertools
from dataclasses import dataclass

import pytest


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from cascading_hive_spark.session import get_session

    wh = tmp_path_factory.mktemp("warehouse")
    s = get_session(
        "tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


# --- Spark status-store counters ---------------------------------------
#
# Tests that pin how much work an operator does read Spark's own status
# store (the listener-fed store behind the UI and the REST API) through
# py4j, never wall time.


@dataclass(frozen=True)
class Stage:
    """Record counters of one completed stage attempt. ``read_median``
    and ``read_max`` are the per-task quantiles of shuffle-read records
    (the status store's ``taskSummary`` over its successful tasks)."""

    stage_id: int
    name: str
    tasks: int
    input_records: int
    shuffle_write_records: int
    shuffle_read_records: int
    read_median: float
    read_max: float


@dataclass(frozen=True)
class Counted:
    """What ``Status.run(fn)`` saw: ``fn``'s return value and the jobs
    and stages Spark ran under the job group it set."""

    value: object
    jobs: list[int]
    stages: list[Stage]

    @property
    def shuffle_records(self) -> int:
        return sum(s.shuffle_write_records + s.shuffle_read_records for s in self.stages)

    @property
    def read_skew(self) -> float:
        """Largest ratio, over stages of more than one task, of the
        shuffle records the busiest task read to those the median task
        read (infinite when the median task read none)."""
        return max(
            (
                s.read_max / s.read_median if s.read_median else float("inf")
                for s in self.stages
                if s.tasks > 1 and s.read_max > 0
            ),
            default=0.0,
        )


class Status:
    """Reads the session's status store; the ``status`` fixture."""

    _groups = itertools.count()

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = spark._jvm
        self._store = self._sc._jsc.sc().statusStore()

    def jobs(self) -> dict[int, tuple[str | None, str | None]]:
        """job id -> (description, group) for every job the store holds,
        after the listener bus has delivered all pending events."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = {}
        for j in _seq(self._store.jobsList(None)):
            d, g = j.description(), j.jobGroup()
            out[j.jobId()] = (
                d.get() if d.isDefined() else None,
                g.get() if g.isDefined() else None,
            )
        return out

    def run(self, fn) -> Counted:
        """Run ``fn()`` under a job group of its own, then read the jobs
        and the stage counters the store recorded for that group. A stage
        that several of the jobs list counts once; a stage a job skipped
        because its shuffle output was reused does not count."""
        group = f"counted-{next(self._groups)}"
        keys = ("spark.jobGroup.id", "spark.job.description")
        prior = [self._sc.getLocalProperty(k) for k in keys]
        self._sc.setJobGroup(group, "counted")
        try:
            value = fn()
        finally:
            for k, v in zip(keys, prior):
                self._sc.setLocalProperty(k, v)
        job_ids = sorted(j for j, (_, g) in self.jobs().items() if g == group)
        stage_ids = sorted({
            sid
            for j in job_ids
            for sid in _seq(self._store.job(j).stageIds())
        })
        stages = [s for sid in stage_ids for s in self._stages(sid)]
        return Counted(value, job_ids, stages)

    def _stages(self, stage_id: int) -> list[Stage]:
        no_tasks = self._jvm.java.util.ArrayList()
        no_quantiles = self._sc._gateway.new_array(self._jvm.double, 0)
        attempts = self._store.stageData(stage_id, False, no_tasks, False, no_quantiles)
        quantiles = self._sc._gateway.new_array(self._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        out = []
        for a in _seq(attempts):
            if a.status().toString() != "COMPLETE":
                continue
            summary = self._store.taskSummary(stage_id, a.attemptId(), quantiles)
            median = top = 0.0
            if summary.isDefined():
                read = summary.get().shuffleReadMetrics().readRecords()
                median, top = read.apply(0), read.apply(1)
            out.append(Stage(
                stage_id, a.name(), a.numTasks(), a.inputRecords(),
                a.shuffleWriteRecords(), a.shuffleReadRecords(), median, top,
            ))
        return out


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


@pytest.fixture(scope="session")
def status(spark) -> Status:
    return Status(spark)


@pytest.fixture
def shuffled_plans(spark):
    """Plan small test inputs the way Spark plans large ones, for the
    test's duration: no join is broadcast unless the operator asks for
    it, and AQE does not coalesce shuffle partitions. The record
    counters then see the rows a large input would move between tasks,
    and a task is one of 8 hash partitions, whatever an earlier test
    left the session's partition count at."""
    confs = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prior = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield
    for k, v in prior.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
