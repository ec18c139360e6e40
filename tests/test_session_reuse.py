"""Session-level reuse of generated code: ``get_session`` sizes Spark's
whole-stage codegen cache to the working set, so a second sweep over the
same queries finds every generated class in the cache and compiles none.
With Spark's default of 100 entries, the second sweep of the 17
``hive_read`` queries below compiled more than 100 classes again."""

from __future__ import annotations

import json
import os

import pytest

from cascading_hive_spark import queries as Q

_WORKLOADS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench",
    "workloads.json",
)


def test_second_hive_read_sweep_compiles_no_class(spark, sf_dir):
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf):
        pytest.skip(f"{sf} is absent")
    with open(_WORKLOADS) as f:
        names = [op["name"] for op in json.load(f)["workloads"]["hive_read"]["ops"]]
    assert len(names) == 17, names
    fns = Q.queries()
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def sweep() -> int:
        before = compiled.getCount()
        for n in names:
            fns[n](spark, sf).write.format("noop").mode("overwrite").save()
        return compiled.getCount() - before

    first = sweep()
    second = sweep()
    assert second == 0, f"second sweep compiled {second} of the first sweep's {first} classes"
