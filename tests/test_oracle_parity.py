"""Driver-gate rehearsal: every registered query must match its DuckDB
oracle at sf0.001 (the driver runs the same differential at sf0.01)."""

from __future__ import annotations

import pytest

from cascading_hive_spark import queries as Q
from cascading_hive_spark.parity import check_query


def _names():
    return list(Q._REGISTRY)


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(spark, sf_dir, name):
    r = check_query(spark, name, sf_dir)
    if Q._REGISTRY[name][1] is None:
        # rows-only: nothing to compare, so the result must say so
        assert r.status == "unchecked" and not r.ok, r
        assert r.spark_rows >= 0
    else:
        assert r.ok, f"{name}: {r.detail}\n" + "\n".join(r.examples)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["token", "cnt"]


def test_every_query_has_registry_consistency():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 11
