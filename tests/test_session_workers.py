"""Python workers find the package when the driver found it only through
``sys.path``: ``get_session`` puts the package's parent directory on the
workers' ``PYTHONPATH``, ahead of any value the caller passes."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import os, sys
    root, sf_dir = sys.argv[1], sys.argv[2]
    sys.path.insert(0, root)
    from cascading_hive_spark.queries import queries
    from cascading_hive_spark.session import get_session
    spark = get_session(
        "workers", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(os.getcwd(), "wh"),
                    "spark.executorEnv.PYTHONPATH": "/caller/extra"},
    )
    rows = queries()["heavy_hitters_events"](spark, sf_dir).count()
    conf = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert conf == root + os.pathsep + "/caller/extra", conf
    print("WORKERS_OK", rows)
    """
)


def test_udf_query_runs_from_another_directory(tmp_path, sf_dir):
    # heavy_hitters_events runs a Python worker per task
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, _ROOT, sf_dir],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
        env=env,
    )
    assert "WORKERS_OK" in proc.stdout, (
        f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-3000:]}"
    )
    assert int(proc.stdout.split("WORKERS_OK")[1]) > 0, proc.stdout
