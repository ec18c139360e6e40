"""scripts/make_sf1.py invariants — the honesty conditions the sf1
board (BASELINE.md r15) rests on: each tile is a self-contained join
graph (no squared join multiplicities), within-tile duplicate
structure is preserved while cross-tile EXACT duplication is
destroyed, and row counts scale exactly by the tile factor."""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def tiled(spark, tmp_path_factory):
    """Run the tiler at tiles=3 over sf0.001 into a temp dir —
    imported as a module (not a subprocess) so the session is shared
    and SRC can be pointed at the small SF. The tiler's ``get_session``
    re-sets runtime confs (32 shuffle partitions) on that shared
    session, so the fixture puts back every conf it found."""
    import importlib.util
    import pathlib

    out = str(tmp_path_factory.mktemp("sf_tiled"))
    script = (
        pathlib.Path(__file__).resolve().parent.parent
        / "scripts"
        / "make_sf1.py"
    )
    spec = importlib.util.spec_from_file_location("make_sf1_mod", script)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    m.SRC = "/root/testdata/sf0.001"
    argv, confs = sys.argv, spark.conf.getAll
    try:
        sys.argv = ["make_sf1.py", out, "3"]
        assert m.main() == 0
    finally:
        sys.argv = argv
        for k, v in spark.conf.getAll.items():
            if k not in confs:
                spark.conf.unset(k)
            elif confs[k] != v:
                spark.conf.set(k, confs[k])
    return out


def test_tiler_leaves_the_session_confs_as_found(spark, tiled):
    """Modules collected after this one run at conftest.py's 8 shuffle
    partitions, not the tiler's 32."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_row_counts_scale_by_tiles(spark, tiled):
    from cascading_hive_spark.tables import load_table

    for t, base in (("orders", 1500), ("lineitem", 6000), ("customer", 150),
                    ("documents", 500), ("embeddings", 500), ("events", 1000)):
        assert load_table(spark, tiled, t).count() == 3 * base, t
    # shared dims are NOT tiled
    assert load_table(spark, tiled, "nation").count() == 25
    assert load_table(spark, tiled, "region").count() == 5


def test_join_graph_is_self_contained(spark, tiled):
    """Every FK resolves (no orphans) and every orderkey appears
    exactly once in orders — key offsetting, not copying."""
    from cascading_hive_spark.tables import load_table

    o = load_table(spark, tiled, "orders")
    li = load_table(spark, tiled, "lineitem")
    c = load_table(spark, tiled, "customer")
    assert o.groupBy("o_orderkey").count().filter("count > 1").count() == 0
    orphans = li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
    assert orphans.count() == 0
    assert o.join(c, o.o_custkey == c.c_custkey, "left_anti").count() == 0


def test_cross_tile_text_not_exact_duplicated(spark, tiled):
    """Token suffixing: zero EXACT text duplicates across tiles, while
    each tile keeps the corpus' planted within-tile duplicate rate
    (digest multiplicity per tile unchanged from the source)."""
    from cascading_hive_spark.tables import load_table

    d = load_table(spark, tiled, "documents")
    src = load_table(spark, "/root/testdata/sf0.001", "documents")
    src_dup_groups = (
        src.groupBy(F.md5("text")).count().filter("count >= 2").count()
    )
    tiled_dup_groups = (
        d.groupBy(F.md5("text")).count().filter("count >= 2").count()
    )
    # every duplicate group stays INSIDE one tile: group count scales
    # exactly by the tile factor, never merges across tiles
    assert tiled_dup_groups == 3 * src_dup_groups
    # and no text collides with a different tile's rendering: the max
    # multiplicity of any tiled text equals the SOURCE's max duplicate
    # group size (a cross-tile merge would exceed it; a hardcoded
    # "> tile count" bound would spuriously fail on a source group of
    # 4+ identical docs rendered inside one tile — r15 ADVICE)
    src_max = (
        src.groupBy(F.md5("text")).count().agg(F.max("count")).first()[0]
    )
    tiled_max = (
        d.groupBy("text").count().agg(F.max("count")).first()[0]
    )
    assert tiled_max == src_max


def test_embeddings_not_exact_duplicated(spark, tiled):
    from cascading_hive_spark.tables import load_table

    e = load_table(spark, tiled, "embeddings")
    groups = (
        e.select(F.md5(F.to_json(F.struct("embedding"))).alias("h"))
        .groupBy("h")
        .count()
        .filter("count > 1")
        .count()
    )
    assert groups == 0, "epsilon perturbation must kill exact vector copies"
