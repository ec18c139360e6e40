"""Pinned output digests for the eight rows-only queries
(``queries._ROWS_ONLY_TWINS``). No oracle compares these outputs, so a
drift in the code under them (the engine-hash path of an operator
folded with its oracle-checked portable twin, say) would otherwise
pass unseen.

Digest form (the one perfbench pins): ``count(*)`` plus the
DECIMAL(38,0) sum of ``xxhash64`` over the columns in name order.
Every digest reads the same at 2, 4 and 8 local cores, so no double
column needs rounding here (``pca_project`` rounds its components
itself). The sf0.1 ``graph_kcore_customers`` digest is the one in
``perfbench/digests.json``.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cascading_hive_spark import queries as Q

_PINNED = {
    "sf0.01": {
        "dedup_minhash_lsh": [25, 4039017084040373936],
        "dedup_simhash": [13, -25083377749547154768],
        "ann_ivf_topk": [10, 8434486608802159536],
        "ann_pq_topk": [10, 1212235627119638031],
        "ann_ivfpq_topk": [10, 7603651922191311252],
        "bpe_merges": [8, 6046040814071125686],
        "graph_kcore_customers": [150, 5594915963121023992],
        "embedding_pca_project": [500, 181866243913696451942],
    },
    "sf0.1": {
        "dedup_minhash_lsh": [256, 184669462168176901497],
        "dedup_simhash": [112, -60061698880242373907],
        "ann_ivf_topk": [10, 2088896991250550348],
        "ann_pq_topk": [10, 2962091055070248362],
        "ann_ivfpq_topk": [10, -5863764994608012012],
        "bpe_merges": [8, 6633831992614648245],
        "graph_kcore_customers": [150, 5594915963121023992],
        "embedding_pca_project": [2000, 175695831678084966981],
    },
}


def _digest(df) -> list[int]:
    cols = [F.col(f"`{c}`") for c in sorted(df.columns)]
    row = df.select(
        F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
    ).first()
    return [int(row[0]), int(row[1] or 0)]


@pytest.mark.parametrize(
    "sf,name", [(sf, n) for sf, pins in _PINNED.items() for n in pins]
)
def test_rows_only_digest_pinned(spark, sf_dir, sf, name):
    assert Q._REGISTRY[name][1] is None, f"{name} has an oracle; parity covers it"
    data = os.path.join(os.path.dirname(sf_dir), sf)
    assert _digest(Q._REGISTRY[name][0](spark, data)) == _PINNED[sf][name]
