"""Local oracle-differential harness.

Mimics the driver's correctness gate (see ``__spark_entry__``):
run each registered Spark query and its DuckDB oracle over the same
parquet tables, then compare row count + column names + order-
insensitive stringified values. Used by tests/test_oracle_parity.py
and the ``python -m cascading_hive_spark.parity`` CLI so mismatches
surface before the driver runs.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from cascading_hive_spark import queries as Q
from cascading_hive_spark.tables import TABLES


@dataclass
class ParityResult:
    name: str
    # "match", "mismatch", or "unchecked": a rows-only query has no
    # oracle, so nothing compared its output
    status: str
    detail: str = ""
    spark_rows: int = -1
    oracle_rows: int = -1
    examples: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return self.status == "match"


def _norm_cell(v) -> str:
    """Stringify a cell so Spark and DuckDB values compare equal when
    semantically identical (float formatting, bytes, lists)."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)


def run_oracle(sql: str, sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # Spark-written table: a DIRECTORY of part files (the
            # driver testdata ships single files) — glob the members
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
            )
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    rel = con.sql(sql)
    cols = list(rel.columns)
    arrow_types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
    return cols, rel.fetchall(), arrow_types


_SPARK_TO_DUCK = {
    "tinyint": "TINYINT",
    "smallint": "SMALLINT",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "float": "FLOAT",
    "double": "DOUBLE",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "binary": "BLOB",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
}


def _type_mismatches(spark_schema, duck_types: dict[str, str]) -> list[str]:
    """Exact logical-type comparison — the driver compares schemas, so
    an int32 rank vs int64 rank must be caught even when values hash
    equal after stringification."""
    out = []
    for f in spark_schema.fields:
        s = f.dataType.simpleString()
        d = duck_types.get(f.name, "?")
        if s.startswith("decimal"):
            expect = s.upper().replace(" ", "")
            if d.replace(" ", "") != expect:
                out.append(f"{f.name}: spark {s} vs duckdb {d}")
        elif s in _SPARK_TO_DUCK:
            if d != _SPARK_TO_DUCK[s]:
                out.append(f"{f.name}: spark {s} vs duckdb {d}")
        # nested/array types: skip strict check (rare in outputs)
    return out


def check_query(spark: SparkSession, name: str, sf_dir: str) -> ParityResult:
    if name not in Q._REGISTRY:
        import difflib

        close = difflib.get_close_matches(name, Q._REGISTRY, n=3)
        raise KeyError(f"unknown query {name!r}; did you mean {close}?")
    fn, oracle = Q._REGISTRY[name]
    sdf = fn(spark, sf_dir)
    srows = sdf.collect()
    scols = sdf.columns
    if oracle is None:
        return ParityResult(name, "unchecked", "rows-only (no oracle)", len(srows), -1)
    ocols, orows, otypes = run_oracle(oracle, sf_dir)
    if sorted(scols) != sorted(ocols):
        return ParityResult(
            name, "mismatch",
            f"column mismatch: spark={sorted(scols)} oracle={sorted(ocols)}",
            len(srows), len(orows),
        )
    tmis = _type_mismatches(sdf.schema, otypes)
    if tmis:
        return ParityResult(
            name, "mismatch", f"type mismatch: {tmis}", len(srows), len(orows)
        )
    if len(srows) != len(orows):
        return ParityResult(
            name, "mismatch", "row-count mismatch", len(srows), len(orows)
        )
    sm = _rows_to_multiset(srows, scols)
    om = _rows_to_multiset(orows, ocols)
    if sm != om:
        diffs = [f"spark: {a}\n  oracle: {b}" for a, b in zip(sm, om) if a != b][:3]
        return ParityResult(
            name, "mismatch", "value mismatch", len(srows), len(orows), diffs
        )
    return ParityResult(name, "match", "match", len(srows), len(orows))


def check_all(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    results = []
    for name in names or list(Q._REGISTRY):
        try:
            results.append(check_query(spark, name, sf_dir))
        except Exception as exc:  # noqa: BLE001 — report, keep checking
            results.append(ParityResult(name, "mismatch", f"error: {exc!r}"))
    return results


def main() -> int:
    import sys

    from cascading_hive_spark.session import get_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    names = sys.argv[1:] or None
    spark = get_session("parity-check")
    results = check_all(spark, sf_dir, names)
    marks = {"match": "OK  ", "mismatch": "FAIL", "unchecked": "----"}
    for r in results:
        print(f"{marks[r.status]} {r.name:32s} rows={r.spark_rows}/{r.oracle_rows} {r.detail}")
        for e in r.examples:
            print(f"    {e}")
    n = {s: sum(r.status == s for r in results) for s in marks}
    print(f"{n['match']} match / {n['mismatch']} mismatch / {n['unchecked']} unchecked")
    return 1 if n["mismatch"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
