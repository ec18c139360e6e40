"""Driver-window hygiene: the external driver oracle-checks only the
first 50 entries of ``queries()``. These tests pin the invariants that
keep that window meaningful, so a future mid-list registration cannot
silently evict an oracle-able query (the r5 pack_sequences incident).
"""

from cascading_hive_spark import queries as q


def test_first_50_all_have_oracles():
    """Every windowed query has an oracle UNLESS it is explicitly
    declared rows-only in ``_ROWS_ONLY_WINDOW`` (VERDICT r10 #5:
    rows-only-by-design queries get a weaker rows>0 driver row)."""
    names = list(q.queries())
    oracles = q.oracles()
    missing = [
        n for n in names[:50] if n not in oracles and n not in q._ROWS_ONLY_WINDOW
    ]
    assert not missing, (
        f"driver CORRECTNESS window contains oracle-less queries: {missing}"
    )
    # the declared rows-only members really are oracle-less and windowed
    for n in q._ROWS_ONLY_WINDOW:
        assert n not in oracles, f"{n} has an oracle — drop it from rows-only"


def test_window_is_explicit_and_applied():
    names = list(q.queries())
    assert len(q._DRIVER_WINDOW) == 50
    assert names[:50] == q._DRIVER_WINDOW, (
        "registry order does not match _DRIVER_WINDOW — was a query "
        "registered after _apply_driver_window()?"
    )
    assert names[0] == "wordcount"  # driver entry smoke stays slot 1


def test_oracle_column_sets_consistent():
    # every windowed name resolves to a callable (+ SQL unless rows-only)
    fns = q.queries()
    oracles = q.oracles()
    for n in q._DRIVER_WINDOW:
        assert callable(fns[n])
        if n not in q._ROWS_ONLY_WINDOW:
            assert oracles[n].strip()


def test_window_output_schemas_are_atomic(spark, sf_dir):
    """The driver canonicalizes results via pandas ``sort_values``,
    which crashes on unhashable cell values — so no driver-window query
    may return a Binary/Array/Map/Struct/Variant (or Null-typed)
    column (the CORRECTNESS_r06 ``all_types_surface``/``map_type_ops``
    incident). Non-atomic values must be projected to scalars (hex,
    array_join, to_json) before they leave a windowed query.

    Also bans REPRESENTATION-fragile scalars (the CORRECTNESS_r07
    ``all_types_surface`` hash mismatch): float32 (pandas renders
    np.float32 at 7 significant digits on one engine, a widened
    float64 repr on the other) and decimals with scale > 6 (long
    trailing-zero text diverges across canonicalizers). Widen float
    to double (exact) or cast the decimal to string/rounded double
    before it leaves a windowed query."""
    from pyspark.sql import types as T

    banned = (
        T.BinaryType,
        T.ArrayType,
        T.MapType,
        T.StructType,
        T.NullType,
        T.FloatType,
    )
    banned_names = {"variant"}
    fns = q.queries()
    offenders = []
    for n in q._DRIVER_WINDOW:
        schema = fns[n](spark, sf_dir).schema
        for field in schema.fields:
            dt = field.dataType
            if (
                isinstance(dt, banned)
                or dt.typeName() in banned_names
                or (isinstance(dt, T.DecimalType) and dt.scale > 6)
            ):
                offenders.append(f"{n}.{field.name}: {dt.simpleString()}")
    assert not offenders, (
        "driver-window queries returning pandas-unsortable columns "
        f"(would crash the driver canonicalizer): {offenders}"
    )


def test_rotation_note_names_resolve():
    """Every query name cited in the rotation-note comment block above
    ``_DRIVER_WINDOW`` must resolve in ``_REGISTRY`` — two rounds of
    stale-note incidents (r8/r9) came from notes naming queries that
    were renamed or never registered. Query names are the
    underscore-joined snake_case tokens in the note; file paths and
    test identifiers are excluded."""
    import pathlib
    import re

    src = pathlib.Path(q.__file__).read_text()
    m = re.search(
        r"# r\d+ ROTATION NOTE.*?_DRIVER_WINDOW: list\[str\]", src, re.S
    )
    assert m, "rotation note block not found above _DRIVER_WINDOW"
    note = m.group(0)
    tokens = set(re.findall(r"(?<![\w/.:])[a-z][a-z0-9]*(?:_[a-z0-9]+)+\b", note))
    cited = {
        t
        for t in tokens
        if not t.startswith("test_") and t != "list_str"
    }
    unresolved = sorted(t for t in cited if t not in q._REGISTRY)
    assert not unresolved, (
        f"rotation note cites query names not in _REGISTRY: {unresolved}"
    )
    # the note must cite at least the current swap-ins, as a guard that
    # the regex extraction is actually finding names
    assert len(cited) >= 6, cited


def test_entry_module_imports_cleanly():
    """The driver's very first step is ``import __spark_entry__`` — a
    loader crash there costs a whole round's bench + correctness
    artifacts (the r4 incident). Import it in a FRESH interpreter so a
    stale module cache in this process can't mask a broken
    registration (`_apply_driver_window` raises on bad names,
    duplicates, or a wrong window size at import time)."""
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    r = subprocess.run(
        [sys.executable, "-c", "import __spark_entry__"],
        capture_output=True,
        cwd=repo,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr.decode()[-2000:]


def test_survey_2d_query_names_resolve():
    """SURVEY.md §2.D's inventory cites driver-query names; a renamed
    or misremembered query there misleads the coverage audit exactly
    like a stale rotation note (the r8/r9 incidents). Every
    snake_case token in the table's last column must resolve in
    _REGISTRY."""
    import pathlib
    import re

    from cascading_hive_spark import queries as q

    survey = pathlib.Path(__file__).resolve().parent.parent / "SURVEY.md"
    text = survey.read_text()
    assert "### 2.D" in text
    section = text.split("### 2.D")[1].split("\n## ")[0]
    cited = set()
    for line in section.splitlines():
        if not line.startswith("|") or line.count("|") < 4:
            continue
        last = line.rsplit("|", 2)[1]
        cited.update(
            t for t in re.findall(r"[a-z0-9_]+", last)
            if "_" in t and not t.endswith("py")
        )
    unresolved = sorted(t for t in cited if t not in q._REGISTRY)
    assert not unresolved, f"SURVEY 2.D cites unknown queries: {unresolved}"
    assert len(cited) >= 20, cited


def test_every_oracle_query_driver_checked_or_windowed():
    """The rotation contract, made executable (the r8/r9 stale-note
    incidents): every oracle-able registered query must either already
    have a driver CORRECTNESS row in some prior round's artifact or be
    scheduled in the CURRENT _DRIVER_WINDOW — no oracle-able query may
    sit unverified outside the window. Rows-only queries are exempt by
    design (each is differential- or property-tested instead)."""
    import glob
    import json
    import pathlib

    from cascading_hive_spark import queries as q

    root = pathlib.Path(__file__).resolve().parent.parent
    seen: set[str] = set()
    for f in glob.glob(str(root / "CORRECTNESS_r*.json")):
        d = json.load(open(f))
        items = d.get("results", d)
        if isinstance(items, dict):
            seen.update(items.keys())
        elif isinstance(items, list):
            for it in items:
                name = it.get("name") or it.get("query")
                if name:
                    seen.add(name)
    window = set(q._DRIVER_WINDOW)
    stranded = sorted(
        n
        for n, (_, sql) in q._REGISTRY.items()
        if sql is not None and n not in seen and n not in window
    )
    assert not stranded, (
        f"oracle-able queries with no driver row and no window slot: "
        f"{stranded} — rotate them into _DRIVER_WINDOW"
    )


def test_window_rotation_policy_stalest_first():
    """VERDICT r12 #6, made executable: the window is picked
    STALEST-FIRST by last driver CORRECTNESS round over the frozen
    rotation basis (CORRECTNESS_r01.._ROTATION_BASIS_ROUND — frozen so
    artifacts landing mid-round don't shift the expectation):

      window == {wordcount}
              | {never checked in any basis round}
              | _WINDOW_FORCED
              | stalest fill by (last_round, name) up to 50

    Recomputed here from the artifacts themselves, so a future
    registration or rotation that drifts from the policy fails."""
    import glob
    import json
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent
    basis = q._ROTATION_BASIS_ROUND
    last: dict[str, int] = {}
    for f in glob.glob(str(root / "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", pathlib.Path(f).name).group(1))
        if rnd > basis:
            continue
        for k in json.load(open(f)):
            if k in q._REGISTRY:
                last[k] = max(last.get(k, 0), rnd)
    assert last, "no basis CORRECTNESS artifacts found"
    never = {n for n in q._REGISTRY if n not in last}
    expected = {"wordcount"} | never | set(q._WINDOW_FORCED)
    candidates = sorted(
        (rnd, n) for n, rnd in last.items() if n not in expected
    )
    fill = [n for _, n in candidates[: 50 - len(expected)]]
    expected |= set(fill)
    assert len(expected) == 50, len(expected)
    assert set(q._DRIVER_WINDOW) == expected, (
        sorted(set(q._DRIVER_WINDOW) - expected),
        sorted(expected - set(q._DRIVER_WINDOW)),
    )


def test_rows_only_twin_coverage():
    """VERDICT r11 #6: every rows-only-by-design query is paired with
    a hash-matched oracle-able twin in ``_ROWS_ONLY_TWINS``, and each
    pair is never wholly absent from the current driver window — so a
    rotation can swap which half of a pair is checked, but cannot
    leave an operator path with neither its rows-only nor its
    oracle-certified variant scheduled."""
    oracles = q.oracles()
    rows_only = {n for n, (_, sql) in q._REGISTRY.items() if sql is None}
    # the mapping covers exactly the rows-only queries, twins oracle-able
    assert set(q._ROWS_ONLY_TWINS) == rows_only, (
        set(q._ROWS_ONLY_TWINS) ^ rows_only
    )
    window = set(q._DRIVER_WINDOW)
    uncovered = [
        (ro, tw)
        for ro, tw in q._ROWS_ONLY_TWINS.items()
        if ro not in window and tw not in window
    ]
    assert not uncovered, (
        f"rows-only/twin pairs with no member in _DRIVER_WINDOW: {uncovered}"
    )
    for ro, tw in q._ROWS_ONLY_TWINS.items():
        assert tw in oracles, f"twin {tw} of {ro} has no oracle"


def test_lineage_cuts_only_in_materialize():
    """Every lineage cut in the package goes through
    ``session.materialize``, which labels its jobs and states the cut's
    semantics once: no other ``localCheckpoint(`` call may appear."""
    import ast
    import inspect
    from pathlib import Path

    import cascading_hive_spark
    from cascading_hive_spark import session

    root = Path(cascading_hive_spark.__file__).parent
    calls = [
        (path.relative_to(root).as_posix(), node.lineno)
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", None) == "localCheckpoint"
    ]
    src, start = inspect.getsourcelines(session.materialize)
    inside = range(start, start + len(src))
    stray = [c for c in calls if not (c[0] == "session.py" and c[1] in inside)]
    assert not stray, f"localCheckpoint outside session.materialize: {stray}"
    assert len(calls) == 1, calls


def test_no_per_partition_metadata_jobs():
    """Metadata comes from the catalog and the file index, never from a
    Spark job. PySpark's ``spark.catalog.list…(`` calls collect a local
    Dataset through ``toLocalIterator()``, one job per partition of it,
    so neither may appear in the package."""
    import ast
    from pathlib import Path

    import cascading_hive_spark

    root = Path(cascading_hive_spark.__file__).parent

    def offends(call: ast.Call) -> bool:
        f = call.func
        if not isinstance(f, ast.Attribute):
            return False
        if f.attr == "toLocalIterator":
            return True
        owner = f.value
        return (
            f.attr.startswith("list")
            and isinstance(owner, ast.Attribute)
            and owner.attr == "catalog"
        )

    found = [
        (path.relative_to(root).as_posix(), node.lineno, ast.unparse(node.func))
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call) and offends(node)
    ]
    assert not found, f"metadata calls that run one Spark job per partition: {found}"


# Sums that keep a per-row decimal cast of a double, as (module, enclosing
# function); CHANGES.md gives each one's reason.
_DECIMAL_SUM_ALLOWLIST = {
    # the image is multiplied by a BIGINT duration per row, a product
    # that overflows a BIGINT image sum
    ("queries.py", "q_events_twap"),
}


def test_decimal_images_only_through_exact():
    """Every exact decimal image of a double is built by
    ``operators/exact.py``: inside an ``F.sum(`` or ``aggregate(`` call
    anywhere else in the package there is no ``.cast("decimal(p,s)")``
    with s > 0, no ``round(...).cast(<decimal>)``, and no SQL text that
    sums a ``CAST(... AS DECIMAL(p, s))`` with s > 0."""
    import ast
    import re
    from pathlib import Path

    import cascading_hive_spark

    root = Path(cascading_hive_spark.__file__).parent
    dec = re.compile(r"decimal\(\s*\d+\s*,\s*(\d+|\{\})\s*\)", re.I)
    sql_sum = re.compile(r"\b(sum|aggregate)\s*\(.*\bAS\s+DECIMAL\(\s*\d+\s*,\s*[1-9]", re.I | re.S)

    def text(node) -> str | None:
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        if isinstance(node, ast.JoinedStr):
            return "".join(text(v) or "{}" for v in node.values)
        return None

    def decimal_scale(node) -> bool:
        m = dec.search(text(node) or "")
        return bool(m) and m.group(1) != "0"

    def offends(call: ast.Call) -> bool:
        for node in ast.walk(call):
            if not isinstance(node, ast.Call) or getattr(node.func, "attr", None) != "cast":
                continue
            arg = node.args[0] if node.args else None
            rounded = getattr(getattr(node.func.value, "func", None), "attr", None) == "round"
            if decimal_scale(arg) or (rounded and (isinstance(arg, ast.Name) or dec.search(text(arg) or ""))):
                return True
        return False

    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "operators/exact.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        fns = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "attr", getattr(node.func, "id", None))
            bad = (name in ("sum", "aggregate") and offends(node)) or (
                name in ("expr", "selectExpr")
                and any(sql_sum.search(text(a) or "") for a in node.args)
            )
            if bad:
                inner = [f for f in fns if f.lineno <= node.lineno <= f.end_lineno]
                fn = max(inner, key=lambda f: f.lineno).name if inner else "<module>"
                found.append((rel, fn, node.lineno))
    stray = sorted({f for f in found if f[:2] not in _DECIMAL_SUM_ALLOWLIST})
    assert not stray, f"decimal image sums outside operators/exact.py: {stray}"
    assert {f[:2] for f in found} == _DECIMAL_SUM_ALLOWLIST, found
