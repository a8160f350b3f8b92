"""Structural contract over the whole query registry.

The driver's correctness harness canonicalizes results in pandas by
sorting every column and hashing cell values; array / map / struct
cells are unhashable there and red-row a query even when its values
are hash-exact against the oracle (the round-6 ``inverted_index_terms``
lesson). And a query registered without an oracle silently downgrades
to a rows-only check. Both traps are structural, so this test makes
them impossible to reintroduce:

1. every registered query's OUTPUT schema is scalar-only (built at
   sf0.001 — analysis only, nothing executed for lazy queries);
2. every query either has a DuckDB oracle or an explicit
   ``rows_only=True`` declaration (also enforced at registration);
3. the declared rows-only set stays the known, reviewed list.

tools/audit_schemas.py is the standalone-CLI twin of check (1).
"""
from __future__ import annotations

from pyspark.sql import types as T

from petastorm_spark.queries import ORACLE, QUERIES, ROWS_ONLY

NON_SCALAR = (T.ArrayType, T.MapType, T.StructType)

# genuinely non-SQL-expressible ops, each value-pinned by a
# differential test instead (see the registration-site comments).
# Empty since round 9: bpe_merges gained an unrolled MATERIALIZED-CTE
# oracle (queries_llm._bpe_oracle_sql), so every query is oracle-checked.
KNOWN_ROWS_ONLY: set[str] = set()


def test_every_query_schema_is_driver_hashable(spark, sf_dir):
    bad: dict[str, list[str]] = {}
    errs: dict[str, str] = {}
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001 - collect, don't stop
            errs[name] = f"{type(e).__name__}: {e}"
            continue
        cols = [
            f"{f.name}: {f.dataType.simpleString()}"
            for f in df.schema.fields
            if isinstance(f.dataType, NON_SCALAR)
        ]
        if cols:
            bad[name] = cols
    assert not errs, f"queries failed to build: {errs}"
    assert not bad, (
        "non-scalar output columns would red-row these queries in the "
        f"driver harness (flatten via array_join / one column per dim): {bad}"
    )


def test_every_query_has_oracle_or_explicit_rows_only():
    missing = set(QUERIES) - set(ORACLE) - ROWS_ONLY
    assert not missing, (
        f"queries with neither an oracle nor rows_only=True: {sorted(missing)}"
    )
    # rows-only must be a deliberate, reviewed choice
    assert ROWS_ONLY == KNOWN_ROWS_ONLY, (
        "rows-only set changed; if the new op is genuinely "
        "non-SQL-expressible, add a differential test and update "
        f"KNOWN_ROWS_ONLY: {sorted(ROWS_ONLY ^ KNOWN_ROWS_ONLY)}"
    )
    # an oracle for an unregistered query is dead weight
    assert set(ORACLE) <= set(QUERIES)


def test_readme_counts_match_registry():
    """The round-8 verdict caught README's front-page counts stale
    (151/150 vs a 154/153 registry). The counts now live in
    <!--NQ-->/<!--NO--> marker spans refreshed by
    tools/gen_readme_counts.py; this pins them to the live registry."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "README.md")) as f:
        text = f.read()
    nq = {int(m) for m in re.findall(r"<!--NQ-->(\d+)<!--/NQ-->", text)}
    no = {int(m) for m in re.findall(r"<!--NO-->(\d+)<!--/NO-->", text)}
    assert nq and no, "README count marker spans are missing"
    assert nq == {len(QUERIES)}, f"README query counts {nq} != {len(QUERIES)}"
    assert no == {len(ORACLE)}, f"README oracle counts {no} != {len(ORACLE)}"


def test_readme_test_count_matches_collection(request):
    """The round-10 verdict caught README's hand-written test count
    stale (439 vs an actual 442); it now lives in an <!--NT--> span
    refreshed by tools/gen_readme_counts.py. Pin it to THIS session's
    live pytest collection when the whole suite is running (a -k /
    path-filtered invocation collects a subset, which says nothing
    about the span)."""
    import os
    import re

    import pytest

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "README.md")) as f:
        text = f.read()
    nt = {int(m) for m in re.findall(r"<!--NT-->(\d+)<!--/NT-->", text)}
    assert nt, "README <!--NT--> test-count span is missing"
    sess = request.session
    if sess.config.args not in (["tests"], ["tests/"]) or (
        sess.config.getoption("keyword", default="")
    ):
        pytest.skip("full-suite collection not available in this invocation")
    collected = sess.testscollected
    assert nt == {collected}, (
        f"README test count {nt} != collected {collected} — run "
        "python tools/gen_readme_counts.py"
    )


def test_materialization_goes_through_session_only():
    """Every persist and local checkpoint in the package goes through
    session.materialize, so session.release_persisted() can free it. A
    raw call elsewhere would hold blocks no release path knows of
    (clearCache() never frees checkpoint blocks)."""
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "petastorm_spark",
    )
    raw = re.compile(r"\.persist\(|localCheckpoint\(|\.unpersist\(|StorageLevel")
    hits = []
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(pkg, "session.py"):
                continue
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if raw.search(line):
                        hits.append(f"{os.path.relpath(path, pkg)}:{i}: {line.strip()}")
    assert not hits, "materialize outside session.py:\n" + "\n".join(hits)


def test_job_groups_and_stage_counts_go_through_profile_only():
    """Query profiling has one owner, ``petastorm_spark/profile.py``: one
    timed-run protocol and one stage counter. A job group or a status
    tracker read anywhere else in the package, ``bench.py`` or ``tools/``
    is a second copy, free to drift from it (a copy that added up every
    listed stage id counted AQE's skipped stages as run). ``perfbench/``
    keeps the benchmark's own copy."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    owner = os.path.join(root, "petastorm_spark", "profile.py")
    raw = re.compile(r"statusTracker\(|setJobGroup\(")
    paths = [os.path.join(root, "bench.py")]
    for top in ("tools", "petastorm_spark"):
        for d, _, files in os.walk(os.path.join(root, top)):
            paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    hits = []
    for path in paths:
        if path == owner:
            continue
        with open(path) as f:
            for i, line in enumerate(f, 1):
                if raw.search(line):
                    hits.append(f"{os.path.relpath(path, root)}:{i}: {line.strip()}")
    assert not hits, "profiling outside petastorm_spark/profile.py:\n" + "\n".join(hits)


def test_filter_ops_are_evaluated_only_by_their_owner():
    """The reader's filter ops are named once, in the op table of
    ``_piece_worker.py``, which the Spark plan filter, the row mask,
    row-group pruning and the Column compiler all read. An op string
    compared or looked up anywhere else is a second copy of the filter
    language, free to drift from the first."""
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "petastorm_spark",
    )
    op = r"""["'](?:=|==|!=|<|<=|>|>=|in|not in)["']"""
    evaluated = re.compile(
        rf"""["'](?:not in|>=|<=|!=)["']|(?:==|!=|\bin)\s*\(?\s*{op}"""
    )
    hits = []
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(pkg, "_piece_worker.py"):
                continue
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if evaluated.search(line):
                        hits.append(f"{os.path.relpath(path, pkg)}:{i}: {line.strip()}")
    assert not hits, "filter ops outside _piece_worker.py:\n" + "\n".join(hits)


def test_no_session_wide_partition_overwrite_mode():
    """Dynamic partition overwrite is a per-write option
    (``.option("partitionOverwriteMode", "dynamic")``). Setting it
    through ``spark.conf`` flips it for every concurrent write on the
    session."""
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "petastorm_spark",
    )
    conf_set = re.compile(r"\.conf\.set\(")
    hits = []
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                text = f.read()
            # the key may sit on the line after the call's parenthesis
            for m in conf_set.finditer(text):
                if "partitionOverwriteMode" in text[m.end():text.find(")", m.end())]:
                    line = text.count("\n", 0, m.start()) + 1
                    hits.append(f"{os.path.relpath(path, pkg)}:{line}")
    assert not hits, "partitionOverwriteMode set through spark.conf:\n" + "\n".join(hits)


def test_stateful_streaming_goes_through_fold_by_key_only():
    """Per-key stateful folds have one owner,
    ``operators.stateful.fold_by_key``: it gathers a key's Arrow chunks,
    sorts them once, reads and writes the state and types the key
    column. A state-store grouped map called anywhere else is a second
    copy of that plumbing (the copies sorted each chunk on its own and
    declared every key ``bigint``)."""
    import ast
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "petastorm_spark",
    )
    owner_path = os.path.join(pkg, "operators", "stateful.py")
    raw = re.compile(r"applyInPandasWithState|transformWithStateInPandas")
    hits = []
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            path = os.path.join(root, name)
            if not name.endswith(".py"):
                continue
            with open(path) as f:
                text = f.read()
            owned = set()
            for n in ast.parse(text).body if path == owner_path else []:
                if isinstance(n, ast.FunctionDef) and n.name == "fold_by_key":
                    owned = set(range(n.lineno, n.end_lineno + 1))
            for i, line in enumerate(text.splitlines(), 1):
                if raw.search(line) and i not in owned:
                    hits.append(f"{os.path.relpath(path, pkg)}:{i}: {line.strip()}")
    assert not hits, "stateful grouped maps outside fold_by_key:\n" + "\n".join(hits)


def test_public_functions_take_no_underscore_parameters():
    """An underscore-prefixed parameter on a public function is a switch
    the signature hides from its callers, so nothing in the package
    exercises it and nothing keeps it from drifting. Each public
    function or method of a public class takes public parameters only."""
    import ast
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "petastorm_spark",
    )

    def public(name):
        return not name.startswith("_") or (
            name.startswith("__") and name.endswith("__")
        )

    hits = []

    def visit(body, rel):
        for n in body:
            if isinstance(n, ast.ClassDef) and not n.name.startswith("_"):
                visit(n.body, rel)
            elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and public(
                n.name
            ):
                a = n.args
                for arg in a.posonlyargs + a.args + a.kwonlyargs:
                    if arg.arg.startswith("_"):
                        hits.append(f"{rel}:{n.lineno}: {n.name}({arg.arg})")

    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    visit(ast.parse(f.read()).body, os.path.relpath(path, pkg))
    assert not hits, "underscore parameters on public functions:\n" + "\n".join(hits)
