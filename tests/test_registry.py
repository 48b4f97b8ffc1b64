"""Registry + driver-contract smoke: every registered query builds a
DataFrame at sf0.001 with a stable, well-formed schema; oracle SQL
parses in DuckDB. (Full value comparison runs in
tools/check_correctness.py at sf0.01 — this is the fast gate.)
"""

from __future__ import annotations

import ast
import glob
import os
import re

import duckdb
import pytest

from museum_image_etl_gridfs_spark.catalog import TABLES
from museum_image_etl_gridfs_spark.plans import all_queries

QUERIES = all_queries()


def test_registry_nonempty_and_named():
    assert len(QUERIES) >= 40
    for name, q in QUERIES.items():
        assert q.name == name and q.doc, name


def test_registry_in_registration_order():
    """Module order in ``_QUERY_MODULES``, then decorator order."""
    import inspect

    from museum_image_etl_gridfs_spark.plans.registry import _QUERY_MODULES

    def key(q):
        return (
            _QUERY_MODULES.index(q.build.__module__),
            inspect.getsourcelines(q.build)[1],
        )

    keys = [key(q) for q in QUERIES.values()]
    assert keys == sorted(keys)


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "museum_image_etl_gridfs_spark"
#: the non-test code outside the package that may use it
NON_TEST_CALLERS = ("perfbench/*.py", "tools/*.py", "__spark_entry__.py")

#: queries kept because a test uses them as the reference or driver for
#: other code: (query, the test that drives it)
TEST_DRIVERS = (
    ("distinct_segments",
     "test_sweep_rows.py::test_full_compare_rows_carry_split_and_noise"),
    ("top_orders", "test_sweep_rows.py::test_count_only_rows_carry_split_and_noise"),
    ("table_profile", "test_plan_audit.py::test_relational_flagships_are_shuffle_lean"),
)

#: queries that no workload, parity tag or driving test keeps yet; each
#: awaits a keep/drop decision. The list may only shrink.
PENDING_KEEP_DROP = (
    # queries_core
    "top_parts_per_brand",
    # queries_text
    "text_quality", "lang_id", "token_length_histogram",
    "lang_confusion_matrix",
    # queries_dedup
    "dup_gram_stats", "substring_dedup_rewrite", "ngram_novelty_profile",
    # queries_images
    "multimodal_transform",
    # queries_olap
    "top_balances_per_nation",
    # queries_profile
    "corpus_power_laws",
    # queries_funnel
    "inverted_index", "weighted_sample_topk",
    # queries_analytics
    "http_ingest_pipeline", "binary_fetch_pipeline", "python_datasource_scan",
    # queries_stats
    "recursive_brand_reach", "brand_triangle_stats", "order_cluster_sample",
    "schema_evolution_merge",
)


def _benchmark_lists() -> dict[str, list[str]]:
    """``QUERY_MIX`` / ``NEAR_DUP`` as written in perfbench/workloads.py,
    read from its source rather than imported."""
    path = os.path.join(ROOT, "perfbench", "workloads.py")
    lists = {}
    for node in ast.parse(open(path).read()).body:
        target = getattr(node, "targets", [None])[0]
        if getattr(target, "id", None) in ("QUERY_MIX", "NEAR_DUP"):
            # NAME = ("a b " "c d").split()
            lists[target.id] = node.value.func.value.value.split()
    return lists


def test_benchmark_queries_are_registered():
    """Every query a perfbench workload builds by name is registered,
    so a registry cut that breaks the benchmark fails here rather than
    as failed operations in a benchmark run."""
    lists = _benchmark_lists()
    assert set(lists) == {"QUERY_MIX", "NEAR_DUP"}
    for names in lists.values():
        assert names and set(names) <= set(QUERIES), set(names) - set(QUERIES)


#: Spark jobs each ``NEAR_DUP`` build started at sf0.001 and sf0.01
#: when this bound was set: one parquet schema read per scanned table,
#: a lazy checkpoint's shuffle stage (minhash, components, spans), and
#: the jaccard kernel's ``first()`` (3 jobs per call)
NEAR_DUP_BUILD_JOBS = {
    "minhash_near_dups": 2,
    "prefix_join_near_dups": 4,
    "near_dup_components_exact": 5,
    "duplicated_spans": 2,
    "eval_contamination": 1,
}


def test_near_dup_builds_run_no_package_jobs(spark, sf_dir):
    """Building a ``NEAR_DUP`` query starts no Spark job from a package
    call site: no size estimate or gate runs a job at build time. The
    one exception is the jaccard kernel's sub-block count, a measured
    ``first()`` in ``operators/ann.py``. Every job counts towards the
    query's bound in :data:`NEAR_DUP_BUILD_JOBS`, the ones named after
    Spark frames too (the parquet schema read, a lazy checkpoint's
    shuffle stage)."""
    from museum_image_etl_gridfs_spark.operators.lifecycle import release_checkpoints

    pkg = os.path.join(ROOT, PACKAGE) + os.sep
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sites, jobs = {}, {}
    try:
        for name in _benchmark_lists()["NEAR_DUP"]:
            group = f"build-{name}"
            sc.setJobGroup(group, group)
            QUERIES[name].build(spark, sf_dir)
            release_checkpoints(spark)
            job_ids = tracker.getJobIdsForGroup(group)
            jobs[name] = len(job_ids)
            stages = [
                tracker.getStageInfo(s)
                for j in job_ids
                for s in tracker.getJobInfo(j).stageIds
            ]
            # a stage is named "<api> at <file>:<line>". Once the status
            # store holds more than spark.ui.retainedStages, it drops
            # skipped stages first; a skipped stage ran in an earlier
            # job, so one that is gone (None) is not this build's.
            sites[name] = {
                (api, path[len(pkg):].rsplit(":", 1)[0])
                for api, _, path in (
                    s.name.partition(" at ") for s in stages if s is not None
                )
                if path.startswith(pkg)
            }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jaccard = {("first", "operators/ann.py")}
    assert sites == {
        "minhash_near_dups": set(),
        "prefix_join_near_dups": jaccard,
        "near_dup_components_exact": jaccard,
        "duplicated_spans": set(),
        "eval_contamination": set(),
    }
    assert set(jobs) == set(NEAR_DUP_BUILD_JOBS)
    over = {n: c for n, c in jobs.items() if c > NEAR_DUP_BUILD_JOBS[n]}
    assert not over, over


def test_near_dup_second_round_compiles_no_class(spark, sf_dir):
    """The generated-class cache holds the ``NEAR_DUP`` working set
    (~187 classes at sf0.001): once every query has run, a second round
    makes Janino compile nothing. Spark's default 100-entry cache
    evicted each class before its next use, so every round recompiled
    ~185."""
    from museum_image_etl_gridfs_spark.operators.lifecycle import release_checkpoints

    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = compiled.METRIC_COMPILATION_TIME()

    def one_round():
        for name in _benchmark_lists()["NEAR_DUP"]:
            QUERIES[name].build(spark, sf_dir).collect()
            release_checkpoints(spark)

    one_round()
    before = compiled.getCount()
    one_round()
    assert compiled.getCount() - before == 0


def test_one_whitespace_class_in_the_package():
    """Whitespace is spelled out only in ``functions/quality.py``, the
    tokenizer's home: no other module uses the regex class ``\\s``
    (Java's and RE2's differ on ``\\x0b``) except the JSON extraction
    in ``plans/queries_events.py``, and no module calls ``split()``
    without a separator (Python's class also holds NBSP, ``\\x1c``-
    ``\\x1f``, ``\\x85`` and U+2003)."""
    allowed = {"functions/quality.py", "plans/queries_events.py"}
    pkg = os.path.join(ROOT, PACKAGE)
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        module = os.path.relpath(path, pkg)
        src = open(path).read()
        assert module in allowed or "\\s" not in src, module
        bare = [
            n.lineno
            for n in ast.walk(ast.parse(src))
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "split"
            and not (n.args or n.keywords)
        ]
        assert not bare, (module, bare)


def test_every_query_has_a_keep_reason():
    """A registered query is benchmarked, tagged ``reference-parity``,
    drives a named test, or awaits its keep/drop decision in
    ``PENDING_KEEP_DROP``. A new query needs one of the first three."""
    benchmarked = {n for names in _benchmark_lists().values() for n in names}
    parity = {n for n, q in QUERIES.items() if "reference-parity" in q.tags}
    drivers = {n for n, _ in TEST_DRIVERS}
    pending = set(PENDING_KEEP_DROP)
    assert len(pending) == len(PENDING_KEEP_DROP)
    # every listed name is registered, so the lists can only shrink
    assert (drivers | pending) <= set(QUERIES), (drivers | pending) - set(QUERIES)
    assert not pending & (benchmarked | parity | drivers)
    for name, test in TEST_DRIVERS:
        file, fn = test.split("::")
        tree = ast.parse(open(os.path.join(ROOT, "tests", file)).read())
        assert fn in {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}, test
    unkept = set(QUERIES) - benchmarked - parity - drivers - pending
    assert not unkept, sorted(unkept)


def _imported_modules(path: str, module: str | None) -> set[str]:
    """Dotted names that ``path`` imports (relative imports resolved
    against ``module``): for ``from pkg import name`` both ``pkg`` and
    ``pkg.name``; plus every string constant, which is how modules
    named by string (``_QUERY_MODULES``, ``WORKER_DAEMON_MODULE``)
    are reached."""
    is_pkg = path.endswith("__init__.py")
    out = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = module.split(".")
                parts = parts[: len(parts) - node.level + is_pkg]
                base = ".".join(parts + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out.add(node.value)
    return out


def test_every_module_has_a_non_test_importer():
    """Every package module is imported (or named by string) by another
    package module, perfbench, tools or the driver entry point; tests
    do not count. A package counts as imported when any of its
    submodules is. A module only its own tests reach fails here."""
    modules = {}
    for dirpath, _, files in os.walk(os.path.join(ROOT, PACKAGE)):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                rel = os.path.relpath(path, ROOT)[: -len(".py")]
                modules[rel.replace(os.sep, ".").removesuffix(".__init__")] = path
    imported = set()
    for module, path in modules.items():
        imported |= _imported_modules(path, module) - {module}
    for pattern in NON_TEST_CALLERS:
        for path in glob.glob(os.path.join(ROOT, pattern)):
            imported |= _imported_modules(path, None)
    # a submodule import imports each enclosing package
    for name in list(imported):
        parts = name.split(".")
        imported.update(".".join(parts[:i]) for i in range(1, len(parts)))
    orphans = sorted(set(modules) - imported)
    assert not orphans, orphans


def _unused_imports(path: str) -> list[str]:
    """Names a module binds by import but never refers to."""
    tree = ast.parse(open(path).read())
    bound = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            bound.update(a.asname or a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            bound.update(a.asname or a.name for a in node.names)
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return sorted(bound - used)


def test_no_unused_imports_in_package():
    """Every name a package module imports is referred to in that
    module. ``__init__.py`` files are skipped: their imports are
    re-exports."""
    unused = []
    for dirpath, _, files in os.walk(os.path.join(ROOT, PACKAGE)):
        for f in files:
            if f.endswith(".py") and f != "__init__.py":
                path = os.path.join(dirpath, f)
                rel = os.path.relpath(path, ROOT)
                unused += [f"{rel}:{name}" for name in _unused_imports(path)]
    assert not unused, unused


def test_no_unused_imports_outside_package():
    """The same for the tests and the non-test callers. A module that
    only probes whether a package is installed uses
    ``importlib.util.find_spec``, not an import it never refers to."""
    unused = []
    for pattern in ("tests/*.py", *NON_TEST_CALLERS):
        for path in sorted(glob.glob(os.path.join(ROOT, pattern))):
            rel = os.path.relpath(path, ROOT)
            unused += [f"{rel}:{name}" for name in _unused_imports(path)]
    assert not unused, unused


def _import_bindings(stmts) -> set[str]:
    """Names the import statements among ``stmts`` bind, not looking
    inside function, class or lambda bodies."""
    out, todo = set(), list(stmts)
    while todo:
        node = todo.pop()
        if isinstance(node, ast.Import):
            out.update(a.asname or a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            out.update(a.asname or a.name for a in node.names)
        elif not isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)
        ):
            todo.extend(ast.iter_child_nodes(node))
    return out


def test_no_redundant_local_imports():
    """No top-level function re-imports, in its own body, a name its
    module already imports at top level. Imports inside a nested
    ``def`` stay allowed: such closures ship to Python workers and
    import there."""
    paths = glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)
    for pattern in ("tests/*.py", *NON_TEST_CALLERS):
        paths += glob.glob(os.path.join(ROOT, pattern))
    redundant = []
    for path in sorted(paths):
        tree = ast.parse(open(path).read())
        top = _import_bindings(tree.body)
        rel = os.path.relpath(path, ROOT)
        for fn in tree.body:
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for name in sorted(_import_bindings(fn.body) & top):
                    redundant.append(f"{rel}:{fn.name}:{name}")
    assert not redundant, redundant


#: public package definitions (``<module>.<name>`` under the package)
#: that only tests call today; each awaits deletion or a non-test
#: caller. The list may only shrink.
PENDING_DEFINITIONS = (
    "functions.cleaning.na_standardize",
    "operators.gridfs.file_descriptors",
    "operators.gridfs.reassemble_with_files",
    "operators.images.PILCodec",
    "operators.spans.gram_occurrences",
    "sources.http.ids_dataframe",
    "sources.http.project_metadata",
    "sources.http.make_json_transport",
)

_DOTTED = re.compile(r"[A-Za-z_][\w.]*")


def _referenced_names(tree: ast.Module) -> set[tuple[str | None, str]]:
    """(enclosing top-level definition or None, name) for every name a
    module refers to: loads, attributes, imported names, and each part
    of a string constant that is a (dotted) name. Assignment targets
    bind rather than refer; docstrings and other prose strings name
    nothing."""
    out = set()
    for top in tree.body:
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                if not isinstance(node.ctx, ast.Store):
                    out.add((owner, node.id))
            elif isinstance(node, ast.Attribute):
                out.add((owner, node.attr))
            elif isinstance(node, ast.alias):
                out.add((owner, node.name.rsplit(".", 1)[-1]))
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if _DOTTED.fullmatch(node.value):
                    out.update((owner, p) for p in node.value.split("."))
    return out


def _package_trees():
    """(module path relative to the package, parsed tree) for every
    package module."""
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                module = os.path.relpath(path, pkg)[: -len(".py")]
                yield module.replace(os.sep, "."), ast.parse(open(path).read())


def _definitions(node: ast.stmt) -> list[str]:
    """Names a top-level statement defines: a function or class
    (``@query`` builders excluded, the registry reaches them) or the
    plain-name targets of a module-level constant (``NAME = ...``)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        builder = any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
            for d in node.decorator_list
        )
        names = [] if builder else [node.name]
    elif isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        names = [
            n.id
            for t in targets
            for n in ast.walk(t)
            if isinstance(n, ast.Name)
        ]
    else:
        names = []
    return names


def test_every_public_definition_has_a_non_test_caller():
    """Every public top-level function, class or constant in the
    package is referred to by some other definition in the package,
    perfbench, tools or the driver entry point; tests do not count,
    nor does a definition referring to itself, nor an ``__init__.py``
    that only imports it (a re-export is not a use). ``@query``
    builders count as reached through the registry. Names are matched
    by name, so a caller anywhere keeps every definition of that
    name."""
    defs = {}  # "<module>.<name>" -> name
    callers = set()  # (module or None, owner, name)
    for module, tree in _package_trees():
        for node in tree.body:
            for name in _definitions(node):
                if not name.startswith("_"):
                    defs[f"{module}.{name}"] = name
        if module.endswith("__init__"):
            tree.body = [
                n for n in tree.body if not isinstance(n, (ast.Import, ast.ImportFrom))
            ]
        callers |= {(module, o, n) for o, n in _referenced_names(tree)}
    for pattern in NON_TEST_CALLERS:
        for path in glob.glob(os.path.join(ROOT, pattern)):
            tree = ast.parse(open(path).read())
            callers |= {(None, o, n) for o, n in _referenced_names(tree)}
    pending = set(PENDING_DEFINITIONS)
    assert len(pending) == len(PENDING_DEFINITIONS)
    # every listed definition exists, so the list can only shrink
    assert pending <= set(defs), sorted(pending - set(defs))
    uncalled = {
        full
        for full, name in defs.items()
        if not any(
            n == name and (m, o) != (full.rsplit(".", 1)[0], name)
            for m, o, n in callers
        )
    }
    assert uncalled <= pending, sorted(uncalled - pending)
    # a pending definition that gained a caller leaves the list
    assert not pending - uncalled, sorted(pending - uncalled)


def test_every_private_definition_is_referred_to():
    """Every module-level private function, class or constant
    (``_name``, dunders aside) in the package is referred to somewhere
    in the package other than its own definition. A helper whose last
    caller was deleted fails here; tests do not keep one alive."""
    defs = set()  # (module, name)
    refs = set()  # (module, owner, name)
    for module, tree in _package_trees():
        for node in tree.body:
            defs |= {
                (module, n)
                for n in _definitions(node)
                if n.startswith("_") and not n.startswith("__")
            }
        refs |= {(module, o, n) for o, n in _referenced_names(tree)}
    orphans = sorted(
        f"{module}.{name}"
        for module, name in defs
        if not any(n == name and (m, o) != (module, name) for m, o, n in refs)
    )
    assert not orphans, orphans


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_builds_and_runs(spark, sf_dir, name):
    q = QUERIES[name]
    df = q.build(spark, sf_dir)
    assert df.columns, name
    assert not any(c.startswith("__") for c in df.columns), name
    assert df.count() >= 0  # executes the plan


def test_oracles_parse_in_duckdb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    for name, q in QUERIES.items():
        if q.oracle is None:
            continue
        cols = [d[0] for d in con.execute(q.oracle).description]
        assert cols, name


def test_driver_entry_contract(spark):
    import __spark_entry__ as E

    qs = E.queries()
    osql = E.oracle_sql()
    assert set(osql) <= set(qs)
    df = E.entry(spark)
    assert df.count() > 0
