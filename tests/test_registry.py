"""The query registry: every query but the flagship has a DuckDB twin,
the twins are plain SQL strings, fetching them needs no SparkSession,
every twin reads only the `documents` table, bar the two reference
contracts that aggregate `events`, every package module is imported
from something that runs outside the tests, every top-level
definition in plans/entry_queries.py is reached from what is imported
from it, and every public operator is named outside the tests."""

from __future__ import annotations

import ast
import glob
import os
import re
import subprocess
import sys

from tests.test_plan_audit import SF

REPO = os.path.join(os.path.dirname(__file__), "..")
ROOT = os.path.abspath(REPO)


def _parse(path):
    """The AST of the repo-relative source file ``path``."""
    with open(os.path.join(ROOT, path)) as fh:
        return ast.parse(fh.read(), path)


def _rel(path):
    return os.path.relpath(path, ROOT).replace(os.sep, "/")


def test_every_query_but_the_flagship_has_a_twin():
    import __spark_entry__ as e

    assert set(e.oracle_sql()) == set(e.queries()) - {"pipeline_score_documents"}


def test_every_twin_is_a_nonempty_string():
    import __spark_entry__ as e

    for name, sql in e.oracle_sql().items():
        assert isinstance(sql, str) and sql.strip(), name


def test_oracle_sql_needs_no_spark_session():
    code = (
        "import __spark_entry__ as e\n"
        "from pyspark.sql import SparkSession\n"
        "assert e.oracle_sql()\n"
        "assert SparkSession.getActiveSession() is None\n"
        "print('ok')\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip() == "ok"


# Reference contracts that read the clickstream table: A2's per-type
# event totals and S2's streaming windowed aggregate (SURVEY §2.9).
EVENTS_READERS = {"a2_event_totals", "stream_windowed_agg"}


def test_every_twin_reads_only_the_document_surface():
    """Bind each twin against a catalog holding `documents` alone (plus
    `events` for EVENTS_READERS); a twin that reads any other table
    fails to bind."""
    import duckdb

    import __spark_entry__ as e

    def catalog(tables):
        con = duckdb.connect()
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
        return con

    docs_only = catalog(["documents"])
    with_events = catalog(["documents", "events"])
    off_surface = []
    for name, sql in e.oracle_sql().items():
        con = with_events if name in EVENTS_READERS else docs_only
        try:
            con.execute("EXPLAIN " + sql)
        except duckdb.CatalogException as ex:
            off_surface.append(f"{name}: {str(ex).splitlines()[0]}")
    assert not off_surface, "\n".join(off_surface)


# Package modules that nothing outside the tests imports, with the reason
# each one stays.
UNREACHED_ALLOWED: dict[str, str] = {}


def test_every_package_module_is_reached():
    """Walk `import` / `from ... import` statements (module level and
    inside functions) transitively from the jobs, perfbench, bench.py,
    scripts/ and __spark_entry__.py; every xdan_dqa_spark module other
    than an __init__.py must be reached, bar UNREACHED_ALLOWED. Parses
    source only: no module is imported."""
    files = {}  # dotted module name -> repo-relative path
    for pattern in ("xdan_dqa_spark/**/*.py", "perfbench/*.py"):
        for path in glob.glob(os.path.join(ROOT, pattern), recursive=True):
            r = _rel(path)
            parts = r[:-3].split("/")
            if parts[-1] == "__init__":
                parts.pop()
            files[".".join(parts)] = r

    def imported(path, name):
        """Dotted names of the repo modules ``path`` (module ``name``) imports."""
        is_pkg = path.endswith("__init__.py")
        out = set()
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Import):
                cands = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = node.module.split(".") if node.module else []
                if node.level:
                    pkg = name.split(".") if is_pkg else name.split(".")[:-1]
                    base = pkg[:len(pkg) - node.level + 1] + base
                cands = [".".join(base)] + [".".join(base + [a.name]) for a in node.names]
            else:
                continue
            for c in cands:
                parts = c.split(".")
                # importing a.b.c also runs a/__init__ and a/b/__init__
                out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
        return {m for m in out if m in files}

    roots = [_rel(p) for pattern in ("jobs/*.py", "perfbench/*.py", "scripts/*.py",
                                     "bench.py", "__spark_entry__.py")
             for p in glob.glob(os.path.join(ROOT, pattern))]
    todo = [(p, p[:-3].replace("/", ".").removesuffix(".__init__")) for p in roots]
    seen = set(roots)
    while todo:
        path, name = todo.pop()
        for mod in imported(path, name):
            if files[mod] not in seen:
                seen.add(files[mod])
                todo.append((files[mod], mod))
    unreached = sorted(
        p for p in files.values()
        if p.startswith("xdan_dqa_spark/") and not p.endswith("__init__.py")
        and p not in seen
    )
    dead = [p for p in unreached if p not in UNREACHED_ALLOWED]
    stale = [p for p in UNREACHED_ALLOWED if p not in unreached]
    assert not dead, f"package modules nothing outside the tests imports: {dead}"
    assert not stale, f"allow-listed modules that are reached now: {stale}"


ENTRY_QUERIES = "xdan_dqa_spark/plans/entry_queries.py"


def test_every_entry_queries_definition_is_reached():
    """Every top-level function, class and assignment in
    plans/entry_queries.py is reached, through the names each definition
    uses, from a name that a test, bench.py or __spark_entry__.py imports
    from it (``QUERIES`` and ``oracle_map`` reach all of ``_REGISTRY``).
    A query deleted from the registry must take its helpers with it.
    Parses source only: no module is imported."""
    uses = {}  # top-level name -> names its definition uses
    for st in _parse(ENTRY_QUERIES).body:
        if isinstance(st, (ast.FunctionDef, ast.ClassDef)):
            targets = [st.name]
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            lhs = st.targets if isinstance(st, ast.Assign) else [st.target]
            targets = [n.id for t in lhs for n in ast.walk(t) if isinstance(n, ast.Name)]
        else:
            continue
        names = {n.id for n in ast.walk(st) if isinstance(n, ast.Name)}
        for t in targets:
            uses.setdefault(t, set()).update(names)

    module = ENTRY_QUERIES[:-3].replace("/", ".")
    package, _, leaf = module.rpartition(".")
    roots = set()
    for path in [_rel(p) for p in glob.glob(os.path.join(ROOT, "tests", "*.py"))] + [
            "bench.py", "__spark_entry__.py"]:
        tree = _parse(path)
        aliases = set()  # local names bound to the module itself
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == module:
                roots.update(a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom) and node.module == package:
                aliases.update(a.asname or a.name for a in node.names if a.name == leaf)
            elif isinstance(node, ast.Import):
                aliases.update(a.asname for a in node.names if a.name == module and a.asname)
        roots.update(node.attr for node in ast.walk(tree)
                     if isinstance(node, ast.Attribute)
                     and isinstance(node.value, ast.Name) and node.value.id in aliases)

    reached, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name in reached or name not in uses:
            continue
        reached.add(name)
        todo.extend(uses[name] - reached)
    orphans = sorted(set(uses) - reached)
    assert not orphans, f"entry_queries definitions nothing reaches: {orphans}"


# Public operators that nothing outside the tests names, with the reason
# each one stays.
OPERATORS_UNNAMED_ALLOWED = {
    "multimodal.frame_sample": (
        "the video frame grid beside media_features; multimodal_features "
        "checks only the per-item features"
    ),
    "score.normalize_score": (
        "the Column form of normalize_score_sql, which the flagship "
        "projects as SQL text"
    ),
    "textstats.text_profile": (
        "one-row-per-doc profile of the textstats signals; no query "
        "projects all of them together"
    ),
    "sinks.publish_table": (
        "SURVEY §2.7's catalog-publish row, the reference's Hub push; no "
        "job publishes to a catalog table yet"
    ),
    "sinks.write_keep_drop": (
        "the keep/drop split write; only its tests call it, and deleting "
        "them is left to the next registry cut (ROADMAP item 1)"
    ),
}


def test_every_operator_is_named_outside_the_tests():
    """Every public top-level function or class in
    xdan_dqa_spark/operators/*.py and xdan_dqa_spark/sources/*.py is
    named, outside its own definition, in a file that runs outside the
    tests: the package, jobs/, perfbench/ (bar its tests), scripts/,
    bench.py or __spark_entry__.py, bar OPERATORS_UNNAMED_ALLOWED. A
    query deleted from the registry must take the operators only it
    called with it. Reads source text only: no module is imported."""
    sources = {}  # repo-relative path -> source lines
    for pattern in ("xdan_dqa_spark/**/*.py", "jobs/*.py", "perfbench/*.py",
                    "scripts/*.py", "bench.py", "__spark_entry__.py"):
        for path in glob.glob(os.path.join(ROOT, pattern), recursive=True):
            with open(path) as fh:
                sources[_rel(path)] = fh.read().splitlines()

    unnamed = []
    checked = r"xdan_dqa_spark/(operators|sources)/\w+\.py"
    for path in sorted(p for p in sources if re.fullmatch(checked, p)):
        for st in _parse(path).body:
            if not isinstance(st, (ast.FunctionDef, ast.ClassDef)) or st.name.startswith("_"):
                continue
            start = min([st.lineno] + [d.lineno for d in st.decorator_list])
            word = re.compile(rf"\b{st.name}\b")
            if not any(word.search(line)
                       for other, lines in sources.items()
                       for i, line in enumerate(lines, 1)
                       if other != path or not start <= i <= st.end_lineno):
                unnamed.append(f"{path.split('/')[-1][:-3]}.{st.name}")
    dead = [n for n in unnamed if n not in OPERATORS_UNNAMED_ALLOWED]
    stale = [n for n in OPERATORS_UNNAMED_ALLOWED if n not in unnamed]
    assert not dead, f"operators nothing outside the tests names: {dead}"
    assert not stale, f"allow-listed operators that are named now: {stale}"


def test_every_import_is_used():
    """Every name an `import` binds in the package, jobs/ or tests/ is
    read in the scope that imports it: the whole file for a module-level
    import, the function for one inside a function (`from __future__`
    aside). No linter runs on this repo, so an import left behind by a
    deletion would otherwise stay. Parses source only."""
    unused = []
    for pattern in ("xdan_dqa_spark/**/*.py", "jobs/*.py", "tests/*.py"):
        for path in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            rel = _rel(path)

            def check(node, scope):
                for child in ast.iter_child_nodes(node):
                    if (isinstance(child, (ast.Import, ast.ImportFrom))
                            and getattr(child, "module", None) != "__future__"):
                        read = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
                        unused.extend(
                            f"{rel}:{child.lineno} {name}"
                            for name in (a.asname or a.name.split(".")[0]
                                         for a in child.names if a.name != "*")
                            if name not in read)
                    inner = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                    check(child, child if inner else scope)

            tree = _parse(rel)
            check(tree, tree)
    assert not unused, f"imports never used: {unused}"
