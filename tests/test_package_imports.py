"""Every module of the package imports, every import statement in it
resolves, the tag-engine modules never import the corpus pipeline,
every public definition of a tag-engine module is used somewhere, and
the query contract builds.

Modules import some dependencies lazily inside functions, so importing
a module proves only its top-level imports; the AST walk also resolves
the function-level ones. Building ``queries()`` / ``oracle_sql()``
catches a dangling name in the contract before any Spark work runs."""

import ast
import importlib
import importlib.util
import pathlib
import pkgutil

import pytest

import datacatalog_tag_engine_spark as PKG

MODULES = sorted(
    m.name for m in pkgutil.walk_packages(PKG.__path__, prefix=PKG.__name__ + ".")
)


def test_package_has_modules():
    assert f"{PKG.__name__}.engine" in MODULES


def _imports(name):
    """(module, names) for every import statement in the module's source,
    nested ones included; relative imports resolved against its package."""
    spec = importlib.util.find_spec(name)
    tree = ast.parse(open(spec.origin).read())
    package = name if spec.submodule_search_locations else name.rpartition(".")[0]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.name, []
        elif isinstance(node, ast.ImportFrom):
            base = ("." * node.level) + (node.module or "")
            yield importlib.util.resolve_name(base, package), [a.name for a in node.names]


@pytest.mark.parametrize("name", MODULES)
def test_module_imports(name):
    importlib.import_module(name)
    for target, names in _imports(name):
        mod = importlib.import_module(target)
        for n in names:
            assert hasattr(mod, n) or importlib.util.find_spec(f"{target}.{n}"), (
                f"{name}: from {target} import {n}"
            )


# the training-data pipeline and the corpus streams built on it; the
# tag engine calls none of them
CORPUS = (f"{PKG.__name__}.pipeline",) + tuple(
    f"{PKG.__name__}.streaming.{m}" for m in ("dedup", "quality", "sessions")
)


def _is_corpus(name):
    return any(name == c or name.startswith(c + ".") for c in CORPUS)


@pytest.mark.parametrize("name", [m for m in MODULES if not _is_corpus(m)])
def test_engine_module_does_not_import_the_corpus_pipeline(name):
    for target, names in _imports(name):
        assert not _is_corpus(target), f"{name}: from {target} import {names}"
        assert not any(_is_corpus(f"{target}.{n}") for n in names), (
            f"{name}: from {target} import {names}"
        )


REPO = pathlib.Path(PKG.__file__).parents[1]


def _refs(nodes):
    """Names the nodes use as code: loaded or stored names, attributes
    and imported names (docstrings and comments do not count)."""
    out = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, (ast.Import, ast.ImportFrom)):
                out.update(a.name.rpartition(".")[2] for a in n.names)
    return out


def _defined(node):
    """The names a top-level statement defines: a function, a class or
    the plain names an assignment binds."""
    if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def test_engine_definitions_are_used():
    """Every public top-level function, class or module constant of a
    tag-engine module is referenced somewhere in the repository outside
    its own definition: the package, its tests, the query contract, the
    benchmark or the tools."""
    trees = {
        p: ast.parse(p.read_text())
        for p in REPO.rglob("*.py")
        if not any(part.startswith(".") or part == "spark-warehouse" for part in p.relative_to(REPO).parts)
    }
    refs = {p: _refs(t.body) for p, t in trees.items()}
    unused = []
    for name in MODULES:
        if _is_corpus(name):
            continue
        path = pathlib.Path(importlib.util.find_spec(name).origin)
        elsewhere = set().union(*(r for p, r in refs.items() if p != path))
        body = trees[path].body
        for node in body:
            for defined in _defined(node):
                if defined.startswith("_"):
                    continue
                if defined not in elsewhere | _refs(n for n in body if n is not node):
                    unused.append(f"{name}.{defined}")
    assert not unused, f"defined but never referenced: {unused}"


def test_query_contract_builds():
    import __spark_entry__ as E

    queries = E.queries()
    oracles = E.oracle_sql()
    assert queries and all(callable(fn) for fn in queries.values())
    assert oracles and all(isinstance(sql, str) and sql.strip() for sql in oracles.values())
