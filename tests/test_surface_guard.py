"""Package code that no run path reaches is deleted, not kept for tests.

The run paths are the driver contract (``__spark_entry__.py``),
``bench.py``, ``BENCH/``, ``perfbench/`` and ``scripts/``.  A top-level
definition of the package is reached when its name occurs in a root, in
module-level code of the package, or in the body of a definition that is
itself reached.  Every identifier counts (names, attributes, import
aliases and exact-identifier string literals); docstrings do not.  The
scan matches names, not bindings, so it over-approximates uses: what it
reports as unreached is unreached, unless something imports by a computed
name (only ``perfbench/run.py`` does, and it loads perfbench modules).

A definition that only tests use needs an entry in ``ALLOWED`` with the
reason it stays."""

import ast
import pathlib

import kelos_on_kafka_spark

PACKAGE = pathlib.Path(kelos_on_kafka_spark.__file__).parent
REPO = PACKAGE.parent
ROOTS = ["__spark_entry__.py", "bench.py", "BENCH", "perfbench", "scripts"]
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Assign, ast.AnnAssign)

ALLOWED = {
    "__all__": "package export list",
    "__version__": "package metadata",
    "gaussian_kernel": "density oracle of tests/test_core_density.py",
    "read_reference_csv": "reads the reference's data in test_reference_data",
    "to_spark_points": "fixture builder of test_spark_batch and test_epanechnikov",
    "write_pages_parquet": "fixture builder of test_spark_submit",
    "_StreamShard": "older stream checkpoints unpickle this name (test_stream_state_compat)",
    "train_ivf_centroids": "only caller of ivf_topk(centroids=); an open ROADMAP item",
    "train_pq_codebooks": "only caller of pq_topk(rerank=); an open ROADMAP item",
}


def _is_docstring(node) -> bool:
    return isinstance(node, ast.Expr) and isinstance(getattr(node.value, "value", None), str)


def _names(tree) -> set[str]:
    """Every identifier used in ``tree``, docstrings left out."""
    docs = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(getattr(n, "body", None), list) and n.body and _is_docstring(n.body[0])
    }
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.update(node.name.split("."))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier() and id(node) not in docs:
                out.add(node.value)
    return out


def _def_names(node) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _parse(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def unreached() -> dict[str, int]:
    """``{"<module path>:<name>": <definition lines>}`` of every top-level
    package definition no root reaches and ``ALLOWED`` does not name."""
    defs = []  # (where, name, node)
    used = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        where = str(path.relative_to(REPO))
        for node in _parse(path).body:
            if isinstance(node, DEFS):
                defs += [(where, name, node) for name in _def_names(node)]
            elif not _is_docstring(node):
                used |= _names(node)
    for root in ROOTS:
        p = REPO / root
        for path in sorted(p.rglob("*.py")) if p.is_dir() else [p]:
            used |= _names(_parse(path))
    reached = set()
    grew = True
    while grew:
        grew = False
        for where, name, node in defs:
            if name in used and (where, name) not in reached:
                reached.add((where, name))
                used |= _names(node)
                grew = True
    return {
        f"{where}:{name}": node.end_lineno - node.lineno + 1
        for where, name, node in defs
        if (where, name) not in reached and name not in ALLOWED
    }


def test_every_package_definition_is_reached_from_a_run_path():
    dead = unreached()
    assert not dead, f"{sum(dead.values())} unreached lines: {sorted(dead)}"


def test_allowlist_names_only_definitions_that_exist():
    names = {
        name
        for path in PACKAGE.rglob("*.py")
        for node in _parse(path).body
        if isinstance(node, DEFS)
        for name in _def_names(node)
    }
    assert set(ALLOWED) <= names
